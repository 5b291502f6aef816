package graft.tools


/** scratch diagnostics main — time a subset of SparkEntry queries:
  * runMain graft.tools.BenchSome <sfDir> <q1> <q2> ... (not part of
  * the library surface; the real gate is graft.Bench) */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.local()
    // warmup to exclude JVM/codegen startup from the first query
    graft.SparkEntry.queries("q02_select")(spark, sfDir).count()
    spark.catalog.clearCache()
    names.foreach { n =>
      val t0 = System.nanoTime()
      val cnt = graft.SparkEntry.queries(n)(spark, sfDir).count()
      println(f"[benchsome] $n%-30s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$cnt")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
