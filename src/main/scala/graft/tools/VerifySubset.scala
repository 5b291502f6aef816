package graft.tools

import java.nio.file.{Files, Paths}

/** scratch diagnostics main — Verify for a named subset of queries:
  * args = sfDir outDir q1 q2 ... (prefix match on query names). Same
  * dump + oracle_sql.json contract as graft.Verify so
  * tools/check_oracle.py runs unchanged on the output. */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val wanted = args.drop(2)
    val spark = graft.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val sel = graft.SparkEntry.queries.filter { case (n, _) =>
      wanted.exists(n.startsWith) }
    // a failed query must not leave a PRIOR run's dump in place (the
    // oracle check would compare stale rows and report PASS): drop
    // the target dir first, and exit nonzero when anything failed so
    // a green check_oracle over this dir cannot mask a broken query
    var failed = 0
    sel.foreach { case (name, fn) =>
      val dest = new java.io.File(s"$outDir/$name")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      if (dest.exists()) rm(dest)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql
      .filter { case (n, _) => wanted.exists(n.startsWith) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
