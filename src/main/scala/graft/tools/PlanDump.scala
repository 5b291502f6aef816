package graft.tools

import java.nio.file.{Files, Paths}

/** scratch diagnostics main (r18 optimization round) — dump
  * `.explain("formatted")` for named catalog queries to files, the
  * judge-checkable before/after plan evidence required by the
  * optimization deliverable. Building a query executes any actions
  * its constructor performs (admission cycles, digest builds), so
  * this tool is also a smoke run of the named queries.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q...>
  * writes <outDir>/<query>_<suffix>.txt. Prefix match on names. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val prefixes = args.drop(3).toSeq
    val spark = graft.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val sel = graft.SparkEntry.queries.filter { case (name, _) =>
      prefixes.exists(name.startsWith) }
    sel.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plan-dump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plan-dump] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
