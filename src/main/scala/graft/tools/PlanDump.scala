package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** scratch diagnostics main (r18 optimization round) — dump
  * `.explain("formatted")` for named catalog queries to files, the
  * judge-checkable before/after plan evidence required by the
  * optimization deliverable. Building a query executes any actions
  * its constructor performs (admission cycles, digest builds), so
  * this tool is also a smoke run of the named queries.
  *
  * Operators that end in an eager checkpoint (every screen, fold and
  * pair search) leave a final plan that is only `Scan ExistingRDD`, so
  * after the final plan the file also lists the physical plan of
  * EVERY SQL execution the query started, in start order (captured by
  * a listener on `SparkListenerSQLExecutionStart`): that is where
  * their joins, exchanges and expressions show.
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q...>
  * writes <outDir>/<query>_<suffix>.txt. Prefix match on names. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val suffix = args(2)
    val prefixes = args.drop(3).toSeq
    val spark = graft.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          started.add(s"== SQL execution ${s.executionId}: " +
            s"${s.description} ==\n${s.physicalPlanDescription}")
        case _ =>
      }
    })
    // the listener bus delivers asynchronously: let it drain
    def settle(): Unit = Thread.sleep(1000)
    val sel = graft.SparkEntry.queries.filter { case (name, _) =>
      prefixes.exists(name.startsWith) }
    sel.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        settle()
        started.clear()
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        settle()
        val execs = Iterator.continually(started.poll())
          .takeWhile(_ != null).toSeq
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt + s"\n== ${execs.size} SQL executions while building ==\n" +
            execs.mkString("\n"))
        println(s"[plan-dump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plan-dump] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
