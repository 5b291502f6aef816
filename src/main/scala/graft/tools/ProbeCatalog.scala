package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._

/** scratch diagnostics main (r18 optimization round) — full-catalog
  * attribution sweep: runs EVERY SparkEntry query `n` times and logs,
  * per query per run, wall seconds, Spark job count, task count,
  * summed executor run time, and GC-time delta. The guide §1 "measure
  * first" pass in one artifact: sorting the output by wall separates
  *   - exec-bound queries (exec ~ wall x cores-used): operator work
  *     pays off;
  *   - job-count-bound queries (wall >> exec, many jobs): driver
  *     floor, only fewer actions/jobs help;
  *   - GC-bound queries (gc large): memory shape work.
  * Usage: runMain graft.tools.ProbeCatalog <sfDir> <n> [namePrefix...]
  * Not part of the library surface. */
object ProbeCatalog {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(1)
    val prefixes = args.drop(2).toSeq
    val spark = graft.GraftSession.local()
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    @volatile var execRunMs = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        tasks.addAndGet(s.stageInfo.numTasks)
        execRunMs += s.stageInfo.taskMetrics.executorRunTime
      }
    })
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    graft.SparkEntry.queries("q02_select")(spark, sfDir).count()
    spark.catalog.clearCache()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(q => prefixes.isEmpty || prefixes.exists(q.startsWith))
    for (run <- 1 to n; q <- names) {
      val (j0, t0, g0, e0) = (jobs.get, tasks.get, gcMs, execRunMs)
      val w0 = System.nanoTime()
      val ok = try { graft.SparkEntry.queries(q)(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      val wall = (System.nanoTime() - w0) / 1e9
      org.apache.spark.GraftSparkAccess
        .drainListenerBus(spark.sparkContext, 10000L)
      println(f"[probe-cat] run=$run $q%-36s wall=$wall%7.2f " +
        f"jobs=${jobs.get - j0}%-4d tasks=${tasks.get - t0}%-6d " +
        f"exec=${(execRunMs - e0) / 1e3}%8.2f gc=${gcMs - g0}%5d " +
        (if (ok) "" else "FAILED"))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
