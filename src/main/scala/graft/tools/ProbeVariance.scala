package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import scala.jdk.CollectionConverters._

/** scratch diagnostics main — variance probe for the CC-loop gate
  * queries (q62_dbscan / q80_dedup_keep_best), whose best-of times
  * have swung 2-4x across rounds with byte-identical code. Runs the
  * named queries INTERLEAVED n times and logs, per run: wall time,
  * Spark job count, completed-task count, summed executor run time,
  * and JVM GC-time delta. Separates the hypotheses:
  *   - job/task count varies run to run  -> the plan or loop count is
  *     nondeterministic (code problem: fix the loop)
  *   - counts constant, executor time constant, wall swings -> the
  *     scheduler/JVM is the noise source (gate problem: report a
  *     median, not a min of 2)
  *   - counts constant, executor time swings with wall -> JVM-level
  *     (GC/JIT) interference, visible in the gc column.
  * Usage: runMain graft.tools.ProbeVariance <sfDir> <n> <q1> <q2> ...
  * Not part of the library surface. */
object ProbeVariance {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(10)
    val names = if (args.length > 2) args.drop(2).toSeq
                else Seq("q62_dbscan", "q80_dedup_keep_best")
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
    // warmup (codegen + JIT), same as the bench gate
    graft.SparkEntry.queries("q02_select")(spark, sfDir).count()
    spark.catalog.clearCache()
    val acc = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (i <- 1 to n; q <- names) {
      val (j0, t0, g0, e0) = (jobs.get, tasks.get, gcMs, execRunMs)
      val w0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(q)(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      // listener events drain asynchronously; block until the bus is
      // empty (a fixed sleep can attribute a stage to the wrong run
      // on a loaded host — the exact misdiagnosis this tool exists
      // to rule out)
      org.apache.spark.GraftSparkAccess
        .drainListenerBus(spark.sparkContext, 10000L)
      println(f"[probe-var] run=$i%-3d $q%-22s wall=$wall%6.2f s  " +
        f"jobs=${jobs.get - j0}%-4d tasks=${tasks.get - t0}%-6d " +
        f"exec=${(execRunMs - e0) / 1e3}%7.2f s  gc=${gcMs - g0}%5d ms  " +
        f"rows=$rows")
      acc(q) = acc(q) :+ wall
      spark.catalog.clearCache()
    }
    names.foreach { q =>
      val v = acc(q).sorted
      val med = v(v.size / 2)
      println(f"[probe-var] SUMMARY $q%-22s n=${v.size} " +
        f"min=${v.head}%5.2f med=$med%5.2f max=${v.last}%5.2f " +
        f"spread=${v.last / v.head}%4.2fx")
    }
    spark.stop()
  }
}
