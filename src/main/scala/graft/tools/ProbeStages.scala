package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** scratch diagnostics main (r18 optimization round) — per-STAGE
  * attribution for one catalog query: runs it twice (warm second run
  * reported) and prints every stage with task count, executor run
  * time, GC time, shuffle read/write bytes, input bytes, and the
  * first line of the stage's call site — the guide §7.1 stage view
  * without the UI. Usage: runMain graft.tools.ProbeStages <sfDir> <q>
  * Not part of the library surface. */
object ProbeStages {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qs = args.drop(1).toSeq
    val spark = graft.GraftSession.local()
    case class St(id: Int, name: String, tasks: Int, execMs: Long,
                  gcMs: Long, shRead: Long, shWrite: Long, input: Long,
                  site: String)
    val buf = scala.collection.mutable.ArrayBuffer.empty[St]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        buf += St(s.stageInfo.stageId, s.stageInfo.name.take(60),
          s.stageInfo.numTasks, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          s.stageInfo.details.linesIterator
            .filterNot(_.contains("org.apache.spark"))
            .filterNot(_.contains("java.")).take(1).mkString.take(100))
      }
    })
    graft.SparkEntry.queries("q02_select")(spark, sfDir).count()
    spark.catalog.clearCache()
    qs.foreach { q =>
      graft.SparkEntry.queries(q)(spark, sfDir).count()   // warm-up run
      spark.catalog.clearCache()
      org.apache.spark.GraftSparkAccess
        .drainListenerBus(spark.sparkContext, 10000L)
      buf.clear()
      val w0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      org.apache.spark.GraftSparkAccess
        .drainListenerBus(spark.sparkContext, 10000L)
      println(f"[probe-stages] $q warm wall=$wall%.2f s, " +
        s"${buf.size} stages, ${buf.map(_.tasks).sum} tasks, " +
        f"exec=${buf.map(_.execMs).sum / 1e3}%.2f s")
      println(f"${"execS"}%8s ${"tasks"}%5s ${"gcMs"}%5s ${"shR"}%9s " +
        f"${"shW"}%9s ${"input"}%9s  stage / site")
      buf.sortBy(-_.execMs).take(12).foreach { s =>
        println(f"${s.execMs / 1e3}%8.2f ${s.tasks}%5d ${s.gcMs}%5d " +
          f"${s.shRead}%9d ${s.shWrite}%9d ${s.input}%9d  [${s.id}] " +
          s"${s.name} | ${s.site}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
