package graftbench

import scala.collection.mutable

/** One traced interval: a call into one layer. `parent` is the span that
  * was open when it started (-1 for an op's root span); `op` is the
  * timed op it belongs to (-1 for set-up and warm-up). Times are
  * System.nanoTime values. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def rank(p: Int, n: Int): Int = math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** the nearest-rank p-th percentile */
  def nearestRank(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  /** The highest percentile (a whole number from 50 to 99) that still
    * has at least `minBeyond` samples above it, with its value (the
    * nearest-rank sample), or None when even the 50th lacks them. */
  def tailPercentile(xs: Seq[Double], minBeyond: Int = 10): Option[(Int, Double)] = {
    val s = xs.sorted
    (99 to 50 by -1).find(p => s.size - rank(p, s.size) >= minBeyond).map(p => (p, s(rank(p, s.size) - 1)))
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its direct children cover (overlapping children count once). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** In-memory span recorder. When disabled every `span` call is just its
  * body. When enabled, the layer name is also set as a Spark local
  * property, so the jobs a layer launches are attributed to it. */
final class Tracer(val enabled: Boolean, sc: org.apache.spark.SparkContext) {
  private val recorded = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op: Int = -1

  def spans: Seq[Span] = recorded.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(Tracer.LayerKey)
      sc.setLocalProperty(Tracer.LayerKey, name)
      stack ::= id
      val t0 = System.nanoTime()
      try body
      finally {
        recorded += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.LayerKey, prev)
      }
    }
}

object Tracer {
  val LayerKey = "graftbench.layer"
  /** jobs run only to measure (row counts at a boundary); excluded from
    * every per-layer engine total */
  val Probe = "probe"
}

/** Per-layer engine counters, fed by Spark's listener bus: every job is
  * attributed to the layer property set when it was submitted and to its
  * call site (the `callSite.short` of the job, e.g. `count at
  * Dedup.scala:NNN`). Only jobs of timed ops (`timed` set) count. */
final class LayerListener extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._

  final class Acc {
    var jobs = 0L; var tasks = 0L; var failedTasks = 0L; var emptyTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var schedMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  }

  @volatile var timed = false
  @volatile var op = -1
  val byLayer = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  /** (op, call site) -> jobs */
  val jobsBySite = new java.util.concurrent.ConcurrentHashMap[(Int, String), java.lang.Long]()
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def acc(layer: String): Acc = byLayer.computeIfAbsent(layer, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if ({ started.incrementAndGet(); timed }) {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(Tracer.LayerKey))).getOrElse("none")
    e.stageIds.foreach(s => stageLayer.put(s, layer))
    val a = acc(layer)
    a.synchronized(a.jobs += 1)
    if (layer != Tracer.Probe) {
      val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("?")
      jobsBySite.merge((op, site), 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
      jobs.put(e.jobId, (op, layer, site, e.time, -1L))
    }
  }

  private val started = new java.util.concurrent.atomic.AtomicLong()
  private val ended = new java.util.concurrent.atomic.AtomicLong()

  /** job id -> (op, layer, call site, submit ms); end ms added on job end */
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String, String, Long, Long)]()

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet()
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(_5 = e.time))
  }

  /** waits (at most 10 s) until the bus has delivered the end of every job
    * it delivered the start of, then a little longer for the SQL
    * execution-end events that follow. Jobs submitted after the wait began
    * are not waited for: the caller has no job running. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (ended.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    if (layer != null) {
      val a = acc(layer)
      val m = e.taskMetrics
      val info = e.taskInfo
      a.synchronized {
        a.tasks += 1
        if (!info.successful) a.failedTasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.schedMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0) a.emptyTasks += 1
        }
      }
    }
  }

  /** totals over the layers of timed ops, without probes */
  def total: Acc = {
    val t = new Acc
    byLayer.forEach { (l, a) =>
      if (l != Tracer.Probe && l != "none") a.synchronized {
        t.jobs += a.jobs; t.tasks += a.tasks; t.failedTasks += a.failedTasks
        t.emptyTasks += a.emptyTasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs
        t.schedMs += a.schedMs; t.shuffleWrite += a.shuffleWrite
        t.shuffleRead += a.shuffleRead; t.spill += a.spill
      }
    }
    t
  }

  def layer(l: String): Acc = Option(byLayer.get(l)).getOrElse(new Acc)
}

/** Catalyst phase times of every executed query (the QueryExecution
  * tracker's analysis / optimization / planning phases). */
final class PhaseListener extends org.apache.spark.sql.util.QueryExecutionListener {
  @volatile var timed = false
  private val ms = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = if (timed) {
    qe.tracker.phases.foreach { case (phase, summary) =>
      ms.merge(phase, summary.durationMs, (a: java.lang.Long, b: java.lang.Long) => a + b)
    }
  }
  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  def seconds(phase: String): Double = Option(ms.get(phase)).map(_.toDouble / 1000).getOrElse(0.0)
}

/** Bytes and files under a directory, for write amplification. */
object Files {
  def list(dir: java.io.File): Map[String, Long] =
    if (!dir.exists()) Map.empty
    else {
      val root = dir.toPath
      val s = java.nio.file.Files.walk(root)
      try {
        val it = s.iterator()
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) {
          val p = it.next()
          val f = p.toFile
          if (f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
            b += root.relativize(p).toString -> f.length
        }
        b.result()
      } finally s.close()
    }

  def bytes(dir: java.io.File): Long = list(dir).values.sum

  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }
}
