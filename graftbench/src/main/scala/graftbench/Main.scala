package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's main loop: one JVM, one SparkSession on local[cores], one
  * closed-loop client. Usage:
  *
  *   graftbench.Main --workload etl|ingest|admit --seed N --seconds S
  *                   --trace 0|1 --tmp DIR [--trace-out FILE]
  *
  * Set-up (session, inputs, model/index builds, warm-up ops) is timed as
  * `setup_s`; the inputs are built `SetupReps` times and the median
  * counts. Then ops run back to back until `--seconds` have passed, a
  * round is complete and the workload's minimum op count is reached. Every op's output is checked; an op that throws or
  * answers wrongly counts as failed and the run goes on. The last line of
  * stdout is the result JSON; a set-up failure prints `setup failed: ...`
  * as the last line instead and exits non-zero. All files live under
  * `--tmp`, which is deleted at exit. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val tmp = new File(opts.getOrElse("tmp", sys.error("--tmp is required"))).getAbsoluteFile
    var spark: SparkSession = null
    val code =
      try {
        val wl = opts.getOrElse("workload", "")
        require(Set("etl", "ingest", "admit")(wl), s"unknown workload '$wl' (etl, ingest, admit)")
        val seed = opts.getOrElse("seed", "1").toLong
        val seconds = opts.getOrElse("seconds", "10").toDouble
        val traced = opts.getOrElse("trace", "0") == "1"
        tmp.mkdirs()
        val cores = Runtime.getRuntime.availableProcessors()
        spark = SparkSession.builder().master(s"local[$cores]")
          .appName("graftbench")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", new File(tmp, "spark-local").getPath)
          .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
          .config("spark.checkpoint.dir", new File(tmp, "checkpoints").getPath)
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.setCheckpointDir(new File(tmp, "checkpoints").getPath)
        run(spark, wl, seed, seconds, traced, cores, tmp, opts.get("trace-out"))
        0
      } catch {
        case e: Throwable =>
          System.out.flush()
          val msg = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(300)
          println(s"setup failed: ${e.getClass.getSimpleName}: $msg")
          3
      } finally {
        if (spark != null) spark.stop()
        Files.delete(tmp)
      }
    System.out.flush()
    System.exit(code)
  }

  /** heap in use after full collections: the least of five readings, each
    * after an explicit GC, so a collection that left garbage behind does
    * not count */
  private def heapUsedMb(): Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(50)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** codegen compile count and total compile seconds (exact while the
    * histogram's reservoir still holds every sample) */
  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.sum / 1000.0)
  }

  def run(spark: SparkSession, name: String, seed: Long, seconds: Double, traced: Boolean,
          cores: Int, tmp: File, traceOut: Option[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sc = spark.sparkContext
    val tracer = new Tracer(traced, sc)
    val layers = new LayerListener
    val phases = new PhaseListener
    if (traced) { sc.addSparkListener(layers); spark.listenerManager.register(phases) }
    val ctx = new Ctx(spark, seed, tracer)
    val wl: Workload = name match {
      case "etl" => new Etl(ctx, orders = 150000, customers = 15000)
      case "ingest" => new Ingest(ctx, pagesPerShard = 160, filesPerShard = cores)
      case "admit" => new Admit(ctx, baseDocs = 1500, replicas = 2, batchSize = 50)
    }

    // ---- set-up: inputs built SetupReps times (median counts), then warm-up
    val prepS = (1 to SetupReps).map { k =>
      val d = new File(tmp, s"inputs-$k")
      val t0 = System.nanoTime()
      wl.prepare(d)
      val s = (System.nanoTime() - t0) / 1e9
      if (k > 1) Files.delete(new File(tmp, s"inputs-${k - 1}"))
      s
    }
    val w0 = System.nanoTime()
    var warmFailures = 0
    (-wl.warmupOps until 0).foreach { i =>
      val op = wl.op(i)
      val ok = try { op.run(); op.check().isEmpty } catch { case _: Exception => false }
      if (!ok) warmFailures += 1
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(prepS) + warmS

    // ---- timed region
    val gc0 = gcMs(); val jit0 = jitMs(); val (cg0, cgS0) = codegen()
    heapPools.foreach(_.resetPeakUsage())
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    val labels = scala.collection.mutable.ArrayBuffer[String]()
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    var rows = 0L
    var checkS = 0.0
    val runStart = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - runStart) / 1e9
    while (elapsed < seconds || i % wl.opsPerRound != 0 || i < wl.minOps) {
      val op = wl.op(i)
      tracer.op = i; layers.op = i
      layers.timed = true; phases.timed = true
      val t0 = System.nanoTime()
      val err = try tracer.span("op") { op.run(); None } catch {
        case e: Exception => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // listener events arrive late: the check's own jobs and queries must
      // not count, so let the op's events in first (traced runs only)
      if (traced) layers.drain()
      layers.timed = false; phases.timed = false
      tracer.op = -1; layers.op = -1
      val c0 = System.nanoTime()
      val bad = err.orElse(try op.check() catch {
        case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      })
      checkS += (System.nanoTime() - c0) / 1e9
      bad.foreach(m => failures += s"op $i (${op.label}): ${m.replaceAll("\\s+", " ").take(300)}")
      lat += dt; labels += op.label; rows += op.rowsIn
      i += 1
    }
    val wall = lat.sum
    val gcS = (gcMs() - gc0) / 1000.0
    val jitS = (jitMs() - jit0) / 1000.0
    val (cg1, cgS1) = codegen()
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    val retainedMb = heapUsedMb()

    val n = lat.size
    val p50 = Stats.median(lat.toSeq)
    val tail = Stats.tailPercentile(lat.toSeq)
    val e2e = Seq(
      "setup_s" -> ("s", setupS),
      "op_p50_s" -> ("s", p50),
      "rows_per_s" -> ("rows/s", rows / wall),
      "retained_heap_mb" -> ("MB", retainedMb))
    failures.take(10).foreach(f => System.err.println(s"[graftbench] FAILED $f"))

    val report = Map[String, Any](
      "workload" -> name, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "ops" -> n, "failed" -> failures.size, "fail_ratio" -> failures.size.toDouble / n,
      "op_p50_s" -> p50, "op_samples" -> n,
      "op_tail" -> tail.map { case (p, v) => Map("percentile" -> p, "s" -> v) }.getOrElse("too few ops"),
      "op_p90_s" -> (if (tail.exists(_._1 >= 90)) Stats.nearestRank(lat.toSeq, 90) else "too few ops"),
      "write_amp" -> wl.writeAmp.getOrElse("no writes"),
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS,
        "warmup_failures" -> warmFailures),
      "timed_wall_s" -> wall, "check_s" -> checkS, "op_s" -> lat.toSeq,
      "per_label_p50_s" -> labels.zip(lat).groupBy(_._1).map { case (l, xs) => l -> Stats.median(xs.map(_._2).toSeq) },
      "notes" -> wl.notes,
      "first_failures" -> failures.take(3).toSeq) ++ e2e.map { case (k, (_, v)) => k -> v }
    println("[graftbench] report " + Json.write(report))

    val metrics: Seq[(String, (String, Double))] =
      if (!traced) e2e
      else {
        val spans = tracer.spans.filter(_.op >= 0)
        val self = Stats.selfTimes(spans)
        def selfOf(layer: String) = spans.filter(_.name == layer).map(s => self(s.id)).sum / 1e9 / n
        val t = layers.total
        val perOp = (x: Double) => x / n
        val dedupJobs = layers.layer("dedup").jobs
        val kernelTaskS = layers.layer("kernels").runMs / 1000.0
        val wf = wl.layerFigures(n)
        val kernelRows = wf.getOrElse("kernels.rows", 0.0) * n
        val adm = layers.layer("admission")
        val layerMetrics = Seq(
          "spark.jobs" -> ("count", perOp(t.jobs)),
          "spark.tasks" -> ("count", perOp(t.tasks)),
          "spark.task_run_s" -> ("s", perOp(t.runMs / 1000.0)),
          "spark.task_cpu_s" -> ("s", perOp(t.cpuNs / 1e9)),
          "spark.sched_delay_s" -> ("s", perOp(t.schedMs / 1000.0)),
          "spark.busy_share" -> ("share", t.runMs / 1000.0 / (wall * cores)),
          "spark.shuffle_write_mb" -> ("MB", perOp(t.shuffleWrite / 1e6)),
          "spark.shuffle_read_mb" -> ("MB", perOp(t.shuffleRead / 1e6)),
          "spark.spill_mb" -> ("MB", perOp(t.spill / 1e6)),
          "spark.empty_task_share" -> ("share", if (t.tasks == 0) 0.0 else t.emptyTasks.toDouble / t.tasks),
          "spark.failed_tasks" -> ("count", t.failedTasks.toDouble),
          "sql.analyze_s" -> ("s", perOp(phases.seconds("analysis"))),
          "sql.optimize_s" -> ("s", perOp(phases.seconds("optimization"))),
          "sql.plan_s" -> ("s", perOp(phases.seconds("planning"))),
          "sql.codegen_compiles" -> ("count", perOp((cg1 - cg0).toDouble)),
          "sql.codegen_s" -> ("s", perOp(if (cg1 <= 1028) cgS1 - cgS0 else (cg1 - cg0) * cgS1 / math.max(1, cg1))),
          "ddf.build_s" -> ("s", selfOf("ddf.build")),
          "ddf.action_s" -> ("s", selfOf("ddf.action")),
          "sources.records" -> ("count", wf.getOrElse("sources.records", 0.0)),
          "sources.mb_in" -> ("MB", wf.getOrElse("sources.mb_in", 0.0)),
          "sources.self_s" -> ("s", selfOf("sources")),
          "kernels.rows" -> ("count", wf.getOrElse("kernels.rows", 0.0)),
          "kernels.self_s" -> ("s", selfOf("kernels")),
          "kernels.rows_per_task_s" -> ("rows/s", if (kernelTaskS == 0) 0.0 else kernelRows / kernelTaskS),
          "lines.self_s" -> ("s", selfOf("lines")),
          "lines.dropped_share" -> ("share", wf.getOrElse("lines.dropped_share", 0.0)),
          "dedup.self_s" -> ("s", selfOf("dedup")),
          "dedup.jobs" -> ("count", perOp(dedupJobs.toDouble)),
          "dedup.pairs" -> ("count", wf.getOrElse("dedup.pairs", 0.0)),
          "dedup.drop_share" -> ("share", wf.getOrElse("dedup.drop_share", 0.0)),
          "admission.self_s" -> ("s", selfOf("admission")),
          "admission.jobs_per_cycle" -> ("count", perOp(adm.jobs.toDouble)),
          "admission.tasks_per_cycle" -> ("count", perOp(adm.tasks.toDouble)),
          "admission.admit_share" -> ("share", wf.getOrElse("admission.admit_share", 0.0)),
          "admission.corpus_mb_written" -> ("MB", wf.getOrElse("admission.corpus_mb_written", 0.0)),
          "admission.index_mb_written" -> ("MB", wf.getOrElse("admission.index_mb_written", 0.0)),
          "admission.index_files_rewritten" -> ("count", wf.getOrElse("admission.index_files_rewritten", 0.0)),
          "admission.index_rewrite_share" -> ("share", wf.getOrElse("admission.index_rewrite_share", 0.0)),
          "jvm.gc_s" -> ("s", perOp(gcS)),
          "jvm.jit_s" -> ("s", perOp(jitS)),
          "jvm.heap_peak_mb" -> ("MB", heapPeakMb),
          "write_amp" -> ("bytes/byte", wl.writeAmp.getOrElse(0.0)))
        traceOut.foreach(f => writeTrace(new File(f), name, seed, spans, self, layers, report))
        layerMetrics
      }
    val result = Map[String, Any](
      "correct" -> failures.isEmpty,
      "attempted" -> n,
      "failed" -> failures.size,
      "metrics" -> metrics.map { case (k, (u, v)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    println(Json.write(result, ordered = Seq("correct", "attempted", "failed", "metrics")))
  }

  /** the span dump, per-op layer self times, and jobs per call site */
  private def writeTrace(f: File, name: String, seed: Long, spans: Seq[Span], self: Map[Int, Long],
                         layers: LayerListener, report: Map[String, Any]): Unit = {
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val perOp = spans.groupBy(_.op).toSeq.sortBy(_._1).map { case (op, ss) =>
      val root = ss.find(_.parent == -1)
      Map("op" -> op, "wall_s" -> root.map(_.dur / 1e9).getOrElse(0.0),
        "self_s" -> ss.groupBy(_.name).map { case (l, xs) => l -> xs.map(s => self(s.id)).sum / 1e9 })
    }
    val sites = layers.jobsBySite.asScala.toSeq.groupBy(_._1._2).map { case (site, xs) =>
      site -> xs.map(_._2.longValue).sum }
    val doc = Map[String, Any](
      "workload" -> name, "seed" -> seed, "report" -> report,
      "jobs_by_call_site" -> sites,
      "jobs" -> layers.jobs.asScala.toSeq.sortBy(_._1).map { case (id, (op, layer, site, t0, t1)) =>
        Map("job" -> id, "op" -> op, "layer" -> layer, "site" -> site, "ms" -> (t1 - t0)) },
      "ops" -> perOp,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6)))
    f.getAbsoluteFile.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, Json.write(doc).getBytes("UTF-8"))
  }
}

/** Minimal JSON writer for the report and result lines. */
object Json {
  def write(v: Any, ordered: Seq[String] = Nil): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      val sm = m.map { case (k, x) => k.toString -> x }
      val keys = ordered.filter(sm.contains) ++ sm.keys.toSeq.sorted.filterNot(ordered.contains)
      keys.map(k => write(k) + ": " + write(sm(k))).mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(write(_)).mkString("[", ", ", "]")
    case xs: Array[_] => write(xs.toSeq)
    case other => write(other.toString)
  }
}
