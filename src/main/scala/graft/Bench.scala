package graft
import org.apache.spark.sql.SparkSession

/** Benchmark gate main. Runs every catalog query on
  * `SPARK_GRAFT_SF_DIR` and emits ONE JSON line.
  *
  * Measurement protocol (round 5 revision): each query runs TWICE — a
  * cold pass and a repeat pass. The driver-documented fields `value`/
  * `queries` carry the SINGLE COLD PASS, the meaning they had in
  * rounds 1–3, so any consumer keying on them compares like with like
  * across every round. The per-query minimum of the two passes — the
  * capability number — is appended as the extension fields
  * `queries_best`/`value_best` (round 4 briefly redefined `value` as
  * best-of; ADVICE r4 flagged the silent contract change and this
  * restores it). Rationale for two passes (BENCH_NOTES.md): the shared
  * host shows a 67–295 s total-time variance envelope for identical
  * bytecode across rounds; one sample per query cannot distinguish a
  * code regression from a noisy neighbor. Cold-vs-best spread plus the
  * recorded `/proc/loadavg` make contention visible inside the
  * artifact itself instead of requiring an out-of-band triage.
  *
  * Round-7 extension: the two CC-loop queries named in `median_of_3`
  * run a THIRD pass and report the median of three in `queries_best`
  * (instrumented rationale inline below; distribution in
  * BENCH_NOTES.md r7). All other fields keep their meaning; the new
  * key appends strictly after the existing ones.
  *
  * Round-9 extension (the BASELINE.md failure contract, violated in
  * r8): a query whose ANY pass throws records -1 in `queries` AND
  * `queries_best`, its name joins the appended `failed` list, and
  * BOTH totals become -1 — a red query can no longer masquerade as a
  * fast pass, and a red round can no longer post a headline total.
  *
  * Round-11 extension (VERDICT r10 item 2): the artifact carries a
  * `contended` flag (1-minute loadavg at START above
  * [[contendedThreshold]] — the end reading is dominated by the
  * gate's own threads) and, when flagged, a third RERUN pass over
  * the ten most-inflated queries vs the previous round's committed
  * artifact — raw third-pass times in `rerun`, its loadavg in
  * `loadavg_rerun`, and `queries_best` folds the rerun in via min.
  * All new keys append strictly after the existing ones.
  */
object Bench {
  /** Time one query; a FAILED query returns -1.0, never its
    * time-to-fail (BASELINE.md's contract: failed queries score −1
    * and must be unmissably red — r8 recorded time-to-fail and 15
    * broken queries masqueraded as ~0.05 s speedups). Pinned in
    * BenchContractSpec. */
  def timeOne(spark: SparkSession, sfDir: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
  : Double = {
    val t0 = System.nanoTime()
    val ok =
      try { fn(spark, sfDir).count(); true }
      catch { case _: Throwable => false }
    val dt = (System.nanoTime() - t0) / 1e9
    // operators cache intermediates (LSH payloads, grid cells);
    // drop them so 77 queries don't accumulate heap pressure and
    // each pass measures from parquet, not from a leftover cache
    spark.catalog.clearCache()
    if (ok) dt else -1.0
  }

  private def loadavg(): String =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim
      s.split("\\s+").take(3).mkString(" ")
    } catch { case _: Throwable => "unavailable" }

  /** Round-11 extension (VERDICT r10 item 2): the gate carries its
    * own weather report. Three consecutive rounds the committed
    * driver artifact ran on a contended host (loadavg 3-4.5 at
    * start) and interpreting it needed manual archaeology against a
    * quiet-host re-run — the 1-minute loadavg at gate start above
    * this threshold flags the artifact `contended:true` and triggers
    * a third RERUN pass over the most-inflated queries (below). 2.5
    * on a 32-vCPU host is conservative: the r10 gate started at 4.48
    * and showed diffuse 2-5x inflation; quiet runs start < 1.5. */
  val contendedThreshold = 2.5

  /** First (1-minute) loadavg field vs the threshold; malformed
    * input reads as NOT contended (the flag must never turn a
    * readable artifact red on a /proc hiccup). */
  def isContended(load: String, threshold: Double = contendedThreshold)
  : Boolean =
    load.split("\\s+").headOption.flatMap(_.toDoubleOption)
      .exists(_ > threshold)

  /** Extract `queries_best` from a prior bench artifact (previous
    * round's committed bench_last.json) without a JSON library:
    * the artifact is single-line machine-written JSON, so a regex
    * over the one known object key is exact. Unreadable/absent ref
    * -> empty map (rerun selection falls back to largest-best). */
  def parseRefBest(json: String): Map[String, Double] = {
    val obj = "\"queries_best\":\\{([^}]*)\\}".r
    obj.findFirstMatchIn(json).map { m =>
      m.group(1).split(",").iterator.flatMap { kv =>
        kv.split(":") match {
          case Array(k, v) =>
            v.toDoubleOption.map(k.trim.stripPrefix("\"").stripSuffix("\"") -> _)
          case _ => None
        }
      }.toMap
    }.getOrElse(Map.empty)
  }

  /** Which queries the contended-gate rerun pass repeats: the `n`
    * with the largest inflation `this_best / ref_best` vs the prior
    * round's artifact (both passes of a contended gate are inflated,
    * so cold-vs-best spread alone cannot identify victims). Queries
    * under `floorSec` are skipped (a 0.1 s -> 0.4 s swing is
    * scheduler noise, not signal); with no usable ref the fallback
    * is the `n` largest by absolute best time — they dominate the
    * total the flag is protecting. `exclude` removes the median-of-3
    * queries, which already ran three passes. */
  def rerunSelection(best: Map[String, Double], ref: Map[String, Double],
                     n: Int, exclude: Set[String],
                     floorSec: Double = 0.3): Seq[String] = {
    val eligible = best.filter { case (k, v) =>
      v >= floorSec && !exclude(k) }
    val ranked =
      if (ref.nonEmpty)
        eligible.flatMap { case (k, v) =>
          ref.get(k).filter(_ > 0.05).map(r => k -> v / r) }
      else eligible
    ranked.toSeq.sortBy(-_._2).take(n).map(_._1).sorted
  }

  /** The gate's LAST stdout line: the headline fields of the full
    * JSON line in at most 500 bytes, so a reader that keeps only a
    * short tail of stdout still gets the totals. Same
    * `value`/`value_best` text as the full line; `failed` is the
    * number of red queries (their names stay in the full line); `sf`
    * keeps its last 48 chars, every char outside printable ASCII
    * written as a JSON unicode escape. */
  def summaryLine(value: Double, valueBest: Double, failed: Int,
                  sf: String, cpus: Int, contended: Boolean): String = {
    val sfJson = sf.takeRight(48).flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    s"""{"metric":"total","value":$value,"unit":"sec","value_best":$valueBest,"failed":$failed,"sf":"$sfJson","cpus":$cpus,"contended":$contended}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    val loadStart = loadavg()
    // one untimed warmup so JVM/codegen/scan-setup startup cost is not
    // attributed to whichever query happens to run first (map order)
    try SparkEntry.queries("q02_select")(spark, sfDir).count()
    catch { case _: Throwable => }
    spark.catalog.clearCache()

    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double =
      Bench.timeOne(spark, sfDir, fn)

    // The two CC-label-propagation queries (many small jobs +
    // localCheckpoints) are the catalog's most scheduler/JIT-
    // sensitive shapes and have swung 2-4x across rounds on identical
    // bytecode. 12 interleaved runs on a quiet host (r7, BENCH_NOTES
    // "q62/q80 gate-variance instrumented") showed their job/task
    // counts are DETERMINISTIC (31 jobs/745 tasks and 23/249 every
    // run) and steady-state wall spread is a
    // tight 1.2x — the outlier is the first post-warmup run (2.3x,
    // JIT-cold for these specific shapes; the generic q02 warmup
    // doesn't touch them). min-of-2 keeps one foot in that cold
    // window, so for THESE queries the gate runs a third pass and
    // reports the MEDIAN of three in queries_best — one scheduler
    // hiccup or cold pass can no longer pollute round comparisons.
    // q124_admission_embed joined in r11: 12 interleaved runs showed
    // the identical profile (deterministic 58 jobs/654 tasks, first
    // post-warmup run 2.6x JIT-cold at 9.4-9.7 s, steady 3.7-4.6 s)
    // — attribution table in BENCH_NOTES r11.
    // q182_pagerank_personalized joined in r16 (VERDICT r15 item 3):
    // 10 unrolled CTE rounds with lineage cuts — the same
    // deterministic many-small-jobs shape — swung 2.2 <-> 5.4 s
    // across QUIET windows on byte-identical bytecode (plan unchanged
    // since r11), polluting every cross-round comparison.
    // q251/q227 joined in r17 (BENCH_NOTES "Round-17 q251/q227
    // attribution"): 12 interleaved quiet runs show constant
    // jobs/tasks (32/261,
    // 49-50/~645) with wall swinging 3.6 <-> 13.0 s / 5.2 <-> 11.4 s
    // and executor time moving with wall — scheduler/JIT noise on a
    // deterministic plan, the exact median-of-3 criterion; the r16
    // "regression" read was window noise plus the (since-hoisted)
    // per-fan-out-row guard hash. Attribution table in BENCH_NOTES.
    val medianOf3 =
      Set("q62_dbscan", "q80_dedup_keep_best", "q124_admission_embed",
        "q182_pagerank_personalized", "q251_admission_semantic_stream",
        "q227_training_recipe")
    val timings = SparkEntry.queries.map { case (name, fn) =>
      val cold = timeOne(fn)
      val rep = timeOne(fn)
      // ANY failed pass makes the query red: -1 in both fields, never
      // a min/median that could launder a failure into a timing
      val passes =
        if (medianOf3(name)) Seq(cold, rep, timeOne(fn)) else Seq(cold, rep)
      val best =
        if (passes.exists(_ < 0)) -1.0
        else if (medianOf3(name)) passes.sorted.apply(1)
        else passes.min
      name -> (if (cold < 0 || best < 0) -1.0 else cold, best)
    }
    val loadEnd = loadavg()
    // contended-gate rerun pass (r11): when the gate STARTED hot, the
    // ten most-inflated surviving queries (vs the previous round's
    // committed artifact, read before this run overwrites it) get a
    // third sample; queries_best folds it in via min, and the raw
    // third-pass map + its loadavg append to the artifact so a reader
    // can see both the contended and the rerun numbers side by side.
    // A rerun failure keeps the failure contract: the query goes red.
    // START loadavg only: after minutes of local[32] execution the
    // 1-minute loadavg at END is dominated by the benchmark's own
    // threads — keying on it made the flag tautologically true on
    // the very first r11 gate run (start 1.77, end 3.19, rerun pass
    // fired for nothing). Contention that ARRIVES mid-run still
    // shows in the artifact via loadavg_end; it just doesn't trigger
    // the rerun by itself.
    val contended = isContended(loadStart)
    val refBest: Map[String, Double] =
      try parseRefBest(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_REF",
          "/root/repo/bench_last.json")))))
      catch { case _: Throwable => Map.empty }
    var timingsFinal = timings
    var rerunMap = Map.empty[String, Double]
    var loadRerun = ""
    if (contended) {
      val survivors = timings.collect {
        case (k, (_, b)) if b >= 0 => k -> b }.toMap
      val picks = rerunSelection(survivors, refBest, 10, medianOf3)
      rerunMap = picks.map(k => k -> timeOne(SparkEntry.queries(k))).toMap
      loadRerun = loadavg()
      timingsFinal = timings.map { case (k, (c, b)) =>
        rerunMap.get(k) match {
          case Some(r) if r < 0 => k -> (-1.0, -1.0)
          case Some(r)          => k -> (c, math.min(b, r))
          case None             => k -> (c, b)
        }
      }
    }
    val failed =
      timingsFinal.collect { case (k, (_, b)) if b < 0 => k }.toSeq.sorted
    def jmap(sel: ((Double, Double)) => Double): String =
      timingsFinal.map { case (k, v) => s"\"" + k + "\":" + sel(v) }
        .mkString("{", ",", "}")
    // totals poison on any failure (BASELINE.md): a red query must be
    // impossible to miss in the artifact's headline number
    val totalBest =
      if (failed.nonEmpty) -1.0 else timingsFinal.values.map(_._2).sum
    val totalCold =
      if (failed.nonEmpty) -1.0 else timingsFinal.values.map(_._1).sum
    // the driver-documented fields (metric/value/unit/queries/sf) keep
    // their original order, original SINGLE-COLD-PASS meaning, and come
    // first; protocol extensions (best-of-two, loadavg) append strictly
    // after, so any prefix- or key-based parse of the old shape still
    // works and never silently changes metric
    val json =
      s"""{"metric":"total","value":$totalCold,"unit":"sec","queries":${jmap(_._1)},"sf":"$sfDir","queries_best":${jmap(_._2)},"value_best":$totalBest,"passes":2,"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","median_of_3":[${medianOf3.toSeq.sorted.map("\"" + _ + "\"").mkString(",")}],"failed":[${failed.map("\"" + _ + "\"").mkString(",")}],"contended":$contended,"rerun":${rerunMap.toSeq.sorted.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")},"loadavg_rerun":"$loadRerun"}"""
    // the stdout line can drown in sbt log noise — also write the JSON
    // to a file so the driver never depends on stdout scraping
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    catch { case _: Throwable => }
    // also drop a copy in the repo so the artifact is readable even if
    // the driver's stdout parse truncates (committed per round)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/bench_last.json"), json)
    catch { case _: Throwable => }
    val cpus = spark.sparkContext.defaultParallelism
    spark.stop()
    // after Spark's shutdown logging: the full line, then the compact
    // summary as the process's final line
    println(json)
    println(summaryLine(totalCold, totalBest, failed.size, sfDir, cpus,
      contended))
  }
}
