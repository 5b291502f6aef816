package graft.tools

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.{Expression,
  LambdaFunction, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{ExternalRDDScanExec, FilterExec,
  ProjectExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange,
  ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.storage.StorageLevel

/** Engine-wide physical-plan linter: builds (does not execute) every
  * catalog query's initial physical plan and flags scale red-flags —
  * cartesian products, nested-loop joins, parquet scans that read all
  * columns, filter-bearing scans without pushed filters, and (r4)
  * latency-floor checks: more shuffle exchanges than any sane plan of
  * ours needs, or a shuffled join whose build side the optimizer
  * estimates small enough to broadcast — and one recompute check:
  * the same uncached, uncheckpointed RDD scanned by more than one
  * plan leaf. Intentional exceptions are
  * allow-listed with the reason inline. Run:
  * `sbt "runMain graft.tools.PlanLint"`. Exit code 1 on unexpected
  * findings (used as a local gate before benching). A report-only
  * section (`FALLBACK` lines, never counted as findings) lists each
  * query's Project/Filter operators that whole-stage codegen leaves
  * out, with the CodegenFallback classes that keep them out. */
object PlanLint {

  /** shuffle-exchange ceiling: the deepest legitimate plan in the
    * catalog (multi-stage dedup / ML pipelines) stays under this;
    * anything above it historically meant an accidental repartition
    * or a join that lost its broadcast. */
  private val maxExchanges = 12

  /** a shuffled join side estimated under this is broadcast material
    * (10k rows of any of our schemas is well under 1 MiB) */
  private val smallSideBytes = BigInt(1 << 20)

  /** shuffled joins whose min estimated side is broadcast-small */
  private def smallSideShuffledJoins(p: SparkPlan): Seq[String] = {
    def stat(c: SparkPlan): Option[BigInt] =
      c.logicalLink.map(_.stats.sizeInBytes)
    p.collect {
      case j: SortMergeJoinExec => ("SortMergeJoin", j.children)
      case j: ShuffledHashJoinExec => ("ShuffledHashJoin", j.children)
    }.flatMap { case (kind, kids) =>
      val sizes = kids.flatMap(stat)
      // unknown stats → no claim; flag only when the optimizer itself
      // says a side is broadcast-small and we shuffled anyway
      sizes.reduceOption(_ min _).filter(_ < smallSideBytes)
        .map(s => s"$kind(minSide=${s}B)")
    }
  }

  /** RDDs the plan scans at more than one leaf while neither cached
    * nor checkpointed: each extra leaf recomputes the RDD's whole
    * lineage (a WARC parse, a decode) once more per action. Exchanges
    * are deduplicated by canonical form, as exchange reuse would
    * deduplicate them, so a subtree read through a reused exchange
    * counts once; cached relations are leaves and never descended. */
  private[graft] def repeatedRddScans(p: SparkPlan): Seq[String] = {
    val exchanges = scala.collection.mutable.Set[SparkPlan]()
    def scans(n: SparkPlan): Seq[RDD[_]] = n match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case _: ReusedExchangeExec => Nil
      case e: Exchange if !exchanges.add(e.canonicalized) => Nil
      case r: RDDScanExec => Seq(r.rdd)
      case r: ExternalRDDScanExec[_] => Seq(r.rdd)
      case _ => n.children.flatMap(scans)
    }
    scans(p).filter(r => r.getStorageLevel == StorageLevel.NONE &&
        !r.isCheckpointed)
      .groupBy(_.id).collect { case (id, rs) if rs.size > 1 =>
        s"repeatedRddScan(rdd=$id x${rs.size})" }.toSeq
  }

  /** Project/Filter operators holding a CodegenFallback expression,
    * as `Project(ArrayTransform,...)`: CollapseCodegenStages keeps
    * such an operator out of whole-stage codegen (a leaf fallback
    * reads no input row and does not count), so it evaluates its
    * expressions interpreted, row by row — the HOFs (`transform`,
    * `filter`, …) are the usual cause; their LambdaFunction children
    * are fallbacks too but add nothing to the HOF's name, so they are
    * not listed. Descends into AQE plans like [[repeatedRddScans]];
    * cached relations are leaves. */
  private[graft] def codegenFallbacks(p: SparkPlan): Seq[String] = {
    def report(op: String, es: Seq[Expression]): Seq[String] = {
      val fs = es.flatMap(_.collect {
        case f: CodegenFallback if !f.isInstanceOf[LeafExpression] &&
            !f.isInstanceOf[LambdaFunction] =>
          f.getClass.getSimpleName
      }).distinct.sorted
      if (fs.isEmpty) Nil else Seq(s"$op(${fs.mkString(",")})")
    }
    def walk(n: SparkPlan): Seq[String] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case pr: ProjectExec => report("Project", pr.projectList) ++ walk(pr.child)
      case f: FilterExec => report("Filter", Seq(f.condition)) ++ walk(f.child)
      case _ => n.children.flatMap(walk)
    }
    walk(p).distinct
  }

  // queries where a "red flag" node is the intended plan shape
  private val allow: Map[String, String] = Map(
    "q11_cross_join" -> "operator IS a cross join (reference semantics)",
    "q63_geo_within" -> ("non-equi broadcast join: bbox-pruned " +
      "BroadcastNestedLoopJoin over the broadcast-small polygon side " +
      "is the intended plan"),
    "q49_embed_topk" -> ("brute-force top-k scores a broadcast query " +
      "batch against the corpus by design (IVF is the pruned path)"),
    "q60_knn" -> "KNN classify wraps bruteForceTopK (broadcast query batch)",
    "q38_freq_items" -> ("scalar-broadcast pattern: the 1-row global " +
      "count crosses the (already reduced) per-value counts — " +
      "build side is a single row"),
    "q202_collocations" -> ("scalar-broadcast pattern: the 1-row " +
      "(bigram total, token total) frame crosses the already-reduced " +
      "bigram counts — q38 precedent"),
    "q205_join_cardinality" -> ("scalar-broadcast pattern BY " +
      "CONSTRUCTION: the result row is assembled from four 1-row " +
      "aggregate frames crossed together — every build side is a " +
      "single row"),
    "q207_mutual_information" -> ("scalar-broadcast pattern BY " +
      "CONSTRUCTION: the three 1-row entropy frames (H(a), H(b), " +
      "H(a,b)) cross into the single result row"),
    "q50_similarity_ivf" -> ("query->centroid scoring is a broadcast " +
      "cross of Q x K rows (K = nCentroids, tiny); corpus side is " +
      "probed, never crossed"),
    "q218_ivf_full_probe" -> ("same ivfTopK plan as q50 at " +
      "nProbe == nCentroids: the broadcast cross is still only " +
      "Q x K centroid rows — full probe widens the EQUI-joined " +
      "bucket read, not the cross"),
    "q87_lm_perplexity" -> ("scalar-broadcast pattern: the 1-row " +
      "vocabulary size crosses the already-aggregated score rows"),
    "q89_tfidf_keywords" -> ("scalar-broadcast pattern: the 1-row " +
      "document count crosses the already-aggregated tf rows"),
    "q93_domain_filter" -> ("broadcast non-equi anti join: the " +
      "blocklist side is broadcast-small by contract; the " +
      "equality-or-dot-suffix match cannot be an equi join"),
    "q108_bm25_search" -> ("scalar-broadcast pattern: the 1-row " +
      "(N, avgdl) corpus stats cross the already-reduced tf rows"),
    "q110_bm25_batch" -> ("scalar-broadcast pattern: the 1-row " +
      "(N, avgdl) corpus stats cross the already-reduced tf rows"),
    "q144_hybrid_rrf" -> ("both retriever shapes are allowed " +
      "elsewhere: bm25Batch's 1-row stats cross (q110) and " +
      "bruteForceTopK's broadcast query batch (q49); the fusion " +
      "itself is an equi join on (qid, id)"),
    "q145_pq_adc" -> ("ADC/exact-L2 top-k score a broadcast query " +
      "batch against the corpus by design (q49 precedent; the " +
      "IVF-PQ q148 is the pruned path)"),
    "q146_pq_portable" -> ("same broadcast-query-batch cross as " +
      "q145 with literal codebooks"),
    "q148_ivfpq" -> ("query->cell scoring is a broadcast cross of " +
      "Q x nCells rows (tiny); the corpus side joins probed cells " +
      "by EQUI key and is never crossed (q50 precedent)"),
    "q171_benford" -> ("scalar-broadcast pattern: the 1-row total " +
      "count crosses the 9-row digit census (q38/q87 precedent)"),
    "q178_chi2_independence" -> ("contingency margins: row-levels x " +
      "col-levels x 1-row n — every side is category-count-sized " +
      "(the expected-count grid IS a cross product by definition)"),
    "q180_js_drift" -> ("scalar-broadcast pattern: the 1-row " +
      "(n_before, n_after, k) totals cross the category-sized " +
      "distribution rows"),
    "q183_eval_ranking" -> ("rides bm25Batch, whose 1-row (N, avgdl) " +
      "stats cross the already-reduced tf rows (q110 precedent); " +
      "the evaluation joins themselves are all equi"),
    "q188_matryoshka_eval" -> ("rides bruteForceTopK twice — the " +
      "broadcast query batch crossing the corpus is the documented " +
      "exact-baseline plan (q49/q145 precedent)"),
    "q212_pq_adc_bounded" -> ("rides exactL2TopK (and adcTopK for " +
      "the recall boolean): the broadcast 10-query batch crossing " +
      "the corpus is the documented exact-baseline plan (q49/q145 " +
      "precedent)"),
    "q213_ivfpq_bounded" -> ("rides exactL2TopK (and ivfPqTopK for " +
      "the recall boolean): same broadcast-query-batch exact " +
      "baseline as q212 (q49/q145 precedent)"),
    "q168_sorted_neighbor" -> ("both sides of the rank self-join " +
      "scan Blocking.withSortRank's ranked RDD, whose range-partition " +
      "shuffle output is kept and reused: the second scan repeats " +
      "only the partition-local sort and the rank stamp, never the " +
      "upstream; checkpointing it would cost a full copy to save that"))

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")

    // streaming/eager queries execute work at construction — lint the
    // batch-plan queries only (the eager ops assert their plan shapes
    // in ScaleSpec instead)
    val skip = Set("q66_stream_window", "q72_stream_interval_join",
      "q90_stream_enrich")

    // positive checks: these queries MUST show the named scan property
    // (filter pushdown reaching parquet / column-pruned read schema)
    val mustContain: Map[String, (String, String)] = Map(
      "q03_filter" -> ("GreaterThanOrEqual(l_quantity",
        "filter not pushed to the lineitem scan"),
      "q01_flagship_agg" -> ("PushedFilters: [IsNotNull(",
        "filter not pushed to the scan"),
      "q02_select" -> ("ReadSchema: struct<p_partkey:bigint,p_name:string,p_retailprice:double>",
        "projection not pruned to the 3 selected columns"),
      // decontamination contract: the DISTINCT eval shingle set joins
      // the corpus as a BROADCAST build side (Dedup.decontaminate
      // broadcastEval=true default); losing the hint re-shuffles the
      // full corpus shingle explosion. ScaleSpec pins the same
      // property on the executed plan — this catches it pre-bench.
      "q78_decontaminate" -> ("BroadcastHashJoin",
        "eval shingle side no longer broadcasts"),
      // the Q5-shaped 6-table join must broadcast its dim tables —
      // a sort-merge join against region/nation/supplier at sf means
      // the size estimation or the join order regressed
      "q99_tpch_q5_shape" -> ("BroadcastHashJoin",
        "dimension tables no longer broadcast in the 6-table join"),
      // centroidFilter contract: per-group centroid arrays broadcast;
      // losing the hint re-shuffles the whole embedding corpus
      "q104_centroid_filter" -> ("BroadcastHashJoin",
        "centroid side no longer broadcasts"),
      // grouped-stats contract (r6): zscore/iqrFilter/winsorize compute
      // per-group stats as partial aggregates and BROADCAST them back —
      // the data side must not shuffle
      "q102_group_zscore" -> ("BroadcastHashJoin",
        "zscore stats no longer broadcast"),
      "q103_iqr_filter" -> ("BroadcastHashJoin",
        "iqrFilter stats no longer broadcast"),
      "q112_winsorize" -> ("BroadcastHashJoin",
        "winsorize stats no longer broadcast"),
      // incremental exact screen (r6): both the corpus semi join and
      // the batch anti join key on broadcast-small sides — the corpus
      // must never shuffle against the batch
      "q116_dedup_exact_incr" -> ("BroadcastHashJoin",
        "batch key set no longer broadcasts"),
      // heavy hitters (r9): pass 2's exact confirm semi-joins the
      // k-bounded candidate set as a BROADCAST build side — a shuffle
      // here (below the fallback bound) would defeat the two-pass
      // design. Known cost: constructing q136 runs pass 1 eagerly, so
      // THIS pin pays one tiny sf0.001 token scan at lint time —
      // accepted; it is the only way to see the real pass-2 plan.
      "q136_heavy_hitters" -> ("BroadcastHashJoin",
        "heavy-hitter candidate set no longer broadcasts"))
    // NOT pinnable here: q115's/q117's broadcast of the new-batch
    // band rows (minhashPairsAgainst / minhashPairsAgainstIndex)
    // happens inside materializeAndRelease's eager localCheckpoint,
    // so the catalog query's final plan is a checkpoint scan — the
    // broadcast-vs-shuffle contract is pinned by the DedupSpec
    // both-paths equality instead (same situation as every
    // minhashPairs-family query).

    // negative checks: these queries must NOT contain the named node —
    // the r6 grouped-stats rework removed their whole-group-buffering
    // WindowExec; a Window reappearing means the scale-safe shape
    // regressed
    val mustNotContain: Map[String, (String, String)] = Map(
      "q102_group_zscore" -> ("Window", "zscore regressed to a window"),
      "q103_iqr_filter" -> ("Window", "iqrFilter regressed to a window"),
      "q112_winsorize" -> ("Window", "winsorize regressed to a window"))

    var bad = 0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        try {
          val df = fn(spark, dir)
          val physical = df.queryExecution.executedPlan
          val plan = physical.toString
          mustContain.get(name).foreach { case (needle, why) =>
            if (!plan.contains(needle)) {
              bad += 1
              println(s"[plan-lint] FLAG  $name: $why (missing `$needle`)")
            }
          }
          mustNotContain.get(name).foreach { case (needle, why) =>
            if (plan.contains(needle)) {
              bad += 1
              println(s"[plan-lint] FLAG  $name: $why (found `$needle`)")
            }
          }
          val nExchanges = physical.collect {
            case e: ShuffleExchangeExec => e
          }.size
          val smallJoins = smallSideShuffledJoins(physical)
          val flags = Seq(
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            "BroadcastNestedLoopJoin" ->
              plan.contains("BroadcastNestedLoopJoin"),
            s"exchanges=$nExchanges" -> (nExchanges > maxExchanges)
          ).collect { case (f, true) => f } ++ smallJoins ++
            repeatedRddScans(physical)
          val fallbacks = codegenFallbacks(physical)
          if (fallbacks.nonEmpty)
            println(s"[plan-lint] FALLBACK $name: ${fallbacks.mkString(", ")}")
          if (flags.nonEmpty) {
            allow.get(name) match {
              case Some(reason) =>
                println(s"[plan-lint] ALLOW $name: ${flags.mkString(",")} — $reason")
              case None =>
                bad += 1
                println(s"[plan-lint] FLAG  $name: ${flags.mkString(",")}")
            }
          }
        } catch {
          case e: Throwable =>
            bad += 1
            println(s"[plan-lint] ERROR $name: ${e.getMessage.take(120)}")
        } finally spark.catalog.clearCache()
      }
    }
    println(s"[plan-lint] done, unexpected=$bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
