package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike,
  ShuffleExchangeLike}

/** Parallelism guard for compute-heavy per-row stages (signatures,
  * distance math): a small single-file scan arrives as ONE partition,
  * which would serialize the expensive map stage no matter how many
  * cores exist. Widen up to the cluster's default parallelism — and
  * never shrink inputs that already have more splits (the 100 TB
  * case, where repartitioning down would be a regression).
  */
private[graft] object Partitioning {
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // deciding from df.rdd.getNumPartitions is a trap under AQE: for
    // any plan containing an exchange, Dataset.rdd FINALIZES the
    // adaptive plan, which materializes every query stage — i.e. the
    // "check" runs real jobs (BENCH_NOTES "r11: admission fixed-
    // overhead diet" caught the admission
    // screen scanning the corpus for a throwaway broadcast during
    // planning). Requirement-driven exchanges are only INSERTED during
    // plan preparation (EnsureRequirements), so queryExecution
    // .sparkPlan is blind to them — a groupBy or broadcast-join plan
    // shows no exchange there (r11's version checked sparkPlan and its
    // exchange branches were dead). Inspect the PREPARED plan instead:
    // under AQE the executedPlan root is AdaptiveSparkPlanExec, whose
    // public initialPlan is the post-EnsureRequirements physical tree;
    // building it runs zero jobs (stages materialize only on
    // execute/rdd). With AQE off, executedPlan itself carries the
    // exchanges.
    //   - plan already shuffles -> its output width is
    //     spark.sql.shuffle.partitions (~ target here); leave it
    //     alone and let AQE size it.
    //   - broadcast-only plan -> streamed-side width is unknowable
    //     without executing; these are the batch-bounded screen
    //     shapes, so an explicit batch-sized repartition is cheap
    //     and parallelizes the hashing it exists for.
    //   - exchange-free plan (pure scan/project) -> the width of
    //     queryExecution.toRdd is genuinely free (nothing adaptive to
    //     materialize, and unlike Dataset.rdd it adds no deserializing
    //     plan and posts no SQL execution of its own); keep the exact
    //     width check so a 100 TB corpus scan that already has
    //     thousands of splits is NEVER needlessly reshuffled.
    val physical = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val hasShuffle =
      physical.find(_.isInstanceOf[ShuffleExchangeLike]).isDefined
    // a CACHED frame (InMemoryTableScan root) is deliberately NOT
    // treated as exchange-bearing: probing its width does build the
    // cache eagerly, but that materialization is exactly the work
    // every downstream action would reuse — early attribution, not
    // waste. Only an UNCACHED broadcast-bearing plan wastes work
    // when probed (its stages belong to the probe's execution alone).
    val hasBroadcast =
      physical.find(_.isInstanceOf[BroadcastExchangeLike]).isDefined
    if (hasShuffle) df
    else if (hasBroadcast) {
      // ADVICE r18: a broadcast-bearing plan can still carry an
      // already-wide streamed side (e.g. a large corpus scan with a
      // broadcast enrich join); an unconditional repartition(target)
      // would SHRINK it to defaultParallelism — a regression for
      // exactly the wide-input case spread promises never to hurt.
      // The streamed side's post-join width is unknowable without
      // executing, but its file-scan leaves' split counts are free
      // plan metadata (FileScanRDD is built from the already-listed
      // partitions; constructing it runs zero jobs). When any leaf
      // scan already carries >= target splits, the heavy projection
      // downstream runs at least that wide — leave the plan alone.
      val scanWidth = physical.collectLeaves().map {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          try f.inputRDDs().map(_.getNumPartitions).sum
          catch { case _: Throwable => 0 }
        case _ => 0
      }
      if (scanWidth.nonEmpty && scanWidth.max >= target) df
      else df.repartition(target)
    }
    else if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }
}
