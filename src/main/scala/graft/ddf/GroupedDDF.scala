package graft.ddf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** reference: ddf_library/functions/etl/aggregation.py — the
  * `group_by(keys).agg(...)` surface. The reference computes partial
  * pandas aggregations per fragment and merges partials after a hash
  * shuffle; Spark's HashAggregate (partial → shuffle on keys → final)
  * is that exact algorithm, codegen'd, so we only translate names.
  *
  * Aggregate spec: (alias, function, column). Functions: count, sum,
  * mean/avg, min, max, first, last, list, set (+ Spark extras:
  * count_distinct, approx_count_distinct, stddev, variance, median).
  *
  * `list` is wrapped in array_sort: collect_list order is partition-
  * dependent in both the reference and Spark (SURVEY.md §7), so only
  * the sorted form has deterministic, oracle-testable semantics.
  */
class GroupedDDF(df: DataFrame, keys: Seq[String]) {

  def agg(specs: (String, String, String)*): DDF = {
    val exprs = specs.map { case (alias, fn, c) =>
      GroupedDDF.aggExpr(fn, c).as(alias)
    }
    new DDF(df.groupBy(keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*))
  }

  /** pivot (engine ext — pairs with DDF.melt): wide-format
    * aggregation. Supply `values` at scale: omitting it costs an
    * extra distinct job AND makes the output schema data-dependent
    * (both are fine interactively, neither belongs in a pipeline).
    * One shuffle on the group keys either way — pivot columns are
    * folded into the aggregation buffers, not extra exchanges. */
  def pivot(pivotCol: String, values: Seq[Any] = Nil)
           (specs: (String, String, String)*): DDF = {
    val g = df.groupBy(keys.map(col): _*)
    val p = if (values.nonEmpty) g.pivot(pivotCol, values)
            else g.pivot(pivotCol)
    val exprs = specs.map { case (a, f, c) =>
      GroupedDDF.aggExpr(f, c).as(a)
    }
    new DDF(p.agg(exprs.head, exprs.tail: _*))
  }
}

object GroupedDDF {
  def aggExpr(fn: String, c: String): Column = fn.toLowerCase match {
    case "count"          => count(if (c == "*") lit(1) else col(c))
    case "sum"            => sum(col(c))
    case "mean" | "avg"   => avg(col(c))
    case "min"            => min(col(c))
    case "max"            => max(col(c))
    case "first"          => first(col(c))
    case "last"           => last(col(c))
    case "list"           => array_sort(collect_list(col(c)))
    case "set"            => array_sort(collect_set(col(c)))
    case "count_distinct" => countDistinct(col(c))
    case "approx_count_distinct" => approx_count_distinct(col(c))
    case "stddev"         => stddev_samp(col(c))
    case "variance"       => var_samp(col(c))
    case "median"         => median(col(c))
    // exact linear-interpolation percentile, e.g. "p25"/"p50"/"p95"
    // (same definition as DuckDB quantile_cont, so it oracles). Exact
    // means a sort per group — prefer approx_percentile at 100 TB
    // when ±1% is acceptable.
    case p if p.length > 1 && p.head == 'p' && p.tail.forall(_.isDigit) =>
      val n = p.tail.toInt
      require(n <= 100 && (p.tail.length <= 2 || n == 100) &&
          (p.tail.length == 1 || p.tail.head != '0'),
        s"percentile agg must be p0..p100 (no zero padding), got $fn")
      percentile(col(c), lit(n / 100.0))
    // approx percentile "ap25"/"ap99": the scale path the exact pNN
    // doc points at — one-pass mergeable sketch (no per-group sort),
    // rank error bounded by 1/accuracy. Deterministic given the data,
    // but sketch-defined rather than interpolated, so spec-pinned
    // against the exact pNN instead of the SQL oracle.
    case p if p.length > 2 && p.startsWith("ap") &&
        p.drop(2).forall(_.isDigit) =>
      val n = p.drop(2).toInt
      require(n <= 100 && (p.drop(2).length <= 2 || n == 100) &&
          (p.drop(2).length == 1 || p.drop(2).head != '0'),
        s"approx percentile agg must be ap0..ap100 (no zero padding), got $fn")
      percentile_approx(col(c), lit(n / 100.0), lit(10000))
    case other            => sys.error(s"unknown agg function: $other")
  }
}
