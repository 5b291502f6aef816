package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for MULTI-column file pruning
  * (DRIVER-EXT, SURVEY.md §2.1 sinks) — the two-dimensional sibling of
  * `Save.clustered`: interleave the bits of two columns' normalized
  * ranks and range-cluster the write on the interleaved value, so
  * every output file covers a narrow range of BOTH columns and parquet
  * min/max footer stats prune files for predicates on EITHER one.
  * A lexicographic sort bounds only its leading column — every file
  * spans ~the full domain of the second — which is why lakehouse
  * optimizers (Delta OPTIMIZE ZORDER BY, Iceberg sort orders) reach
  * for Morton codes; at 100 TB the difference is reading a few files
  * vs a full scan for the non-leading predicate.
  *
  * Everything here is pure integer column arithmetic — subtract,
  * multiply, integer-divide, shift, mask, or — inside whole-stage
  * codegen, and exactly replayable in SQL (q147's oracle rebuilds the
  * interleave term by term with the same operators). Normalization is
  * `(x - lo) * (2^bits - 1) div max(1, hi - lo)` on longs: no floats
  * anywhere, so no rounding divergence. Caller supplies [lo, hi]
  * (out-of-range values clamp); `withZValue` computes them in one
  * column-pruned aggregation — the same one-row broadcast-stats
  * pattern as RangeJoin. Intermediate `(x-lo)*(2^bits-1)` must stay
  * under 2^63: fine for any column span below ~2^47 at the default 16
  * bits — beyond that, reduce `bits` (coarser cells prune just as
  * well once files hold millions of rows).
  */
object ZOrder {
  import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr, Cast, Expression, Greatest, IntegralDivide, Least, Literal, Multiply, ShiftLeft, ShiftRight, Subtract}
  import org.apache.spark.sql.types.LongType
  import org.apache.spark.sql.graftbridge.Bridge

  // Catalyst-expression core — ONE arithmetic source of truth shared
  // by the Column API below and the `z_value2` SQL builder
  // (GraftExtensions): a builder must return a resolved expression
  // tree, so the core is built from catalyst nodes directly.

  private[graft] def scaleToBitsExpr(c: Expression, lo: Long, hi: Long,
                                     bits: Int): Expression = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    require(hi >= lo, s"hi ($hi) must be >= lo ($lo)")
    val clamped =
      Greatest(Seq(Least(Seq(Cast(c, LongType), Literal(hi))), Literal(lo)))
    IntegralDivide(
      Multiply(Subtract(clamped, Literal(lo)), Literal((1L << bits) - 1)),
      Literal(math.max(1L, hi - lo)))
  }

  private[graft] def interleaveExpr(xs: Expression, ys: Expression,
                                    bits: Int): Expression =
    (0 until bits).map { i =>
      BitwiseOr(
        ShiftLeft(BitwiseAnd(ShiftRight(xs, Literal(i)), Literal(1L)),
          Literal(2 * i)),
        ShiftLeft(BitwiseAnd(ShiftRight(ys, Literal(i)), Literal(1L)),
          Literal(2 * i + 1)))
    }.reduce[Expression]((a, b) => BitwiseOr(a, b))

  private[graft] def zValue2Expr(x: Expression, xLo: Long, xHi: Long,
                                 y: Expression, yLo: Long, yHi: Long,
                                 bits: Int): Expression =
    interleaveExpr(scaleToBitsExpr(x, xLo, xHi, bits),
      scaleToBitsExpr(y, yLo, yHi, bits), bits)

  /** Morton interleave of two pre-scaled `bits`-bit values: bit i of
    * `xs` lands at position 2i, bit i of `ys` at 2i+1. */
  def interleave(xs: Column, ys: Column, bits: Int): Column =
    Bridge.column(interleaveExpr(Bridge.expression(xs),
      Bridge.expression(ys), bits))

  /** z-value of (x, y) given each column's [lo, hi] bounds. */
  def zValue2(x: Column, xLo: Long, xHi: Long,
              y: Column, yLo: Long, yHi: Long, bits: Int = 16): Column =
    Bridge.column(zValue2Expr(Bridge.expression(x), xLo, xHi,
      Bridge.expression(y), yLo, yHi, bits))

  /** DuckDB-side replica of [[zValue2]] over pre-scaled expressions —
    * kept next to the implementation so the oracle and the operator
    * evolve together (`//` is DuckDB integer division; Spark's `div`
    * truncates identically for the non-negative scaled values). */
  def sqlInterleave(xs: String, ys: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"((($xs >> $i) & 1) << ${2 * i}) | ((($ys >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")

  /** Add z-value column `out` for (xCol, yCol), computing both
    * columns' bounds in ONE column-pruned aggregation (one job, one
    * row collected — broadcast-stats pattern). */
  def withZValue(df: DataFrame, xCol: String, yCol: String,
                 out: String = "z", bits: Int = 16): DataFrame = {
    val st = df.agg(min(col(xCol).cast("long")), max(col(xCol).cast("long")),
      min(col(yCol).cast("long")), max(col(yCol).cast("long"))).head()
    require(!st.isNullAt(0) && !st.isNullAt(2),
      s"withZValue: $xCol/$yCol have no non-null values")
    df.withColumn(out, zValue2(col(xCol), st.getLong(0), st.getLong(1),
      col(yCol), st.getLong(2), st.getLong(3), bits))
  }

  /** Z-order-clustered parquet write: one stats aggregation, one
    * range shuffle on the z-value with an in-partition sort, files
    * dropped the helper column. `nFiles = 0` lets AQE size the
    * shuffle (at scale: total-bytes / target-file-size). Same
    * one-TeraSort-shaped-shuffle cost as `Save.clustered`, but the
    * resulting files bound BOTH columns (SourcesSpec pins measured
    * per-file spans vs the lexicographic layout). */
  def saveZOrdered(df: DataFrame, xCol: String, yCol: String, path: String,
                   nFiles: Int = 0, bits: Int = 16,
                   mode: String = "overwrite"): Unit = {
    val z = withZValue(df, xCol, yCol, out = "__z", bits = bits)
    val ranged = if (nFiles > 0) z.repartitionByRange(nFiles, col("__z"))
                 else z.repartitionByRange(col("__z"))
    ranged.sortWithinPartitions(col("__z")).drop("__z")
      .write.mode(mode).parquet(path)
  }
}
