package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float|double>` columns (DRIVER-EXT,
  * SURVEY.md §2.12 similarity search). Pure `zip_with`/`aggregate`
  * column expressions — vectorizable, codegen'd, no UDF, no shuffle.
  */
object VectorFunctions {

  def dot(a: Column, b: Column): Column = graft.expressions.VectorExpressions.dot(a, b)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))

  def cosine(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.cosine(a, b)

  /** higher-order-function formulations, kept as the semantic spec for
    * the native expressions (equivalence pinned in ScalaTest) */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    val d = dotHof(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0, lit(0.0)).otherwise(d / nn)
  }

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) *
        (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v))

  /** multi-table hyperplane-LSH codes (native, single pass): see
    * [[graft.expressions.VectorExpressions.HyperplaneCodes]]. Returns
    * array<long> — one packed (tableId, signBits) code per table. */
  def hyperplaneCodes(v: Column, nTables: Int, bitsPerTable: Int,
                      dim: Int, seed: Long = 42L): Column =
    graft.expressions.VectorExpressions.hyperplaneCodes(
      v, nTables, bitsPerTable, dim, seed)
}
