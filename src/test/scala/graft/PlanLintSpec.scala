package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.Repetition
import graft.tools.PlanLint

/** PlanLint's recompute rule: an uncached, uncheckpointed RDD scanned
  * at two plan leaves is flagged; a checkpointed one, or one read
  * through a reused exchange, is not. */
class PlanLintSpec extends SparkTestBase {

  private def rddFrame() = spark.createDataFrame(
    spark.sparkContext.parallelize(1 to 40, 4)
      .map(i => Row(i.toLong, s"line $i\nshared footer")),
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType))))

  private def flags(df: org.apache.spark.sql.DataFrame): Seq[String] =
    PlanLint.repeatedRddScans(df.queryExecution.executedPlan)

  test("repeatedRddScans: two leaves over one uncached RDD flag; " +
    "checkpointed input and reused exchanges do not") {
    val df = rddFrame()
    val twice = df.join(df.groupBy("doc_id").count(), "doc_id")
    assert(flags(twice).size == 1, flags(twice))
    assert(flags(df.localCheckpoint().transform(d =>
      d.join(d.groupBy("doc_id").count(), "doc_id"))).isEmpty)
    val agg = df.groupBy("doc_id").count()
    assert(flags(agg.union(agg)).isEmpty) // one exchange, reused
  }

  test("repeatedRddScans: dropCommonLines over an RDD-backed frame " +
    "reads its input once") {
    assert(flags(Repetition.dropCommonLines(rddFrame(), "doc_id",
      "text", 2L)).isEmpty)
  }
}
