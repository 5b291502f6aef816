package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, upper}
import org.apache.spark.sql.types._
import graft.operators.Repetition
import graft.tools.PlanLint

/** PlanLint's recompute rule: an uncached, uncheckpointed RDD scanned
  * at two plan leaves is flagged; a checkpointed one, or one read
  * through a reused exchange, is not. Its codegen-fallback report
  * names the interpreted operators and the classes that cause them. */
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

  test("codegenFallbacks lists q262's LangId scoring projection " +
    "with its HOF classes; plain column math lists nothing") {
    // q262 reads only doc_id from the documents table
    val dir = java.nio.file.Files.createTempDirectory("graft_planlint").toString
    spark.range(300).withColumnRenamed("id", "doc_id")
      .write.parquet(s"$dir/documents.parquet")
    val q262 = SparkEntry.queries("q262_langid")(spark, dir)
    val found = PlanLint.codegenFallbacks(q262.queryExecution.executedPlan)
    assert(found.exists(f => f.startsWith("Project(") &&
      f.contains("ArrayTransform")), found)
    val plain = rddFrame().filter(col("doc_id") > 3)
      .select(upper(col("text")).as("t"))
    assert(PlanLint.codegenFallbacks(plain.queryExecution.executedPlan)
      .isEmpty)
  }
}
