package graft

import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.functions._
import graft.ddf.{DDF, DDFContext}
import graft.ml.Feature
import graft.operators.KolmogorovSmirnov

/** The reference-parity faces (SURVEY.md §2) that no catalog query
  * drives: `DDF.ksTest`, `DDFContext.importData` and six `ml.Feature`
  * wrappers, each checked against hand-computed results on a small
  * frame. */
class ReferenceFacesSpec extends SparkTestBase {
  import spark.implicits._

  private val eps = 1e-9

  private def vectors(rows: Seq[Seq[Double]]) =
    rows.toDF("a").select(array_to_vector($"a").as("v"))

  private def collectArrays(df: org.apache.spark.sql.DataFrame,
                            c: String): Seq[Seq[Double]] =
    df.select(vector_to_array(col(c))).collect().toSeq
      .map(_.getSeq[Double](0))

  private def assertClose(got: Seq[Seq[Double]],
                          want: Seq[Seq[Double]]): Unit = {
    assert(got.map(_.size) == want.map(_.size), s"$got vs $want")
    got.flatten.zip(want.flatten).foreach { case (g, w) =>
      assert(math.abs(g - w) < eps, s"$got vs $want") }
  }

  test("DDF.ksTest equals the KolmogorovSmirnov operator and the hand value") {
    val df = Seq(0.2, 0.4, 0.7, 0.9).toDF("x")
    // n = 4 vs U(0,1): max over |x_i - i/4|, |x_i - (i+1)/4|
    //   0.2: 0.20, 0.05   0.4: 0.15, 0.10
    //   0.7: 0.20, 0.05   0.9: 0.15, 0.10   → D = 0.2
    val d = DDF(df).ksTest("x", "uniform")
    assert(math.abs(d - 0.2) < eps)
    assert(d == KolmogorovSmirnov.statistic(df, "x", "uniform"))
    // the default distribution is the standard normal
    assert(DDF(df).ksTest("x") ==
      KolmogorovSmirnov.statistic(df, "x", "norm"))
  }

  test("DDFContext.importData wraps the frame unchanged") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val d = new DDFContext(spark).importData(df)
    assert(d.df.schema == df.schema)
    assert(d.df.orderBy("id").collect().toSeq ==
      Seq(org.apache.spark.sql.Row(1L, "a"), org.apache.spark.sql.Row(2L, "b")))
  }

  test("Feature.regexTokenize splits on the pattern, lowercases, drops short tokens") {
    val df = Seq("The  Quick\tfox a").toDF("t")
    assert(Feature.regexTokenize(df, "t", "w").select("w").head()
      .getSeq[String](0) == Seq("the", "quick", "fox", "a"))
    assert(Feature.regexTokenize(df, "t", "w", minTokenLength = 2)
      .select("w").head().getSeq[String](0) == Seq("the", "quick", "fox"))
    assert(Feature.regexTokenize(Seq("ab,,CD e").toDF("t"), "t", "w",
        pattern = ",").select("w").head().getSeq[String](0) ==
      Seq("ab", "cd e"))
  }

  test("Feature.oneHot keeps every category (no dropped last level)") {
    val df = Seq(0.0, 1.0, 2.0, 1.0).toDF("c")
    assertClose(collectArrays(Feature.oneHot(df, "c", "o"), "o"),
      Seq(Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0),
        Seq(0.0, 1.0, 0.0)))
  }

  test("Feature.polynomialExpansion degree 2 of (x, y) is (x, x², y, xy, y²)") {
    assertClose(collectArrays(Feature.polynomialExpansion(
        vectors(Seq(Seq(2.0, 3.0), Seq(-1.0, 0.5))), "v", "p"), "p"),
      Seq(Seq(2.0, 4.0, 3.0, 6.0, 9.0),
        Seq(-1.0, 1.0, 0.5, -0.5, 0.25)))
  }

  test("Feature.maxAbsScale divides each feature by its largest |value|") {
    // feature maxima |−4| = 4 and |2| = 2
    val df = vectors(Seq(Seq(-4.0, 2.0), Seq(2.0, -1.0), Seq(1.0, 0.0)))
    assertClose(collectArrays(Feature.maxAbsScale(df, "v", "s"), "s"),
      Seq(Seq(-1.0, 1.0), Seq(0.5, -0.5), Seq(0.25, 0.0)))
  }

  test("Feature.standardScale centers and divides by the sample std") {
    // feature 1: mean 2, sample std 1; feature 2: mean 2,
    // deviations (−2, −2, 4), sample var 24 / 2 = 12, std 2√3
    val df = vectors(Seq(Seq(1.0, 0.0), Seq(2.0, 0.0), Seq(3.0, 6.0)))
    val r3 = math.sqrt(3.0)
    assertClose(collectArrays(Feature.standardScale(df, "v", "s"), "s"),
      Seq(Seq(-1.0, -1 / r3), Seq(0.0, -1 / r3), Seq(1.0, 2 / r3)))
    // withMean = false only divides
    assertClose(collectArrays(
        Feature.standardScale(df, "v", "s", withMean = false), "s"),
      Seq(Seq(1.0, 0.0), Seq(2.0, 0.0), Seq(3.0, 6.0 / (2 * r3))))
  }

  test("Feature.pca finds the one direction of collinear points") {
    // points on y = x: covariance [[1, 1], [1, 1]], eigenvalues 2 and
    // 0, first component ±(1, 1)/√2; spark.ml projects the raw
    // (uncentered) vectors, so (t, t) maps to ±t·√2
    val df = vectors(Seq(Seq(1.0, 1.0), Seq(2.0, 2.0), Seq(3.0, 3.0)))
    val (out, model) = Feature.pca(df, "v", "p", k = 1)
    val r2 = math.sqrt(2.0)
    assert(model.pc.toArray.map(math.abs).forall(a =>
      math.abs(a - 1 / r2) < eps))
    assert(math.abs(model.explainedVariance(0) - 1.0) < eps)
    assertClose(collectArrays(out, "p").map(_.map(math.abs)),
      Seq(Seq(r2), Seq(2 * r2), Seq(3 * r2)))
  }
}
