package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.functions.{VectorFunctions => VF}

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("cosine/dot native expressions match HOF formulation bitwise") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(40).select($"vec_id", $"embedding")
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .select(VF.cosine($"a.embedding", $"b.embedding").as("fast"),
        VF.cosineHof($"a.embedding", $"b.embedding").as("spec"),
        VF.dot($"a.embedding", $"b.embedding").as("dfast"),
        VF.dotHof($"a.embedding", $"b.embedding").as("dspec"))
    assert(pairs.filter($"fast" =!= $"spec" || $"dfast" =!= $"dspec")
      .count() == 0)
  }

  test("cosine basics on known vectors") {
    val d = Seq(
      (Seq(1f, 0f), Seq(1f, 0f), 1.0),
      (Seq(1f, 0f), Seq(0f, 1f), 0.0),
      (Seq(1f, 0f), Seq(-1f, 0f), -1.0),
      (Seq(0f, 0f), Seq(1f, 1f), 0.0) // zero vector -> 0 by convention
    ).toDF("a", "b", "want")
    val bad = d.select(VF.cosine($"a", $"b").as("got"), $"want")
      .filter(abs($"got" - $"want") > 1e-12).count()
    assert(bad == 0)
  }

  test("bruteForceTopK returns k ranked neighbors, self excluded") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 3)
    val r = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", k = 4)
      .cache()
    assert(r.count() == 12)
    assert(r.filter($"query_id" === $"neighbor_id").count() == 0)
    // ranks are 1..k and cosine non-increasing within each query
    val byQuery = r.collect().groupBy(_.getLong(0))
    byQuery.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq == (1 to 4))
      val cos = sorted.map(_.getDouble(2)).toSeq
      assert(cos.zip(cos.tail).forall { case (x, y) => x >= y })
    }
  }

  test("prefitted quantizer serves identical results to inline fit") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 5)
    val inline = graft.operators.Similarity.ivfTopK(emb, q, "vec_id",
        "embedding", k = 5, nCentroids = 8, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val model = graft.operators.Similarity.fitIvfQuantizer(emb,
      "embedding", nCentroids = 8)
    val served = graft.operators.Similarity.ivfTopK(emb, q, "vec_id",
        "embedding", k = 5, model, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(inline == served)
  }

  test("nCentroids=0 self-sizes the quantizer by the sqrt(n) rule") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val n = emb.count()
    val model = Similarity.fitIvfQuantizer(emb, "embedding", nCentroids = 0)
    val want = math.ceil(math.sqrt(n.toDouble)).toInt
    // KMeans can return fewer clusters than k on degenerate data, never
    // more — pin the ceiling and a sane floor
    assert(model.clusterCenters.length <= want && model.clusterCenters.length >= want / 2,
      s"k=${model.clusterCenters.length} for n=$n (sqrt rule wants $want)")
  }

  test("IVF ANN: measured probe-recall curve holds; full probe == exact") {
    // Operating points from BENCH_NOTES "r10: IVF probe-vs-recall
    // curve measured":
    // on THIS fixture — random unclustered embeddings, IVF's worst
    // case — recall@10 at nc=8 lands ~0.65 at np=3, ~0.92 at np=6,
    // and exactly 1.0 at np=8 (probing every cell IS the exhaustive
    // search — a routing/assignment bug is the only way to miss).
    // Gates sit a margin under the measured curve so a quantizer
    // regression trips them but KMeans seed jitter does not; the old
    // single 0.5 floor at np=3 couldn't catch a np-routing regression
    // that still scraped half the neighbors.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter($"vec_id" < 20)
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = keyset(Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 10))
    val model = Similarity.fitIvfQuantizer(emb, "embedding", nCentroids = 8)
    def recallAt(np: Int): Double = {
      val approx = keyset(Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        10, model, np))
      (exact intersect approx).size.toDouble / exact.size
    }
    val r3 = recallAt(3); val r6 = recallAt(6); val r8 = recallAt(8)
    assert(r3 >= 0.55, s"recall@np=3 $r3 under the measured-curve gate")
    assert(r6 >= 0.85, s"recall@np=6 $r6 under the measured-curve gate")
    assert(r8 == 1.0, s"full probe must equal brute force, got $r8")
    assert(r3 <= r6 && r6 <= r8, s"recall not monotone in nProbe: $r3 $r6 $r8")
  }

  test("centroidFilter: keeps on-centroid rows, drops the outlier") {
    // group g: three near-identical vectors + one opposite-direction
    // outlier; centroid points with the majority, so cosine >= 0
    // keeps 3 and drops 1. Group h: single vector == its centroid.
    val rows = Seq(
      (1L, "g", Array(1.0f, 0.1f)), (2L, "g", Array(1.0f, 0.0f)),
      (3L, "g", Array(0.9f, -0.1f)), (4L, "g", Array(-1.0f, 0.0f)),
      (5L, "h", Array(0.0f, 1.0f)))
    val df = spark.createDataFrame(rows).toDF("id", "grp", "vec")
    val kept = Similarity.centroidFilter(df, "id", "vec", "grp",
        minCosine = 0.0)
      .select($"id", $"centroid_cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(kept.keySet == Set(1L, 2L, 3L, 5L))
    assert(math.abs(kept(5L) - 1.0) < 1e-12) // own centroid exactly
    // no shuffle of the corpus rows: the centroid side broadcasts
    val plan = Similarity.centroidFilter(df, "id", "vec", "grp", 0.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid side not broadcast:\n$plan")
  }

  test("cosineJoin: eval cartesian broadcasts its right side") {
    val a = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "vec")
    val b = Seq((10L, Array(1.0f, 0.0f))).toDF("id", "vec")
    val got = Similarity.cosineJoin(a, b, "id", "vec", minCosine = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 10L)))
    val plan = Similarity.cosineJoin(a, b, "id", "vec", 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"right side not broadcast:\n$plan")
  }
}
