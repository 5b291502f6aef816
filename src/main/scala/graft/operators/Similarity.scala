package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor similarity search over an embedding
  * column (DRIVER-EXT, SURVEY.md §2.12).
  *
  *  - brute-force: broadcast the (small) query set against the corpus,
  *    exact cosine, per-query top-k via window. The corpus is never
  *    collected; cost is one scan of the corpus per batch of queries.
  *  - IVF: k-means coarse quantizer (spark.ml); corpus partitioned by
  *    nearest centroid, queries probe `nProbe` centroids — at 100 TB
  *    this turns a full corpus scan into a `nProbe/nCentroids`
  *    fraction scan, keyed shuffle only on centroid id.
  */
object Similarity {

  /** exact top-k neighbors for each query row.
    * queries/corpus: (idCol, vecCol). Returns
    * (query_id, neighbor_id, cosine, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = Partitioning.spread(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("query_id") =!= col("neighbor_id")
              else lit(true))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    // rank<=k over a row_number window triggers Spark's
    // WindowGroupLimit rewrite: each map task pre-reduces to its local
    // top-k per query BEFORE the shuffle, so a query's post-shuffle
    // partition holds at most k*numInputPartitions candidate rows, not
    // the whole scored corpus (asserted on the executed plan in
    // ScaleSpec).
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: cluster corpus by k-means, probe the
    * nProbe nearest centroids per query. Recall < 1 by design; tested
    * against bruteForceTopK in the spec.
    *
    * Measured operating curve (BENCH_NOTES "r10: IVF probe-vs-recall
    * curve measured", on
    * the RANDOM testdata embeddings — the worst case for IVF, since
    * unclustered data spreads each query's true neighbors across
    * cells): at nc=8, recall@10 ≈ 0.32/0.65/0.92 at np=1/3/6 and
    * EXACTLY 1.0 at np=8 (full probe is exhaustive by construction —
    * the spec pins that invariant; any routing bug breaks it). Real
    * embedding corpora cluster, so recall at a fixed np/nc ratio
    * only improves from this floor.
    *
    * Sizing (the defaults are TESTDATA-scale — 6k vectors in the gate
    * fixture — not corpus-scale): the standard IVF rule is
    * `nCentroids ≈ √n` for an n-vector corpus (1B vectors → ~32k
    * centroids), which balances the two scan costs — each query scores
    * all nCentroids centroids, then reads `nProbe/nCentroids` of the
    * corpus. Recall rises roughly linearly in nProbe at small values
    * (nProbe=1 is fastest and worst; nProbe=nCentroids degenerates to
    * brute force); start at nProbe ≈ nCentroids/16 and tune against a
    * brute-force sample exactly the way q50 does — its output row
    * carries (nCentroids, nProbe, recall) so every gate run documents
    * the operating point it measured. The quantizer fit stays bounded
    * by `fitCap` regardless of corpus size (see below); at 100 TB set
    * `fitFraction ≈ fitCap / n` so the sample is uniform rather than
    * a prefix. */
  /** Fit the IVF coarse quantizer ONCE for reuse across query batches
    * (at corpus scale the quantizer is a long-lived asset, not a
    * per-call step — fit it when the corpus lands, then serve every
    * batch through the `ivfTopK` overload that takes the model).
    *
    * The fit uses a bounded sample, never the full corpus: centroid
    * quality saturates long before 100k vectors, and a full-corpus fit
    * would re-scan 100 TB per KMeans iteration. At scale pass
    * `fitFraction ≈ fitCap / |corpus|` so the sample is uniform rather
    * than a prefix; the limit is the hard stop either way. Random init
    * + few Lloyd rounds is the standard IVF training recipe
    * (k-means||'s extra passes buy nothing for bucket routing).
    *
    * `nCentroids = 0` self-sizes by the √n rule: one column-pruned
    * count of the corpus (cheap next to the KMeans fit; parquet
    * answers it from footer metadata) → ⌈√n⌉ centroids, capped at
    * `fitCap` (KMeans cannot produce more clusters than fit rows). */
  def fitIvfQuantizer(corpus: DataFrame, vecCol: String,
                      nCentroids: Int = 16, seed: Long = 42L,
                      fitFraction: Double = 1.0,
                      fitCap: Int = 100000): org.apache.spark.ml.clustering.KMeansModel = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val kEff =
      if (nCentroids > 0) nCentroids
      else math.max(1, math.min(fitCap.toLong,
        math.ceil(math.sqrt(corpus.count().toDouble)).toLong).toInt)
    // Partitioning.spread keeps the (possibly single-partition after
    // limit) sample parallel across iterations
    val fitSample = Partitioning.spread(
      corpus.select(
          array_to_vector(col(vecCol).cast("array<double>")).as("features"))
        .sample(withReplacement = false, fitFraction, seed)
        .limit(fitCap))
    new KMeans().setK(kEff).setSeed(seed)
      .setInitMode("random").setMaxIter(10).setTol(1e-3)
      .setFeaturesCol("features").fit(fitSample)
  }

  /** inline-fit convenience overload; `nCentroids = 0` self-sizes by
    * the √n rule (see [[fitIvfQuantizer]]). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCentroids: Int = 16,
              nProbe: Int = 4, seed: Long = 42L,
              fitFraction: Double = 1.0,
              fitCap: Int = 100000): DataFrame =
    ivfTopK(corpus, queries, idCol, vecCol, k,
      fitIvfQuantizer(corpus, vecCol, nCentroids, seed, fitFraction,
        fitCap), nProbe)

  /** [[ivfTopK]] against a PRE-FITTED quantizer (see
    * [[fitIvfQuantizer]]) — the serving path: no KMeans work per
    * batch, only the probe join. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int,
              model: org.apache.spark.ml.clustering.KMeansModel,
              nProbe: Int): DataFrame = {
    val spark = corpus.sparkSession
    import org.apache.spark.ml.functions.array_to_vector

    val prepared = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"),
      array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val assigned = model.transform(prepared)
      .select(col("neighbor_id"), col("cv"),
        col("prediction").as("centroid"))

    // centroid table is tiny: broadcast to score query→centroid
    val centroids = model.clusterCenters.zipWithIndex.map {
      case (v, i) => (i, v.toArray)
    }
    val centDf = spark.createDataFrame(centroids.toSeq)
      .toDF("centroid", "cvec")

    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probes = q.crossJoin(broadcast(centDf))
      .select(col("query_id"), col("qv"), col("centroid"),
        cosine(col("qv"), col("cvec")).as("csim"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("centroid").asc)
    val probed = probes.withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("centroid"))

    val scored = probed.join(assigned, Seq("centroid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** pairwise cosine above a floor between two labeled sets — the
    * building block for retrieval EVALUATION, deliberately a
    * cartesian: eval sets are thousands of rows, so |a|·|b| is
    * bounded by contract and the smaller side is broadcast (never a
    * shuffle). This is NOT the corpus-scale path — at corpus sizes
    * use [[bruteForceTopK]] (broadcast queries + per-partition
    * top-k), [[ivfTopK]] (pruned probe join) or
    * [[graft.operators.Dedup.embeddingPairs]] (LSH-bucketed pair
    * generation); an unbucketed all-pairs cosine over two large
    * sides has no scale story by construction. */
  def cosineJoin(a: DataFrame, b: DataFrame, idCol: String,
                 vecCol: String, minCosine: Double): DataFrame = {
    val bSel = b.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .crossJoin(broadcast(bSel))
      .select(col("id_a"), col("id_b"),
        cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** Semantic centroid filter (the SemDeDup-adjacent stratum-outlier
    * trim): score every row by cosine to its GROUP's centroid
    * (element-wise mean embedding) and keep rows with
    * `centroid_cosine >= minCosine` — drops mis-labeled / off-topic
    * vectors from each stratum before training.
    *
    * Shape at 100 TB: centroids are built with ONE posexplode +
    * partial-aggregated groupBy on (group, position) — the exchange
    * carries (group, pos, partial-sum) rows, d per group per
    * partition, never raw vectors — then collapsed to per-group
    * arrays (strata are few: language/source/label) and BROADCAST;
    * scoring is the native codegen'd cosine in one corpus pass. No
    * per-row shuffle at any point. */
  def centroidFilter(df: DataFrame, idCol: String, vecCol: String,
                     groupCol: String, minCosine: Double): DataFrame = {
    val parts = df.select(col(groupCol).as("__g"),
      posexplode(col(vecCol)).as(Seq("__p", "__v")))
    val cent = parts.groupBy(col("__g"), col("__p"))
      .agg(avg(col("__v")).as("__c"))
    val centArr = cent.groupBy(col("__g"))
      .agg(transform(
        array_sort(collect_list(struct(col("__p"), col("__c")))),
        s => s.getField("__c")).as("__cvec"))
    df.join(broadcast(centArr), col(groupCol) === col("__g"))
      .withColumn("centroid_cosine",
        cosine(col(vecCol).cast("array<double>"), col("__cvec")))
      .filter(col("centroid_cosine") >= minCosine)
      .drop("__g", "__cvec")
  }
}
