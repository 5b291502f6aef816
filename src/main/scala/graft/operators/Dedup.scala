package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication suite for training-data pipelines (DRIVER-EXT,
  * SURVEY.md §2.12). Four families:
  *
  *  - exact: one hash aggregation on the dedup key
  *  - MinHash + LSH: shingle → signature → band-bucket join →
  *    Jaccard-verify (the standard near-dup pipeline; candidate
  *    generation is a self-join on (band, bucket) so the shuffle key
  *    cardinality scales with corpus size, never all-pairs)
  *  - SimHash: 64-bit signature + pigeonhole chunk join for
  *    Hamming-distance candidates
  *  - embedding cosine: hyperplane-LSH bucketing + cosine-verify
  *
  * All stages are DataFrame ops: narrow signature computation, then
  * shuffles keyed on bucket ids only. At 100 TB the all-pairs
  * verification happens only inside buckets; skewed buckets should be
  * handled by AQE skew-split (bucket sizes are data-dependent).
  */
object Dedup {

  /** exact dedup on `cols`: keep the row with min `idCol` per group —
    * deterministic canonical representative, unlike dropDuplicates.
    * With `keepCol` set, the kept row is the group's argmax of that
    * column instead (ties broken by min id) — training pipelines keep
    * the highest-quality copy, not the lowest-id one.
    *
    * Scale shape: the shuffle is keyed on the 8-byte xxhash64 of the
    * dedup key, not the raw key bytes — repartition(__h) satisfies the
    * window's ClusteredDistribution(__h, cols...) (hash cols are a
    * subset of the clustering cols), so no second exchange is added
    * and the partition-local sort resolves almost every comparison on
    * the hash. The raw columns stay in the window partition spec only
    * as the hash-collision tie-guard. */
  def exact(df: DataFrame, cols: Seq[String], idCol: String,
            keepCol: String = ""): DataFrame = {
    val h = xxhash64(cols.map(col): _*)
    val order = if (keepCol.isEmpty) Seq(col(idCol).asc)
                else Seq(col(keepCol).desc, col(idCol).asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h") +: cols.map(col): _*).orderBy(order: _*)
    df.withColumn("__h", h)
      .repartition(col("__h"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "__h")
  }

  /** Incremental exact-dedup screen: drop NEW-batch rows whose dedup
    * key tuple already exists in the corpus — the exact sibling of
    * [[minhashPairsAgainst]] for ingestion cadence (the batch dedups
    * against history without re-deduplicating history).
    *
    * Shape at 100 TB: the batch's distinct keys (hash + raw tuple as
    * the collision guard, same key discipline as [[exact]]) broadcast
    * into ONE corpus scan via a semi join, which emits only the keys
    * actually hit — a set bounded by the BATCH size; the batch then
    * anti-joins that tiny hit set. The corpus is never shuffled and
    * never scanned twice. `broadcastBatch = false` flips to a
    * shuffled semi join for a backfill-sized "batch". `hashKeys =
    * false` takes no distinct on either side: each is only a semi or
    * anti join's build side, where duplicate keys change nothing. */
  def exactAgainst(newDf: DataFrame, corpus: DataFrame,
                   cols: Seq[String],
                   broadcastBatch: Boolean = true,
                   hashKeys: Boolean = true): DataFrame =
    if (hashKeys)
      exactAgainstHashed(newDf, corpus, cols, broadcastBatch)
    else {
      // direct-key mode: the join distribution IS the raw key, so a
      // corpus BUCKETED on it joins with zero corpus-side exchange and
      // an IN-list probe prunes buckets (BENCH_NOTES "r8: Bucketed-corpus
      // id screen measured"). Right for narrow non-null keys (the
      // admission id screen); the hashed default stays right for wide
      // text keys and null key tuples (SQL equality never matches null,
      // so a null-keyed batch row always survives here).
      def bc(d: DataFrame) = if (broadcastBatch) broadcast(d) else d
      // hit is batch-bounded under this mode's unique-key contract
      val hit = corpus.select(cols.map(corpus(_)): _*)
        .join(bc(newDf.select(cols.map(newDf(_)): _*)), cols, "left_semi")
      newDf.join(bc(hit), cols, "left_anti")
    }

  private def exactAgainstHashed(newDf: DataFrame, corpus: DataFrame,
                                 cols: Seq[String],
                                 broadcastBatch: Boolean): DataFrame = {
    val kNames = "__kh" +: cols.indices.map(i => s"__k$i")
    def keyed(d: DataFrame) =
      d.select(xxhash64(cols.map(d(_)): _*).as("__kh") +:
        cols.zipWithIndex.map { case (c, i) => d(c).as(s"__k$i") }: _*)
    // null-safe matching END TO END so a null key tuple collides with
    // a null corpus key, exactly like exact()'s window grouping would
    // (<=> is still a hash-join key, so both joins stay broadcastable)
    val batchKeys = keyed(newDf).distinct()
    val bk = if (broadcastBatch) broadcast(batchKeys) else batchKeys
    val ck = keyed(corpus)
    val hit = ck
      .join(bk, kNames.map(n => ck(n) <=> bk(n)).reduce(_ && _),
        "left_semi")
      .distinct()
    val withKeys = cols.zipWithIndex.foldLeft(
      newDf.withColumn("__kh", xxhash64(cols.map(col): _*))) {
      case (d, (c, i)) => d.withColumn(s"__k$i", col(c))
    }
    // hit is bounded by the batch's DISTINCT keys — broadcastable
    // exactly when the batch side was; for a backfill-sized batch
    // (broadcastBatch = false) the hit set can be backfill-sized too,
    // so the anti join must follow the same shuffled-join escape hatch.
    val h = if (broadcastBatch) broadcast(hit) else hit
    val cond = kNames.map(n => withKeys(n) <=> h(n)).reduce(_ && _)
    withKeys.join(h, cond, "left_anti")
      .drop(kNames: _*)
  }

  /** expand a bucket's collected id array into ordered unique pairs:
    * one hash aggregation + in-row expansion instead of a bucket
    * self-join (no join-row blowup on skewed buckets). The expansion
    * is the native [[graft.expressions.VectorExpressions.IdPairs]], so
    * the `Generate` runs inside whole-stage codegen for any orderable
    * id type. Callers filter bucket size into [2, cap] BEFORE this.
    * (Shared with SemDedup, whose clusters play the bucket role.) */
  private[operators] def pairsFromBuckets(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(graft.expressions.VectorExpressions.idPairs(col("ids")))
        .as("p"))
      .select(col("p.a").as("id_a"), col("p.b").as("id_b"))
      .distinct()

  /** Materialize `result` (localCheckpoint) and release the operator's
    * cached intermediates. Pair sets are small relative to the corpus,
    * so the eager barrier is cheap; in exchange, repeated operator
    * calls in a long-lived session do not accumulate storage memory
    * (the checkpoint blocks themselves are dropped by the
    * ContextCleaner once the result is garbage-collected). */
  private[operators] def materializeAndRelease(result: DataFrame,
                                               cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.foreach(_.unpersist(false))
    out
  }

  /** bucket rows → one collected id list per bucket: a single hash
    * aggregation on `keys` over (id, keys...) rows */
  private def collectBuckets(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed.groupBy(keys.map(col): _*).agg(collect_list(col("id")).as("ids"))

  /** candidate pairs from (id, keys...) bucket rows: pairs are
    * generated per bucket from a collected id array (one hash
    * aggregation) instead of a bucket self-join — no join-row blowup,
    * and the size guard [2, cap] is a cheap filter on the aggregated
    * row. Pairs are deduplicated before the (expensive) verification,
    * since near-identical items share most buckets. */
  private def bucketPairs(keyed: DataFrame, keys: Seq[String],
                          cap: Int): DataFrame =
    pairsFromBuckets(collectBuckets(keyed, keys)
      .filter(size(col("ids")).between(2, cap)))

  /** exact verification of (id_a, id_b) candidates: each side's
    * `payload` joins in by id, `measure` of the two payloads is
    * emitted as `out`, and only pairs passing `keep` stay. The result
    * is materialized and the cached `items` (id, payload) released. */
  private def verifyPairs(cand: DataFrame, items: DataFrame, payload: String,
                          out: String, measure: (Column, Column) => Column)(
      keep: Column => Column): DataFrame = {
    def side(s: String) =
      items.select(col("id").as(s"id_$s"), col(payload).as(s"${payload}_$s"))
    materializeAndRelease(measured(cand
      .join(side("a"), Seq("id_a"))
      .join(side("b"), Seq("id_b")), Seq("id_a", "id_b"),
      measure(col(s"${payload}_a"), col(s"${payload}_b")), out)(keep), items)
  }

  /** the shared verify tail: (`ids`..., `m` AS `out`) for the pairs
    * passing `keep`, with `m` evaluated ONCE per pair. A projected
    * measure under a filter gets the filter pushed into the join
    * condition below, which then evaluates the measure a second time;
    * a generator's output cannot be pushed, so the filter stays above
    * the one evaluation. */
  private def measured(pairs: DataFrame, ids: Seq[String], m: Column,
                       out: String)(keep: Column => Column): DataFrame =
    pairs.select(ids.map(col) :+ explode(array(m)).as(out): _*)
      .filter(keep(col(out)))

  /** candidate near-dup pairs by MinHash LSH, verified by exact
    * Jaccard on word `shingleLen`-grams. Returns (id_a, id_b, jaccard)
    * with id_a < id_b and jaccard >= threshold.
    *
    * Match `bands` to `threshold`: candidate recall at jaccard j is
    * 1 - (1 - j^(numHashes/bands))^bands, an S-curve centered near
    * (1/bands)^(bands/numHashes). The 64/16 defaults (4 rows/band)
    * fit threshold 0.8 (recall 0.9998 there, ~0.89 at 0.6); for a
    * 0.6 threshold use bands = 32 (2 rows/band — recall 1-6e-7 at
    * 0.6), as the catalog's screen queries do. Verification is exact,
    * so a too-coarse banding only loses recall, never precision.
    *
    * `maxBucketSize`: band buckets larger than this are skipped during
    * candidate generation. Oversized buckets arise from high-frequency
    * shingles dominating a band's minima and contribute m^2 mostly-
    * false candidates; true near-dup pairs (which agree on most bands,
    * including selective rare-shingle ones) still surface from small
    * buckets. This is the standard LSH-dedup skew guard at corpus
    * scale. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleLen: Int = 3, threshold: Double = 0.8,
                   seed: Long = 42L,
                   maxBucketSize: Int = 1000): DataFrame = {
    val f = minhashLsh(idCol, textCol, numHashes, bands, shingleLen, seed)
    lshPairs(f, materialized(f, df), maxBucketSize, threshold)
  }

  private def shingledFor(d: DataFrame, idCol: String, textCol: String,
                          shingleLen: Int): DataFrame =
    d.select(col(idCol).as("id"),
        wordShingles(col(textCol), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)

  /** [[shingledFor]] with the parallelism guard applied to the RAW
    * (id, text) projection, not above the shingle projection: an
    * exchange above the shingles would leave `wordShingles` evaluating
    * map-side inside a narrow 1–3-partition scan stage, with only the
    * downstream banding/jaccard running wide. Spreading the raw
    * projection first makes the shingling itself run at session
    * parallelism, and the exchange moves text bytes instead of the
    * strictly larger shingle arrays. `spread` never shrinks wide
    * inputs, so a 100 TB corpus scan is untouched. */
  private def shingledSpread(d: DataFrame, idCol: String, textCol: String,
                             shingleLen: Int): DataFrame =
    shingledFor(Partitioning.spread(d.select(col(idCol), col(textCol))),
      idCol, textCol, shingleLen)

  /** band rows carry ONLY (id, band, bucket): the shingle payload
    * would otherwise be duplicated `bands` times through the shuffle */
  private def bandedFor(s: DataFrame, numHashes: Int, bands: Int,
                        seed: Long): DataFrame =
    s.select(col("id"),
        explode(minhashBands(minhashSignature(col("sh"), numHashes, seed),
          bands, numHashes / bands)).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))

  /** Index FORMAT version, stamped as `__fmt` alongside the build
    * params. Bumped whenever the hash family or bucket layout changes
    * incompatibly — the build params alone cannot capture that: after
    * the minhash hash-family fix (d0911a9, mixed-width modulus →
    * true Z_p permutations) an index persisted by the old library has
    * identical (numHashes, bands, shingleLen, seed) yet shares ~zero
    * buckets with a batch banded by the new one, so a screen would
    * silently return no candidates. v1 = the pre-fix family
    * (retroactive; never stamped), v2 = the Z_p family. An index with
    * a different (or missing) `__fmt` fails fast with a rebuild
    * message instead. */
  private[graft] val MinhashIndexFormat = 2
  /** [[MinhashIndexFormat]]'s embedding sibling: versions the
    * hyperplane-code layout (table id in the code's high bits, Gaussian
    * planes drawn from the seeded generator). v1 = the first layout. */
  private[graft] val EmbeddingIndexFormat = 1

  /** One LSH family as the shared pair, index and screen cores see
    * it: `items` turns a frame carrying the raw (`idCol`, `source`)
    * columns into the (id, payload) rows that are bucketed — the
    * rows whose payload passes `valid` — `keyed` turns items into
    * (id, keys...) bucket rows, and `measure` (emitted as `out`, kept
    * when ≥ threshold) is the exact verification. `params` are the
    * build params (format version first — the clearest failure)
    * stamped into, and validated against, the persisted index.
    * Verification sides are the raw (`idCol`, `source`) columns: they
    * pass through the id joins, and `payloadOf(source)` is derived
    * above them, so only candidate rows are shingled or hashed for
    * verification. */
  private[graft] final case class Lsh(keys: Seq[String], out: String,
                                      measure: (Column, Column) => Column,
                                      params: Seq[(String, Any)],
                                      items: DataFrame => DataFrame,
                                      idCol: String, source: String,
                                      payloadOf: Column => Column,
                                      valid: Column => Column,
                                      keyed: DataFrame => DataFrame)

  /** MinHash over word shingles, verified by Jaccard; only non-empty
    * shingle sets are banded ([[shingledFor]]). */
  private[graft] def minhashLsh(idCol: String, textCol: String,
                                numHashes: Int, bands: Int, shingleLen: Int,
                                seed: Long): Lsh =
    Lsh(Seq("band", "bucket"), "jaccard", jaccard,
      Seq("__fmt" -> MinhashIndexFormat, "__numHashes" -> numHashes,
        "__bands" -> bands, "__shingleLen" -> shingleLen, "__seed" -> seed),
      items = shingledFor(_, idCol, textCol, shingleLen),
      idCol = idCol, source = textCol,
      payloadOf = wordShingles(_, shingleLen), valid = size(_) > 0,
      keyed = bandedFor(_, numHashes, bands, seed))

  /** hyperplane LSH over an embedding column, verified by cosine.
    * (table, code) is one long (table id in the high bits), so the
    * bucket key shuffles 8 bytes per (doc, table). */
  private[graft] def embeddingLsh(idCol: String, vecCol: String, dim: Int,
                                  nTables: Int, bitsPerTable: Int,
                                  seed: Long): Lsh =
    Lsh(Seq("code"), "cosine", VectorFunctions.cosine,
      Seq("__fmt" -> EmbeddingIndexFormat, "__nTables" -> nTables,
        "__bitsPerTable" -> bitsPerTable, "__dim" -> dim, "__seed" -> seed),
      items = _.select(col(idCol).as("id"), col(vecCol).as("v")),
      idCol = idCol, source = vecCol, payloadOf = identity,
      valid = _ => lit(true),
      keyed = _.select(col("id"), explode(VectorFunctions.hyperplaneCodes(
        col("v"), nTables, bitsPerTable, dim, seed)).as("code")))

  /** the family's items with the parallelism guard applied to the raw
    * (`idCol`, `source`) projection, so the shingling or hashing runs
    * at session parallelism (see [[shingledSpread]]) */
  private def spreadItems(f: Lsh, d: DataFrame): DataFrame =
    f.items(Partitioning.spread(d.select(col(f.idCol), col(f.source))))

  /** the raw (`idCol`, `source`) rows of `df`, spread and evaluated
    * ONCE into a local checkpoint: the input of [[lshPairs]] and of
    * the screen faces' [[lshScreen]] */
  private def materialized(f: Lsh, df: DataFrame): DataFrame =
    Partitioning.spread(df.select(col(f.idCol), col(f.source)))
      .localCheckpoint()

  /** the persisted stamp: `params` plus the skew cap */
  private[graft] def withCap(params: Seq[(String, Any)],
                             maxBucketSize: Int): Seq[(String, Any)] =
    params :+ ("__maxBucketSize" -> maxBucketSize)

  /** Stamp the param columns into every index row: constant per index,
    * so parquet RLE stores them for free, and they make the "batch
    * MUST use the same params" contract enforceable after a round-trip
    * through storage ([[validateIndexParams]]). */
  private def stamp(index: DataFrame, params: Seq[(String, Any)]): DataFrame =
    params.foldLeft(index) { case (d, (k, v)) => d.withColumn(k, lit(v)) }

  /** bucket rows → the index's (ids, n) shape: `n` is the TRUE member
    * count; buckets over the skew cap keep their row but empty their
    * id list (`slice(ids, 1, 0)` = [] of the right element type).
    * Retaining dead buckets (instead of filtering them out) is what
    * makes [[minhashIndexUpdate]] exactly equivalent to a rebuild: an
    * update can tell "bucket was oversized" apart from "bucket was
    * empty", so a capped bucket stays dead no matter how the counts
    * accumulate. Screening explodes `ids`, so dead buckets contribute
    * zero candidates at zero cost. */
  private def capBuckets(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets.select(
      buckets.columns.filterNot(Set("ids")).map(col) :+
        when(size(col("ids")) <= maxBucketSize, col("ids"))
          .otherwise(slice(col("ids"), 1, 0)).as("ids") :+
        size(col("ids")).cast("long").as("n"): _*)

  /** the unstamped corpus index. The corpus often arrives as a small
    * single-file scan (1-3 partitions); [[spreadItems]] keeps the
    * banding/hashing from serializing on a handful of tasks, and the
    * groupBy shuffles anyway. */
  private def rawIndex(f: Lsh, corpus: DataFrame,
                       maxBucketSize: Int): DataFrame =
    capBuckets(collectBuckets(f.keyed(spreadItems(f, corpus)), f.keys),
      maxBucketSize)

  private def lshIndex(f: Lsh, corpus: DataFrame,
                       maxBucketSize: Int): DataFrame =
    stamp(rawIndex(f, corpus, maxBucketSize), withCap(f.params, maxBucketSize))

  /** a batch's bucket rows in the index's shape, one per (doc, key):
    * (keys, [id], 1) — the add side of a fold, aggregated only by the
    * fold's one [[mergeIndex]] */
  private def batchRows(f: Lsh, batch: DataFrame): DataFrame =
    f.keyed(f.items(batch))
      .select(f.keys.map(col) :+ array(col("id")).as("ids") :+
        lit(1L).as("n"): _*)

  /** candidate pairs within `in`, verified by the family's measure.
    * `in` is already materialized ([[materialized]], or the dedup
    * tail's checkpoint) with the raw (`idCol`, `source`) columns: it
    * is banded as it stands — no second spread, no cache — and each
    * candidate's two raw rows join back from it by id, with the
    * payloads derived above those joins, for candidate rows only.
    * `valid` on both payloads keeps exactly the row combinations the
    * banded items hold: a duplicate id's row with an empty shingle
    * set verifies against nothing, as when the items were joined. */
  private def lshPairs(f: Lsh, in: DataFrame, maxBucketSize: Int,
                       threshold: Double): DataFrame = {
    def side(s: String) =
      in.select(col(f.idCol).as(s"id_$s"), col(f.source).as(s"src_$s"))
    val joined = bucketPairs(f.keyed(f.items(in)), f.keys, maxBucketSize)
      .join(side("a"), Seq("id_a"))
      .join(side("b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        f.payloadOf(col("src_a")).as("p_a"), f.payloadOf(col("src_b")).as("p_b"))
    val (pa, pb) = (col("p_a"), col("p_b"))
    materializeAndRelease(measured(joined, Seq("id_a", "id_b"),
      when(f.valid(pa) && f.valid(pb), f.measure(pa, pb)), f.out)(
      _ >= threshold))
  }

  /** (new, corpus) pairs, lazily, over `in`: the batch's raw
    * (`idCol`, `source`) rows, already materialized ([[materialized]],
    * or the admission cycle's checkpoint) and banded as they stand —
    * no cache, no second spread. The bucket rows (batch-sized, so
    * broadcast unless `broadcastNew = false`) join the corpus index;
    * each candidate's raw batch and corpus rows join back by id and
    * both payloads are derived above those joins. `valid` on the batch
    * payload keeps the rows the banded items hold; index ids only come
    * from valid payloads ([[rawIndex]], the folds band filtered items).
    *
    * `mergeCap` set: `corpusIndex` is an admission state's base ∪
    * delta rows ([[lshDelta]]), not a merged index. Only the buckets
    * the batch touches are kept (a semi join on the broadcast batch
    * keys), and that batch-sized slice is merged by [[mergeIndex]]
    * under the cap before the ids explode: `n` sums before the cap
    * applies, so a dead bucket stays dead and the candidates equal a
    * screen over the compacted index. */
  private[graft] def lshScreen(f: Lsh, in: DataFrame, corpus: DataFrame,
                               corpusIndex: DataFrame, threshold: Double,
                               broadcastNew: Boolean,
                               mergeCap: Option[Int] = None): DataFrame = {
    val newKeys = f.keyed(f.items(in))
      .select(col("id").as("id_new") +: f.keys.map(col): _*)
    def bk(d: DataFrame) = if (broadcastNew) broadcast(d) else d
    val buckets = mergeCap.fold(corpusIndex)(cap => mergeIndex(
      corpusIndex.join(bk(newKeys.select(f.keys.map(col): _*)), f.keys,
        "left_semi"), f.keys, cap))
    val joined = buckets.join(bk(newKeys), f.keys)
      .select(col("id_new"), explode(col("ids")).as("id_corpus"))
      .distinct()
      .join(in.select(col(f.idCol).as("id_new"), col(f.source).as("src_new")),
        Seq("id_new"))
      .join(corpus.select(col(f.idCol).as("id_corpus"),
        col(f.source).as("src_cor")), Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        f.payloadOf(col("src_new")).as("p_new"),
        f.payloadOf(col("src_cor")).as("p_cor"))
    measured(joined, Seq("id_new", "id_corpus"), when(f.valid(col("p_new")),
      f.measure(col("p_new"), col("p_cor"))), f.out)(_ >= threshold)
  }

  /** [[lshScreen]] against a PREBUILT index, its stamp validated
    * first; the batch is evaluated once, the pairs settled */
  private def lshScreenIndex(f: Lsh, what: String, newDf: DataFrame,
                             corpus: DataFrame, corpusIndex: DataFrame,
                             threshold: Double, broadcastNew: Boolean,
                             acceptUnvalidated: Boolean): DataFrame = {
    val index = validateIndexParams(corpusIndex, what, f.params,
      acceptUnvalidated)
    materializeAndRelease(lshScreen(f, materialized(f, newDf), corpus, index,
      threshold, broadcastNew))
  }

  /** full-swap fold of a batch into a persisted index. The update ALSO
    * asks the skew cap: [[mergeIndex]] re-applies the caller's cap to
    * every merged bucket, so updating with a cap different from the
    * build's silently diverges from a rebuild (a larger cap cannot
    * revive already-dead buckets; a smaller one re-kills live ones) —
    * the "exactly equivalent to rebuild" contract only holds
    * cap-for-cap, so a mismatch throws. */
  private def lshIndexUpdate(f: Lsh, what: String, index: DataFrame,
                             newBatch: DataFrame, maxBucketSize: Int,
                             acceptUnvalidated: Boolean): DataFrame = {
    val stampCols = withCap(f.params, maxBucketSize)
    val old = validateIndexParams(index, what, stampCols, acceptUnvalidated)
    requireCounts(old, what)
    stamp(mergeIndex(old.select(f.keys.map(col) :+ col("ids") :+ col("n"): _*)
        .unionByName(batchRows(f, newBatch)), f.keys, maxBucketSize),
      stampCols)
  }

  private def requireCounts(index: DataFrame, what: String): Unit =
    require(index.columns.contains("n"),
      s"$what requires a graft-built index carrying the true bucket " +
        "count column `n` (hand-built indexes cannot distinguish a " +
        "dead oversized bucket from an absent one)")

  /** Build the corpus's persistable LSH index for incremental
    * screening: (band, bucket, ids, n) with the `maxBucketSize` skew
    * cap already applied (singleton buckets KEPT — any bucket can
    * match a future batch doc; oversized buckets keep their row with
    * the true count `n` and an emptied id list, so
    * [[minhashIndexUpdate]] can accumulate counts exactly). Write
    * this to parquet once and feed it to [[minhashPairsAgainstIndex]]
    * at every ingestion cycle — banding a 100 TB corpus is paid once,
    * not per batch — then fold each admitted batch in with
    * [[minhashIndexUpdate]]. The build params (numHashes/bands/
    * shingleLen/seed) are embedded as constant columns and VALIDATED
    * on use, so a batch screened with different params fails fast
    * instead of silently losing recall. */
  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleLen: Int = 3, seed: Long = 42L,
                   maxBucketSize: Int = 1000): DataFrame =
    lshIndex(minhashLsh(idCol, textCol, numHashes, bands, shingleLen, seed),
      corpus, maxBucketSize)

  /** Validate an index's embedded `__`-prefixed param columns and
    * strip them. Enforced, in order:
    *  - an index with NO param columns is rejected unless the caller
    *    explicitly opts in (`acceptUnvalidated`) — a param-less index
    *    is indistinguishable from one persisted by a pre-versioning
    *    library whose hash family this one no longer matches, and the
    *    failure mode is a silent ~zero-candidate screen;
    *  - EVERY distinct param tuple in the index is checked (one
    *    column-pruned scan of constant RLE columns + a partial-agg
    *    distinct — cheap at any scale), so an index accidentally
    *    assembled by unioning differently-parameterized builds fails
    *    instead of screening with mixed-recall buckets;
    *  - each param in `asked` must be present and equal; params the
    *    call does not ask about (the skew cap at screen time, or
    *    params added by a future format) only need to be constant.
    * An EMPTY index (zero rows) passes vacuously: there is nothing to
    * validate and every screen over it returns zero candidates.
    * Every call runs the distinct scan; an admission state validates
    * once, at adoption, and reads its manifest's stamp after that. */
  private[operators] def validateIndexParams(index: DataFrame, what: String,
                                  asked: Seq[(String, Any)],
                                  acceptUnvalidated: Boolean): DataFrame = {
    val paramCols = index.columns.filter(_.startsWith("__")).toSeq
    if (paramCols.isEmpty && acceptUnvalidated) index
    else {
      validatedStamp(index, what, asked)
      index.drop(paramCols: _*)
    }
  }

  /** [[validateIndexParams]]'s check alone: the index's one stamp (by
    * column; None for a zero-row index), validated against `asked`.
    * An index holding admission delta rows ([[lshDelta]]) fails here:
    * only its admission state merges them exactly. */
  private[graft] def validatedStamp(index: DataFrame, what: String,
                                    asked: Seq[(String, Any)])
  : Option[Map[String, Any]] = {
    val paramCols = index.columns.filter(_.startsWith("__")).toSeq
    require(paramCols.nonEmpty,
      s"$what: index carries no embedded __param columns, so its " +
        "hash family and build params cannot be validated — if it " +
        "was persisted by an older graft version, a screen against " +
        "it would silently return ~zero candidates. Rebuild it with " +
        "the current library, or pass acceptUnvalidated = true to " +
        "run a hand-built index on your own contract.")
    // no .limit(3) guard here: a limit over a shuffle runs the
    // incremental try-1-then-2-then-4-partitions probe — FOUR jobs
    // per validation at gate scale. The distinct of constant-per-build
    // columns is bounded by the number of builds ever unioned into
    // the file set (1 for any graft-written index), so a plain collect
    // is one job and bytes.
    val tuples = index.select(paramCols.map(col): _*).distinct().collect()
    val capAt = paramCols.indexOf("__maxBucketSize")
    require(capAt < 0 || !tuples.exists(_.get(capAt) == DeltaCap),
      s"$what: index holds admission delta rows (uncapped batch " +
        s"buckets, __maxBucketSize = $DeltaCap) that only their " +
        "admission state merges exactly — screen through the " +
        "admission cycle, or rebuild the index.")
    require(tuples.length <= 1,
      s"$what: index carries ${tuples.length}+ distinct build-param " +
        s"tuples ${tuples.map(_.toString).mkString(", ")} over " +
        s"(${paramCols.mkString(", ")}) — it was assembled from " +
        "differently-parameterized builds (a union of indexes?) and " +
        "would screen with mixed-recall buckets. Rebuild from one " +
        "parameter set.")
    val built = tuples.headOption.map(r =>
      paramCols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
    built.foreach(requireAsked(_, what, asked))
    built
  }

  /** each param in `asked` must be present in the validated stamp
    * `built` and equal to it */
  private[graft] def requireAsked(built: Map[String, Any], what: String,
                                  asked: Seq[(String, Any)]): Unit =
    asked.foreach { case (k, v) =>
      require(built.contains(k),
        s"$what: index lacks the $k param column — it was " +
          "persisted by an older graft version whose index format " +
          "this library no longer reads compatibly. Rebuild the " +
          "index (or pass acceptUnvalidated = true after dropping " +
          "the __param columns, on your own contract).")
      require(built(k) == v,
        s"$what: index was built with $k = ${built(k)} but the " +
          s"batch is being screened with $k = $v — candidate " +
          "recall would silently collapse. Rebuild the index or " +
          "match the batch params.")
    }

  /** [[minhashPairsAgainst]] with a PREBUILT corpus index (from
    * [[minhashIndex]], typically read back from parquet): per-batch
    * cost is the batch's own banding, one broadcast join into the
    * index, and jaccard verification against only candidate-matched
    * corpus rows — the corpus is scanned once (verification) and
    * never re-banded. The index's embedded `__fmt` format version and
    * build params are validated against this library and this call's
    * params, and a mismatch (or an index carrying no param columns at
    * all) throws rather than silently reducing recall; pass
    * `acceptUnvalidated = true` to run a hand-built
    * (band, bucket, ids) index on your own contract. */
  def minhashPairsAgainstIndex(newDf: DataFrame, corpus: DataFrame,
                               corpusIndex: DataFrame,
                               idCol: String, textCol: String,
                               numHashes: Int = 64, bands: Int = 16,
                               shingleLen: Int = 3,
                               threshold: Double = 0.8,
                               seed: Long = 42L,
                               broadcastNew: Boolean = true,
                               acceptUnvalidated: Boolean = false): DataFrame =
    lshScreenIndex(
      minhashLsh(idCol, textCol, numHashes, bands, shingleLen, seed),
      "minhashPairsAgainstIndex", newDf, corpus, corpusIndex, threshold,
      broadcastNew, acceptUnvalidated)

  /** Incrementally admit a screened batch into a persisted
    * [[minhashIndex]] WITHOUT re-banding the corpus — the index-
    * maintenance step that closes the ingestion loop (screen the
    * batch with [[minhashPairsAgainstIndex]], keep the survivors,
    * then fold exactly those rows into the index for the next cycle).
    * EXACTLY equivalent to rebuilding over (corpus ∪ batch): the
    * index keeps every bucket's true member count `n` (dead oversized
    * buckets keep their row with an emptied id list), so merged
    * counts accumulate correctly and a bucket crossing
    * `maxBucketSize` dies precisely when a rebuild would kill it —
    * spec-pinned bucket-for-bucket, including adversarial caps.
    *
    * Cost: band the BATCH, then one shuffle of (old index ∪ batch
    * buckets) keyed on (band, bucket) — the index is orders of
    * magnitude smaller than the corpus (ids only, text never read).
    * The returned frame is the whole merged index; at ingestion
    * cadence the admission cycle writes a batch-sized delta instead
    * ([[graft.streaming.Admission]]). Batch ids must be disjoint from
    * corpus ids (the same id-namespace contract as the screens). */
  def minhashIndexUpdate(index: DataFrame, newBatch: DataFrame,
                         idCol: String, textCol: String,
                         numHashes: Int = 64, bands: Int = 16,
                         shingleLen: Int = 3, seed: Long = 42L,
                         maxBucketSize: Int = 1000,
                         acceptUnvalidated: Boolean = false): DataFrame =
    lshIndexUpdate(
      minhashLsh(idCol, textCol, numHashes, bands, shingleLen, seed),
      "minhashIndexUpdate", index, newBatch, maxBucketSize,
      acceptUnvalidated)

  /** re-aggregate (by..., ids, n) bucket rows — the old index's capped
    * buckets unioned with the batch's [[batchRows]] — on `by` in ONE
    * aggregation: member lists concatenate, TRUE counts add, and the
    * cap re-applies on the summed count — so a bucket that a full
    * rebuild would kill dies here too, no matter which side(s) its
    * members came from. `by` is the bucket key. */
  private def mergeIndex(rows: DataFrame, by: Seq[String],
                         maxBucketSize: Int): DataFrame =
    rows.groupBy(by.map(col): _*)
      .agg(flatten(collect_list(col("ids"))).as("ids"),
        sum(col("n")).as("n"))
      .select(by.map(col) :+
        when(col("n") <= maxBucketSize, col("ids"))
          .otherwise(slice(col("ids"), 1, 0)).as("ids") :+
        col("n"): _*)

  /** the `__maxBucketSize` stamp of admission delta rows: they are
    * uncapped, so any read that validates them fails instead of
    * screening buckets the cap has killed */
  private[graft] val DeltaCap = -1

  /** an admission commit's index delta: the batch's [[batchRows]],
    * uncapped, under the index's `stamp` with the cap replaced by
    * [[DeltaCap]] */
  private[graft] def lshDelta(f: Lsh, batch: DataFrame,
                              stamp: Seq[(String, Any)]): DataFrame =
    this.stamp(batchRows(f, batch), stamp.map {
      case ("__maxBucketSize", _) => "__maxBucketSize" -> DeltaCap
      case kv => kv
    })

  /** compaction: base ∪ delta rows folded into one stamped index by
    * [[mergeIndex]] under the cap — bucket for bucket a rebuild over
    * the same documents, dead buckets included */
  private[graft] def lshCompact(rows: DataFrame, stamp: Seq[(String, Any)])
  : DataFrame = {
    val keys = bucketKeysOf(rows)
    val cap = stamp.collectFirst { case ("__maxBucketSize", c: Int) => c }.get
    this.stamp(mergeIndex(rows, keys, cap), stamp)
  }

  // ---- partitioned index persistence ----------------------------------

  /** deterministic layout partition of a bucket key: hash-uniform, so
    * the per-partition slice of the index is ~indexBytes/numParts */
  private def partOf(keys: Seq[String], numParts: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numParts.toLong)).cast("int")

  private def bucketKeysOf(index: DataFrame): Seq[String] =
    if (index.columns.contains("band")) Seq("band", "bucket")
    else Seq("code")

  /** Persist a graft-built index PARTITIONED by a hash of its bucket
    * key (`part = xxhash64(key) mod numParts`), so that a scan keyed
    * on buckets reads ~indexBytes/numParts per layout partition.
    * Works for both index families (minhash (band, bucket) and
    * embedding code keys are detected from the schema). An admission
    * state adopts this layout as it is: its deltas go to `part=-1` and
    * its compactions rewrite the layout whole, under the same
    * `numParts` ([[graft.streaming.Admission]]). Pick numParts so
    * indexBytes/numParts is one comfortable file (e.g. 128 MB).
    *
    * `numParts` is stamped as `__numParts`, which the admission state
    * reads back to keep the layout. One file per partition per write
    * (the repartition below). */
  def indexWritePartitioned(index: DataFrame, path: String,
                            numParts: Int = 256): Unit = {
    require(index.columns.contains("__fmt"),
      "indexWritePartitioned persists graft-built indexes (minhashIndex " +
        "/ embeddingIndex output, with their embedded __param columns); " +
        "build one rather than hand-assembling")
    require(numParts > 0, s"numParts must be positive, got $numParts")
    val keys = bucketKeysOf(index)
    index
      .withColumn("__numParts", lit(numParts))
      .withColumn("part", partOf(keys, numParts))
      .repartition(col("part"))
      .write.mode("overwrite").partitionBy("part").parquet(path)
  }

  /** Incremental near-dup matching: (new, corpus) pairs by MinHash
    * LSH between a NEW batch and an EXISTING corpus, verified by
    * exact Jaccard — the continuous-ingestion face of
    * [[minhashPairs]]: a daily batch is screened against the
    * historical corpus without ever generating corpus-internal
    * pairs. Returns (id_new, id_corpus, jaccard ≥ threshold); the
    * two id namespaces are the caller's contract (a row present on
    * both sides with the same id matches itself at jaccard 1).
    *
    * Shape at 100 TB: the corpus reduces to the [[minhashIndex]]
    * bucket table (SINGLETON buckets kept — a new doc can match a
    * bucket holding one corpus doc; `maxBucketSize` skew cap
    * retained); the batch's band rows are batch-sized × bands and
    * broadcast into the bucket join (`broadcastNew = false` for a
    * backfill-sized "batch": same answer via a shuffled join).
    * Shingle verification touches corpus text ONLY for candidate-
    * matched ids. This convenience form rebuilds the index per call —
    * at ingestion cadence build [[minhashIndex]] once, persist it,
    * and call [[minhashPairsAgainstIndex]]. */
  def minhashPairsAgainst(newDf: DataFrame, corpus: DataFrame,
                          idCol: String, textCol: String,
                          numHashes: Int = 64, bands: Int = 16,
                          shingleLen: Int = 3, threshold: Double = 0.8,
                          seed: Long = 42L, maxBucketSize: Int = 1000,
                          broadcastNew: Boolean = true): DataFrame = {
    // the inline index is built with these very params, so skip the
    // validation head read (it would trigger an extra banding job)
    val f = minhashLsh(idCol, textCol, numHashes, bands, shingleLen, seed)
    materializeAndRelease(lshScreen(f, materialized(f, newDf), corpus,
      rawIndex(f, corpus, maxBucketSize), threshold, broadcastNew))
  }

  /** full MinHash dedup: pairs → connected components (min-id label
    * propagation with pointer jumping) → keep one row per component.
    * Default representative is the component's min id; with `keepCol`
    * set, it is the component's argmax of that column (ties broken by
    * min id) — keep the highest-quality copy of each near-dup
    * cluster, the standard training-data policy. Iterative DataFrame
    * joins with localCheckpoint to cut lineage (GraphFrames CC
    * pattern); runs until converged — O(log(component diameter))
    * rounds. The per-component window partitions on the component
    * label: dup clusters are small by nature, so no mega-partition
    * risk.
    *
    * Materialize-once contract: the input feeds both the pair search
    * and the final anti-join, so the call runs ONE job that
    * evaluates `df` once — spread to session parallelism when it is
    * a narrow exchange-free scan ([[Partitioning.spread]]) — into a
    * local checkpoint (memory and disk). The pair search bands that
    * checkpoint as it stands (no second spread, no cache), and
    * verifies each candidate pair over the checkpoint's raw
    * (`idCol`, `textCol`) rows joined back by id, shingling only
    * those; the result reads the checkpoint, never the upstream. The
    * call is therefore eager (the pair search and the component
    * labeling run their own jobs after it); the checkpoint blocks are
    * released when the result is dropped (the ContextCleaner drops
    * them once it is garbage-collected). */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleLen: Int = 3, threshold: Double = 0.8,
                   maxIter: Int = 50, keepCol: String = ""): DataFrame =
    keepOnePerComponent(df, idCol, maxIter, keepCol)(in =>
      // minhashPairs' default skew cap, over the checkpoint itself
      lshPairs(minhashLsh(idCol, textCol, numHashes, bands, shingleLen,
        42L), in, maxBucketSize = 1000, threshold))

  /** [[minhashDedup]]'s contract over ANY 64-bit fingerprint column
    * (text simhash, image aHash/dHash): near-dup groups = connected
    * components of [[signaturePairs]], keep the min id per component
    * (or the best `keepCol` row, ties to lower id) — so transitive
    * chains (a~b, b~c without a~c) collapse to ONE survivor, the
    * same closure the pairwise min-id rule cannot give. Same
    * materialize-once contract as [[minhashDedup]]: the spread
    * checkpoint feeds [[signaturePairs]] and the anti-join. */
  def signatureDedup(df: DataFrame, idCol: String, sigCol: String,
                     maxDistance: Int = 3, maxBucketSize: Int = 1000,
                     maxIter: Int = 50, keepCol: String = ""): DataFrame =
    keepOnePerComponent(df, idCol, maxIter, keepCol)(in =>
      signaturePairs(in, idCol, sigCol, maxDistance, maxBucketSize))

  /** the tail [[minhashDedup]] and [[signatureDedup]] share: the input
    * spread and materialized once (see the materialize-once
    * contract), its near-dup pairs → [[connectedComponentMinLabel]]
    * → every component member but the kept one (min id, or the best
    * `keepCol` row, ties to the lower id) left-anti-joined away */
  private def keepOnePerComponent(df: DataFrame, idCol: String,
                                  maxIter: Int, keepCol: String)(
      pairsOf: DataFrame => DataFrame): DataFrame = {
    val in = Partitioning.spread(df).localCheckpoint()
    val reps = connectedComponentMinLabel(
      pairsOf(in).select(col("id_a"), col("id_b")), maxIter)
    val toDrop =
      if (keepCol.isEmpty) reps.filter(col("id") =!= col("rep")).select(col("id"))
      else {
        val scored = reps.join(
          in.select(col(idCol).as("id"), col(keepCol).as("__s")), Seq("id"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("rep"))
          .orderBy(col("__s").desc, col("id").asc)
        scored.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > 1).select(col("id"))
      }
    in.join(toDrop.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
  }

  /** Near-dup cluster audit: component representative → member count
    * over an undirected pair list — the standard dedup report (how
    * big are the duplicate clusters this corpus carries?). Only nodes
    * appearing in `pairs` are counted (singletons have no edges); one
    * aggregation over [[connectedComponentMinLabel]]'s labeling. */
  def clusterSizes(pairs: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentMinLabel(pairs, maxIter)
      .groupBy(col("rep")).agg(count(lit(1)).as("size"))

  /** INCREMENTAL connected components — fold a batch of new pairs
    * into an existing (id, rep) labeling without re-clustering the
    * corpus: the admission-loop face of the CC machinery (each cycle
    * contributes a few near-dup pairs; rebuilding the whole component
    * graph per cycle is the one corpus-proportional CC cost this
    * removes).
    *
    * Quotient argument for update ≡ rebuild EXACTLY: every existing
    * rep is the MINIMUM id of its component, so contracting each
    * component to its rep and running min-label CC over the QUOTIENT
    * graph — new pairs with endpoints mapped through their labels
    * (unlabeled endpoints map to themselves) — yields, per merged
    * component, min over {old reps, new node ids} = the global min
    * id of the merged component: exactly the label a full rebuild
    * over (old edges ∪ new pairs) assigns. Oracle-proven (q191 runs
    * the REBUILD oracle against the update's output), not just
    * spec-pinned.
    *
    * Cost: the quotient CC sees ONLY the new pairs (the adaptive
    * driver/distributed machinery applies — batch-sized, so usually
    * the one-collect driver path); the labels table pays one remap
    * join against the touched-components-bounded relabel table (AQE
    * broadcasts it) — never a re-cluster. Within-component new pairs
    * contract to dropped self-edges and cost nothing. */
  def connectedComponentMinLabelUpdate(labels: DataFrame,
                                       newPairs: DataFrame,
                                       maxIter: Int = 50): DataFrame = {
    require(labels.columns.toSet == Set("id", "rep"),
      s"labels must be a (id, rep) frame from " +
        s"connectedComponentMinLabel, got (${labels.columns.mkString(", ")})")
    val lab = labels.localCheckpoint()
    def mapped(side: String) = lab
      .select(col("id").as(side), col("rep").as(s"__r$side"))
    val q = newPairs
      .join(mapped("id_a"), Seq("id_a"), "left")
      .join(mapped("id_b"), Seq("id_b"), "left")
      .select(coalesce(col("__rid_a"), col("id_a")).as("id_a"),
        coalesce(col("__rid_b"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    val remap = connectedComponentMinLabel(q, maxIter)
      .select(col("id").as("__old"), col("rep").as("__new"))
    val updated = lab
      .join(remap, lab("rep") === col("__old"), "left")
      .select(lab("id"),
        coalesce(col("__new"), lab("rep")).as("rep"))
    // endpoints of the batch that were not yet labeled become new
    // rows: their quotient result if they merged with anything, else
    // themselves (a self-pair-only or fully-contracted new node)
    val newNodes = newPairs.select(col("id_a").as("id"))
      .union(newPairs.select(col("id_b").as("id")))
      .distinct()
      .join(lab.select(col("id")), Seq("id"), "left_anti")
    val newLabeled = newNodes
      .join(remap, newNodes("id") === col("__old"), "left")
      .select(newNodes("id"),
        coalesce(col("__new"), newNodes("id")).as("rep"))
    updated.union(newLabeled)
  }

  /** min-label propagation over an undirected edge list (id_a, id_b):
    * returns (id, rep) where rep = min id in the component.
    *
    * Adaptive execution, same spirit as Spark's broadcast-join
    * cutover: when the (deduplicated) edge list is below
    * `driverThreshold` edges AND the id type is integral (the
    * union-find keys on longs — string ids would NPE and fractional
    * ids would silently merge distinct vertices), it is provably
    * driver-resolvable — a single collect + union-find replaces the
    * iterative join jobs whose per-job overhead dominates on small
    * component graphs. The driver result is cast back to the input id
    * type so both paths produce the same schema. Otherwise the
    * distributed loop runs: neighbor-min propagation PLUS a pointer-
    * jumping shortcut (rep := min(rep, rep(rep)) each round), which
    * halves label-tree depth per round — O(log diameter) rounds, with
    * localCheckpoint lineage cuts. The loop runs UNTIL CONVERGED;
    * `maxIter` is only a runaway bound and exceeding it THROWS rather
    * than silently returning half-merged components. Near-dup
    * component graphs are SMALL relative to the corpus (only docs
    * with a near-dup partner appear), so the driver path is the
    * common case even at 100 TB corpus scale; the threshold bounds
    * driver memory to ~16 MB of longs either way.
    *
    * Round-10 driver-path rework (ProfileCC evidence): the decision +
    * collect is now ONE Spark job — `limit(threshold+1).collect()` on
    * the RAW pair list either hands back the complete edge set
    * (length <= threshold) or proves the graph is over-threshold.
    * Union-find is insensitive to duplicate pairs and orientation, so
    * the doubling union (2x lineage evaluation), the distinct shuffle,
    * the localCheckpoint materialization and the separate count job —
    * previously 5 jobs to label a 25k-edge graph, ~3 s of q62's wall
    * time — exist only on the distributed path that needs them.
    * `driverThreshold` now bounds RAW pairs collected (the actual
    * driver-memory contract, 16 B/pair) rather than distinct doubled
    * edges; a pair list over threshold but with few distinct edges
    * routes distributed — a safe, conservative shift. */
  def connectedComponentMinLabel(pairs: DataFrame,
                                 maxIter: Int = 50,
                                 driverThreshold: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("id_a").dataType
    val integralIds = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    val driverPairs: Option[Array[(Long, Long)]] =
      if (!integralIds || driverThreshold <= 0L) None
      else {
        val cap = math.min(driverThreshold, (Int.MaxValue - 2).toLong).toInt
        val probe = pairs
          .select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(cap + 1).collect()
        if (probe.length <= cap)
          Some(probe.map(r => (r.getLong(0), r.getLong(1))))
        else None
      }
    if (driverPairs.isDefined) {
      // driver union-find with path compression (ids widened to long,
      // exact for integral types; result cast back to the input type)
      import scala.collection.mutable
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val next = parent.getOrElse(c, c); parent(c) = r; c = next
        }
        r
      }
      val es = driverPairs.get
      es.foreach { case (x, y) =>
        val (a, b) = (find(x), find(y))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      import spark.implicits._
      es.iterator.flatMap(e => Iterator(e._1, e._2)).toSet.toSeq
        .map((id: Long) => (id, find(id)))
        .toDF("id", "rep")
        .select(col("id").cast(idType).as("id"),
          col("rep").cast(idType).as("rep"))
    } else {
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct().localCheckpoint()
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("rep", col("id"))
      var converged = false
      var i = 0
      while (!converged) {
        if (i >= maxIter)
          throw new IllegalStateException(
            s"connectedComponentMinLabel did not converge in $maxIter " +
              "rounds — with pointer jumping that needs component " +
              s"diameter > 2^$maxIter; raise maxIter")
        val nbrMin = edges.join(labels,
            edges("dst") === labels("id"))
          .groupBy(edges("src").as("id"))
          .agg(min(col("rep")).as("nbr_rep"))
        // carry the previous rep through the update so convergence is
        // one filter on the checkpointed result, not a second join
        val stepped = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("rep").as("old"),
            least(col("rep"), coalesce(col("nbr_rep"), col("rep"))).as("rep"))
          .localCheckpoint()
        // pointer jumping: follow rep one hop through the new mapping
        // (reps are themselves vertex ids, so the lookup always
        // resolves); label-tree depth halves each round → O(log d)
        val hop = stepped.select(col("id").as("mid"), col("rep").as("mrep"))
        val updated = stepped.join(hop, col("rep") === col("mid"), "left")
          .select(col("id"), col("old"),
            least(col("rep"), coalesce(col("mrep"), col("rep"))).as("rep"))
          .localCheckpoint()
        val changed = updated.filter(col("rep") =!= col("old"))
          .limit(1).count()
        labels = updated.select(col("id"), col("rep"))
        converged = changed == 0
        i += 1
      }
      labels
    }
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDistance.
    * Pigeonhole: split 64 bits into maxDistance+1 chunks; any pair
    * within distance k must agree on >= 1 chunk.
    *
    * `maxBucketSize`: (chunk, key) buckets larger than this are
    * skipped during candidate generation — the same skew guard as
    * minhashPairs/embeddingPairs. A hot 16-bit chunk value (simhash
    * bits correlate across a boilerplate-heavy corpus) would
    * otherwise contribute m² mostly-false candidates; a true pair at
    * distance ≤ k agrees on every chunk its ≤ k differing bits miss
    * (at least one, usually several), so it still surfaces from the
    * selective chunks — same recall trade as the LSH band guard. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDistance: Int = 3,
                   maxBucketSize: Int = 1000): DataFrame =
    simhashPairsOn(df.select(col(idCol).as("id"),
      simhash(col(textCol)).as("sim")), maxDistance, maxBucketSize)

  /** [[simhashPairs]] over the PORTABLE md5-derived 60-bit simhash
    * ([[graft.functions.TextFunctions.simhashPortable]]): identical
    * bucketing + exact-verify machinery, but every arithmetic step is
    * SQL-replayable — with an uncapped bucket size the result EQUALS
    * the exhaustive all-pairs truth (pigeonhole recall 1), which is
    * what q142 pins against a full DuckDB oracle. The 60-bit value in
    * 64/(k+1)-bit chunks stays a valid pigeonhole (the top bits are
    * constant-zero on both sides of any pair). */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxDistance: Int = 3,
                           maxBucketSize: Int = 1000): DataFrame =
    simhashPairsOn(df.select(col(idCol).as("id"),
      graft.functions.TextFunctions.simhashPortable(col(textCol)).as("sim")),
      maxDistance, maxBucketSize)

  /** [[simhashPairs]]' band-bucket machinery over ANY precomputed
    * 64-bit signature column — the retriever-agnostic face: text
    * simhash, [[graft.multimodal.Multimodal.imageHashes]] perceptual
    * hashes, or an external fingerprint all ride the same pigeonhole
    * (maxDistance+1 chunks: a pair within the distance must agree on
    * at least one chunk), bucket-collect, and exact hamming verify.
    * Emits (id_a, id_b, hamming). Same recall contract as
    * [[simhashPairs]]: complete up to `maxBucketSize` refusals. */
  def signaturePairs(df: DataFrame, idCol: String, sigCol: String,
                     maxDistance: Int = 3,
                     maxBucketSize: Int = 1000): DataFrame =
    simhashPairsOn(df.select(col(idCol).as("id"),
      col(sigCol).cast("long").as("sim")), maxDistance, maxBucketSize)

  /** Signature-index format version (the minhash/gram/embedding
    * index discipline): v1 = (chunk, key, id, sig) rows. */
  private[graft] val SignatureIndexFormat = 1

  /** the stamp a signature index built with `maxDistance` carries */
  private[graft] def signatureAsked(maxDistance: Int): Seq[(String, Any)] =
    Seq("__fmt" -> SignatureIndexFormat, "__max_distance" -> maxDistance)

  /** Build the persistable signature-screen index — the SIXTH
    * incremental screen space (exact / jaccard / cosine / substring /
    * semantic / signature): every (id, 64-bit signature) row exploded
    * into its maxDistance+1 pigeonhole chunk buckets, signature
    * carried alongside. Uniquely in the family, the index is
    * SELF-CONTAINED: the exact hamming verify needs only the stored
    * signatures, so screening never re-reads (or re-decodes — the
    * image case this exists for) the corpus. Build params are
    * stamped and validated on every use. */
  def signatureIndex(corpus: DataFrame, idCol: String, sigCol: String,
                     maxDistance: Int = 3): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 16,
      s"maxDistance must be in [0,16], got $maxDistance")
    val chunks = maxDistance + 1
    // the index is a SET: duplicate (id, sig) corpus rows collapse at
    // build, so update (distinct union) == rebuild holds verbatim on
    // ANY input, and the hot-bucket census counts distinct members
    corpus.select(col(idCol).cast("long").as("id"),
        col(sigCol).cast("long").as("sig"))
      .distinct()
      .select(col("id"), col("sig"),
        explode(simhashChunks(col("sig"), chunks)).as("ck"))
      .select(col("ck.chunk").as("chunk"), col("ck.key").as("key"),
        col("id"), col("sig"))
      .withColumn("__fmt", lit(SignatureIndexFormat))
      .withColumn("__max_distance", lit(maxDistance))
  }

  /** Fold a new batch into an existing signature index. The index is
    * a distinct set of (chunk, key, id, sig) rows, so update ≡
    * rebuild EXACTLY and replaying the same batch is a no-op
    * (spec-pinned) — the gramIndexUpdate distinct-union discipline. */
  def signatureIndexUpdate(index: DataFrame, newDf: DataFrame,
                           idCol: String, sigCol: String,
                           maxDistance: Int = 3,
                           acceptUnvalidated: Boolean = false): DataFrame = {
    val idx = validateIndexParams(index, "signatureIndexUpdate",
      signatureAsked(maxDistance), acceptUnvalidated)
    idx.select(col("chunk"), col("key"), col("id"), col("sig"))
      .unionByName(signatureIndex(newDf, idCol, sigCol, maxDistance)
        .select(col("chunk"), col("key"), col("id"), col("sig")))
      .distinct()
      .withColumn("__fmt", lit(SignatureIndexFormat))
      .withColumn("__max_distance", lit(maxDistance))
  }

  /** Screen a batch against a PREBUILT signature index: the batch is
    * chunked and BROADCAST into the index's buckets (batch-bounded —
    * the corpus side is never re-banded, re-scanned, or re-decoded),
    * then candidates verify by exact hamming on the index-stored
    * signatures. Emits (id_batch, id_corpus, hamming ≤ maxDistance).
    *
    * `maxBucketSize` guards the candidate join against degenerate
    * buckets (e.g. the all-zero signature of blank media): a
    * column-pruned (chunk, key) census over the index refuses
    * over-populated buckets BEFORE the join — one partial-agg scan,
    * cheap relative to the blow-up it prevents; recall then degrades
    * only for pairs whose EVERY agreeing chunk is hot (the
    * minhashPairs contract). The census-refusal keeps update ≡
    * rebuild exact (nothing is dropped from the index itself). */
  def signaturePairsAgainstIndex(newDf: DataFrame, index: DataFrame,
                                 idCol: String, sigCol: String,
                                 maxDistance: Int = 3,
                                 maxBucketSize: Int = 1000,
                                 acceptUnvalidated: Boolean = false)
  : DataFrame = {
    val idx = validateIndexParams(index, "signaturePairsAgainstIndex",
      signatureAsked(maxDistance), acceptUnvalidated)
      .select(col("chunk"), col("key"), col("id"), col("sig"))
    signatureScreenCore(newDf, idx, idCol, sigCol, maxDistance,
      maxBucketSize)
  }

  /** [[signaturePairsAgainstIndex]] with the index built inline —
    * the one-shot face (no validation scan: the index never left this
    * call — the minhashPairsAgainst precedent); persist
    * [[signatureIndex]] once and use the index form at ingestion
    * cadence. */
  def signaturePairsAgainst(newDf: DataFrame, corpus: DataFrame,
                            idCol: String, sigCol: String,
                            maxDistance: Int = 3,
                            maxBucketSize: Int = 1000): DataFrame =
    signatureScreenCore(newDf,
      signatureIndex(corpus, idCol, sigCol, maxDistance)
        .select(col("chunk"), col("key"), col("id"), col("sig")),
      idCol, sigCol, maxDistance, maxBucketSize)

  /** shared screen core over a stripped (chunk, key, id, sig) index;
    * the admission cycle calls it over its state's rows, whose stamp
    * the manifest holds */
  private[graft] def signatureScreenCore(newDf: DataFrame, idx: DataFrame,
                                  idCol: String, sigCol: String,
                                  maxDistance: Int,
                                  maxBucketSize: Int): DataFrame = {
    require(maxBucketSize >= 1,
      s"maxBucketSize must be >= 1, got $maxBucketSize")
    // guard the acceptUnvalidated path too: chunks = 0 divides by
    // zero inside simhashChunks; maxDistance >= 64 makes every key 0
    // and the single bucket census-refuses to silent zero recall
    require(maxDistance >= 0 && maxDistance <= 16,
      s"maxDistance must be in [0,16], got $maxDistance")
    val chunks = maxDistance + 1
    val batch = newDf.select(col(idCol).cast("long").as("id_b"),
      col(sigCol).cast("long").as("sig_b"))
    val bChunks = batch.select(col("id_b"), col("sig_b"),
        explode(simhashChunks(col("sig_b"), chunks)).as("ck"))
      .select(col("ck.chunk").as("chunk"), col("ck.key").as("key"),
        col("id_b"), col("sig_b"))
    val hot = idx.groupBy(col("chunk"), col("key"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxBucketSize)
      .select(col("chunk"), col("key"))
    idx.join(broadcast(hot), Seq("chunk", "key"), "left_anti")
      .join(broadcast(bChunks), Seq("chunk", "key"))
      .select(col("id_b"), col("id").as("id_c"),
        hammingDistance(col("sig_b"), col("sig")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .distinct()
  }

  /** shared pair machinery over a precomputed (id, sim) table. */
  private def simhashPairsOn(sh0: DataFrame, maxDistance: Int,
                             maxBucketSize: Int): DataFrame = {
    val sh = Partitioning.spread(sh0).cache()
    val chunked = sh.select(col("id"),
        explode(simhashChunks(col("sim"), maxDistance + 1)).as("ck"))
      .select(col("id"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))
    verifyPairs(bucketPairs(chunked, Seq("chunk", "key"), maxBucketSize), sh,
      "sim", "hamming", hammingDistance)(_ <= maxDistance)
  }

  /** n-gram Jaccard dedup without LSH (exact all-pairs within a
    * blocking key to bound cost; the caller provides the blocking
    * column). Quadratic per block — prefer [[jaccardPairsExact]],
    * which is exact without a caller key and near-linear on rare
    * shingles. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, shingleLen: Int = 3,
                   threshold: Double = 0.5): DataFrame = {
    // spread the RAW projection so the shingling itself runs wide
    // (see shingledSpread)
    val sh = Partitioning.spread(
        df.select(col(idCol).as("id"), col(blockCol).as("blk"),
          col(textCol).as("__t")))
      .select(col("id"), col("blk"),
        wordShingles(col("__t"), shingleLen).as("sh"))
      .filter(size(col("sh")) > 0)
    val a = sh.select(col("blk"), col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("blk"), col("id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }

  /** EXACT all-pairs n-gram Jaccard join via co-occurrence counting:
    * one token self-join on the (distinct) shingles computes
    * |A∩B| for every pair sharing at least one shingle — partial
    * (map-side) aggregation collapses counts before the shuffle — and
    * J = inter / (|A| + |B| - inter) filters ≥ t. Exact by
    * construction: a pair with J ≥ t > 0 shares a shingle, so it is
    * counted; no arrays ever cross a shuffle and no LSH approximation
    * is involved. Cost is Σ_tok C(freq_tok, 2) join rows — the
    * canonical all-pairs-similarity cost, near-linear when shingles
    * are rare — the shape that stays exact at low thresholds, where
    * prefix filtering degenerates to emitting almost every shingle.
    *
    * `maxTokenBucket`: shingles shared by more docs than this are
    * excluded from counting (boilerplate guard at corpus scale). A
    * cap would corrupt the counts, not just drop candidates — so when
    * it is set, pairs are re-verified EXACTLY on their full shingle
    * arrays and only the candidate set is (documentedly) incomplete.
    * Leave at the default for exactness. The capped path — the 100 TB
    * recipe — is gate-executed: DedupSpec "prefix-filter jaccard
    * pairs == exhaustive all-pairs truth" pins capped == uncapped ==
    * truth on the documents testdata. */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 3, threshold: Double = 0.5,
                        maxTokenBucket: Int = Int.MaxValue): DataFrame =
    coOccurrencePairs(df, idCol, textCol, shingleLen, maxTokenBucket,
      out = "jaccard", threshold = threshold,
      counted = (inter, szA, szB) => inter / (szA + szB - inter),
      verify = (shA, shB) => jaccard(shA, shB))

  /** Shared scaffold of the exact set-similarity joins
    * ([[jaccardPairsExact]], [[containmentPairs]]): distinct shingle
    * sets (cached for the capped re-verify), per-shingle (id, |set|)
    * self-join, partial-agg intersection counts — then the caller's
    * measure over (inter, sz_a, sz_b), or its exact array form when
    * `maxTokenBucket` capped the counts (lower bounds → every
    * candidate re-verifies on full shingle sets). */
  private def coOccurrencePairs(df: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, maxTokenBucket: Int,
      out: String, threshold: Double,
      counted: (Column, Column, Column) => Column,
      verify: (Column, Column) => Column): DataFrame = {
    val sh = shingledSpread(df, idCol, textCol, shingleLen).cache()
    val tok0 = sh.select(col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("tok"))
    val capped = maxTokenBucket < Int.MaxValue
    val tok =
      if (!capped) tok0
      else {
        val freq = tok0.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
        tok0.join(freq.filter(col("freq") <= maxTokenBucket), Seq("tok"))
          .select(col("id"), col("sz"), col("tok"))
      }
    val a = tok.select(col("tok"), col("id").as("id_a"), col("sz").as("sz_a"))
    val b = tok.select(col("tok"), col("id").as("id_b"), col("sz").as("sz_b"))
    val counts = a.join(b, Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
    if (!capped)
      materializeAndRelease(counts.select(col("id_a"), col("id_b"),
          counted(col("inter"), col("sz_a"), col("sz_b")).as(out))
        .filter(col(out) >= threshold), sh)
    else // capped counts are lower bounds → re-verify exactly
      verifyPairs(counts.select(col("id_a"), col("id_b")), sh, "sh", out,
        verify)(_ >= threshold)
  }

  /** Exact CONTAINMENT join (asymmetric Jaccard) — the
    * quote/inclusion detector [[jaccardPairsExact]] cannot be: a
    * short document wholly quoted inside a long one has
    * J = |A|/|B| ≈ 0 (symmetric Jaccard punishes the size gap) but
    * containment |A∩B| / min(|A|, |B|) = 1. The standard screen for
    * "is this doc substantially contained in another" — boilerplate
    * inclusion, quote farms, prompt-in-completion leaks — thresholded
    * high (t ≳ 0.8).
    *
    * Same co-occurrence-count shape (and 100 TB story) as
    * [[jaccardPairsExact]]: per-shingle (id, |set|) pairs self-joined
    * on the shingle, partial-agg counts, measure + threshold — no
    * arrays cross a shuffle, exact by construction since a pair with
    * containment ≥ t > 0 shares a shingle. `maxTokenBucket` is the
    * same boilerplate guard with the same contract: counts become
    * lower bounds, so capped pairs re-verify EXACTLY on their full
    * shingle sets and only the candidate set is (documentedly)
    * incomplete. Returns (id_a, id_b, containment) with id_a < id_b;
    * the measure is symmetric-min, so the orientation of the
    * inclusion is size order, not column order. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, threshold: Double = 0.8,
                       maxTokenBucket: Int = Int.MaxValue): DataFrame =
    coOccurrencePairs(df, idCol, textCol, shingleLen, maxTokenBucket,
      out = "containment", threshold = threshold,
      counted = (inter, szA, szB) => inter / least(szA, szB),
      verify = (shA, shB) => size(array_intersect(shA, shB))
        / least(size(shA), size(shB)).cast("double"))

  /** URL-level dedup (DRIVER-EXT, SURVEY.md §2.12): one row per
    * CANONICAL URL ([[graft.functions.UrlFunctions.normalizeUrl]]) —
    * the first dedup pass of every web-derived corpus (re-crawls and
    * mirrors store the same page under trivially different URLs).
    * Keep policy and 100 TB shape are exactly [[exact]]'s: a single
    * exchange keyed on xxhash64 of the canonical string, min-id (or
    * argmax `keepCol`) winner per group. */
  def byCanonicalUrl(df: DataFrame, urlCol: String, idCol: String,
                     keepCol: String = ""): DataFrame =
    exact(df.withColumn("__url_canon",
        graft.functions.UrlFunctions.normalizeUrl(col(urlCol))),
      Seq("__url_canon"), idCol, keepCol).drop("__url_canon")

  /** Corpus-GLOBAL span dedup (DRIVER-EXT, SURVEY.md §2.12) — the
    * C4 rule at token-span granularity: any `spanTokens`-token span
    * (non-overlapping [[graft.functions.TextFunctions.chunkTokens]]
    * windows) occurring more than once in the corpus survives only at
    * its FIRST occurrence — smallest (id, position) — and later
    * occurrences are cut from their documents. Returns the input
    * schema with `textCol` REASSEMBLED from the surviving spans, in
    * the tokens() normalization (lowercased, single-space-joined —
    * the normalization the spans dedup under; DOCUMENTED DIVERGENCE
    * from byte-exact text surgery). A document losing every span
    * keeps an empty string.
    *
    * 100 TB shape: posexplode → ONE aggregation keyed on the span
    * string taking min(struct(id, pos)) — a boilerplate span shared
    * by millions of documents reduces to one aggregation row
    * (partial-aggregated map-side), where a window over the span key
    * would pile the hot span into a single partition. Survivors come
    * back via an equi-join on (span + winner key) and one
    * groupBy(id) rebuilds the text; every shuffle is keyed and
    * partial-aggregatable, nothing driver-side. */
  def dedupSpansGlobal(df: DataFrame, idCol: String, textCol: String,
                       spanTokens: Int = 32): DataFrame = {
    val spans = df.select(col(idCol).as("__id"),
      posexplode(graft.functions.TextFunctions
        .chunkTokens(col(textCol), spanTokens)).as(Seq("__pos", "__span")))
    val winners = spans.groupBy(col("__span"))
      .agg(min(struct(col("__id"), col("__pos"))).as("__w"))
      .select(col("__span"), col("__w.__id").as("__wid"),
        col("__w.__pos").as("__wpos"))
    val rebuilt = spans.join(winners, Seq("__span"))
      .filter(col("__id") === col("__wid") && col("__pos") === col("__wpos"))
      .groupBy(col("__id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__pos"), col("__span")))),
        s => s.getField("__span"))).as("__text"))
    df.drop(textCol)
      .join(rebuilt.select(col("__id").as(idCol), col("__text").as(textCol)),
        Seq(idCol), "left")
      .withColumn(textCol, coalesce(col(textCol), lit("")))
  }

  /** Benchmark decontamination (DRIVER-EXT, SURVEY.md §2.12): drop
    * corpus docs sharing at least `minOverlap` distinct word n-grams
    * with ANY doc of `evalSet` — the standard guard against training
    * on evaluation data. 100 TB shape: the eval side (a benchmark
    * suite — thousands of docs, MBs of shingles) reduces to a DISTINCT
    * shingle set and broadcasts; the corpus side explodes its (already
    * distinct per doc) shingles once, hash-joins the broadcast set,
    * and counts hits per doc — no corpus self-join and no shuffle of
    * corpus text, only of the (id, hit) pairs that actually match.
    * Set `broadcastEval = false` for an unusually large eval set; the
    * join then shuffles on the shingle key instead.
    * Returns the SURVIVING corpus rows unchanged. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, evalTextCol: String = "text",
                    shingleLen: Int = 3, minOverlap: Int = 1,
                    broadcastEval: Boolean = true): DataFrame = {
    val evalSh0 = evalSet.select(
      explode(wordShingles(col(evalTextCol), shingleLen)).as("tok"))
      .distinct()
    val evalSh = if (broadcastEval) broadcast(evalSh0) else evalSh0
    val corpusSh = corpus.select(col(idCol),
      explode(wordShingles(col(textCol), shingleLen)).as("tok"))
    val contaminated = corpusSh.join(evalSh, Seq("tok"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minOverlap)
      .select(col(idCol))
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Per-document NOVELTY score against a reference corpus: the
    * share of a doc's DISTINCT word n-grams absent from the
    * reference's distinct n-gram set — the continuous companion to
    * [[decontaminate]]'s binary verdict (novelty ≈ 0 means the doc
    * is re-hashed reference material; the score feeds quality
    * weighting and dedup-threshold tuning rather than a hard drop).
    * Returns (idCol, n_shingles, n_novel, novelty rounded 4); docs
    * too short for one shingle emit zero shingles and null novelty.
    *
    * Shape at 100 TB: the batch's per-doc distinct shingles LEFT
    * SEMI/ANTI-join the reference's distinct shingle set on the
    * shingle key — both sides shuffle REDUCED shingle rows, never
    * text; the reference set is computed once per call (persist it
    * via the gram-index machinery for repeated batches — the
    * SubstringDedup.gramIndex discipline applies verbatim). */
  def noveltyScore(batch: DataFrame, idCol: String, textCol: String,
                   reference: DataFrame, refTextCol: String = "text",
                   shingleLen: Int = 3): DataFrame = {
    val refSh = reference.select(
      explode(wordShingles(col(refTextCol), shingleLen)).as("tok"))
      .distinct()
    val batchSh = batch.select(col(idCol),
        explode(wordShingles(col(textCol), shingleLen)).as("tok"))
      .distinct()
    val novel = batchSh.join(refSh, Seq("tok"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    val totals = batchSh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    batch.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(novel, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          round(coalesce(col("n_novel"), lit(0L))
            / col("n_shingles"), 4)).as("novelty"))
  }

  /** [[decontaminate]]'s scale path for an eval set too large to
    * broadcast EXACTLY: the eval shingle set is compressed into a
    * Bloom filter (~1.2 MB per million shingles at fpp 0.01 — a
    * fixed-size bit array where the exact broadcast set would be GBs)
    * and shipped as a plan-literal scan-side prefilter (the same way
    * Spark's injected runtime filters travel), so only BLOOM-POSITIVE
    * corpus shingles ever reach the shuffle. With `confirmExact`
    * (default) the survivors are confirmed against the real shingle
    * set by a shuffle join — both sides now reduced to (near-)matching
    * shingles only — and the result is IDENTICAL to [[decontaminate]]
    * (same oracle). With `confirmExact = false` the filter's verdict
    * is final: Bloom filters have no false negatives, so contaminated
    * docs are still always dropped, and the fpp-rate false positives
    * only ever over-remove (spec-pinned as a subset property) — the
    * conservative failure mode for training data.
    *
    * The eval shingle set is counted once to size the filter, cached
    * for the build (one `bloomFilter` aggregate) and, under
    * `confirmExact`, reused as the confirming join side. The digest
    * build + probe ride [[BloomDigest]] — the SAME native
    * `might_contain` path as the streaming screen
    * (EventStream.screenAgainstBloom), so the prefilter stays inside
    * whole-stage codegen (plan-pinned in DedupSpec). */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         evalTextCol: String = "text",
                         shingleLen: Int = 3, minOverlap: Int = 1,
                         fpp: Double = 0.01,
                         confirmExact: Boolean = true): DataFrame = {
    val evalSh = evalSet.select(
      explode(wordShingles(col(evalTextCol), shingleLen)).as("tok"))
      .distinct().cache()
    val corpusSh = bloomPrefilteredShingles(corpus, idCol, textCol,
      shingleLen, evalSh, fpp)
    val hits = if (confirmExact) corpusSh.join(evalSh, Seq("tok"))
               else corpusSh
    // the contaminated id set is tiny — materialize it eagerly so the
    // cached eval shingle set can be released instead of staying
    // pinned in executor memory for the session
    val contaminated = materializeAndRelease(hits
      .groupBy(col(idCol)).agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") >= minOverlap)
      .select(col(idCol)), evalSh)
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[decontaminateBloom]]'s scan-side stage, extracted so the spec
    * can pin its plan (the returned DataFrame is consumed inside an
    * eager materialization, so the probe never appears in the final
    * anti-join plan): corpus shingles filtered by the shared
    * [[BloomDigest]] native `might_contain` digest of `evalSh`. */
  private[graft] def bloomPrefilteredShingles(corpus: DataFrame,
                                              idCol: String,
                                              textCol: String,
                                              shingleLen: Int,
                                              evalSh: DataFrame,
                                              fpp: Double): DataFrame = {
    val pred = BloomDigest.mightContainPreDistinct(
      evalSh, "tok", fpp, col("tok"))
    corpus.select(col(idCol),
      explode(wordShingles(col(textCol), shingleLen)).as("tok"))
      .filter(col("tok").isNotNull && pred)
  }

  /** embedding near-dup pairs: multi-table hyperplane-LSH bucket join
    * + exact cosine verification. `nTables` independent tables of
    * `bitsPerTable` hyperplanes each — a pair collides if it shares
    * ANY table's full code, so recall at cosine c is
    * 1 - (1 - p^bits)^tables with p = 1 - acos(c)/π; positively
    * scaled duplicates (c = 1) collide in EVERY table, exactly.
    * Concretely at the defaults (8 tables x 16 bits): ~80% recall for
    * a pair at EXACTLY cosine 0.95, ~99.5% at 0.99, 1 at 1.0 —
    * candidate recall rises steeply above the threshold, so the pairs
    * the screen is FOR (true duplicates) are near-certain while
    * boundary pairs are probabilistic (randomized pin in DedupSpec).
    * Raise `nTables` (linear cost) for higher boundary recall, e.g.
    * 16 tables → ~96% at 0.95. Candidates come from the same
    * bucket-grouped expansion as minhashPairs — never an all-pairs
    * join. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int, threshold: Double = 0.95,
                     nTables: Int = 8, bitsPerTable: Int = 16,
                     seed: Long = 42L,
                     maxBucketSize: Int = 10000): DataFrame = {
    val f = embeddingLsh(idCol, vecCol, dim, nTables, bitsPerTable, seed)
    lshPairs(f, materialized(f, df), maxBucketSize, threshold)
  }

  /** Persistable hyperplane-LSH index over the corpus's embedding
    * column for incremental cosine screening: (code, ids, n) buckets
    * (table id folded into the code's high bits), singletons KEPT,
    * `maxBucketSize` skew cap applied with the same true-count/dead-
    * bucket discipline as [[minhashIndex]] — the embedding-space
    * sibling. Write once, screen every ingestion batch with
    * [[embeddingPairsAgainstIndex]], fold admitted batches in with
    * [[embeddingIndexUpdate]]; hashing a 100 TB corpus's vectors is
    * paid once, not per batch. Build params embedded as constant
    * columns and validated on use. */
  def embeddingIndex(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int, nTables: Int = 8, bitsPerTable: Int = 16,
                     seed: Long = 42L,
                     maxBucketSize: Int = 10000): DataFrame =
    lshIndex(embeddingLsh(idCol, vecCol, dim, nTables, bitsPerTable, seed),
      corpus, maxBucketSize)

  /** [[embeddingPairsAgainst]] with a PREBUILT corpus index (from
    * [[embeddingIndex]], typically read back from parquet): per-batch
    * cost is the batch's own hashing, one broadcast join into the
    * index, and exact-cosine verification against only the candidate-
    * matched corpus vectors — the corpus is scanned once
    * (verification) and never re-hashed. The embedded `__fmt` format
    * version and build params are validated (all distinct tuples —
    * see [[validateIndexParams]]); a mismatch or a param-less index
    * throws rather than silently collapsing recall, with
    * `acceptUnvalidated = true` as the hand-built escape hatch. */
  def embeddingPairsAgainstIndex(newDf: DataFrame, corpus: DataFrame,
                                 corpusIndex: DataFrame,
                                 idCol: String, vecCol: String, dim: Int,
                                 threshold: Double = 0.95,
                                 nTables: Int = 8, bitsPerTable: Int = 16,
                                 seed: Long = 42L,
                                 broadcastNew: Boolean = true,
                                 acceptUnvalidated: Boolean = false): DataFrame =
    lshScreenIndex(
      embeddingLsh(idCol, vecCol, dim, nTables, bitsPerTable, seed),
      "embeddingPairsAgainstIndex", newDf, corpus, corpusIndex, threshold,
      broadcastNew, acceptUnvalidated)

  /** [[minhashIndexUpdate]]'s embedding sibling: fold a screened
    * batch into a persisted [[embeddingIndex]] without re-hashing the
    * corpus — exactly equivalent to a rebuild over (corpus ∪ batch),
    * same true-count/dead-bucket discipline, spec-pinned. */
  def embeddingIndexUpdate(index: DataFrame, newBatch: DataFrame,
                           idCol: String, vecCol: String, dim: Int,
                           nTables: Int = 8, bitsPerTable: Int = 16,
                           seed: Long = 42L,
                           maxBucketSize: Int = 10000,
                           acceptUnvalidated: Boolean = false): DataFrame =
    lshIndexUpdate(
      embeddingLsh(idCol, vecCol, dim, nTables, bitsPerTable, seed),
      "embeddingIndexUpdate", index, newBatch, maxBucketSize,
      acceptUnvalidated)

  /** Incremental embedding-cosine screen: (new, corpus) candidate
    * pairs by hyperplane LSH between a NEW batch and an EXISTING
    * corpus, verified by exact cosine — the SemDeDup-style semantic
    * sibling of [[minhashPairsAgainst]], completing the incremental
    * family (exact key / shingle jaccard / embedding cosine). Returns
    * (id_new, id_corpus, cosine >= threshold); id namespaces are the
    * caller's contract.
    *
    * Shape at 100 TB: the corpus reduces to the [[embeddingIndex]]
    * bucket table; the batch's (id, code) rows are batch-sized x
    * nTables and broadcast into the bucket join (`broadcastNew =
    * false` for backfills); exact-cosine verification touches corpus
    * vectors ONLY for candidate-matched ids. This convenience form
    * rebuilds the index per call — at ingestion cadence persist
    * [[embeddingIndex]] and call [[embeddingPairsAgainstIndex]]. */
  def embeddingPairsAgainst(newDf: DataFrame, corpus: DataFrame,
                            idCol: String, vecCol: String, dim: Int,
                            threshold: Double = 0.95,
                            nTables: Int = 8, bitsPerTable: Int = 16,
                            seed: Long = 42L, maxBucketSize: Int = 10000,
                            broadcastNew: Boolean = true): DataFrame = {
    // inline index is built with these very params: skip the
    // validation head read (it would trigger an extra hashing job)
    val f = embeddingLsh(idCol, vecCol, dim, nTables, bitsPerTable, seed)
    materializeAndRelease(lshScreen(f, materialized(f, newDf), corpus,
      rawIndex(f, corpus, maxBucketSize), threshold, broadcastNew))
  }

  /** Exact edit-distance similarity join (record linkage / fuzzy-key
    * dedup): every pair with levenshtein ≤ `maxDist`. Candidates come
    * from FastSS deletion neighborhoods (Bocek et al. 2007, public):
    * dist(a, b) ≤ k iff the ≤k-deletion neighborhoods of a and b
    * intersect — an EXACT characterization, so the levenshtein verify
    * only removes false positives, never recovers missed pairs.
    *
    * The default is genuinely exact: `maxBucketSize = 0` means no
    * bucket cap. Passing a positive cap is an EXPLICIT recall trade
    * (the LSH siblings' skew guard — variants shared by more than
    * `maxBucketSize` keys stop generating candidates); take it only
    * when a skewed key corpus makes some deletion variant degenerate.
    *
    * Shape at 100 TB: the neighborhood explode emits ~|s|^k variants
    * per row — this is a KEY matcher, not a document matcher, and
    * `maxLen` enforces that loudly IN-PLAN (`raise_error`, no extra
    * pass) instead of letting one pathological document blow up the
    * explode; bucket-grouped with the same collect + in-row pair
    * expansion as the LSH siblings; raw strings rejoin by id only
    * for the bounded candidate set. */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        maxDist: Int = 1,
                        maxBucketSize: Int = 0,
                        maxLen: Int = 64): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (neighborhood size is |s|^k), got $maxDist")
    require(maxLen >= 1, s"maxLen must be positive, got $maxLen")
    val guarded = when(length(col(strCol)) > maxLen,
      raise_error(concat(
        lit(s"editDistancePairs: value longer than maxLen=$maxLen " +
          "chars (neighborhood size is ~|s|^maxDist; raise maxLen " +
          "only for bounded key domains): "),
        col(strCol).substr(lit(1), lit(64)))))
      .otherwise(col(strCol))
    val base = Partitioning.spread(
      df.select(col(idCol).as("id"), guarded.as("s"))
        .filter(col("s").isNotNull)).cache()
    // single-deletion neighborhood of one string (plus the string
    // itself); empty strings guard the sequence() descending trap
    def nb(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(length(s) === 0, array(s)).otherwise(array_distinct(concat(
        array(s),
        transform(sequence(lit(1), length(s)), i =>
          concat(s.substr(lit(1), i - 1),
            s.substr(i + 1, length(s) - i))))))
    val hood =
      if (maxDist == 1) nb(col("s"))
      else array_distinct(flatten(transform(nb(col("s")), v => nb(v))))
    val variants = base.select(col("id"), explode(hood).as("v"))
    val bucketKeep = if (maxBucketSize > 0)
      size(col("ids")).between(2, maxBucketSize)
    else size(col("ids")) >= 2
    val cand = pairsFromBuckets(variants
      .groupBy(col("v")).agg(array_distinct(collect_list(col("id"))).as("ids"))
      .filter(bucketKeep))
    verifyPairs(cand, base, "s", "dist", levenshtein(_, _))(_ <= maxDist)
  }
}
