package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import graft.operators.Dedup

/** The streaming ADMISSION LOOP — the production shape that the
  * incremental-screen family (Dedup.exactAgainst /
  * minhashPairsAgainstIndex / minhashIndexUpdate) exists to serve,
  * closed end to end: each arriving batch of documents is screened
  * against the persisted corpus, the survivors are appended to the
  * corpus, and the persisted MinHash index is folded forward so the
  * NEXT batch screens against them too — the corpus is never
  * re-banded, ever (cost measured flat in BENCH_NOTES §index-
  * maintenance while rebuild cost rides corpus size).
  *
  * Reference scope: the reference library has no streaming surface at
  * all (SURVEY §2 row "Streams"); this is a DRIVER-EXT capability a
  * training-data pipeline needs at 100 TB, built on Structured
  * Streaming's foreachBatch + the batch screen operators.
  *
  * Per batch, in order:
  *   1. one row per id within the batch, then the EXACT ID screen
  *      against the corpus ([[Dedup.exactAgainst]]). This is also
  *      what makes a foreachBatch REPLAY a no-op: foreachBatch is
  *      at-least-once, and rows already appended by a half-finished
  *      run carry ids the corpus now contains, so they drop here.
  *   2. near-dup screen against the PERSISTED index
  *      ([[Dedup.minhashPairsAgainstIndex]] — batch-bounded banding,
  *      one corpus scan for jaccard verification).
  *   3. optional within-batch near-dedup among the survivors
  *      ([[Dedup.minhashDedup]], batch-bounded). Corpus-screen FIRST:
  *      if batch doc B's only near-dup partner A was itself dropped
  *      by the corpus screen, B is still admitted — within-first
  *      would have dropped B in favor of A and then lost A too.
  *   4. append the admitted rows to the corpus, then fold them into
  *      the index ([[Dedup.minhashIndexUpdate]]) via a staged
  *      write-and-swap (parquet has no transactional overwrite).
  *
  * Crash-safety contract (single writer assumed): the admitted set is
  * localCheckpoint-ed BEFORE either write, so step 4's two writes
  * never recompute against files they are mutating. A crash BETWEEN
  * the corpus append and the index swap leaves rows the index does
  * not cover: replaying the batch is safe (step 1 drops the appended
  * rows — no duplicates, ever) but those rows stay invisible to
  * FUTURE near-dup screens until an index rebuild
  * ([[Dedup.minhashIndex]], cost measured in BENCH_NOTES). At real
  * deployment scale the two writes belong in one transactional-table
  * commit (Iceberg/Delta); with raw parquet the append-then-swap
  * order above is the one whose failure mode degrades recall rather
  * than corrupting the corpus.
  *
  * At 100 TB: the batch (not the corpus) bounds every screening
  * SHUFFLE; the index rewrite is the only corpus-proportional write
  * and is ids-only — and if the index was persisted with
  * [[Dedup.indexWritePartitioned]], the cycle detects the layout and
  * folds IN PLACE ([[Dedup.minhashIndexUpdatePartitioned]]), writing
  * only the layout partitions the batch touches: the last
  * corpus-proportional WRITE becomes batch-bounded too (measured in
  * BENCH_NOTES "r8: Partitioned index partial rewrite"; crash
  * contract on [[admitCore]]).
  *
  * Cost model at scale — what IS corpus-proportional: each cycle
  * READS the corpus twice (the id-screen semi join and the near-dup
  * jaccard/cosine verification join; neither shuffles it, both scan
  * it). At gate scale that is noise (BENCH_NOTES "Full admission
  * cycle scaling" measures flat cycles); at 100 TB it is the
  * dominant term, and the mitigations
  * are storage-layout ones: bucket the corpus by `idCol` — the id
  * screen joins on the raw id (hashKeys = false), so a bucketed
  * corpus joins with ZERO corpus-side exchange and an IN-list id
  * probe prunes buckets (both measured: BENCH_NOTES "r8:
  * Bucketed-corpus id screen measured",
  * SelectedBucketsCount 17/64 for a 20-id probe, corpus never
  * shuffled) — or keep a distilled ids-only keys table beside the
  * index and screen ids against that instead of the corpus. The keys-table variant is deliberately NOT built
  * in: screening ids against the corpus itself is what makes a
  * replayed half-finished batch exactly idempotent, and a separate
  * keys artifact re-opens that window (keys-before-corpus crash =
  * lost doc; corpus-before-keys crash = duplicate on replay). Choose
  * it only on a transactional table format where corpus + keys +
  * index commit atomically.
  *
  * Per-cycle fixed work: the corpus is read twice but shingled only
  * for candidate pairs — the verification join carries the raw
  * text/vector column and derives the payload above the join. The
  * index's param stamp is validated once per WRITTEN file set, not
  * per read: the partitioned fold registers the files it wrote with
  * the stamp it validated, so the next cycle's screen validation is a
  * memo hit (a foreign rewrite writes new file names and re-validates
  * in full).
  *
  * [[admitBatchEmbedding]] / [[admitStreamEmbedding]] are the
  * embedding-space siblings: identical skeleton and contracts, with
  * the SemDeDup-style cosine screen over a persisted
  * [[Dedup.embeddingIndex]] and [[Dedup.embeddingIndexUpdate]] as the
  * fold. */
object Admission {

  /** per-batch admission telemetry: rows in the arriving batch, rows
    * surviving the exact id screen, rows admitted after all screens
    * (== rows appended to the corpus and folded into the index).
    * `batchRows` is -1 when the cycle ran with `collectStats = false`
    * (it costs one extra Spark job); `afterIdScreen` and `admitted`
    * are always real — the former's count is the cycle's cache-
    * materialization barrier (see admitCore), the latter gates the
    * writes. */
  case class AdmitStats(batchId: Long, batchRows: Long, afterIdScreen: Long,
                        admitted: Long)

  /** The shared cycle skeleton: id screen → near screen → optional
    * within-batch dedup → localCheckpoint → corpus append + index
    * fold. `screen` returns the matched-id column for the near
    * screen; `within` dedups the surviving batch against itself;
    * `fold` merges the admitted rows into the index (full-swap
    * durable write); `foldInPlace` is the partitioned alternative,
    * used automatically when `indexPath` holds an
    * [[Dedup.indexWritePartitioned]] layout (detected by its `part`
    * column) — only the layout partitions the batch touches are
    * rewritten, so the per-cycle index write is batch-bounded instead
    * of corpus-proportional.
    *
    * Crash contract of the in-place fold (vs the swap's atomic
    * rename): dynamic partition overwrite commits per partition, so a
    * crash mid-fold leaves SOME partitions with the batch folded in
    * and others without. The corpus append happened FIRST, so every
    * id such a partition references exists — the damage is bounded to
    * recall (batch docs invisible to SOME future band/code probes
    * until an index rebuild), the same degrade-recall-never-corrupt
    * class as the swap's append-then-crash window; a replay is still
    * a no-op (the id screen) and does NOT repair the partial fold.
    *
    * `refuseInPlace` is the layout refusal BEFORE any write, for the
    * spaces without an in-place fold (semantic and signature):
    * admitCore dispatches to foldInPlace only AFTER the corpus
    * append, so an error raised there would leave the corpus mutated
    * with the index unfolded. The layout is knowable from the schema
    * of the cycle's own index read, so the unsupported case refuses
    * write-free — before any count, screen or write, and without a
    * separate listing/footer read of the index path. */
  private def admitCore(batch: DataFrame, corpusPath: String,
                        indexPath: String, idCol: String, batchId: Long,
                        within: Boolean, collectStats: Boolean,
                        screen: (DataFrame, DataFrame, DataFrame) => DataFrame,
                        dedupWithin: DataFrame => DataFrame,
                        fold: (DataFrame, DataFrame) => DataFrame,
                        foldInPlace: (String, DataFrame, DataFrame) => Unit,
                        forceInPlace: Boolean = false,
                        refuseInPlace: Option[(String, String)] = None)
  : AdmitStats = {
    val spark = batch.sparkSession
    val corpus = spark.read.parquet(corpusPath)
    val index = spark.read.parquet(indexPath)
    refuseInPlace.foreach { case (what, why) =>
      require(!index.columns.contains("part"),
        s"$what does not support the partitioned in-place layout — " +
          s"persist it swap-written ($why, the swap rewrite is cheap " +
          "by construction)")
    }
    val batchRows = if (collectStats) batch.count() else -1L
    // direct-key id screen (hashKeys = false): the join key is the id
    // column itself, so a corpus BUCKETED by idCol — the cost-model
    // mitigation for the per-cycle corpus scans — joins with zero
    // corpus-side exchange (BENCH_NOTES "r8: Bucketed-corpus id
    // screen measured"). Ids are non-null by
    // the id-namespace contract; a null id would bypass this screen.
    val fresh = Dedup.exactAgainst(batch.dropDuplicates(idCol), corpus,
      Seq(idCol), hashKeys = false).cache()
    // materialize the cache BEFORE the screen fans out over it —
    // unconditionally, not just under collectStats. `fresh` feeds
    // three plan branches (the near screen's banding, its
    // verification join, and the final left_anti), and an UNFILLED
    // cache makes each branch recompute the id screen, re-scanning
    // the CORPUS once per branch — at 100 TB that triples the
    // cycle's dominant cost (r15 ProbeQ123c: streaming
    // numInputRows showed the batch source read twice per cycle
    // with collectStats = false). One batch-bounded count job buys
    // corpus-scan-once; afterIdScreen is therefore always real now.
    val nFresh = fresh.count()
    val matched = screen(fresh, corpus, index)
      .select(col("id_new").as(idCol)).distinct()
    val screened = fresh.join(matched, Seq(idCol), "left_anti")
    val surviving = if (within) dedupWithin(screened) else screened
    // eager lineage cut: the writes below mutate this plan's inputs,
    // so the admitted set must be physically settled first. The row
    // count rides the checkpoint's own job as an observed metric
    // instead of a second action over the checkpoint.
    val admittedObs = Observation()
    val admitted = surviving
      .observe(admittedObs, count(lit(1)).as("rows")).localCheckpoint()
    val nAdmitted = admittedObs.get("rows").asInstanceOf[Long]
    if (nAdmitted > 0) {
      admitted.write.mode("append").parquet(corpusPath)
      // the cycle's own index frame rides along: no writer touched
      // indexPath since it was read (single-writer contract, and the
      // corpus append above writes corpusPath, not the index), so the
      // fold can reuse its file listing instead of re-listing — above
      // the parallel-discovery threshold a fresh read of a partitioned
      // layout costs a numParts-task job (r12 ProbeQ129)
      if (forceInPlace || index.columns.contains("part"))
        foldInPlace(indexPath, admitted, index)
      else swapWrite(fold(index, admitted), indexPath)
    }
    fresh.unpersist()
    AdmitStats(batchId, batchRows, nFresh, nAdmitted)
  }

  /** One admission cycle against the durable state at
    * (`corpusPath`, `indexPath`). `indexPath` must hold a
    * [[Dedup.minhashIndex]]-built index — either swap-written whole
    * or persisted partitioned via [[Dedup.indexWritePartitioned]]
    * (auto-detected; the fold then rewrites only dirty layout
    * partitions); its embedded format version and build params are
    * validated against this call's (mismatch throws rather than
    * silently losing recall). Callable directly at batch cadence or
    * per micro-batch via [[admitStream]]. */
  def admitBatch(batch: DataFrame, corpusPath: String, indexPath: String,
                 idCol: String, textCol: String,
                 numHashes: Int = 64, bands: Int = 16,
                 shingleLen: Int = 3, seed: Long = 42L,
                 maxBucketSize: Int = 1000, threshold: Double = 0.8,
                 dedupWithinBatch: Boolean = true,
                 batchId: Long = -1L,
                 collectStats: Boolean = true): AdmitStats =
    admitCore(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      screen = (fresh, corpus, index) =>
        Dedup.minhashPairsAgainstIndex(fresh, corpus, index,
          idCol, textCol, numHashes = numHashes, bands = bands,
          shingleLen = shingleLen, threshold = threshold, seed = seed),
      dedupWithin = screened =>
        Dedup.minhashDedup(screened, idCol, textCol,
          numHashes = numHashes, bands = bands, shingleLen = shingleLen,
          threshold = threshold),
      fold = (index, admitted) =>
        Dedup.minhashIndexUpdate(index, admitted, idCol, textCol,
          numHashes = numHashes, bands = bands, shingleLen = shingleLen,
          seed = seed, maxBucketSize = maxBucketSize),
      foldInPlace = (path, admitted, idx) =>
        Dedup.minhashIndexUpdatePartitioned(admitted.sparkSession, path,
          admitted, idCol, textCol, numHashes = numHashes, bands = bands,
          shingleLen = shingleLen, seed = seed,
          maxBucketSize = maxBucketSize, preRead = Some(idx)))

  /** [[admitBatch]]'s embedding sibling: same skeleton, with the
    * semantic screen ([[Dedup.embeddingPairsAgainstIndex]] over a
    * persisted [[Dedup.embeddingIndex]]), within-batch near-dedup via
    * embedding pairs + connected components (min-id representative),
    * and [[Dedup.embeddingIndexUpdate]] as the fold. */
  def admitBatchEmbedding(batch: DataFrame, corpusPath: String,
                          indexPath: String, idCol: String, vecCol: String,
                          dim: Int, nTables: Int = 8,
                          bitsPerTable: Int = 16, seed: Long = 42L,
                          maxBucketSize: Int = 10000,
                          threshold: Double = 0.95,
                          dedupWithinBatch: Boolean = true,
                          batchId: Long = -1L,
                          collectStats: Boolean = true): AdmitStats =
    admitCore(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      screen = (fresh, corpus, index) =>
        Dedup.embeddingPairsAgainstIndex(fresh, corpus, index,
          idCol, vecCol, dim, threshold = threshold, nTables = nTables,
          bitsPerTable = bitsPerTable, seed = seed),
      dedupWithin = screened => {
        val pairs = Dedup.embeddingPairs(screened, idCol, vecCol, dim,
            threshold = threshold, nTables = nTables,
            bitsPerTable = bitsPerTable, seed = seed,
            maxBucketSize = maxBucketSize)
          .select(col("id_a"), col("id_b"))
        val drop = Dedup.connectedComponentMinLabel(pairs)
          .filter(col("id") =!= col("rep"))
          .withColumnRenamed("id", idCol).select(col(idCol))
        screened.join(drop, Seq(idCol), "left_anti")
      },
      fold = (index, admitted) =>
        Dedup.embeddingIndexUpdate(index, admitted, idCol, vecCol, dim,
          nTables = nTables, bitsPerTable = bitsPerTable, seed = seed,
          maxBucketSize = maxBucketSize),
      foldInPlace = (path, admitted, idx) =>
        Dedup.embeddingIndexUpdatePartitioned(admitted.sparkSession, path,
          admitted, idCol, vecCol, dim, nTables = nTables,
          bitsPerTable = bitsPerTable, seed = seed,
          maxBucketSize = maxBucketSize, preRead = Some(idx)))

  /** [[admitBatch]]'s SEMANTIC sibling (r13): the near screen is
    * cluster-blocked cosine against a persisted
    * [[graft.operators.SemDedup.assignmentIndex]] — the SemDeDup
    * partition (fixed centers, deterministic recall: 1 within a
    * cluster, 0 across) at admission time. The index is ids-only
    * (id, cluster) under the __fmt + (k, dim, centers-digest) stamp
    * discipline; a cycle whose `centers` differ from the index's is
    * REFUSED before any screen work (screening under mismatched
    * centers is silently wrong). The fold assigns only the admitted
    * batch (one codegen pass — the standing corpus is never
    * re-assigned) and swap-writes; the partitioned in-place layout is
    * deliberately unsupported for this index (it is the cheapest
    * corpus artifact in the family — one int per row — so the swap
    * rewrite is not the cost center the minhash/embedding folds had
    * to avoid). Within-batch stage: [[graft.operators.SemDedup
    * .semDedup]] with the min_id keep rule. */
  def admitBatchSemantic(batch: DataFrame, corpusPath: String,
                         indexPath: String, idCol: String,
                         vecCol: String, centers: Seq[Seq[Double]],
                         minCosine: Double = 0.95,
                         maxClusterSize: Int = 10000,
                         dedupWithinBatch: Boolean = true,
                         batchId: Long = -1L,
                         collectStats: Boolean = true): AdmitStats = {
    admitCore(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      refuseInPlace = Some(("the SemDedup assignment index",
        "ids-only")),
      screen = (fresh, corpus, index) =>
        graft.operators.SemDedup.screenPairsIndexed(fresh, corpus,
          index, idCol, vecCol, centers, minCosine, maxClusterSize),
      dedupWithin = screened =>
        graft.operators.SemDedup.semDedup(screened, idCol, vecCol,
          centers, minCosine, maxClusterSize, keep = "min_id"),
      // fold WITHOUT re-validating: the screen already validated
      // this exact index frame this cycle (single-writer contract —
      // nothing can have changed between the two calls), so the
      // fold is the plain assign-the-batch append
      fold = (index, admitted) => index.unionByName(
        graft.operators.SemDedup.assignmentIndex(admitted, idCol,
          vecCol, centers)),
      foldInPlace = (_, _, _) => sys.error(
        "unreachable: the partitioned layout is refused at entry"))
  }

  /** [[admitBatch]]'s SIGNATURE sibling (r13) — the sixth admission
    * space: the near screen is hamming distance against a persisted
    * [[graft.operators.Dedup.signatureIndex]] over any 64-bit
    * fingerprint column (text simhash, image aHash/dHash — the
    * image-ingestion face this exists for). The batch carries
    * PRECOMPUTED signatures (hash upstream, e.g.
    * [[graft.multimodal.Multimodal.imageHashes]]); the corpus of
    * record here is the fingerprint table itself, and because the
    * index stores signatures inside its bucket rows, the screen
    * touches ONLY the index — media bytes are never re-decoded at
    * admission time. Within-batch stage: [[graft.operators.Dedup
    * .signatureDedup]] (connected-component closure, min id per
    * component — transitive chains collapse to one survivor). The
    * fold is
    * [[graft.operators.Dedup.signatureIndexUpdate]] (distinct-union,
    * ≡ rebuild); its validation is a session-memo hit (the screen
    * validated the same files this cycle). The partitioned in-place
    * layout is unsupported (the index is (chunk, key, id, sig) rows
    * — the swap rewrite is not the cost center), refused at entry
    * before any write. */
  def admitBatchSignature(batch: DataFrame, corpusPath: String,
                          indexPath: String, idCol: String,
                          sigCol: String, maxDistance: Int = 3,
                          maxBucketSize: Int = 1000,
                          dedupWithinBatch: Boolean = true,
                          batchId: Long = -1L,
                          collectStats: Boolean = true): AdmitStats = {
    admitCore(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      refuseInPlace = Some(("the signature index", "narrow rows")),
      screen = (fresh, _, index) =>
        Dedup.signaturePairsAgainstIndex(fresh, index, idCol, sigCol,
            maxDistance, maxBucketSize)
          .withColumnRenamed("id_b", "id_new"),
      dedupWithin = screened =>
        Dedup.signatureDedup(screened, idCol, sigCol, maxDistance,
          maxBucketSize),
      fold = (index, admitted) =>
        Dedup.signatureIndexUpdate(index, admitted, idCol, sigCol,
          maxDistance),
      foldInPlace = (_, _, _) => sys.error(
        "unreachable: the partitioned layout is refused at entry"))
  }

  /** [[admitBatch]]'s substring sibling: the near screen is
    * SPAN-COVERAGE against a persisted
    * [[graft.operators.SubstringDedup.gramIndex]] — a batch doc is
    * rejected when more than `maxDupCoverage` of its tokens lie
    * inside runs (≥ `k` tokens) already present in the corpus, the
    * Lee et al. contamination criterion at admission time. Docs
    * shorter than `k` tokens produce no anchors and always pass this
    * screen (the exact id screen still applies). Optional
    * within-batch stage applies the same coverage rule symmetrically
    * with the keep-first exemption (one copy of a duplicated run
    * survives its own batch). The fold is BATCH-BOUNDED
    * ([[graft.operators.SubstringDedup.gramIndexAppendInPlace]] —
    * only grams the index lacks append as new files, existing files
    * untouched), so its crash contract is the APPEND path's: a crash
    * mid-fold leaves a valid, readable index that may lack some of
    * the batch's grams (re-admitting the batch repairs it; the
    * distinct-gram content is append-idempotent).
    *
    * AUTO-COMPACTION (`compactFileThreshold` > 0): after the fold,
    * when the index's parquet file count exceeds the threshold, the
    * cycle runs [[graft.operators.SubstringDedup.gramIndexCompact]]
    * (staged swap into `compactPartitions` files, repartitioned on
    * the gram key). Trickle admission otherwise grows file count
    * without bound — a year of hourly batches is ~10k tiny files
    * whose listing overhead eventually dominates every screen.
    * Compaction only reshapes the listing (content is distinct and
    * append-disjoint), so K trickle cycles + compaction ≡ one
    * rebuild, spec-pinned in AdmissionSpec. Default 0 keeps the
    * caller-managed cadence. */
  def admitBatchSubstring(batch: DataFrame, corpusPath: String,
                          indexPath: String, idCol: String, textCol: String,
                          k: Int, maxDupCoverage: Double = 0.5,
                          hashKeys: Boolean = true,
                          dedupWithinBatch: Boolean = false,
                          batchId: Long = -1L,
                          collectStats: Boolean = true,
                          compactFileThreshold: Int = 0,
                          compactPartitions: Int = 32): AdmitStats = {
    require(maxDupCoverage >= 0.0 && maxDupCoverage < 1.0,
      s"maxDupCoverage must be in [0,1), got $maxDupCoverage")
    require(compactFileThreshold >= 0,
      s"compactFileThreshold must be >= 0, got $compactFileThreshold")
    import graft.operators.SubstringDedup
    import graft.functions.{TextFunctions => TF}
    def overCovered(docs: DataFrame, spans: DataFrame): DataFrame = {
      val cov = spans.groupBy(col(idCol))
        .agg(sum(col("e") - col("s") + 1).as("__cov"))
      docs.select(col(idCol),
          size(TF.tokens(col(textCol))).cast("long").as("__n"))
        .join(cov, Seq(idCol))
        .filter(col("__cov") > col("__n") * maxDupCoverage)
        .select(col(idCol))
    }
    admitCore(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      screen = (fresh, _, index) =>
        overCovered(fresh,
          SubstringDedup.duplicateSpansAgainst(fresh, index, idCol,
            textCol, k, hashKeys))
          .select(col(idCol).as("id_new")),
      dedupWithin = screened =>
        screened.join(
          overCovered(screened,
            SubstringDedup.duplicateSpans(screened, idCol, textCol, k,
              keepFirst = true, hashKeys = hashKeys)),
          Seq(idCol), "left_anti"),
      fold = (_, _) => throw new IllegalStateException(
        "unreachable: the substring loop always folds in place"),
      foldInPlace = (path, admitted, _) => {
        val spark = admitted.sparkSession
        SubstringDedup.gramIndexAppendInPlace(spark,
          path, admitted, idCol, textCol, k, hashKeys)
        if (compactFileThreshold > 0 &&
            SubstringDedup.gramIndexFileCount(spark, path)
              > compactFileThreshold)
          SubstringDedup.gramIndexCompact(spark, path, compactPartitions)
        ()
      },
      forceInPlace = true)
  }

  /** Continuous admission: drains `stream` (Trigger.AvailableNow) and
    * runs [[admitBatch]] on every micro-batch through foreachBatch.
    * The checkpoint makes a restart resume AFTER the last committed
    * batch; a batch that half-finished before a crash replays and
    * step 1's id screen makes the replay a no-op (spec-pinned).
    * Returns the per-batch stats in batch order (driver-side; the
    * foreachBatch body runs on the driver). */
  def admitStream(stream: DataFrame, corpusPath: String, indexPath: String,
                  checkpoint: String, idCol: String, textCol: String,
                  numHashes: Int = 64, bands: Int = 16,
                  shingleLen: Int = 3, seed: Long = 42L,
                  maxBucketSize: Int = 1000, threshold: Double = 0.8,
                  dedupWithinBatch: Boolean = true,
                  collectStats: Boolean = true): Seq[AdmitStats] =
    streamCore(stream, checkpoint, (b, id) =>
      admitBatch(b, corpusPath, indexPath, idCol, textCol,
        numHashes, bands, shingleLen, seed, maxBucketSize, threshold,
        dedupWithinBatch, batchId = id, collectStats = collectStats))

  /** [[admitStream]]'s signature sibling: [[admitBatchSignature]]
    * per micro-batch (fingerprints computed upstream in the stream —
    * e.g. a decode+hash stage over incoming media). */
  def admitStreamSignature(stream: DataFrame, corpusPath: String,
                           indexPath: String, checkpoint: String,
                           idCol: String, sigCol: String,
                           maxDistance: Int = 3,
                           maxBucketSize: Int = 1000,
                           dedupWithinBatch: Boolean = true,
                           collectStats: Boolean = true): Seq[AdmitStats] =
    streamCore(stream, checkpoint, (b, id) =>
      admitBatchSignature(b, corpusPath, indexPath, idCol, sigCol,
        maxDistance, maxBucketSize, dedupWithinBatch, batchId = id,
        collectStats = collectStats))

  /** [[admitStream]]'s substring sibling: [[admitBatchSubstring]] per
    * micro-batch through foreachBatch + checkpoint, same replay
    * contract (the id screen makes an at-least-once replay a no-op). */
  def admitStreamSubstring(stream: DataFrame, corpusPath: String,
                           indexPath: String, checkpoint: String,
                           idCol: String, textCol: String, k: Int,
                           maxDupCoverage: Double = 0.5,
                           hashKeys: Boolean = true,
                           dedupWithinBatch: Boolean = false,
                           collectStats: Boolean = true,
                           compactFileThreshold: Int = 0,
                           compactPartitions: Int = 32): Seq[AdmitStats] =
    streamCore(stream, checkpoint, (b, id) =>
      admitBatchSubstring(b, corpusPath, indexPath, idCol, textCol, k,
        maxDupCoverage, hashKeys, dedupWithinBatch, batchId = id,
        collectStats = collectStats,
        compactFileThreshold = compactFileThreshold,
        compactPartitions = compactPartitions))

  /** [[admitStream]]'s SEMANTIC sibling (r15 — closes the six-space
    * symmetry: every batch admission face now has its streaming
    * twin): [[admitBatchSemantic]] per micro-batch through
    * foreachBatch + checkpoint, same replay contract (the id screen
    * makes an at-least-once replay a no-op). `centers` are
    * driver-state by nature (they ride the assignment's literal /
    * routed argmin), so they are fixed for the life of the query —
    * re-fitting centers mid-stream would silently re-cluster the
    * corpus; stop the query, re-fit, rebuild the assignment index,
    * restart (the [[graft.operators.SemDedup.fitCenters]] one-time
    * discipline). */
  def admitStreamSemantic(stream: DataFrame, corpusPath: String,
                          indexPath: String, checkpoint: String,
                          idCol: String, vecCol: String,
                          centers: Seq[Seq[Double]],
                          minCosine: Double = 0.95,
                          maxClusterSize: Int = 10000,
                          dedupWithinBatch: Boolean = true,
                          collectStats: Boolean = true)
  : Seq[AdmitStats] =
    streamCore(stream, checkpoint, (b, id) =>
      admitBatchSemantic(b, corpusPath, indexPath, idCol, vecCol,
        centers, minCosine, maxClusterSize, dedupWithinBatch,
        batchId = id, collectStats = collectStats))

  /** [[admitStream]]'s embedding sibling. */
  def admitStreamEmbedding(stream: DataFrame, corpusPath: String,
                           indexPath: String, checkpoint: String,
                           idCol: String, vecCol: String, dim: Int,
                           nTables: Int = 8, bitsPerTable: Int = 16,
                           seed: Long = 42L, maxBucketSize: Int = 10000,
                           threshold: Double = 0.95,
                           dedupWithinBatch: Boolean = true,
                           collectStats: Boolean = true)
  : Seq[AdmitStats] =
    streamCore(stream, checkpoint, (b, id) =>
      admitBatchEmbedding(b, corpusPath, indexPath, idCol, vecCol, dim,
        nTables, bitsPerTable, seed, maxBucketSize, threshold,
        dedupWithinBatch, batchId = id, collectStats = collectStats))

  /** foreachBatch driver loop shared by the two admitStream faces.
    * The per-batch stats accumulate in a DRIVER-side buffer, which is
    * correct only under the AvailableNow drain-and-stop trigger used
    * here (bounded batches, then the query terminates and the buffer
    * is returned). A truly continuous trigger would grow the buffer
    * without bound — for that regime, write stats to a sink inside
    * `perBatch` and drop the return value. */
  private def streamCore(stream: DataFrame, checkpoint: String,
                         perBatch: (DataFrame, Long) => AdmitStats)
  : Seq[AdmitStats] = {
    val acc = scala.collection.mutable.ArrayBuffer.empty[AdmitStats]
    val fn: (Dataset[Row], Long) => Unit = (b, id) => {
      acc += perBatch(b.toDF(), id)
      ()
    }
    val q = stream.writeStream.foreachBatch(fn)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    acc.toSeq
  }

  /** Compact the corpus after many per-batch appends — the classic
    * small-files ingestion pathology (every admission cycle appends
    * its own files; a year of hourly batches is ~10k tiny files whose
    * listing/open overhead eventually dominates scans). Rewrites the
    * corpus into `partitions` files via the same staged swap the
    * index writes use; row-preserving (returns the row count of the
    * compacted corpus); run it between admission cycles under the
    * same single-writer contract. At 100 TB compact incrementally —
    * per date/prefix partition — rather than rewriting the world. */
  def compactCorpus(spark: org.apache.spark.sql.SparkSession,
                    corpusPath: String, partitions: Int): Long = {
    require(partitions > 0, s"partitions must be positive, got $partitions")
    swapWrite(spark.read.parquet(corpusPath).repartition(partitions),
      corpusPath)
    spark.read.parquet(corpusPath).count()
  }

  /** [[swapWrite]] opened to the operator package so index-family
    * compactions (e.g. SubstringDedup.gramIndexCompact) share the
    * exact staging+rename discipline instead of reimplementing it. */
  private[graft] def swapWriteIndex(df: DataFrame, dest: String): Unit =
    swapWrite(df, dest)

  /** Overwrite `dest` via staging + rename — parquet's substitute for
    * a transactional overwrite, since Spark refuses (correctly) to
    * overwrite a path its own plan is reading. Crash windows: before
    * the first rename, `dest` is untouched; between the two renames,
    * `dest` is briefly absent and the previous index survives at
    * `dest__old` for manual restore. Single writer assumed. */
  private def swapWrite(df: DataFrame, dest: String): Unit = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new Path(dest + "__staging")
    val old = new Path(dest + "__old")
    fs.delete(staging, true)
    df.write.mode("overwrite").parquet(staging.toString)
    fs.delete(old, true)
    if (fs.exists(destPath) && !fs.rename(destPath, old))
      throw new IllegalStateException(
        s"swapWrite: could not move previous $dest aside")
    if (!fs.rename(staging, destPath))
      throw new IllegalStateException(
        s"swapWrite: could not move staging into place at $dest " +
          s"(previous index preserved at $old)")
    fs.delete(old, true)
  }
}
