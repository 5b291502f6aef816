package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.Dedup

/** The streaming ADMISSION LOOP — the production shape that the
  * incremental-screen family (Dedup.exactAgainst /
  * minhashPairsAgainstIndex / minhashIndexUpdate) exists to serve,
  * closed end to end: each arriving batch of documents is screened
  * against the persisted corpus, the survivors are appended to the
  * corpus, and the persisted index grows by them so the NEXT batch
  * screens against them too — the corpus is never re-banded, ever
  * (cost measured flat in BENCH_NOTES §index-maintenance while
  * rebuild cost rides corpus size).
  *
  * Reference scope: the reference library has no streaming surface at
  * all (SURVEY §2 row "Streams"); this is a DRIVER-EXT capability a
  * training-data pipeline needs at 100 TB, built on Structured
  * Streaming's foreachBatch + the batch screen operators.
  *
  * Per batch, in order:
  *   0. (MinHash and embedding spaces) recovery: finish the last
  *      commit's file moves if a crash interrupted them, and delete
  *      whatever an uncommitted cycle staged — before anything reads.
  *   1. the EXACT ID screen against the corpus
  *      ([[Dedup.exactAgainst]]), then one row per id, settled into a
  *      local checkpoint whose job observes its row count. This is also
  *      what makes a foreachBatch REPLAY a no-op: foreachBatch is
  *      at-least-once, and rows a committed cycle appended carry ids
  *      the corpus now contains, so they drop here.
  *   2. near-dup screen against the persisted index
  *      ([[Dedup.minhashPairsAgainstIndex]] semantics — batch-bounded
  *      banding, one corpus scan for jaccard verification), lazily
  *      over the step-1 checkpoint as it stands: nothing is cached.
  *   3. optional within-batch near-dedup among the survivors
  *      ([[Dedup.minhashDedup]], batch-bounded). Corpus-screen FIRST:
  *      if batch doc B's only near-dup partner A was itself dropped
  *      by the corpus screen, B is still admitted — within-first
  *      would have dropped B in favor of A and then lost A too.
  *   4. settle the admitted rows as in step 1 (steps 2–3 run in that
  *      execution), write them and fold them into the index. A
  *      steady-state MinHash cycle without the within-batch pass or
  *      `collectStats` is 4 SQL executions (pinned in AdmissionSpec).
  *
  * MinHash and embedding state: ONE ATOMIC COMMIT PER CYCLE. The
  * index is a base plus deltas; `indexPath/_graft_state/vN.json` (the
  * manifest) names the base and delta files relative to `indexPath`,
  * and holds the corpus and index schemas and the index's validated
  * stamp. A cycle writes its admitted rows (the corpus delta) to a
  * hidden staging directory, writes the admitted rows' uncapped
  * bucket rows (the index delta, [[Dedup.lshDelta]]) beside the base,
  * and commits by renaming a temp file to `vN+1.json`; only then are
  * the corpus delta's files moved into `corpusPath`. Reads name their
  * files from the manifest with its schemas: no schema-inference job,
  * no listing job, no stamp scan. The screen merges the batch-touched
  * buckets of base ∪ deltas under the cap before it explodes ids, so
  * it answers exactly as a screen over the compacted index (pinned in
  * DedupSpec). A compaction folds the deltas into a new base (same
  * layout, flat or [[Dedup.indexWritePartitioned]]) as its own commit,
  * when the next read would otherwise name more files than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (above it
  * the listing itself is a Spark job) — or, for a base already past
  * that, once the deltas outnumber the base files.
  *
  * The first cycle on a state without a manifest ADOPTS it: one
  * listing and one stamp validation of the index, as every cycle paid
  * before manifests. Either index layout is adopted in place and
  * keeps its layout. Once adopted, the state belongs to the admission
  * faces: the standalone folds (`minhashIndexUpdate*`) do not know
  * the deltas, and replacing the index means deleting its
  * `_graft_state` too.
  *
  * Crash-safety contract (single writer assumed): a crash before the
  * rename leaves the previous version committed; the next cycle's
  * recovery deletes the staged files, and a replay of the batch
  * starts from scratch. A crash after the rename leaves the new
  * version committed; recovery completes its file moves before the id
  * screen runs, so a replay finds the batch's ids in the corpus and
  * is a no-op, and near-dups of the batch still drop. Pinned by the
  * fault-injection test in AdmissionSpec. The rename is atomic on the
  * local file system and on HDFS; an object store needs a
  * put-if-absent manifest write instead (S3 conditional writes, GCS
  * generation preconditions), which this class does not do.
  *
  * Plain-read contract. A plain `spark.read.parquet(corpusPath)`
  * returns exactly the committed corpus, never a duplicate: staged
  * files are hidden until their commit moves them in. Between a
  * rename and its moves (and after a crash there, until the next
  * cycle) it returns the previous version. A plain
  * `spark.read.parquet(indexPath)` is never silently stale. Without
  * deltas it is the exact index. While deltas exist (they are moved
  * in before the rename and deleted last by a compaction) their
  * `__maxBucketSize = -1` stamp makes a screen or a full-swap fold
  * over the plain read fail validation — the uncapped rows only merge
  * exactly through the state.
  *
  * Cost model at scale. Per cycle the index WRITE is batch-sized (one
  * delta file); the index READ scans base ∪ deltas, as the screen
  * always scanned the whole index, and merges only the buckets the
  * batch touches. What IS corpus-proportional: each cycle READS the
  * corpus twice (the id-screen semi join and the near-dup
  * jaccard/cosine verification join; neither shuffles it, both scan
  * it). At gate scale that is noise (BENCH_NOTES "Full admission
  * cycle scaling" measures flat cycles); at 100 TB it is the dominant
  * term, and the mitigations are storage-layout ones: bucket the
  * corpus by `idCol` — the id screen joins on the raw id (hashKeys =
  * false), so a bucketed corpus joins with ZERO corpus-side exchange
  * and an IN-list id probe prunes buckets (both measured: BENCH_NOTES
  * "r8: Bucketed-corpus id screen measured", SelectedBucketsCount
  * 17/64 for a 20-id probe, corpus never shuffled) — or keep a
  * distilled ids-only keys table beside the index and screen ids
  * against that instead of the corpus; the one-commit manifest is
  * what makes such a keys delta safe to add. The
  * verification join carries the raw text/vector column and derives
  * the payload above the join, so only candidate rows are shingled.
  * The batch is read once per cycle, into the step-1 checkpoint that
  * every later branch reads; no in-memory cache is built per cycle.
  *
  * The semantic, signature and substring spaces keep their folds:
  * the corpus append, then the index swap (or the substring append),
  * with the older contract on [[foldCycle]].
  *
  * [[admitBatchEmbedding]] / [[admitStreamEmbedding]] are the
  * embedding-space siblings: identical skeleton and contracts, with
  * the SemDeDup-style cosine screen over a persisted
  * [[Dedup.embeddingIndex]]. */
object Admission {

  /** per-batch admission telemetry: rows in the arriving batch, rows
    * surviving the exact id screen, rows admitted after all screens
    * (== rows appended to the corpus and folded into the index).
    * `batchRows` is -1 when the cycle ran with `collectStats = false`
    * (it costs one extra Spark job); `afterIdScreen` and `admitted`
    * are always real — each is observed by the job of the local
    * checkpoint the cycle settles anyway (the id-screened batch, the
    * admitted set; see admitCore), and the latter gates the writes. */
  case class AdmitStats(batchId: Long, batchRows: Long, afterIdScreen: Long,
                        admitted: Long)

  /** The shared cycle skeleton: id screen → localCheckpoint → near
    * screen → optional within-batch dedup → localCheckpoint →
    * `commit`. `screen` returns the matched-id column (`id_new`) of
    * the near screen over the settled id-screened batch; `within`
    * dedups the surviving batch against itself; `commit` gets the
    * settled admitted rows and their count. */
  private def admitCore(batch: DataFrame, corpus: DataFrame, idCol: String,
                        batchId: Long, within: Boolean, collectStats: Boolean,
                        screen: (DataFrame, DataFrame) => DataFrame,
                        dedupWithin: DataFrame => DataFrame,
                        commit: (DataFrame, Long) => Unit): AdmitStats = {
    val batchRows = if (collectStats) batch.count() else -1L
    // direct-key id screen (hashKeys = false): a corpus BUCKETED by
    // idCol joins with zero corpus-side exchange. Ids are non-null by
    // the id-namespace contract. One row per id is kept after the
    // screen, which drops every row of an id alike. `fresh` is settled
    // once, the only read of the batch source: the near screen's
    // banding, its verification join and the final left_anti read it.
    val (fresh, nFresh) = settled(Dedup.exactAgainst(batch, corpus,
      Seq(idCol), hashKeys = false).dropDuplicates(idCol))
    // the screen stays lazy, planned inside the admitted set's
    // execution; its matched ids are batch-bounded
    val matched = screen(fresh, corpus).select(col("id_new").as(idCol))
    val screened = fresh.join(broadcast(matched), Seq(idCol), "left_anti")
    // the writes below mutate this plan's inputs, so the admitted set
    // is settled first
    val (admitted, nAdmitted) =
      settled(if (within) dedupWithin(screened) else screened)
    commit(admitted, nAdmitted)
    AdmitStats(batchId, batchRows, nFresh, nAdmitted)
  }

  /** `df` evaluated once into a local checkpoint, with its row count
    * observed by the checkpoint's own job */
  private def settled(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val out = df.observe(rows, count(lit(1)).as("rows")).localCheckpoint()
    (out, rows.get("rows").asInstanceOf[Long])
  }

  /** The MinHash/embedding cycle over manifest state (contracts in the
    * object scaladoc): recover or adopt, compact when due, screen
    * against base ∪ deltas, then one commit of the corpus and index
    * deltas. A cycle that admits nothing commits only an adoption. */
  private def lshCycle(batch: DataFrame, corpusPath: String,
                       indexPath: String, idCol: String, batchId: Long,
                       within: Boolean, collectStats: Boolean,
                       f: Dedup.Lsh, what: String, maxBucketSize: Int,
                       threshold: Double,
                       dedupWithin: DataFrame => DataFrame): AdmitStats = {
    val st = new State(batch.sparkSession, corpusPath, indexPath)
    val opened = st.open(what, Dedup.withCap(f.params, maxBucketSize))
    val m = if (st.compactionDue(opened)) st.compact(opened) else opened
    val rows = st.indexRows(m)
    admitCore(batch, st.corpus(m), idCol, batchId, within, collectStats,
      screen = (fresh, corpus) => Dedup.lshScreen(f, fresh, corpus, rows,
        threshold, broadcastNew = true, mergeCap = Some(maxBucketSize)),
      dedupWithin = dedupWithin,
      commit = (admitted, n) =>
        if (n > 0) st.commitDelta(m, f, admitted)
        else if (m.version == 0) st.commit(m.copy(version = 1)))
  }

  /** The cycle of the spaces that keep their folds (semantic,
    * signature, substring): corpus append, then `fold` of the index.
    *
    * Crash contract: a crash BETWEEN the corpus append and the fold
    * leaves rows the index does not cover: replaying the batch is
    * safe (step 1 drops the appended rows — no duplicates, ever) but
    * those rows stay invisible to FUTURE near-dup screens until an
    * index rebuild. The append-then-fold order is the one whose
    * failure mode degrades recall rather than corrupting the corpus.
    *
    * `refusePartitioned` is the layout refusal BEFORE any write, for
    * the spaces without a partitioned layout: the layout is knowable
    * from the schema of the cycle's own index read, so the
    * unsupported case refuses write-free — before any count, screen
    * or write. */
  private def foldCycle(batch: DataFrame, corpusPath: String,
                        indexPath: String, idCol: String, batchId: Long,
                        within: Boolean, collectStats: Boolean,
                        screen: (DataFrame, DataFrame, DataFrame) => DataFrame,
                        dedupWithin: DataFrame => DataFrame,
                        fold: (DataFrame, DataFrame) => Unit,
                        refusePartitioned: Option[(String, String)] = None)
  : AdmitStats = {
    val spark = batch.sparkSession
    val corpus = spark.read.parquet(corpusPath)
    val index = spark.read.parquet(indexPath)
    refusePartitioned.foreach { case (what, why) =>
      require(!index.columns.contains("part"),
        s"$what does not support the partitioned in-place layout — " +
          s"persist it swap-written ($why, the swap rewrite is cheap " +
          "by construction)")
    }
    admitCore(batch, corpus, idCol, batchId, within, collectStats,
      screen = screen(_, _, index), dedupWithin = dedupWithin,
      commit = (admitted, n) => if (n > 0) {
        admitted.write.mode("append").parquet(corpusPath)
        fold(index, admitted)
      })
  }

  /** One admission cycle against the durable state at
    * (`corpusPath`, `indexPath`). `indexPath` must hold a
    * [[Dedup.minhashIndex]]-built index — either written whole or
    * persisted partitioned via [[Dedup.indexWritePartitioned]] — or
    * the manifest state an earlier cycle left there; its embedded
    * format version and build params (skew cap included) are
    * validated against this call's once, at adoption (mismatch throws
    * before any write rather than silently losing recall). Each cycle
    * commits once (object scaladoc). Callable directly at batch
    * cadence or per micro-batch via [[admitStream]]. */
  def admitBatch(batch: DataFrame, corpusPath: String, indexPath: String,
                 idCol: String, textCol: String,
                 numHashes: Int = 64, bands: Int = 16,
                 shingleLen: Int = 3, seed: Long = 42L,
                 maxBucketSize: Int = 1000, threshold: Double = 0.8,
                 dedupWithinBatch: Boolean = true,
                 batchId: Long = -1L,
                 collectStats: Boolean = true): AdmitStats =
    lshCycle(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      Dedup.minhashLsh(idCol, textCol, numHashes, bands, shingleLen, seed),
      "admitBatch", maxBucketSize, threshold,
      dedupWithin = screened =>
        Dedup.minhashDedup(screened, idCol, textCol,
          numHashes = numHashes, bands = bands, shingleLen = shingleLen,
          threshold = threshold))

  /** [[admitBatch]]'s embedding sibling: same skeleton and commit,
    * with the semantic screen ([[Dedup.embeddingPairsAgainstIndex]]
    * semantics over a persisted [[Dedup.embeddingIndex]]) and
    * within-batch near-dedup via embedding pairs + connected
    * components (min-id representative). */
  def admitBatchEmbedding(batch: DataFrame, corpusPath: String,
                          indexPath: String, idCol: String, vecCol: String,
                          dim: Int, nTables: Int = 8,
                          bitsPerTable: Int = 16, seed: Long = 42L,
                          maxBucketSize: Int = 10000,
                          threshold: Double = 0.95,
                          dedupWithinBatch: Boolean = true,
                          batchId: Long = -1L,
                          collectStats: Boolean = true): AdmitStats =
    lshCycle(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      Dedup.embeddingLsh(idCol, vecCol, dim, nTables, bitsPerTable, seed),
      "admitBatchEmbedding", maxBucketSize, threshold,
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
      })

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
    foldCycle(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      refusePartitioned = Some(("the SemDedup assignment index",
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
      fold = (index, admitted) => swapWrite(index.unionByName(
        graft.operators.SemDedup.assignmentIndex(admitted, idCol,
          vecCol, centers)), indexPath))
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
    foldCycle(batch, corpusPath, indexPath, idCol, batchId,
      dedupWithinBatch, collectStats,
      refusePartitioned = Some(("the signature index", "narrow rows")),
      screen = (fresh, _, index) =>
        Dedup.signaturePairsAgainstIndex(fresh, index, idCol, sigCol,
            maxDistance, maxBucketSize)
          .withColumnRenamed("id_b", "id_new"),
      dedupWithin = screened =>
        Dedup.signatureDedup(screened, idCol, sigCol, maxDistance,
          maxBucketSize),
      fold = (index, admitted) => swapWrite(
        Dedup.signatureIndexUpdate(index, admitted, idCol, sigCol,
          maxDistance), indexPath))
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
    foldCycle(batch, corpusPath, indexPath, idCol, batchId,
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
      fold = (_, admitted) => {
        val spark = admitted.sparkSession
        SubstringDedup.gramIndexAppendInPlace(spark,
          indexPath, admitted, idCol, textCol, k, hashKeys)
        if (compactFileThreshold > 0 &&
            SubstringDedup.gramIndexFileCount(spark, indexPath)
              > compactFileThreshold)
          SubstringDedup.gramIndexCompact(spark, indexPath,
            compactPartitions)
      })
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
    * index writes use; row-preserving (returns the row count its own
    * write observed); run it between admission cycles under the same
    * single-writer contract. On manifest state (MinHash/embedding
    * admission) it is safe because the manifest never names corpus
    * files: cycles read the corpus directory, so the next cycle reads
    * the compacted files, and its recovery touches only the hidden
    * staging directory. It refuses while that directory holds a
    * commit's unfinished moves (a crash after a rename) — the next
    * admission cycle finishes them. At 100 TB compact incrementally —
    * per date/prefix partition — rather than rewriting the world. */
  def compactCorpus(spark: org.apache.spark.sql.SparkSession,
                    corpusPath: String, partitions: Int): Long = {
    require(partitions > 0, s"partitions must be positive, got $partitions")
    val staging = new Path(corpusPath, Staging)
    require(!staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(staging),
      s"compactCorpus: $staging holds an interrupted admission commit — " +
        "run the next admission cycle first, its recovery finishes it")
    val rows = Observation()
    swapWrite(spark.read.parquet(corpusPath).repartition(partitions)
      .observe(rows, count(lit(1)).as("rows")), corpusPath)
    rows.get("rows").asInstanceOf[Long]
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


  /** The index of the MinHash/embedding state at (`corpusPath`,
    * `indexPath`) as one merged, stamped frame — what a compaction
    * would write. Recovers (or adopts) the state first, like a cycle;
    * commits nothing. */
  private[graft] def mergedIndex(spark: SparkSession, corpusPath: String,
                                 indexPath: String): DataFrame = {
    val st = new State(spark, corpusPath, indexPath)
    val m = st.open("mergedIndex", Nil)
    Dedup.lshCompact(st.indexRows(m), m.stamp)
  }

  // ---- manifest state (MinHash and embedding spaces) -------------------

  /** manifests, relative to `indexPath` */
  private val StateDir = "_graft_state"
  /** each root's hidden staging directory: uncommitted files */
  private val Staging = "_graft_staging"
  /** the partitioned layout's delta directory (`part` -1 is never a
    * layout partition) */
  private val PartDeltas = "part=-1"
  private val ManifestName = """v(\d+)\.json""".r

  /** Called with the name of each commit step boundary as it passes:
    * "corpus-staged", "index-staged", "before-rename", "after-rename".
    * A no-op; tests throw from it to crash a commit at that step. */
  @volatile private[graft] var stepHook: String => Unit = _ => ()

  /** A commit's file operation, `from` relative to its root: a move
    * to `to`, or a delete when `to` is empty. Replaying one is
    * idempotent. */
  private final case class FileOp(corpusSide: Boolean, from: String,
                                  to: Option[String])

  /** One committed version of the state. `base` and `deltas` are index
    * files relative to `indexPath`; `stamp` is the index's validated
    * stamp, typed by `indexSchema`; `pending` are the moves and deletes
    * that follow the version's rename. */
  private final case class Manifest(version: Long, corpusSchema: StructType,
                                    indexSchema: StructType,
                                    stamp: Seq[(String, Any)],
                                    partitioned: Boolean, base: Seq[String],
                                    deltas: Seq[String],
                                    pending: Seq[FileOp]) {
    def json: String = {
      def value(v: Any): JValue = v match {
        case i: Int => JInt(i)
        case l: Long => JInt(l)
        case d: Double => JDouble(d)
        case b: Boolean => JBool(b)
        case other => JString(other.toString)
      }
      def strings(xs: Seq[String]) = JArray(xs.map(JString(_)).toList)
      JsonMethods.compact(JObject(
        "version" -> JInt(version),
        "corpusSchema" -> JString(corpusSchema.json),
        "indexSchema" -> JString(indexSchema.json),
        "stamp" -> JObject(stamp.map { case (k, v) => k -> value(v) }.toList),
        "partitioned" -> JBool(partitioned),
        "base" -> strings(base), "deltas" -> strings(deltas),
        "pending" -> JArray(pending.map(op => JArray(List(
          JString(if (op.corpusSide) "corpus" else "index"),
          JString(op.from), op.to.fold[JValue](JNull)(JString(_))))).toList)))
    }
  }

  private object Manifest {
    def parse(text: String): Manifest = {
      val j = JsonMethods.parse(text)
      def strings(k: String) = (j \ k).values.asInstanceOf[List[String]]
      val indexSchema =
        DataType.fromJson((j \ "indexSchema").values.toString)
          .asInstanceOf[StructType]
      val stamp = j \ "stamp" match { case JObject(fs) => fs; case _ => Nil }
      Manifest((j \ "version").values.asInstanceOf[BigInt].toLong,
        DataType.fromJson((j \ "corpusSchema").values.toString)
          .asInstanceOf[StructType],
        indexSchema,
        stamp.map { case (k, v) => k -> ((v, indexSchema(k).dataType) match {
          case (JInt(n), IntegerType) => n.toInt
          case (JInt(n), LongType) => n.toLong
          case (other, _) => other.values
        }) },
        (j \ "partitioned").values == true, strings("base"), strings("deltas"),
        (j \ "pending").values.asInstanceOf[List[List[String]]]
          .map(op => FileOp(op.head == "corpus", op(1), Option(op(2)))))
    }
  }

  /** The file side of a MinHash/embedding admission state: manifests,
    * recovery, reads, commits and compaction. Holds no state between
    * cycles — every cycle reads the newest manifest afresh. */
  private final class State(spark: SparkSession, corpusPath: String,
                            indexPath: String) {
    private val conf = spark.sparkContext.hadoopConfiguration
    private val (cRoot, iRoot) = (new Path(corpusPath), new Path(indexPath))
    private val (cFs, iFs) = (cRoot.getFileSystem(conf), iRoot.getFileSystem(conf))
    private val stateDir = new Path(iRoot, StateDir)

    /** the newest manifest after recovery, or the state adopted (as
      * version 0) when there is none; its stamp checked against
      * `asked` */
    def open(what: String, asked: Seq[(String, Any)]): Manifest = {
      val latest = newest()
      recover(latest)
      latest match {
        case Some(m) => Dedup.requireAsked(m.stamp.toMap, what, asked); m
        case None => adopt(what, asked)
      }
    }

    /** the newest committed manifest; superseded manifests and
      * uncommitted temp files are deleted */
    private def newest(): Option[Manifest] = {
      val names = if (iFs.exists(stateDir))
        iFs.listStatus(stateDir).map(_.getPath.getName).toSeq else Nil
      val last = names.collect { case ManifestName(v) => v.toLong }.maxOption
      names.filterNot(n => last.exists(v => n == s"v$v.json"))
        .foreach(n => iFs.delete(new Path(stateDir, n), false))
      last.map { v =>
        val in = iFs.open(new Path(stateDir, s"v$v.json"))
        try Manifest.parse(new String(in.readAllBytes(), UTF_8))
        finally in.close()
      }
    }

    /** Redo and garbage collection, before anything reads: a staging
      * directory survives only an interrupted cycle. The committed
      * version's moves and deletes are replayed, then every staged
      * file and every visible delta file no manifest names is
      * deleted. */
    private def recover(m: Option[Manifest]): Unit = {
      val stages = Seq(cFs -> new Path(cRoot, Staging),
        iFs -> new Path(iRoot, Staging))
      if (stages.exists { case (fs, p) => fs.exists(p) }) {
        m.foreach(m => applyOps(m.pending))
        val named = m.toSeq.flatMap(m => m.base ++ m.deltas).toSet
        for ((dir, prefix) <- Seq(iRoot -> "", new Path(iRoot, PartDeltas) ->
               s"$PartDeltas/") if iFs.exists(dir);
             st <- iFs.listStatus(dir)
             if st.isFile && st.getPath.getName.startsWith("delta-") &&
               !named(prefix + st.getPath.getName))
          iFs.delete(st.getPath, false)
        stages.foreach { case (fs, p) => fs.delete(p, true) }
      }
    }

    /** No manifest yet: one listing and one stamp validation of the
      * index, and the corpus schema, as every cycle paid before. */
    private def adopt(what: String, asked: Seq[(String, Any)]): Manifest = {
      val index = spark.read.parquet(indexPath)
      val stamp = Dedup.validatedStamp(index, what, asked)
        .getOrElse(asked.toMap)
      val schema = StructType(index.schema.filterNot(_.name == "part"))
      val root = iFs.makeQualified(iRoot).toUri
      Manifest(0, spark.read.parquet(corpusPath).schema, schema,
        schema.fieldNames.toSeq.flatMap(k => stamp.get(k).map(k -> _)),
        index.columns.contains("part"),
        index.inputFiles.toSeq
          .map(f => root.relativize(new java.net.URI(f)).getPath).sorted,
        Nil, Nil)
    }

    def corpus(m: Manifest): DataFrame =
      spark.read.schema(m.corpusSchema).parquet(corpusPath)

    /** base ∪ delta rows, stamp columns included */
    def indexRows(m: Manifest): DataFrame = {
      val files = (m.base ++ m.deltas).map(new Path(iRoot, _).toString)
      if (files.isEmpty)
        spark.createDataFrame(java.util.List.of[Row](), m.indexSchema)
      else spark.read.schema(m.indexSchema).parquet(files: _*)
    }

    /** due when the next read would list more files than Spark lists
      * without a job — or, for a base already past that, once the
      * deltas outnumber the base files */
    def compactionDue(m: Manifest): Boolean = {
      val limit = spark.conf
        .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
      m.deltas.nonEmpty &&
        m.deltas.size >= math.max(limit - m.base.size, m.base.size)
    }

    /** Fold the deltas into a new base in the state's layout, as its
      * own commit. The new base moves in, then the old base and the
      * deltas are deleted, deltas last: a plain read sees deltas (and
      * fails validation) until the base it sees is the new one. */
    def compact(m: Manifest): Manifest = {
      val v = m.version + 1
      val stage = s"$Staging/v$v"
      val merged = Dedup.lshCompact(indexRows(m), m.stamp)
      val out = new Path(iRoot, stage)
      if (m.partitioned)
        Dedup.indexWritePartitioned(merged, out.toString,
          m.stamp.collectFirst { case ("__numParts", n: Int) => n }
            .getOrElse(m.base.map(_.takeWhile(_ != '/')).distinct.size))
      else merged.write.parquet(out.toString)
      val base = dataFiles(iFs, out)
      val next = m.copy(version = v, base = base, deltas = Nil,
        pending = base.map(f => FileOp(false, s"$stage/$f", Some(f))) ++
          (m.base ++ m.deltas).map(FileOp(false, _, None)))
      commit(next)
      next.copy(pending = Nil)
    }

    /** One cycle's commit: the admitted rows staged hidden under the
      * corpus, their uncapped bucket rows moved in beside the index
      * base (visible, but failing any plain read's validation), then
      * the manifest rename, then the corpus files' moves. */
    def commitDelta(m: Manifest, f: Dedup.Lsh, admitted: DataFrame): Unit = {
      val v = m.version + 1
      val stage = s"$Staging/v$v"
      admitted.write.parquet(new Path(cRoot, stage).toString)
      val moves = dataFiles(cFs, new Path(cRoot, stage))
        .map(n => FileOp(true, s"$stage/$n", Some(n)))
      stepHook("corpus-staged")
      val out = new Path(iRoot, stage)
      Dedup.lshDelta(f, admitted, m.stamp).coalesce(1)
        .write.parquet(out.toString)
      val dir = if (m.partitioned) s"$PartDeltas/" else ""
      val deltas = dataFiles(iFs, out).map { n =>
        val to = s"${dir}delta-v$v-$n"
        move(iFs, new Path(out, n), new Path(iRoot, to))
        to
      }
      stepHook("index-staged")
      commit(m.copy(version = v, deltas = m.deltas ++ deltas, pending = moves))
    }

    /** write `next` to a temp file and rename it to its version's
      * manifest — the commit point — then apply its file operations,
      * drop both staging directories and the superseded manifest */
    def commit(next: Manifest): Unit = {
      val tmp = new Path(stateDir, s".v${next.version}.json.tmp")
      val out = iFs.create(tmp, true)
      try out.write(next.json.getBytes(UTF_8)) finally out.close()
      stepHook("before-rename")
      val dest = new Path(stateDir, s"v${next.version}.json")
      if (iFs.exists(dest) || !iFs.rename(tmp, dest))
        throw new IllegalStateException(s"admission commit: $dest exists " +
          "or could not be created — another writer committed this version")
      stepHook("after-rename")
      applyOps(next.pending)
      cFs.delete(new Path(cRoot, Staging), true)
      iFs.delete(new Path(iRoot, Staging), true)
      iFs.delete(new Path(stateDir, s"v${next.version - 1}.json"), false)
    }

    private def applyOps(ops: Seq[FileOp]): Unit = ops.foreach { op =>
      val (fs, root) = if (op.corpusSide) (cFs, cRoot) else (iFs, iRoot)
      val from = new Path(root, op.from)
      op.to match {
        case Some(to) => if (fs.exists(from)) move(fs, from, new Path(root, to))
        case None => fs.delete(from, false)
      }
    }

    private def move(fs: FileSystem, from: Path, to: Path): Unit = {
      fs.mkdirs(to.getParent)
      if (!fs.rename(from, to))
        throw new IllegalStateException(s"admission commit: could not " +
          s"move $from to $to")
    }

    /** the visible data files under `dir`, relative to it */
    private def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory)
          dataFiles(fs, st.getPath).map(f => s"$n/$f")
        else Seq(n)
      }.sorted
  }
}
