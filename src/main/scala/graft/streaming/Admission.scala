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
  * incremental-screen family (Dedup.exactAgainst and the
  * index-backed near-dup screens) exists to serve, closed end to end:
  * each arriving batch of documents is screened against the persisted
  * corpus, the survivors are appended to the corpus, and the persisted
  * index grows by them so the NEXT batch screens against them too —
  * the corpus is never re-banded, ever (cost measured flat in
  * BENCH_NOTES §index-maintenance while rebuild cost rides corpus
  * size).
  *
  * Reference scope: the reference library has no streaming surface at
  * all (SURVEY §2 row "Streams"); this is a DRIVER-EXT capability a
  * training-data pipeline needs at 100 TB, built on Structured
  * Streaming's foreachBatch + the batch screen operators.
  *
  * Five admission spaces share one cycle: MinHash ([[admitBatch]]),
  * embedding, semantic, signature and substring. Per batch, in order:
  *   0. recovery: finish the last commit's file moves if a crash
  *      interrupted them, and delete whatever an uncommitted cycle
  *      staged — before anything reads.
  *   1. the EXACT ID screen against the corpus
  *      ([[Dedup.exactAgainst]]), then one row per id, settled into a
  *      local checkpoint whose job observes its row count. This is also
  *      what makes a foreachBatch REPLAY a no-op: foreachBatch is
  *      at-least-once, and rows a committed cycle appended carry ids
  *      the corpus now contains, so they drop here.
  *   2. the space's near-dup screen against the persisted index
  *      (MinHash: [[Dedup.minhashPairsAgainstIndex]] semantics —
  *      batch-bounded banding, one corpus scan for jaccard
  *      verification), lazily over the step-1 checkpoint as it
  *      stands: nothing is cached.
  *   3. optional within-batch near-dedup among the survivors
  *      ([[Dedup.minhashDedup]], batch-bounded). Corpus-screen FIRST:
  *      if batch doc B's only near-dup partner A was itself dropped
  *      by the corpus screen, B is still admitted — within-first
  *      would have dropped B in favor of A and then lost A too.
  *   4. settle the admitted rows as in step 1 (steps 2–3 run in that
  *      execution), write them and their index delta, and commit. A
  *      steady-state MinHash cycle without the within-batch pass or
  *      `collectStats` is 4 SQL executions (pinned in AdmissionSpec,
  *      as are the other spaces' cycles).
  *
  * ONE ATOMIC COMMIT PER CYCLE. The index is a base plus deltas;
  * `indexPath/_graft_state/vN.json` (the manifest) names the base and
  * delta files relative to `indexPath`, and holds the corpus and index
  * schemas and the index's validated stamp. A cycle writes its
  * admitted rows (the corpus delta) and the index delta to hidden
  * staging directories and commits by renaming a temp file to
  * `vN+1.json`; only then are the staged files moved into
  * `corpusPath` and `indexPath`. Reads name their files from the
  * manifest with its schemas: no schema-inference job, no listing
  * job, no stamp scan. The index delta is the admitted batch's own
  * index rows:
  *   - MinHash and embedding: its uncapped bucket rows
  *     ([[Dedup.lshDelta]]). The screen merges the batch-touched
  *     buckets of base ∪ deltas under the cap before it explodes ids,
  *     so it answers exactly as a screen over the compacted index
  *     (pinned in DedupSpec).
  *   - semantic: the batch's [[graft.operators.SemDedup
  *     .assignmentIndex]] rows; signature: its [[Dedup.signatureIndex]]
  *     rows (ids disjoint from the base's: the id screen ran first);
  *     substring: the batch grams the state lacks. Each index is a
  *     set of rows, so base ∪ deltas IS the index.
  * A compaction folds the deltas into a new base (same layout, flat or
  * [[Dedup.indexWritePartitioned]]; the three set-of-rows spaces
  * simply rewrite) as its own commit, when the next read would
  * otherwise name more files than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` (above it
  * the listing itself is a Spark job) — or, for a base already past
  * that, once the deltas outnumber the base files.
  *
  * The first cycle on a state without a manifest ADOPTS it: one
  * listing and one stamp validation of the index, as every cycle paid
  * before manifests. A flat index is adopted in place; a partitioned
  * one only in the layout [[Dedup.indexWritePartitioned]] writes
  * (MinHash and embedding indexes, stamped `__numParts`), which
  * its compactions keep — any other partitioned layout is refused
  * before any write. Once adopted, the state belongs to the admission
  * faces: the standalone folds (`minhashIndexUpdate`,
  * `signatureIndexUpdate`, `gramIndexUpdate`, …) do not know the
  * deltas, and replacing the index means deleting its `_graft_state`
  * too.
  *
  * Crash-safety contract (single writer assumed): a crash before the
  * rename leaves the previous version committed; the next cycle's
  * recovery deletes the staged files, and a replay of the batch
  * starts from scratch. A crash after the rename leaves the new
  * version committed; recovery completes its file moves before the id
  * screen runs, so a replay finds the batch's ids in the corpus and
  * is a no-op, and near-dups of the batch still drop. Pinned for
  * every space, and for [[compactCorpus]], by the fault-injection test
  * in AdmissionSpec. The rename is atomic on the local file system
  * and on HDFS; an object store needs a put-if-absent manifest write
  * instead (S3 conditional writes, GCS generation preconditions),
  * which this class does not do.
  *
  * Plain-read contract. A plain `spark.read.parquet(corpusPath)`
  * returns exactly the committed corpus, never a duplicate: staged
  * files are hidden until their commit moves them in. Between a
  * rename and its moves (and after a crash there, until the next
  * cycle) it returns the previous version. A plain
  * `spark.read.parquet(indexPath)` is never silently stale: for the
  * semantic, signature and substring spaces it is the exact index of
  * the same version (a compaction deletes the old files before it
  * moves the new base in, so no row is seen twice). For MinHash and
  * embedding it is the exact index without deltas; while deltas exist
  * (a compaction deletes them last) their `__maxBucketSize = -1`
  * stamp makes a screen or a fold over the plain read fail validation
  * — the uncapped rows only merge exactly through the state.
  *
  * Cost model at scale. Per cycle the index WRITE is batch-sized (one
  * delta file); the index READ scans base ∪ deltas, as the screen
  * always scanned the whole index. What IS corpus-proportional: each
  * MinHash/embedding cycle READS the corpus twice (the id-screen semi
  * join and the near-dup jaccard/cosine verification join; neither
  * shuffles it, both scan it). At gate scale that is noise
  * (BENCH_NOTES "Full admission cycle scaling" measures flat cycles);
  * at 100 TB it is the dominant term, and the mitigations are
  * storage-layout ones: bucket the corpus by `idCol` — the id screen
  * joins on the raw id (hashKeys = false), so a bucketed corpus joins
  * with ZERO corpus-side exchange and an IN-list id probe prunes
  * buckets (both measured: BENCH_NOTES "r8: Bucketed-corpus id screen
  * measured", SelectedBucketsCount 17/64 for a 20-id probe, corpus
  * never shuffled) — or keep a distilled ids-only keys table beside
  * the index and screen ids against that instead of the corpus; the
  * one-commit manifest is what makes such a keys delta safe to add.
  * The verification join carries the raw text/vector column and
  * derives the payload above the join, so only candidate rows are
  * shingled. The batch is read once per cycle, into the step-1
  * checkpoint that every later branch reads; no in-memory cache is
  * built per cycle. */
object Admission {

  /** per-batch admission telemetry: rows in the arriving batch, rows
    * surviving the exact id screen, rows admitted after all screens
    * (== rows appended to the corpus and folded into the index).
    * `batchRows` is -1 when the cycle ran with `collectStats = false`
    * (it costs one extra Spark job); `afterIdScreen` and `admitted`
    * are always real — each is observed by the job of the local
    * checkpoint the cycle settles anyway (the id-screened batch, the
    * admitted set; see `cycle`), and the latter gates the writes. */
  case class AdmitStats(batchId: Long, batchRows: Long, afterIdScreen: Long,
                        admitted: Long)

  /** What an admission space adds to the shared cycle. `stamp`
    * validates an index stamp against the call (the one distinct
    * param tuple at adoption, None for a zero-row index, or the
    * manifest's) and returns the stamp to record. `delta` gives the
    * admitted batch's stamped index rows, given the state's index rows
    * and stamp. `merge` folds base ∪ delta rows into one index; with
    * `deltasMarked` the deltas fail a plain read's validation, so a
    * compaction deletes them last — otherwise base ∪ deltas is the
    * index and a compaction deletes the old files first. */
  private final case class Space(
      stamp: StampCheck,
      delta: (DataFrame, DataFrame, Seq[(String, Any)]) => DataFrame,
      merge: (DataFrame, Seq[(String, Any)]) => DataFrame,
      deltasMarked: Boolean = false)

  /** an index's stamp (None for a zero-row index) checked against a
    * call; returns the stamp to record */
  private type StampCheck = Option[Map[String, Any]] => Map[String, Any]

  /** a stamp check: `asked` stands in for a zero-row index's stamp */
  private def checked(asked: Seq[(String, Any)])(check: Map[String, Any] => Unit)
  : StampCheck = found => {
    val s = found.getOrElse(asked.toMap)
    check(s)
    s
  }

  /** the stamp check of a space that asks for `asked` by equality */
  private def asking(what: String, asked: Seq[(String, Any)]): StampCheck =
    checked(asked)(Dedup.requireAsked(_, what, asked))

  /** a space whose index is a set of rows: the delta holds rows the
    * state lacks, and a compaction is a plain rewrite co-located on
    * `keys` */
  private def setSpace(stamp: StampCheck, keys: String*)
                      (delta: (DataFrame, DataFrame) => DataFrame): Space =
    Space(stamp, (admitted, rows, _) => delta(admitted, rows),
      (rows, _) => rows.repartition(keys.map(col): _*))

  /** One cycle over the manifest state (contracts in the object
    * scaladoc): recover or adopt, compact when due, then id screen →
    * localCheckpoint → near screen → optional within-batch dedup →
    * localCheckpoint → one commit of the corpus and index deltas. A
    * cycle that admits nothing commits only an adoption. `screen`
    * returns the matched-id column (`id_new`) of the near screen over
    * the settled id-screened batch, the corpus and the state's index
    * rows (stamp columns included); `dedupWithin` dedups the surviving
    * batch against itself. */
  private def cycle(batch: DataFrame, corpusPath: String, indexPath: String,
                    idCol: String, batchId: Long, within: Boolean,
                    collectStats: Boolean, what: String, space: Space,
                    screen: (DataFrame, DataFrame, DataFrame) => DataFrame,
                    dedupWithin: DataFrame => DataFrame): AdmitStats = {
    val st = new State(batch.sparkSession, corpusPath, indexPath)
    val opened = st.open(what, space)
    val m = if (st.compactionDue(opened)) st.compact(opened, space) else opened
    val (corpus, rows) = (st.corpus(m), st.indexRows(m))
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
    val matched = screen(fresh, corpus, rows).select(col("id_new").as(idCol))
    val screened = fresh.join(broadcast(matched), Seq(idCol), "left_anti")
    // the writes below mutate this plan's inputs, so the admitted set
    // is settled first
    val (admitted, nAdmitted) =
      settled(if (within) dedupWithin(screened) else screened)
    if (nAdmitted > 0)
      st.commitDelta(m, admitted, space.delta(admitted, rows, m.stamp))
    else if (m.version == 0) st.commit(m.copy(version = 1))
    AdmitStats(batchId, batchRows, nFresh, nAdmitted)
  }

  /** `df` evaluated once into a local checkpoint, with its row count
    * observed by the checkpoint's own job */
  private def settled(df: DataFrame): (DataFrame, Long) = {
    val rows = Observation()
    val out = df.observe(rows, count(lit(1)).as("rows")).localCheckpoint()
    (out, rows.get("rows").asInstanceOf[Long])
  }

  /** [[cycle]] for the MinHash and embedding spaces: the stamp asks
    * for the build params and the cap, the delta is the batch's
    * uncapped bucket rows, and the screen merges the touched buckets
    * under the cap */
  private def lshCycle(batch: DataFrame, corpusPath: String,
                       indexPath: String, idCol: String, batchId: Long,
                       within: Boolean, collectStats: Boolean,
                       f: Dedup.Lsh, what: String, maxBucketSize: Int,
                       threshold: Double,
                       dedupWithin: DataFrame => DataFrame): AdmitStats =
    cycle(batch, corpusPath, indexPath, idCol, batchId, within,
      collectStats, what,
      Space(asking(what, Dedup.withCap(f.params, maxBucketSize)),
        (admitted, _, stamp) => Dedup.lshDelta(f, admitted, stamp),
        Dedup.lshCompact, deltasMarked = true),
      screen = (fresh, corpus, rows) => Dedup.lshScreen(f, fresh, corpus,
        rows, threshold, broadcastNew = true, mergeCap = Some(maxBucketSize)),
      dedupWithin)

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
    * centers is silently wrong). The index delta assigns only the
    * admitted batch (one codegen pass — the standing corpus is never
    * re-assigned). A partitioned index is refused at adoption. Within-
    * batch stage: [[graft.operators.SemDedup.semDedup]] with the
    * min_id keep rule. */
  def admitBatchSemantic(batch: DataFrame, corpusPath: String,
                         indexPath: String, idCol: String,
                         vecCol: String, centers: Seq[Seq[Double]],
                         minCosine: Double = 0.95,
                         maxClusterSize: Int = 10000,
                         dedupWithinBatch: Boolean = true,
                         batchId: Long = -1L,
                         collectStats: Boolean = true): AdmitStats = {
    import graft.operators.SemDedup
    cycle(batch, corpusPath, indexPath, idCol, batchId, dedupWithinBatch,
      collectStats, "admitBatchSemantic",
      setSpace(checked(SemDedup.centersStamp(centers))(
          SemDedup.requireCentersStamp(_, centers)), "cluster")(
        (admitted, _) => SemDedup.assignmentIndex(admitted, idCol, vecCol,
          centers)),
      screen = (fresh, corpus, rows) => SemDedup.screenCore(
        rows.select(col("id").as("id_corpus"), col("cluster")),
        corpus.select(col(idCol).as("id_corpus"), col(vecCol).as("__vc")),
        fresh, idCol, vecCol, centers, minCosine, maxClusterSize, 0, 0),
      dedupWithin = screened => SemDedup.semDedup(screened, idCol, vecCol,
        centers, minCosine, maxClusterSize, keep = "min_id"))
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
    * index delta is the admitted batch's own signature index. A
    * partitioned index is refused at adoption. */
  def admitBatchSignature(batch: DataFrame, corpusPath: String,
                          indexPath: String, idCol: String,
                          sigCol: String, maxDistance: Int = 3,
                          maxBucketSize: Int = 1000,
                          dedupWithinBatch: Boolean = true,
                          batchId: Long = -1L,
                          collectStats: Boolean = true): AdmitStats =
    cycle(batch, corpusPath, indexPath, idCol, batchId, dedupWithinBatch,
      collectStats, "admitBatchSignature",
      setSpace(asking("admitBatchSignature",
        Dedup.signatureAsked(maxDistance)), "chunk", "key")((admitted, _) =>
        Dedup.signatureIndex(admitted, idCol, sigCol, maxDistance)),
      screen = (fresh, _, rows) => Dedup.signatureScreenCore(fresh,
          rows.select(col("chunk"), col("key"), col("id"), col("sig")),
          idCol, sigCol, maxDistance, maxBucketSize)
        .withColumnRenamed("id_b", "id_new"),
      dedupWithin = screened => Dedup.signatureDedup(screened, idCol,
        sigCol, maxDistance, maxBucketSize))

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
    * survives its own batch). The index delta is BATCH-BOUNDED: only
    * the admitted batch's grams the state lacks
    * ([[graft.operators.SubstringDedup.gramDelta]]). Trickle
    * admission's file count is bounded by the compaction policy of
    * the object scaladoc; a compaction only reshapes the listing, so
    * K trickle cycles ≡ one rebuild (spec-pinned in AdmissionSpec). */
  def admitBatchSubstring(batch: DataFrame, corpusPath: String,
                          indexPath: String, idCol: String, textCol: String,
                          k: Int, maxDupCoverage: Double = 0.5,
                          hashKeys: Boolean = true,
                          dedupWithinBatch: Boolean = false,
                          batchId: Long = -1L,
                          collectStats: Boolean = true): AdmitStats = {
    require(maxDupCoverage >= 0.0 && maxDupCoverage < 1.0,
      s"maxDupCoverage must be in [0,1), got $maxDupCoverage")
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
    cycle(batch, corpusPath, indexPath, idCol, batchId, dedupWithinBatch,
      collectStats, "admitBatchSubstring",
      setSpace(asking("admitBatchSubstring",
        SubstringDedup.gramAsked(k, hashKeys)), "g")((admitted, rows) => SubstringDedup.gramDelta(admitted, rows,
        idCol, textCol, k, hashKeys)),
      screen = (fresh, _, rows) => overCovered(fresh,
          SubstringDedup.spansAgainst(fresh, rows, idCol, textCol, k,
            hashKeys))
        .select(col(idCol).as("id_new")),
      dedupWithin = screened => screened.join(
        overCovered(screened, SubstringDedup.duplicateSpans(screened, idCol,
          textCol, k, keepFirst = true, hashKeys = hashKeys)),
        Seq(idCol), "left_anti"))
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

  /** [[admitStream]]'s SEMANTIC sibling (r15):
    * [[admitBatchSemantic]] per micro-batch through foreachBatch +
    * checkpoint, same replay contract (the id screen makes an
    * at-least-once replay a no-op). `centers` are driver-state by
    * nature (they ride the assignment's literal / routed argmin), so
    * they are fixed for the life of the query — re-fitting centers
    * mid-stream would silently re-cluster the corpus; stop the query,
    * re-fit, rebuild the assignment index, restart (the
    * [[graft.operators.SemDedup.fitCenters]] one-time discipline). */
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

  /** foreachBatch driver loop shared by the admitStream faces.
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

  /** Compact the corpus of the admission state at (`corpusPath`,
    * `indexPath`) after many per-batch appends — the classic
    * small-files ingestion pathology (every admission cycle appends
    * its own files; a year of hourly batches is ~10k tiny files whose
    * listing/open overhead eventually dominates scans). Rewrites the
    * corpus into `partitions` files as one manifest commit: the new
    * files are staged, and after the rename the old files are deleted
    * before the new ones move in, so a plain read never sees a row
    * twice; recovery replays an interrupted compaction like any other
    * commit. Row-preserving (returns the row count its own write
    * observed); run it between admission cycles under the same
    * single-writer contract. Refuses a state that has no manifest yet
    * (no admission cycle has run). At 100 TB compact incrementally —
    * per date/prefix partition — rather than rewriting the world. */
  def compactCorpus(spark: SparkSession, corpusPath: String,
                    indexPath: String, partitions: Int): Long = {
    require(partitions > 0, s"partitions must be positive, got $partitions")
    val st = new State(spark, corpusPath, indexPath)
    st.compactCorpus(st.committed("compactCorpus"), partitions)
  }

  /** The index of the MinHash/embedding state at (`corpusPath`,
    * `indexPath`) as one merged, stamped frame — what a compaction
    * would write. Recovers the state first, like a cycle; commits
    * nothing. */
  private[graft] def mergedIndex(spark: SparkSession, corpusPath: String,
                                 indexPath: String): DataFrame = {
    val st = new State(spark, corpusPath, indexPath)
    val m = st.committed("mergedIndex")
    Dedup.lshCompact(st.indexRows(m), m.stamp)
  }

  // ---- manifest state ---------------------------------------------------

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

  /** The file side of an admission state: manifests, recovery, reads,
    * commits and compaction. Holds no state between cycles — every
    * cycle reads the newest manifest afresh. */
  private final class State(spark: SparkSession, corpusPath: String,
                            indexPath: String) {
    private val conf = spark.sparkContext.hadoopConfiguration
    private val (cRoot, iRoot) = (new Path(corpusPath), new Path(indexPath))
    private val (cFs, iFs) = (cRoot.getFileSystem(conf), iRoot.getFileSystem(conf))
    private val stateDir = new Path(iRoot, StateDir)

    /** the newest manifest after recovery, its stamp checked by
      * `space`, or the state adopted (as version 0) when there is
      * none */
    def open(what: String, space: Space): Manifest =
      recovered() match {
        case Some(m) => space.stamp(Some(m.stamp.toMap)); m
        case None => adopt(what, space)
      }

    /** the newest manifest after recovery; refused when there is none */
    def committed(what: String): Manifest = recovered().getOrElse(
      throw new IllegalArgumentException(s"$what: $indexPath holds no " +
        "admission state yet — run an admission cycle first, it adopts " +
        "the index"))

    private def recovered(): Option[Manifest] = {
      val latest = newest()
      recover(latest)
      latest
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
      * directory survives only an interrupted commit. The committed
      * version's moves and deletes are replayed, then every staged
      * file is deleted. */
    private def recover(m: Option[Manifest]): Unit = {
      val stages = Seq(cFs -> new Path(cRoot, Staging),
        iFs -> new Path(iRoot, Staging))
      if (stages.exists { case (fs, p) => fs.exists(p) }) {
        m.foreach(m => applyOps(m.pending))
        stages.foreach { case (fs, p) => fs.delete(p, true) }
      }
    }

    /** No manifest yet: one listing and one stamp validation of the
      * index, and the corpus schema, as every cycle paid before. A
      * partitioned layout without `__numParts` is refused: a
      * compaction could not lay it out again as it is. */
    private def adopt(what: String, space: Space): Manifest = {
      val index = spark.read.parquet(indexPath)
      val stamp = space.stamp(Dedup.validatedStamp(index, what, Nil))
      val partitioned = index.columns.contains("part")
      require(!partitioned || stamp.contains("__numParts"),
        s"$what: the index at $indexPath is partitioned but carries no " +
          "__numParts stamp, so its layout cannot be kept — only the " +
          "layout Dedup.indexWritePartitioned writes (MinHash and " +
          "embedding indexes) is adopted partitioned. Rewrite the index " +
          "flat or with indexWritePartitioned.")
      val schema = StructType(index.schema.filterNot(_.name == "part"))
      val root = iFs.makeQualified(iRoot).toUri
      Manifest(0, spark.read.parquet(corpusPath).schema, schema,
        schema.fieldNames.toSeq.flatMap(k => stamp.get(k).map(k -> _)),
        partitioned,
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
      * own commit. Marked deltas are deleted last: a plain read sees
      * them (and fails validation) until the base it sees is the new
      * one. Otherwise the old files go first, so a plain read never
      * sees a row twice. */
    def compact(m: Manifest, space: Space): Manifest = {
      val v = m.version + 1
      val merged = space.merge(indexRows(m), m.stamp)
      val moves = staged(corpusSide = false, v, identity) { out =>
        if (m.partitioned) Dedup.indexWritePartitioned(merged, out,
          m.stamp.collectFirst { case ("__numParts", n: Int) => n }.get)
        else merged.write.parquet(out)
      }
      val old = (m.base ++ m.deltas).map(FileOp(false, _, None))
      val next = m.copy(version = v, base = moves.flatMap(_.to), deltas = Nil,
        pending = if (space.deltasMarked) moves ++ old else old ++ moves)
      commit(next)
      next.copy(pending = Nil)
    }

    /** One cycle's commit: the admitted rows and the index `delta`
      * staged hidden, then the manifest rename, then their moves into
      * the corpus and beside the index base. */
    def commitDelta(m: Manifest, admitted: DataFrame, delta: DataFrame): Unit = {
      val v = m.version + 1
      val corpusMoves = staged(corpusSide = true, v, identity)(
        admitted.write.parquet(_))
      stepHook("corpus-staged")
      val dir = if (m.partitioned) s"$PartDeltas/" else ""
      val indexMoves = staged(corpusSide = false, v,
        n => s"${dir}delta-v$v-$n")(delta.coalesce(1).write.parquet(_))
      stepHook("index-staged")
      commit(m.copy(version = v, deltas = m.deltas ++ indexMoves.flatMap(_.to),
        pending = corpusMoves ++ indexMoves))
    }

    /** The corpus rewritten into `partitions` files as one commit: the
      * old files are deleted before the new ones move in. */
    def compactCorpus(m: Manifest, partitions: Int): Long = {
      val v = m.version + 1
      val old = dataFiles(cFs, cRoot).map(FileOp(true, _, None))
      val rows = Observation()
      val moves = staged(corpusSide = true, v, identity)(
        corpus(m).repartition(partitions)
          .observe(rows, count(lit(1)).as("rows")).write.parquet(_))
      stepHook("corpus-staged")
      commit(m.copy(version = v, pending = old ++ moves))
      rows.get("rows").asInstanceOf[Long]
    }

    /** `write` into one side's hidden staging directory for version
      * `v`; returns the moves that bring its files in, each to
      * `to(file)` */
    private def staged(corpusSide: Boolean, v: Long, to: String => String)
                      (write: String => Unit): Seq[FileOp] = {
      val (fs, root) = if (corpusSide) (cFs, cRoot) else (iFs, iRoot)
      val dir = s"$Staging/v$v"
      write(new Path(root, dir).toString)
      dataFiles(fs, new Path(root, dir))
        .map(f => FileOp(corpusSide, s"$dir/$f", Some(to(f))))
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
        case Some(to) => if (fs.exists(from)) {
          val dest = new Path(root, to)
          fs.mkdirs(dest.getParent)
          if (!fs.rename(from, dest))
            throw new IllegalStateException(s"admission commit: could not " +
              s"move $from to $dest")
        }
        case None => fs.delete(from, false)
      }
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
