package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** EXACT substring deduplication over a document corpus — the
  * sliding-window companion to the fixed-block C4 rule
  * ([[Dedup.dedupSpansGlobal]], q85): any token run of length ≥ `k`
  * that appears more than once ANYWHERE in the corpus (across
  * documents or repeated within one) is found and its maximal covered
  * spans returned or removed. This is the ExactSubstr operation of
  * Lee et al. 2022, "Deduplicating Training Data Makes Language
  * Models Better" (arXiv:2107.06499) — there built on a single-node
  * suffix array; here re-expressed in Spark's partial-agg/shuffle
  * algebra, which is what actually survives 100 TB:
  *
  *  - a duplicated run of length L ≥ k contains a duplicated k-gram
  *    at every start, and conversely every duplicated k-gram is a
  *    duplicated run of exactly k — so k IS the minimum-match-length
  *    threshold (Lee et al. use 50 BPE tokens), and finding +
  *    merging duplicated k-gram anchors reconstructs exactly the
  *    maximal duplicated spans. No suffix array needed.
  *  - anchors are hashed map-side (`hashKeys`, default): the shuffle
  *    carries (id, start, 8-byte xxhash64), never k tokens of text —
  *    gram bytes × k blowup stays in the map stage. The duplicate
  *    set comes from a partial-agg `groupBy(count > 1)` (combiners
  *    absorb heavy grams; no windowed full-partition buffering), and
  *    the anchor table joins it on the hash. 64-bit collisions
  *    (~n²/2⁶⁵) can only over-remove and are the documented trade of
  *    hash mode; `hashKeys = false` keys on the gram text itself for
  *    exactness (the oracle mode, q133/q134).
  *  - span reconstruction is a per-document gaps-and-islands window
  *    over anchor starts — state is one doc's anchors, never the
  *    corpus.
  *
  * Spans are TOKEN intervals over [[TextFunctions.tokens]] (1-based,
  * inclusive), so removal composes with every other token metric in
  * the engine; removed text is re-joined with single spaces (the q85
  * whitespace-normalization convention).
  */
object SubstringDedup {

  /** k-gram anchor table: (id, s, g) — gram starting at token s
    * (1-based). `g` is the gram text, or its xxhash64 when
    * `hashKeys` (computed map-side, before any exchange). */
  private def grams(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, hashKeys: Boolean): DataFrame = {
    // r18 opt: spread the tokenize + k-gram explosion (guide §2.5 —
    // a small single-file scan arrives as ONE partition and would
    // serialize the per-position hashing; never shrinks wide inputs)
    val g = Partitioning.spread(docs
        .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
        .filter(size(col("__t")) >= k))
      .select(col(idCol), posexplode(transform(
        sequence(lit(1), size(col("__t")) - (k - 1)),
        i => concat_ws(" ", slice(col("__t"), i, lit(k))))))
      .select(col(idCol), (col("pos") + 1).as("s"), col("col").as("g"))
    if (hashKeys) g.withColumn("g", xxhash64(col("g"))) else g
  }

  /** merge a doc's covered anchor starts into maximal spans:
    * gaps-and-islands — an anchor opens a new island iff it starts
    * past the running max end + 1 (adjacent coverage merges). */
  private def mergeSpans(covered: DataFrame, idCol: String,
                         k: Int): DataFrame = {
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("s"))
    val prevEnd = max(col("s") + lit(k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    covered
      .withColumn("__new", when(
        col("s") > coalesce(prevEnd, lit(Long.MinValue)) + 1, 1L)
        .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("s")).cast("long").as("s"),
        (max(col("s")) + lit(k - 1)).cast("long").as("e"))
      .select(col(idCol), col("s"), col("e"))
  }

  /** Maximal duplicated-substring spans per document: every maximal
    * token interval of length ≥ k whose every k-window appears ≥2
    * times in the corpus. `keepFirst = true` exempts the globally
    * first occurrence of each gram (ordered by (id, s)) — the
    * all-but-one-copy policy of Lee et al.; `false` flags BOTH sides
    * of every duplication (the symmetric audit view). */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, keepFirst: Boolean = false,
                     hashKeys: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = grams(docs, idCol, textCol, k, hashKeys)
    // partial-agg duplicate set; the winner key rides the same agg so
    // keepFirst costs no extra shuffle. min(struct) is lexicographic
    // (id, s) — the global first occurrence.
    val dup = g.groupBy(col("g"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col(idCol), col("s"))).as("__w"))
      .filter(col("__n") > 1)
      .select(col("g"), col("__w"))
    val joined = g.join(dup, Seq("g"))
    val covered =
      if (keepFirst)
        joined.filter(struct(col(idCol), col("s")) =!= col("__w"))
      else joined
    mergeSpans(covered.select(col(idCol), col("s")), idCol, k)
  }

  // ---- incremental screen: persisted gram index -----------------------

  /** Gram-index FORMAT version, stamped as `__fmt` (the
    * [[Dedup.minhashIndex]] versioning discipline — a stale or
    * foreign index must throw, not silently screen with ~zero
    * recall). Bump on any change to tokens()/gram hashing. */
  val GramIndexFormat: Int = 1

  private[graft] def gramAsked(k: Int, hashKeys: Boolean): Seq[(String, Any)] =
    Seq("__fmt" -> GramIndexFormat, "__k" -> k, "__hashKeys" -> hashKeys)

  private def stampGramParams(idx: DataFrame, k: Int,
                              hashKeys: Boolean): DataFrame =
    idx.withColumn("__fmt", lit(GramIndexFormat))
      .withColumn("__k", lit(k))
      .withColumn("__hashKeys", lit(hashKeys))

  /** Persistable DISTINCT-gram index of a corpus — the suffix-array
    * replacement for incremental substring screening: one column of
    * distinct k-gram keys (8-byte hashes by default), built with one
    * partial-agg distinct, ids and text never stored. Build params
    * ride embedded `__` columns and are validated on every use
    * (Dedup's format-versioning machinery; an admission state
    * validates once, at adoption). At scale, persist
    * partitioned/bucketed by the gram key so the screen join
    * co-locates. */
  def gramIndex(corpus: DataFrame, idCol: String, textCol: String,
                k: Int, hashKeys: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    stampGramParams(
      grams(corpus, idCol, textCol, k, hashKeys).select(col("g")).distinct(),
      k, hashKeys)
  }

  /** Fold a new batch's grams into a persisted [[gramIndex]] WITHOUT
    * re-reading the corpus. Update ≡ rebuild EXACTLY (distinct-union
    * is the whole merge — no counts, no caps), spec-pinned. The
    * returned frame is the FULL merged index — writing it back is an
    * index-proportional rewrite; at ingestion cadence the substring
    * admission cycle writes only [[gramDelta]]
    * ([[graft.streaming.Admission.admitBatchSubstring]]). */
  def gramIndexUpdate(index: DataFrame, newBatch: DataFrame,
                      idCol: String, textCol: String, k: Int,
                      hashKeys: Boolean = true,
                      acceptUnvalidated: Boolean = false): DataFrame = {
    val old = Dedup.validateIndexParams(index, "gramIndexUpdate",
      gramAsked(k, hashKeys), acceptUnvalidated)
    stampGramParams(
      old.select(col("g"))
        .unionByName(
          grams(newBatch, idCol, textCol, k, hashKeys).select(col("g")))
        .distinct(),
      k, hashKeys)
  }

  /** An admission commit's index delta: the batch's grams that
    * `index` (an admission state's rows) lacks, stamped. One anti
    * join in the exactAgainst double-broadcast shape: the batch's
    * distinct grams broadcast into ONE index semi-join scan (the index
    * never shuffles), the small hit set broadcasts back into the anti
    * join. The delta is disjoint from the index, so base ∪ deltas has
    * the distinct-gram content of [[gramIndexUpdate]] and of a
    * rebuild. */
  private[graft] def gramDelta(batch: DataFrame, index: DataFrame,
                               idCol: String, textCol: String, k: Int,
                               hashKeys: Boolean): DataFrame = {
    val batchGrams = grams(batch, idCol, textCol, k, hashKeys)
      .select(col("g")).distinct()
    val hits = index.select(col("g"))
      .join(broadcast(batchGrams), Seq("g"), "left_semi")
    stampGramParams(batchGrams.join(broadcast(hits), Seq("g"), "left_anti"),
      k, hashKeys)
  }

  /** [[duplicateSpans]] against a persisted corpus [[gramIndex]]:
    * maximal spans of the BATCH whose every k-window already exists
    * in the corpus — the substring face of the incremental screen
    * family (exact/jaccard/cosine/…), closing the admission loop for
    * span-level contamination. Per-batch cost: band the batch's own
    * grams and semi-join the index on the gram key; the corpus is
    * never rescanned, the span merge windows only batch anchors.
    * `k`/`hashKeys` must match the build (validated; mismatch
    * throws rather than silently collapsing recall). */
  def duplicateSpansAgainst(newBatch: DataFrame, corpusIndex: DataFrame,
                            idCol: String, textCol: String, k: Int,
                            hashKeys: Boolean = true,
                            acceptUnvalidated: Boolean = false): DataFrame =
    spansAgainst(newBatch, Dedup.validateIndexParams(corpusIndex,
      "duplicateSpansAgainst", gramAsked(k, hashKeys), acceptUnvalidated),
      idCol, textCol, k, hashKeys)

  /** [[duplicateSpansAgainst]]'s core over an index whose stamp is
    * already checked (the admission cycle's state rows) */
  private[graft] def spansAgainst(newBatch: DataFrame, index: DataFrame,
                                  idCol: String, textCol: String, k: Int,
                                  hashKeys: Boolean): DataFrame = {
    val covered = grams(newBatch, idCol, textCol, k, hashKeys)
      .join(index.select(col("g")), Seq("g"), "left_semi")
    mergeSpans(covered.select(col(idCol), col("s")), idCol, k)
  }

  /** cut the tokens covered by `spans` out of `docs` and re-join the
    * survivors with spaces (shared by both removal faces) */
  private def cutSpans(docs: DataFrame, spans: DataFrame, idCol: String,
                       textCol: String, outCol: String): DataFrame = {
    val byDoc = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("s"), col("e"))).as("__spans"))
    docs.join(byDoc, Seq(idCol), "left")
      .withColumn("__spans",
        coalesce(col("__spans"), array().cast("array<struct<s:long,e:long>>")))
      .withColumn(outCol, concat_ws(" ",
        filter(TextFunctions.tokens(col(textCol)),
          (t: Column, i: Column) => !exists(col("__spans"),
            sp => (i + 1) >= sp.getField("s") && (i + 1) <= sp.getField("e")))))
      .drop("__spans")
  }

  /** [[duplicateSpans]] applied: drop every token inside a covered
    * span and re-join the survivors with spaces as `outCol`
    * (documents with nothing duplicated pass through with normalized
    * whitespace; a fully-duplicated document becomes ''). Defaults to
    * the keep-first policy so exactly the redundant copies vanish. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           k: Int, keepFirst: Boolean = true,
                           hashKeys: Boolean = true,
                           outCol: String = "text_dedup"): DataFrame =
    cutSpans(docs,
      duplicateSpans(docs, idCol, textCol, k, keepFirst, hashKeys),
      idCol, textCol, outCol)

  /** [[duplicateSpansAgainst]] applied: SCRUB corpus-known runs out
    * of a batch instead of rejecting whole documents — every ≥k-token
    * run already present in the corpus index is cut and the
    * survivors re-join with spaces. The middle ground between
    * admitting contaminated text verbatim and the admission loop's
    * whole-doc coverage rejection; same per-batch cost shape as the
    * screen (batch-side banding + one semi join, corpus never
    * rescanned). */
  def removeDuplicateSpansAgainst(newBatch: DataFrame, corpusIndex: DataFrame,
                                  idCol: String, textCol: String, k: Int,
                                  hashKeys: Boolean = true,
                                  acceptUnvalidated: Boolean = false,
                                  outCol: String = "text_dedup"): DataFrame =
    cutSpans(newBatch,
      duplicateSpansAgainst(newBatch, corpusIndex, idCol, textCol, k,
        hashKeys, acceptUnvalidated),
      idCol, textCol, outCol)
}
