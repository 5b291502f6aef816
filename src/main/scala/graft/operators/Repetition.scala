package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** The FULL Gopher repetition-filter suite (Rae et al. 2021,
  * arXiv:2112.11446, Appendix A1.2 — the half of the published filter
  * [[TextFunctions.gopherFlags]] (A1.1) deliberately left to the
  * simplified [[TextFunctions.repetitionRatio]] until r15): per
  * document,
  *
  *   - duplicate LINE / PARAGRAPH fractions — the share of unit
  *     occurrences beyond each value's first (a unit appearing k
  *     times contributes k−1 duplicates), and the share of unit
  *     CHARACTERS those duplicate occurrences carry;
  *   - TOP n-gram character fractions (n = 2, 3, 4) — characters
  *     covered by all occurrences of the single most frequent word
  *     n-gram;
  *   - DUPLICATED n-gram character fractions (n = 5..10) — characters
  *     covered by ANY occurrence of any n-gram that occurs more than
  *     once, counted ONCE per character ("taking care not to count
  *     characters that occur in overlapping n-grams more than once",
  *     §A1.2) — interval-union coverage, the q138 island-merge shape.
  *
  * Conventions (each is a choice the paper leaves open; all are
  * pinned by the SQL oracles and stated here so a user can map them
  * to their own reproduction):
  *   - lines split on single newlines (`\r?\n` — CRLF corpora clean
  *     like LF ones, the [[TextFunctions.c4CleanLines]] ADVICE-r15
  *     rule; Spark trim() strips only spaces, so the '\r' must die
  *     at the split), paragraphs on blank-line runs
  *     (`(\r?\n){2,}`); units are trimmed, empty units dropped;
  *   - n-grams are over [[TextFunctions.tokens]] words (lowercased
  *     whitespace tokens — the engine-wide token metric), and a
  *     gram's character extent is its extent in the single-space
  *     JOINED token text (internal spaces counted, the join
  *     normalization the paper's repro implementations use);
  *   - fractions with an empty denominator (no units / too few
  *     tokens) are 0.0 — fail-open, matching gopherFlags' treatment
  *     of rules whose inputs are absent; null text → all fractions
  *     0.0.
  *
  * Shape at 100 TB: every stage is explode → partial-aggregated
  * groupBy keyed on (doc, unit|gram) then (doc) — shuffle rows are
  * corpus-linear (Σ_n grams ≈ 6 × tokens for the dup band), no
  * window over anything bigger than one document's duplicated-gram
  * spans, no driver state, no UDFs. The interval-union coverage is
  * a per-doc sort of DUPLICATED spans only (bounded by the doc's own
  * gram count), not a corpus-wide window.
  */
object Repetition {

  /** union cardinality of SORTED (cs, ce) char intervals — one linear
    * aggregate() fold emitting (covered, curEnd); adjacent-or-
    * overlapping intervals merge (union cardinality either way).
    * Shared by [[dupNgramCoverage]] and the fused
    * [[gopherRepetitionFlags]] pipeline. */
  private def spanUnion(sortedSpans: Column): Column =
    aggregate(sortedSpans,
      struct(lit(0L).as("cov"), lit(-1L).as("end")),
      (acc, sp) => struct(
        (acc.getField("cov") +
          greatest(lit(0L),
            sp.getField("__ce").cast("long") -
              greatest(sp.getField("__cs").cast("long"),
                acc.getField("end") + 1L) + 1L)).as("cov"),
        greatest(acc.getField("end"),
          sp.getField("__ce").cast("long")).as("end")),
      acc => acc.getField("cov"))

  /** Duplicate line/paragraph fractions (4 of the 12 A1.2 rules):
    * (idCol, dup_line_frac, dup_line_char_frac, dup_para_frac,
    * dup_para_char_frac). A unit value appearing k times contributes
    * k−1 duplicate occurrences (and (k−1)·len duplicate characters);
    * denominators are total occurrences / total characters of all
    * units. Rows with no units (blank/null text) get 0.0 across. */
  def dupUnitFractions(df: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val id = col(idCol)
    def units(pattern: String): Column =
      filter(transform(split(coalesce(col(textCol), lit("")), pattern),
        u => trim(u)), u => length(u) > 0)
    def fracs(pattern: String, prefix: String): DataFrame = {
      val occ = df.select(id, explode(units(pattern)).as("__u"))
        .groupBy(id, col("__u"))
        .agg(count(lit(1)).as("__k"))
        .withColumn("__len", length(col("__u")))
      occ.groupBy(id).agg(
        (sum(col("__k") - 1).cast("double") /
          sum(col("__k")).cast("double")).as(s"dup_${prefix}_frac"),
        (sum((col("__k") - 1) * col("__len")).cast("double") /
          sum(col("__k") * col("__len")).cast("double"))
          .as(s"dup_${prefix}_char_frac"))
    }
    val lines = fracs("\r?\n", "line")
    val paras = fracs("(\r?\n){2,}", "para")
    // left joins + 0.0 fill: a doc with no units appears in neither
    // aggregate; char denominators can never be 0 for a doc that has
    // units (units are non-empty), so the only null source is absence
    df.select(id).distinct()
      .join(lines, Seq(idCol), "left")
      .join(paras, Seq(idCol), "left")
      .select(id +:
        Seq("dup_line_frac", "dup_line_char_frac",
            "dup_para_frac", "dup_para_char_frac")
          .map(c => coalesce(col(c), lit(0.0)).as(c)): _*)
  }

  /** TOP n-gram character fractions (3 of the 12 rules; n = 2, 3, 4
    * by default): characters covered by every occurrence of the
    * single most frequent word n-gram, over the length of the
    * single-space joined token text — count × (gram length) /
    * joined length. The argmax tie-breaks deterministically: highest
    * count, then longest gram, then lexicographically largest.
    * Output: (idCol, top2_char_frac, top3_char_frac, top4_char_frac
    * — one column per requested n). Docs with fewer than n tokens
    * get 0.0. */
  def topNgramFractions(df: DataFrame, idCol: String, textCol: String,
                        ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad ns: $ns")
    val id = col(idCol)
    // tokens() MUST be materialized as a column before the per-gram
    // lambdas reference it: Catalyst does no CSE inside HOF lambdas
    // (the TextFunctions.bound pitfall), so an inline tokens()
    // expression would re-run the regex split ONCE PER GRAM —
    // O(L²) per doc (caught live: q253 priced 27 s at sf0.1 before
    // this, 1-2 s after)
    val base = df.select(id, TextFunctions.tokens(col(textCol)).as("__toks"))
    val tk = col("__toks")
    val grams = base.select(id,
        (length(concat_ws(" ", tk))).as("__total"),
        // sequence(1, stop) with stop < 1 would generate a DESCENDING
        // sequence (Spark's default step is sign-of-range) — docs with
        // fewer than n tokens must explode to nothing, not to [1, 0]
        explode(flatten(transform(typedLit(ns.toArray), n =>
          transform(
            when(size(tk) >= n, sequence(lit(1), size(tk) - n + lit(1)))
              .otherwise(array().cast("array<int>")),
            s => struct(n.as("n"),
              length(concat_ws(" ", slice(tk, s, n))).as("len"),
              concat_ws(" ", slice(tk, s, n)).as("gram"))))))
          .as("__g"))
      .select(id, col("__total"), col("__g.n").as("__n"),
        col("__g.len").as("__len"), col("__g.gram").as("__gram"))
    val counted = grams
      .groupBy(id, col("__n"), col("__gram"))
      .agg(count(lit(1)).as("__k"), first(col("__total")).as("__total"))
      .withColumn("__len", length(col("__gram")))
    // per (doc, n): deterministic argmax via struct-max — highest
    // count, then longest, then lexicographically LARGEST gram (the
    // direction struct-max gives for free; any fixed rule works, the
    // oracle replays this one) — partial-aggregable, no window
    val top = counted
      .select(id, col("__n"),
        struct(col("__k"), col("__len"),
          col("__gram")).as("__cand"),
        col("__total"))
      .groupBy(id, col("__n"))
      .agg(max(col("__cand")).as("__top"),
        first(col("__total")).as("__total"))
      .select(id, col("__n"),
        (col("__top.__k") * col("__top.__len")).cast("double")
          ./(col("__total").cast("double")).as("__frac"))
    // ONE map-pivot, not one join per n: a join-per-n fan-out would
    // re-execute the whole gram pipeline once per band (caught live
    // on the dup-coverage sibling — 6 re-runs priced most of its
    // wall); collect (n -> frac) into a map per doc instead
    val byDoc = top.groupBy(id)
      .agg(map_from_entries(collect_list(
        struct(col("__n"), col("__frac")))).as("__m"))
    df.select(id).distinct()
      .join(byDoc, Seq(idCol), "left")
      .select(id +: ns.map(n =>
        coalesce(element_at(col("__m"), lit(n)), lit(0.0))
          .as(s"top${n}_char_frac")): _*)
  }

  /** DUPLICATED n-gram character coverage (six of the 12 rules:
    * n = 5..10 by default): for each n, the fraction of the joined
    * token text's characters lying inside ANY occurrence of an
    * n-gram that occurs MORE THAN ONCE in the document — counted
    * once per character via interval union (sorted duplicated spans,
    * q138's island merge, per (doc, n)). Output: (idCol,
    * dup5_char_frac .. dup10_char_frac). Docs with fewer than n+1
    * tokens (can't duplicate) get 0.0. */
  def dupNgramCoverage(df: DataFrame, idCol: String, textCol: String,
                       ns: Seq[Int] = Seq(5, 6, 7, 8, 9, 10)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"bad ns: $ns")
    val id = col(idCol)
    // tokens materialized ONCE as a column (the q253 HOF-CSE lesson —
    // see topNgramFractions); offsets and total derive from it.
    // char offsets of each token in the single-space joined text:
    // offs(i) = start of token i (0-based); offs has nTok+1 entries
    // (the sentinel simplifies span ends). aggregate() keeps this a
    // single Column pass — no positional window.
    val spans = df
      .select(id, TextFunctions.tokens(col(textCol)).as("__toks"))
      .select(id,
        (length(concat_ws(" ", col("__toks")))).as("__total"),
        aggregate(col("__toks"), array(lit(0)),
          (acc, t) => concat(acc,
            array(element_at(acc, -1) + length(t) + 1))).as("__offs"),
        col("__toks"))
      .select(id, col("__total"),
        explode(flatten(transform(typedLit(ns.toArray), n =>
          transform(
            when(size(col("__toks")) >= n,
              sequence(lit(1), size(col("__toks")) - n + lit(1)))
              .otherwise(array().cast("array<int>")),
            s => struct(n.as("n"),
              concat_ws(" ", slice(col("__toks"), s, n)).as("gram"),
              element_at(col("__offs"), s).as("cs"),
              (element_at(col("__offs"), s + n) - 2).as("ce"))))))
          .as("__g"))
      .select(id, col("__total"), col("__g.n").as("__n"),
        col("__g.gram").as("__gram"), col("__g.cs").as("__cs"),
        col("__g.ce").as("__ce"))
    // duplicated grams only: ONE partial-aggregable groupBy on
    // (doc, n, gram) collects each gram's spans and count together —
    // a count-window here would buy the same filter at the price of
    // a full sort of every gram row (measured 2x the whole query's
    // wall at gate scale, r15); grams occurring once drop before any
    // further shuffle.
    val dupSpans = spans
      .groupBy(id, col("__n"), col("__gram"))
      .agg(count(lit(1)).as("__k"),
        first(col("__total")).as("__total"),
        collect_list(struct(col("__cs"), col("__ce"))).as("__sp"))
      .filter(col("__k") > 1)
    // interval union per (doc, n): flatten the duplicated grams'
    // span lists (bounded by the doc's own gram count), sort, one
    // linear fold ([[spanUnion]]).
    val covered = dupSpans
      .groupBy(id, col("__n"))
      .agg(first(col("__total")).as("__total"),
        sort_array(flatten(collect_list(col("__sp"))))
          .as("__spans"))
      .select(id, col("__n"), col("__total"),
        spanUnion(col("__spans")).as("__cov"))
      .select(id, col("__n"),
        (col("__cov").cast("double") / col("__total").cast("double"))
          .as("__frac"))
    // ONE map-pivot, not one join per n (see topNgramFractions)
    val byDoc = covered.groupBy(id)
      .agg(map_from_entries(collect_list(
        struct(col("__n"), col("__frac")))).as("__m"))
    df.select(id).distinct()
      .join(byDoc, Seq(idCol), "left")
      .select(id +: ns.map(n =>
        coalesce(element_at(col("__m"), lit(n)), lit(0.0))
          .as(s"dup${n}_char_frac")): _*)
  }

  /** CORPUS-global boilerplate line removal (the RefinedWeb
    * "line-wise corrections" / CCNet paragraph-dedup shape — Penedo
    * et al. 2023, arXiv:2306.01116 §3.3; Wenzek et al. 2020,
    * arXiv:1911.00359 §3: navigation bars, cookie banners and
    * footers repeat VERBATIM across many documents and survive every
    * within-document filter): remove every line whose trimmed
    * content occurs in MORE THAN `maxDocs` distinct documents.
    * Returns the input frame with `textCol` rewritten (line order
    * preserved, original untrimmed line text kept; blank/whitespace
    * lines are never "common" and always survive; null text → empty
    * string, the [[TextFunctions.c4CleanLines]] convention). Lines
    * split on `\r?\n` and re-join with '\n' (ADVICE r15): CRLF
    * corpora get the same doc-frequency census as LF ones — a
    * '\n'-only split would leave '\r' inside every trimmed key (trim
    * strips only spaces) and no CRLF line would ever match its LF
    * twin; line endings normalize to LF on reassembly.
    *
    * Materialize-once contract: the input sits under three plan
    * branches (the line census, the anti-join and the join back), so
    * the call runs ONE job that evaluates `df` once into a local
    * checkpoint (memory and disk), and every branch reads that.
    * Without it each action on the result would run the whole
    * upstream — a WARC parse, extraction, language id — three times.
    * The call is therefore eager; the checkpoint blocks are released
    * when the result is dropped (the ContextCleaner drops them once
    * the result is garbage-collected).
    *
    * Ids must be unique and non-null: the census counts each row as
    * one document, and the join back matches rows by id (the same
    * contract the join back always needed). Rows sharing an id would
    * each count their lines, where a count of distinct ids would not.
    *
    * Shape at 100 TB: the line doc-frequency census is ONE
    * aggregation (partial-agg, then the only corpus-wide shuffle,
    * keyed on line content) over each row's `array_distinct` of
    * trimmed non-blank lines, so a line counts once per document with
    * no (line, doc) distinct of its own; the common set is
    * boilerplate-sized — orders of magnitude smaller than the line
    * table — and AQE broadcasts the anti-join when it fits.
    * Reassembly is one per-doc groupBy (sort_array over the doc's own
    * lines, no corpus-wide window). */
  def dropCommonLines(df: DataFrame, idCol: String, textCol: String,
                      maxDocs: Long): DataFrame = {
    require(maxDocs >= 1, s"maxDocs must be >= 1, got $maxDocs")
    val in = df.localCheckpoint()
    val id = col(idCol)
    val lines = in.select(id,
        posexplode(split(coalesce(col(textCol), lit("")), "\r?\n"))
          .as(Seq("__pos", "__line")))
      .withColumn("__key", trim(col("__line")))
    // each line's trimmed key without a per-line lambda: trim strips
    // only spaces, so splitting the trimmed text on newlines together
    // with the spaces around them yields exactly the trimmed lines
    val keys = split(trim(coalesce(col(textCol), lit(""))), " *\r?\n *")
    val common = in
      .select(explode(array_distinct(array_remove(keys, ""))).as("__key"))
      .groupBy(col("__key")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDocs)
      .select(col("__key"))
    val kept = lines.join(common, Seq("__key"), "left_anti")
    val rebuilt = kept.groupBy(id)
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__pos"), col("__line")))),
        s => s.getField("__line")), "\n").as("__clean"))
    in.drop(textCol)
      .join(rebuilt, Seq(idCol), "left")
      .select(in.columns.map {
        case c if c == textCol => coalesce(col("__clean"), lit(""))
          .as(textCol)
        case c => col(c)
      }: _*) // original column order, textCol rewritten in place
  }

  /** All 12 A1.2 rules as one frame: the four unit fractions, three
    * top n-gram fractions, six duplicated n-gram coverages, plus
    * `rep_pass` — true iff EVERY fraction is at or under its
    * published threshold (Table A1: lines/paras 0.30, their char
    * fractions 0.20; top 2/3/4-gram 0.20/0.18/0.16; dup 5..10-gram
    * 0.15/0.14/0.13/0.12/0.11/0.10). Thresholds parameterized;
    * compose with [[TextFunctions.gopherFlags]]' `pass` for the
    * complete published Gopher filter.
    *
    * FUSED pipeline (r16 — VERDICT r15 item 4; semantics identical to
    * the three standalone stages, pinned fraction-by-fraction in
    * RepetitionSpec): instead of three corpus scans + tokenizes
    * (units / top 2-4 grams / dup 5-10 grams joined on doc-keyed
    * rows), ONE scan tokenizes once and one generator explodes lines,
    * paragraphs and every gram band together as tagged
    * (band, key, cs, ce) entries — band 0 = lines, 1 = paragraphs,
    * n >= 2 = word n-grams. One (doc, band, key) partial-agg counts
    * occurrences (spans collected ONLY for the dup bands, and only
    * k > 1 groups keep them — map-side `when` + collect_list's
    * null-skip, so the top/unit bands shuffle counts, never spans);
    * one (doc, band) agg computes all three fraction families
    * band-appropriately (unit sums / struct-max argmax / sorted
    * interval union); one (doc) map-pivot emits the 13-column row.
    * Shuffle rows stay corpus-linear (Σ_n grams + units ≈ 9.2 ×
    * tokens — the same volume the three stages shuffled COMBINED,
    * now carried once), and the two saved corpus scans + tokenizes
    * are the measured win (BENCH_NOTES "r16 — repetition suite fused
    * to one corpus scan").
    *
    * Whitespace-delimited languages only (r17, see
    * [[graft.functions.TextFunctions.tokens]]): a spaceless (CJK)
    * doc has no word grams and no repeated lines, so every fraction
    * is 0 and `rep_pass` is TRUE — repetition inside an unsegmented
    * line is INVISIBLE to these rules (pinned in CjkScopeSpec).
    * Unlike the fail-closed gopher/C4 gates this one fails OPEN on
    * spaceless text; langid-gate mixed corpora first. */
  def gopherRepetitionFlags(df: DataFrame, idCol: String, textCol: String,
                            maxDupUnitFrac: Double = 0.30,
                            maxDupUnitCharFrac: Double = 0.20,
                            maxTopNgramFrac: Seq[(Int, Double)] =
                              Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
                            maxDupNgramFrac: Seq[(Int, Double)] =
                              Seq(5 -> 0.15, 6 -> 0.14, 7 -> 0.13,
                                  8 -> 0.12, 9 -> 0.11, 10 -> 0.10))
  : DataFrame = {
    val topNs = maxTopNgramFrac.map(_._1)
    val dupNs = maxDupNgramFrac.map(_._1)
    require((topNs ++ dupNs).forall(_ >= 2),
      "fused pipeline reserves bands 0/1 for line/paragraph units — " +
        s"n-gram sizes must be >= 2, got top=$topNs dup=$dupNs")
    require(topNs.intersect(dupNs).isEmpty,
      s"top and dup gram bands must be disjoint, got top=$topNs dup=$dupNs")
    val gramNs = (topNs ++ dupNs).distinct.sorted
    val id = col(idCol)

    def unitEntries(pattern: String, band: Int): Column =
      transform(
        filter(transform(split(coalesce(col(textCol), lit("")), pattern),
          u => trim(u)), u => length(u) > 0),
        u => struct(lit(band).as("band"), u.as("key"),
          lit(0).as("cs"), lit(0).as("ce")))

    // ONE scan: tokens + char offsets materialized as columns (the
    // q253 HOF-CSE lesson), then a single explode over the tagged
    // union of line units, paragraph units and every gram band
    val entries = df
      .select(id, TextFunctions.tokens(col(textCol)).as("__toks"),
        unitEntries("\r?\n", 0).as("__lineE"),
        unitEntries("(\r?\n){2,}", 1).as("__paraE"))
      .select(id,
        length(concat_ws(" ", col("__toks"))).as("__total"),
        aggregate(col("__toks"), array(lit(0)),
          (acc, t) => concat(acc,
            array(element_at(acc, -1) + length(t) + 1))).as("__offs"),
        col("__toks"), col("__lineE"), col("__paraE"))
      .select(id, col("__total"),
        explode(concat(col("__lineE"), col("__paraE"),
          flatten(transform(typedLit(gramNs.toArray), n =>
            transform(
              when(size(col("__toks")) >= n,
                sequence(lit(1), size(col("__toks")) - n + lit(1)))
                .otherwise(array().cast("array<int>")),
              s => struct(n.as("band"),
                concat_ws(" ", slice(col("__toks"), s, n)).as("key"),
                element_at(col("__offs"), s).as("cs"),
                (element_at(col("__offs"), s + n) - 2).as("ce")))))))
          .as("__e"))
      .select(id, col("__total"), col("__e.band").as("__band"),
        col("__e.key").as("__key"), col("__e.cs").as("__cs"),
        col("__e.ce").as("__ce"))

    // (doc, band, key): occurrence count; spans ride ONLY for dup
    // bands (collect_list skips the when()'s nulls map-side)
    val counted = entries
      .groupBy(id, col("__band"), col("__key"))
      .agg(count(lit(1)).as("__k"),
        first(col("__total")).as("__total"),
        collect_list(when(col("__band").isInCollection(dupNs),
          struct(col("__cs"), col("__ce")))).as("__sp"))
      .withColumn("__len", length(col("__key")))

    // (doc, band): every family's aggregate at once — the unit sums
    // and the argmax are scalar-cheap on gram/unit rows they don't
    // serve. Dup-band rows with __k = 1 (the DOMINANT class — most
    // grams are unique) drop BEFORE this second shuffle: they
    // contribute nothing to the interval union, and a (doc, band)
    // group losing all its rows correctly reads 0.0 through the
    // spine join. (First fused cut skipped this and re-shuffled
    // every unique 5-10-gram — measured 1.6x the whole suite's wall
    // on the replicated sf0.1 corpus of BENCH_NOTES "r16 — repetition
    // suite fused to one corpus scan".)
    val perBand = counted
      .filter(col("__band") <= 1 ||
        col("__band").isInCollection(topNs) || col("__k") > 1)
      .groupBy(id, col("__band"))
      .agg(first(col("__total")).as("__total"),
        sum(col("__k") - 1).as("__dups"),
        sum(col("__k")).as("__occ"),
        sum((col("__k") - 1) * col("__len")).as("__dupch"),
        sum(col("__k") * col("__len")).as("__ch"),
        max(struct(col("__k"), col("__len"), col("__key"))).as("__top"),
        sort_array(flatten(collect_list(
          when(col("__k") > 1, col("__sp"))))).as("__spans"))

    // band-appropriate fraction(s): units carry two (occurrence +
    // char), grams one
    val fracs = perBand.select(id, col("__band"),
      when(col("__band") <= 1, struct(
          (col("__dups").cast("double") / col("__occ").cast("double"))
            .as("a"),
          (col("__dupch").cast("double") / col("__ch").cast("double"))
            .as("b")))
        .when(col("__band").isInCollection(topNs), struct(
          ((col("__top.__k") * col("__top.__len")).cast("double") /
            col("__total").cast("double")).as("a"),
          lit(0.0).as("b")))
        .otherwise(struct(
          (spanUnion(col("__spans")).cast("double") /
            col("__total").cast("double")).as("a"),
          lit(0.0).as("b")))
        .as("__f"))

    // (doc): ONE map-pivot for all bands, then the spine join fills
    // absent bands (blank docs / too-few-token bands) with 0.0
    val byDoc = fracs.groupBy(id)
      .agg(map_from_entries(collect_list(
        struct(col("__band"), col("__f")))).as("__m"))
    def m(band: Int, field: String): Column =
      coalesce(element_at(col("__m"), lit(band)).getField(field), lit(0.0))
    val out = df.select(id).distinct()
      .join(byDoc, Seq(idCol), "left")
      .select(id +: (Seq(
        m(0, "a").as("dup_line_frac"),
        m(0, "b").as("dup_line_char_frac"),
        m(1, "a").as("dup_para_frac"),
        m(1, "b").as("dup_para_char_frac")) ++
        topNs.map(n => m(n, "a").as(s"top${n}_char_frac")) ++
        dupNs.map(n => m(n, "a").as(s"dup${n}_char_frac"))): _*)

    val unitChecks = Seq(
      col("dup_line_frac") <= maxDupUnitFrac,
      col("dup_para_frac") <= maxDupUnitFrac,
      col("dup_line_char_frac") <= maxDupUnitCharFrac,
      col("dup_para_char_frac") <= maxDupUnitCharFrac)
    val topChecks = maxTopNgramFrac.map { case (n, t) =>
      col(s"top${n}_char_frac") <= t }
    val dupChecks = maxDupNgramFrac.map { case (n, t) =>
      col(s"dup${n}_char_frac") <= t }
    out.withColumn("rep_pass",
      (unitChecks ++ topChecks ++ dupChecks).reduce(_ && _))
  }
}
