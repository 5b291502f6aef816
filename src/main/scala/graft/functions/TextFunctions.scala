package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines
  * (DRIVER-EXT, SURVEY.md §2.12). The reference's text surface is the
  * ml.feature family (ddf_library/functions/ml/feature.py ::
  * Tokenizer / RemoveStopWords / NGram); these go further: language ID,
  * quality scoring, token counting, fingerprinting, shingling.
  *
  * Everything is built from `org.apache.spark.sql.functions` so it
  * stays inside whole-stage codegen — no UDFs, no Python bridge; all
  * per-row, embarrassingly parallel, shuffle-free.
  */
object TextFunctions {

  /** whitespace tokenization (reference Tokenizer: lowercase + split).
    *
    * SCOPE (r17, CjkScopeSpec): whitespace-DELIMITED languages only —
    * a space-free script (Chinese/Japanese/Thai) run is ONE token, so
    * every word-count/word-length/stopword rule built on this
    * degenerates there by design, matching the published pipelines
    * (Gopher A1 and C4 §2.2 define their rules over English). The
    * documented recipe for mixed corpora: segregate with
    * [[graft.operators.LangId]] (char-n-gram, tokenization-free)
    * FIRST, apply the whitespace rules to whitespace-delimited
    * languages only. The per-rule behavior on spaceless text is
    * pinned in CjkScopeSpec: gopherFlags/c4CleanLines DROP spaceless
    * docs (fail-closed), gopherRepetitionFlags passes them
    * (repetition inside an unsegmented line is invisible). */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** [[tokens]] with Locale.ROOT lowering — the TRAIN-side twin of
    * the tokenizer encoders' `toLowerCase(Locale.ROOT)` (r15): Spark
    * `lower()` lowers non-ASCII under the JVM default locale, so the
    * trilogy's trainers ride this instead — train and encode now
    * agree on every JVM locale (TokenizerLocaleSpec pins tr-TR).
    * Identical to [[tokens]] on any ROOT-like locale (only tr/az/lt
    * defaults diverge), so DuckDB `lower()` oracle parity is
    * unchanged. */
  def tokensRoot(text: Column): Column =
    filter(split(graft.expressions.TextExpressions.rootLower(trim(text)),
      "\\s+"), t => length(t) > 0)

  /** SentencePiece ▁-marker pre-tokenization (r18) — the column twin
    * of [[graft.operators.Unigram.markerWordsJvm]], used by the
    * marker-mode trainer so train == encode exactly: Locale.ROOT
    * lower, one dummy leading space, each ASCII-whitespace char → ▁
    * (U+2581; multi-space preserved one marker per char), tokens =
    * the maximal `▁+[^▁]*` runs. "it  is" → ["▁it", "▁▁is"]; a
    * trailing space yields a bare "▁". Null text → null. */
  def markerTokens(text: Column): Column =
    regexp_extract_all(
      regexp_replace(
        concat(lit(" "),
          graft.expressions.TextExpressions.rootLower(text)),
        "\\s", "▁"),
      lit("▁+[^▁]*"), lit(0))

  /** whitespace token count — cheap scan-side metric */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: words + punctuation runs counted separately
    * (a practical pre-tokenizer proxy for LLM token budgeting). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]"), lit(0)))

  /** Bind `e` to a lambda variable so downstream per-element lambdas
    * reference an evaluated value instead of re-evaluating the whole
    * subtree (Catalyst does no CSE inside HOF lambdas — an unbound
    * tokens() there turns O(L) construction into O(L^2) regex calls). */
  private[graft] def bound(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** character n-gram shingles (lowercased, whitespace collapsed) */
  def charShingles(text: Column, n: Int): Column =
    bound(regexp_replace(lower(trim(text)), "\\s+", " ")) { norm =>
      array_distinct(transform(
        sequence(lit(1), greatest(lit(1), length(norm) - (n - 1))),
        i => norm.substr(i, lit(n))))
    }

  /** word n-gram shingles over whitespace tokens; empty when the text
    * has fewer than n tokens (no partial shingles). Native single-pass
    * expression; the column-math formulation below is its spec. */
  def wordShingles(text: Column, n: Int): Column =
    graft.expressions.TextExpressions.wordShingles(text, n)

  /** column-math formulation — semantic spec for the native
    * expression (equivalence pinned in ScalaTest). Tokens are bound
    * once and indexed with element_at (O(1)) — linear in token count. */
  private[graft] def wordShinglesHof(text: Column, n: Int): Column =
    bound(tokens(text)) { t =>
      when(size(t) < n, array().cast("array<string>"))
        .otherwise(array_distinct(transform(
          sequence(lit(0), size(t) - n),
          i => concat_ws(" ", (1 to n).map(k => element_at(t, i + k)): _*))))
    }

  /** n-gram Jaccard similarity between two shingle arrays (native
    * one-pass expression; column-math spec below). */
  def jaccard(a: Column, b: Column): Column =
    graft.expressions.TextExpressions.jaccardSim(a, b)

  private[graft] def jaccardHof(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** stable 62-bit document fingerprint: two independent 31-bit
    * polynomial rolling hashes over token hashes, packed into one
    * long. Operands stay < 2^52 so the math is exact under ANSI mode
    * (no overflow) and portable across engines. */
  def fingerprint(text: Column): Column = {
    val m = (1L << 31) - 1
    def roll(mult: Long, seed: Long): Column =
      aggregate(tokens(text), lit(seed), (acc, t) =>
        pmod(acc * lit(mult) + pmod(xxhash64(t), lit(m)), lit(m)))
    roll(1048573L, 7L) * lit(1L << 31) + roll(1000003L, 13L)
  }

  /** [[fingerprint]] with an md5-derived token hash instead of
    * xxhash64 — SAME 62-bit two-roll chain, but every step is
    * replayable in standard SQL (q140's md5 discipline: 15 hex chars
    * → 60-bit int → mod 2³¹−1), which is what puts the chain under
    * the q45 DuckDB oracle. Operands stay < 2⁵² (acc < 2³¹, mult
    * < 2²¹), exact under ANSI mode. Prefer [[fingerprint]] in
    * production (xxhash64 is one codegen'd hash per token; md5 is a
    * cryptographic digest plus hex/conv round-trip — measurably more
    * per-token work at corpus scale); this variant exists so the
    * polynomial chain itself — the part the engine owns, identical
    * in both — is oracle-verified rather than rows-only. */
  def fingerprintPortable(text: Column): Column = {
    val m = (1L << 31) - 1
    // native md5-prefix kernel — value-identical to
    // conv(substring(md5(t),1,15),16,10).cast("long") (Md5PrefixSpec)
    def tokHash(t: Column): Column =
      pmod(graft.expressions.TextExpressions.md5Prefix(t, 15), lit(m))
    def roll(mult: Long, seed: Long): Column =
      aggregate(tokens(text), lit(seed), (acc, t) =>
        pmod(acc * lit(mult) + tokHash(t), lit(m)))
    roll(1048573L, 7L) * lit(1L << 31) + roll(1000003L, 13L)
  }

  /** quality score in [0,1]: blend of length band, alpha ratio,
    * punctuation ratio, mean word length band, stopword presence —
    * the classic heuristic filter set (Gopher/C4-style rules, public). */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val alpha = length(regexp_replace(text, "[^\\p{L}]", ""))
      .cast("double") / greatest(len, lit(1.0))
    val punct = length(regexp_replace(text, "[^.!?,;:]", ""))
      .cast("double") / greatest(len, lit(1.0))
    val meanWordLen = (len - nTok + 1) / greatest(nTok, lit(1.0))
    val sw = stopwordRatio(text, defaultStopwords)
    val lenBand = when(len.between(50, 20000), 1.0)
      .when(len.between(20, 50), 0.5).otherwise(0.0)
    val wordBand = when(meanWordLen.between(2, 12), 1.0).otherwise(0.3)
    val punctBand = when(punct <= 0.2, 1.0).otherwise(0.4)
    round(lit(0.3) * lenBand + lit(0.2) * alpha + lit(0.15) * punctBand +
      lit(0.15) * wordBand + lit(0.2) * least(sw * 5.0, lit(1.0)), 4)
  }

  val defaultStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(text)
    val sw = filter(toks, t => t.isin(stopwords.map(lit): _*))
    size(sw).cast("double") / greatest(size(toks).cast("double"), lit(1.0))
  }

  /** Language ID by stopword-hit voting: score = |tokens ∩ marker set|
    * per language, argmax wins, ties broken by language code. A
    * standard n-gram/stopword heuristic (public technique — langid
    * lite); no model download needed. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it",
      "for", "with", "was", "this", "are", "not"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "las", "por",
      "una", "como", "para", "con", "del", "está"),
    "fr" -> Seq("le", "la", "les", "des", "une", "est", "dans", "pour",
      "qui", "avec", "sur", "pas", "aux", "cette"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein",
      "mit", "auf", "für", "sich", "dem", "den", "von"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不", "人",
      "这", "中", "大", "为", "上"))

  def langScores(text: Column): Column = {
    val toks = array_distinct(tokens(text))
    // zh has no whitespace tokens — count marker characters directly.
    // Sort key is (-score, lang) ascending: highest score wins, ties
    // break deterministically by language code.
    array(langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val score =
        if (lang == "zh")
          size(filter(split(text, ""), c => c.isin(markers.map(lit): _*)))
        else
          size(array_intersect(toks, array(markers.map(lit): _*)))
      struct((-score).cast("int").as("negscore"), lit(lang).as("lang"))
    }: _*)
  }

  /** best-guess language code */
  def langId(text: Column): Column =
    sort_array(langScores(text)).getItem(0).getField("lang")

  /** within-document line dedup (C4-style rule): keep each distinct
    * line's first occurrence, preserving order. Pure column math.
    * Lines split on `\r?\n` (the r16 CRLF rule — a '\n'-only split
    * left '\r' in every key, so CRLF lines never matched their LF
    * twins); endings normalize to '\n' on rejoin. */
  def lineDedup(text: Column): Column =
    array_join(array_distinct(split(text, "\r?\n")), "\n")

  /** C4 LINE-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — the published rule set, reference constants from the
    * public c4_utils): keep only lines that, after trimming,
    *   - end in a terminal punctuation mark ('.', '!', '?', '"');
    *   - contain at least `minWordsPerLine` whitespace words
    *     (paper/reference default 5);
    *   - do not contain the word "javascript" (case-insensitive —
    *     the cookie/JS-warning boilerplate rule).
    * Retained lines re-join with '\n' in original order. Null text →
    * empty string (fail-safe: nothing survives). Lines split on
    * `\r?\n` (ADVICE r15): Spark `trim()` strips only 0x20 spaces, so
    * a '\n'-only split would leave every CRLF line carrying a
    * trailing '\r' and the terminal-punctuation rule would drop the
    * whole page — the C4 reference strips '\r' via Python strip();
    * CRLF documents therefore clean like LF ones (and re-join with
    * '\n'). Pure Column math —
    * one split, per-line HOF predicates, codegen. Compose with
    * [[lineDedup]], [[graft.operators.Phrases.filterPhrases]] (the
    * bad-words page rule) and [[c4PageFlags]] for the full §2.2
    * recipe. Whitespace-delimited languages only (see [[tokens]]):
    * a spaceless line is one "word" below `minWordsPerLine`, and
    * '。' is not in the terminal set — spaceless docs clean to ''
    * (fail-closed, CjkScopeSpec). */
  def c4CleanLines(text: Column, minWordsPerLine: Int = 5): Column =
    array_join(
      filter(transform(split(coalesce(text, lit("")), "\r?\n"), l => trim(l)),
        l => length(l) > 0 &&
          l.rlike("[.!?\"]$") &&
          size(filter(split(l, "\\s+"), w => length(w) > 0))
            >= minWordsPerLine &&
          !lower(l).contains("javascript")),
      "\n")

  /** C4 PAGE-level flags (the §2.2 whole-page rules), evaluated over
    * the ORIGINAL text and its [[c4CleanLines]] output: a struct of
    *   - `sentences_ok`: the cleaned text carries at least
    *     `minSentences` sentences (counted as terminal-punctuation
    *     marks — the documented divergence from the reference's
    *     nltk sentence splitter: deterministic and SQL-replayable);
    *   - `no_lorem`: "lorem ipsum" absent (case-insensitive);
    *   - `no_brace`: no '{' anywhere (the code-page rule);
    * plus `pass` = their conjunction. Null original text → all
    * false (the gopherFlags fail-safe treatment). */
  def c4PageFlags(text: Column, cleaned: Column,
                  minSentences: Int = 3): Column = {
    val sentencesOk =
      regexp_count(coalesce(cleaned, lit("")), lit("[.!?\"]")) >=
        minSentences
    val noLorem = !lower(text).contains("lorem ipsum")
    val noBrace = !text.contains("{")
    struct(
      coalesce(sentencesOk && text.isNotNull, lit(false))
        .as("sentences_ok"),
      coalesce(noLorem, lit(false)).as("no_lorem"),
      coalesce(noBrace, lit(false)).as("no_brace"),
      coalesce(sentencesOk && noLorem && noBrace, lit(false)).as("pass"))
  }

  /** n-gram repetition ratio (Gopher-style rule): fraction of word
    * n-gram occurrences that are repeats of an earlier n-gram —
    * 1 - distinct/total, 0 for docs shorter than n tokens. High
    * values flag boilerplate/spam for quality filtering. */
  def repetitionRatio(text: Column, n: Int = 3): Column = {
    val total = size(tokens(text)) - (n - 1)
    when(total <= 0, lit(0.0)).otherwise(
      lit(1.0) - size(wordShingles(text, n)).cast("double")
        / total.cast("double"))
  }

  /** Gopher quality-rule flags (Rae et al. 2021, arXiv:2112.11446,
    * Appendix A1.1 — the published heuristic filter set), each rule a
    * named boolean in a struct plus `pass` = their conjunction:
    *   - `word_count_ok`: token count in [minWords, maxWords]
    *   - `mean_word_len_ok`: mean token length in [3, 10]
    *   - `symbol_ratio_ok`: # '#' / words ≤ 0.1 AND ellipsis
    *     ('...' or '…') / words ≤ 0.1 — per-symbol, the paper's
    *     "either the hash symbol or the ellipsis"
    *   - `bullet_ok`: ≤ 90% of non-blank lines start with a bullet
    *   - `ellipsis_ok`: ≤ 30% of non-blank lines end with an ellipsis
    *   - `alpha_word_ok`: ≥ 80% of tokens contain a letter
    *   - `stopword_ok`: ≥ 2 distinct Gopher stopwords present
    * Thresholds parameterized with the paper's defaults. Pure Column
    * math — one tokens() pass, one line split, no UDFs, whole-stage
    * codegen; every rule is an int-over-int IEEE ratio so the DuckDB
    * oracle (q236) replays it bit-exactly. The paper's repetition
    * rules are [[repetitionRatio]] (q75's gate). Null text → every
    * flag false (fail-safe filter semantics, the
    * [[graft.operators.Phrases.filterPhrases]] treatment; under
    * non-ANSI defaults the raw rules would yield a MIX of false and
    * null — review r13 — so the null case is pinned explicitly).
    * Whitespace-delimited languages only (see [[tokens]]): spaceless
    * docs fail word-count/mean-word-len/stopword and DROP
    * (fail-closed, CjkScopeSpec) — langid-gate mixed corpora first. */
  def gopherFlags(text: Column, minWords: Int = 50,
                  maxWords: Int = 100000,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletRatio: Double = 0.9,
                  maxEllipsisRatio: Double = 0.3,
                  minAlphaWordRatio: Double = 0.8,
                  minStopwordHits: Int = 2): Column = {
    val toks = tokens(text)
    val nw = size(toks)
    val nwSafe = greatest(nw.cast("double"), lit(1.0))
    val wordCountOk = nw.between(minWords, maxWords)
    val meanLen = aggregate(toks, lit(0L),
      (a, t) => a + length(t)).cast("double") / nwSafe
    val meanLenOk = meanLen.between(3.0, 10.0)
    // the paper thresholds EACH symbol's ratio separately ("either
    // the hash symbol or the ellipsis"), not their pooled sum
    val hashes = length(text) - length(replace(text, lit("#"), lit("")))
    val dots = (length(text) -
      length(replace(text, lit("..."), lit("")))).cast("double") / 3.0
    val uEll = length(text) - length(replace(text, lit("…"), lit("")))
    val symbolOk =
      hashes.cast("double") / nwSafe <= maxSymbolRatio &&
        (dots + uEll.cast("double")) / nwSafe <= maxSymbolRatio
    // \r?\n (r16): trim() strips only spaces, so a '\n'-only split
    // left '\r' on every CRLF line and the ellipsis endsWith never hit
    val lines = filter(split(text, "\r?\n"), l => length(trim(l)) > 0)
    val nlSafe = greatest(size(lines).cast("double"), lit(1.0))
    val bulletOk = size(filter(lines, l =>
        trim(l).startsWith("-") || trim(l).startsWith("*") ||
        trim(l).startsWith("•"))).cast("double") / nlSafe <=
      maxBulletRatio
    val ellipsisOk = size(filter(lines, l =>
        trim(l).endsWith("...") || trim(l).endsWith("…")))
      .cast("double") / nlSafe <= maxEllipsisRatio
    val alphaOk = size(filter(toks, t => t.rlike("\\p{L}")))
      .cast("double") / nwSafe >= minAlphaWordRatio
    val stopOk = size(array_intersect(array_distinct(toks),
        array(gopherStopwords.map(lit): _*))) >= minStopwordHits
    val flags = struct(
      wordCountOk.as("word_count_ok"),
      meanLenOk.as("mean_word_len_ok"),
      symbolOk.as("symbol_ratio_ok"),
      bulletOk.as("bullet_ok"),
      ellipsisOk.as("ellipsis_ok"),
      alphaOk.as("alpha_word_ok"),
      stopOk.as("stopword_ok"),
      (wordCountOk && meanLenOk && symbolOk && bulletOk &&
        ellipsisOk && alphaOk && stopOk).as("pass"))
    val allFalse = struct(
      Seq("word_count_ok", "mean_word_len_ok", "symbol_ratio_ok",
        "bullet_ok", "ellipsis_ok", "alpha_word_ok", "stopword_ok",
        "pass").map(f => lit(false).as(f)): _*)
    when(text.isNull, allFalse).otherwise(flags)
  }

  /** the paper's required-stopword list (Rae 2021 A1.1) */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  // ===== MinHash =========================================================

  /** k independent MinHash values over a shingle array.
    * h_i(S) = min over s∈S of ((a_i * h(s) + b_i) mod p) with the
    * classic affine family over the prime field Z_p, p = 2^31 - 1:
    * base hash, coefficients, AND the modulus all live in the same
    * 31-bit field, so each x -> (a*x + b) mod p with a != 0 is a TRUE
    * permutation of [0, p), and a*h+b < 2^62 — exact under ANSI mode,
    * never overflows. All inside codegen (transform + array_min), no
    * UDF, no shuffle.
    *
    * The modulus MUST equal the base-hash domain: an earlier revision
    * paired 31-bit base hashes with a 2^61-1 modulus, and because
    * a*h+b < 2^62 < 2p' the "permutation" wrapped at most twice and
    * was nearly monotone in h — every hash function picked the same
    * globally-minimal shingle, collapsing the estimator (observed
    * 3/64 agreement at true jaccard 0.75) and silently destroying LSH
    * recall whenever a near-dup's extra shingles contained a small
    * base hash. Pinned in TextFunctionsSpec ("minhash agreement
    * tracks true jaccard"). */
  val MersennePrime: Long = (1L << 31) - 1
  private val HashDomain: Long = MersennePrime

  def hashCoeffs(k: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(k)((math.abs(rnd.nextInt()).toLong % (HashDomain - 2) + 1,
      math.abs(rnd.nextInt()).toLong % (HashDomain - 1)))
  }

  def minhashSignature(shingles: Column, k: Int, seed: Long = 42L): Column =
    graft.expressions.VectorExpressions.minhashSignature(
      shingles, hashCoeffs(k, seed), MersennePrime)

  /** column-math formulation — semantic spec for the native
    * expression (equivalence pinned in ScalaTest) */
  private[graft] def minhashSignatureHof(shingles: Column, k: Int,
                                         seed: Long = 42L): Column = {
    val hashes = transform(shingles, s => pmod(xxhash64(s), lit(HashDomain)))
    array(hashCoeffs(k, seed).map { case (a, b) =>
      array_min(transform(hashes,
        h => pmod(h * lit(a) + lit(b), lit(MersennePrime))))
    }: _*)
  }

  /** LSH band keys: signature sliced into `bands` bands of `rowsPerBand`,
    * each band hashed to one bucket key; docs sharing any band key are
    * candidate pairs. Native
    * ([[graft.expressions.VectorExpressions.MinhashBands]]; the
    * `transform`/`slice`/`xxhash64` formulation it is bit-identical to
    * is the spec in the test sources). */
  def minhashBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    graft.expressions.VectorExpressions.minhashBands(signature, bands,
      rowsPerBand)

  // ===== SimHash =========================================================

  /** 64-bit SimHash over tokens: per bit, sign of Σ_tokens (±1). */
  def simhash(text: Column): Column =
    graft.expressions.VectorExpressions.simhash64(tokens(text))

  /** column-math formulation — semantic spec for the native
    * expression (equivalence pinned in ScalaTest) */
  private[graft] def simhashHof(text: Column): Column = {
    val hashes = transform(tokens(text), t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val votes = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, c) => a.bitwiseOR(c))
  }

  /** [[simhash]] with the PORTABLE md5-derived 60-bit token hash
    * (native [[graft.expressions.VectorExpressions.SimHashMd5]]) —
    * integer-exact and SQL-replayable end to end, the q45
    * fingerprint discipline applied to simhash. Production stays on
    * [[simhash]] (one xxhash64 per token vs a cryptographic digest);
    * this variant exists so the simhash sign-vote arithmetic sits
    * under the q142 DuckDB oracle instead of rows-only. */
  def simhashPortable(text: Column): Column =
    graft.expressions.VectorExpressions.simhashMd5(tokens(text))

  /** column-math formulation of [[simhashPortable]] — semantic spec
    * for the native expression (equivalence pinned in ScalaTest;
    * test-only, re-derives md5 per bit). */
  private[graft] def simhashPortableHof(text: Column): Column = {
    val hashes = transform(tokens(text), t =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val bits = (0 until 60).map { b =>
      val votes = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(votes > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce((a, c) => a.bitwiseOR(c))
  }

  /** Hamming distance between two 64-bit simhashes */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** pigeonhole chunk keys for Hamming-distance ≤ k candidate search:
    * split 64 bits into k+1 chunks; near-dups share at least one chunk */
  def simhashChunks(sh: Column, chunks: Int): Column = {
    val width = 64 / chunks
    array((0 until chunks).map { i =>
      struct(lit(i).as("chunk"),
        shiftright(sh, i * width)
          .bitwiseAND((1L << width) - 1).as("key"))
    }: _*)
  }

  /** Token-bounded document chunking (DRIVER-EXT, SURVEY.md §2.12):
    * split a document into sliding windows of at most `maxTokens`
    * whitespace tokens advancing by `maxTokens - overlap` — the
    * pre-tokenization step of a training pipeline. Returns an array of
    * chunk strings (single-space-joined tokens); empty array for
    * empty/whitespace text. Chunk count is
    * `max(floor((n - overlap - 1) / step), 0) + 1` for n > 0, which
    * covers every token (the final window may be shorter). Pure column
    * math — one tokens() pass bound once, no shuffle. */
  def chunkTokens(text: Column, maxTokens: Int, overlap: Int = 0): Column = {
    require(maxTokens > 0 && overlap >= 0 && overlap < maxTokens,
      s"need 0 <= overlap < maxTokens, got maxTokens=$maxTokens overlap=$overlap")
    val step = maxTokens - overlap
    bound(tokens(text)) { t =>
      when(size(t) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), greatest(
            ((size(t) - lit(overlap) - lit(1)) / lit(step)).cast("int"),
            lit(0))),
          i => concat_ws(" ", slice(t, i * lit(step) + 1, lit(maxTokens)))))
    }
  }

  /** PII redaction patterns (DRIVER-EXT, SURVEY.md §2.12): each maps a
    * conservative public pattern to a typed placeholder. Deliberately
    * restricted to syntax shared by Java regex and RE2, so the DuckDB
    * oracle replicates the chain verbatim (no lookaround, no
    * backreferences). Order matters and is part of the contract:
    * email first (so a host part containing digits is never
    * half-rewritten by later rules), then SSN (dashes), then IPv4
    * (dots — cannot collide with the email rule's output since
    * placeholders contain no digits). */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ssn" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "ipv4" -> "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b")

  /** Unicode-normalize text (default NFC) — the pre-dedup
    * canonicalization step; see TextExpressions.UnicodeNormalize. */
  def normalizeUnicode(text: Column, form: String = "NFC"): Column =
    graft.expressions.TextExpressions.unicodeNormalize(text, form)

  /** redact PII to `<EMAIL>`/`<SSN>`/`<IPV4>` placeholders — one
    * codegen'd regexp_replace chain, shuffle-free, linear per row */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (name, pat)) =>
      regexp_replace(c, pat, s"<${name.toUpperCase}>")
    }
}
