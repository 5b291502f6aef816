package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass gram-hashing kernels (r19 optimization round).
  *
  * The hashed-gram operators (DSIR, order-n LM, LangId, bigram LM)
  * spell their per-document feature extraction as higher-order-
  * function chains — `transform(sequence(...), i => bucketOf(
  * concat_ws(" ", element_at(t, i), element_at(t, i+1)), m))` — and
  * Spark's HOFs are CodegenFallback: every lambda node evaluates
  * INTERPRETED, once per gram per document, materializing the gram
  * string, the hex digest, and one boxed value per expression node.
  * Stage-level measurement (r19, ProbeStages on q87/q267/q221): the
  * post-shuffle gram stages pay 40–60 µs per gram on 2 MB of text
  * while the scan stages are sub-second — per-task work, guide §1.2
  * step 2.
  *
  * These kernels collapse each such chain to ONE compute call per
  * row (the house WordShingles/SimHashMd5 compute-reference pattern,
  * so children stay codegen'd and the kernel is a single virtual
  * call): grams never materialize as strings where only their hash
  * is needed (incremental digest updates), and outputs land in
  * primitive arrays.
  *
  * VALUE CONTRACT: each kernel is value-identical to the column-math
  * formulation it replaces — same gram order (FP sums downstream are
  * order-sensitive), same null behavior, same md5-prefix arithmetic
  * ([[TextExpressions.Md5Prefix]], pinned vs the SQL chain in
  * Md5PrefixSpec), same xxhash64 (Spark's own XXH64 over identical
  * bytes). GramExpressionsSpec pins every kernel against its HOF
  * spec form; the DuckDB oracles (q87/q221/q222/q226/q262–q267)
  * replay the SQL spelling and stay green.
  */
object GramExpressions {

  /** one MessageDigest per thread (not thread-safe, shared exprs) */
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** growable per-thread scratch for xxhash64 over joined grams
    * (XXH64 needs one contiguous buffer; md5 streams instead) */
  private val scratch = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 10)
  }

  private def ensureScratch(n: Int): Array[Byte] = {
    var b = scratch.get()
    if (b.length < n) {
      var len = b.length
      while (len < n) len <<= 1
      b = new Array[Byte](len)
      scratch.set(b)
    }
    b
  }

  /** first 15 hex chars of the digest as a 60-bit value — the
    * [[TextExpressions.Md5Prefix]] read, shared by every md5 kernel */
  private def prefix60(digest: Array[Byte]): Long = {
    var h = 0L
    var j = 0
    while (j < 7) { h = (h << 8) | (digest(j) & 0xffL); j += 1 }
    (h << 4) | ((digest(7) & 0xf0L) >>> 4)
  }

  /** md5-chain bucket of one token: md5Prefix(w, 15) mod m */
  private def md5Bucket(w: UTF8String, m: Int): Long = {
    val d = md.get()
    d.reset()
    prefix60(d.digest(w.getBytes)) % m
  }

  /** md5-chain bucket of "w1 w2" WITHOUT building the string:
    * incremental digest over w1 bytes, one space, w2 bytes */
  private def md5BucketJoined(w1: UTF8String, w2: UTF8String,
                              m: Int): Long = {
    val d = md.get()
    d.reset()
    d.update(w1.getBytes)
    d.update(' '.toByte)
    d.update(w2.getBytes)
    prefix60(d.digest()) % m
  }

  private def xxBucket(w: UTF8String, m: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(w.getBaseObject, w.getBaseOffset, w.numBytes, 42L)
    ((h % m) + m) % m
  }

  private val ByteArrayOffset: Long =
    org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET.toLong

  private def xxBucketJoined(w1: UTF8String, w2: UTF8String,
                             m: Int): Long = {
    val n1 = w1.numBytes; val n2 = w2.numBytes
    val buf = ensureScratch(n1 + 1 + n2)
    w1.writeToMemory(buf, ByteArrayOffset)
    buf(n1) = ' '.toByte
    w2.writeToMemory(buf, ByteArrayOffset + n1 + 1)
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(buf, ByteArrayOffset, n1 + 1 + n2, 42L)
    ((h % m) + m) % m
  }

  /** Hashed unigram+bigram bucket multiset of a token array — the
    * DSIR feature extraction ([[graft.operators.Dsir]] bucketArr):
    * [bucket(t1) .. bucket(tk), bucket("t1 t2") .. bucket("tk-1 tk")]
    * (all unigrams in order, then all bigrams in order — the
    * `concat(t, bigrams)` order of the column spec; downstream score
    * folds are FP-order-sensitive). Fewer than 2 tokens → unigrams
    * only; empty input → empty output; null input → null. A null
    * token element yields a null bucket element (the transform
    * contract), on the interpreted fallback path. */
  case class HashedGramBuckets(child: Expression, m: Int, xx: Boolean)
      extends UnaryExpression {
    require(m >= 2, s"m must be >= 2, got $m")
    override def dataType: DataType =
      ArrayType(LongType, containsNull = true)
    def compute(arr: ArrayData): ArrayData = {
      val k = arr.numElements()
      var hasNull = false
      var i = 0
      while (i < k && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
      if (hasNull) return computeWithNulls(arr)
      val nOut = if (k < 2) k else 2 * k - 1
      val out = new Array[Long](nOut)
      i = 0
      while (i < k) {
        val w = arr.getUTF8String(i)
        out(i) = if (xx) xxBucket(w, m) else md5Bucket(w, m)
        i += 1
      }
      i = 0
      while (i < k - 1) {
        val w1 = arr.getUTF8String(i)
        val w2 = arr.getUTF8String(i + 1)
        out(k + i) =
          if (xx) xxBucketJoined(w1, w2, m) else md5BucketJoined(w1, w2, m)
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    }
    /** rare path: mirror transform's null-element propagation —
      * bucketOf(null) = null, and a null token nulls the bigrams it
      * participates in (concat_ws skips nulls in the column spec, so
      * "w1 null" hashes as "w1 " minus the null — to stay EXACT we
      * re-derive via the same concat_ws semantics: concat_ws(" ", a,
      * null) = a, concat_ws(" ", null, b) = b). */
    private def computeWithNulls(arr: ArrayData): ArrayData = {
      val k = arr.numElements()
      val out = new Array[Any](if (k < 2) k else 2 * k - 1)
      var i = 0
      while (i < k) {
        out(i) = if (arr.isNullAt(i)) null else {
          val w = arr.getUTF8String(i)
          java.lang.Long.valueOf(
            if (xx) xxBucket(w, m) else md5Bucket(w, m))
        }
        i += 1
      }
      i = 0
      while (i < k - 1) {
        val aNull = arr.isNullAt(i); val bNull = arr.isNullAt(i + 1)
        val v: Any =
          if (aNull && bNull)
            java.lang.Long.valueOf(
              if (xx) xxBucket(UTF8String.EMPTY_UTF8, m)
              else md5Bucket(UTF8String.EMPTY_UTF8, m))
          else if (aNull) {
            val w = arr.getUTF8String(i + 1)
            java.lang.Long.valueOf(
              if (xx) xxBucket(w, m) else md5Bucket(w, m))
          } else if (bNull) {
            val w = arr.getUTF8String(i)
            java.lang.Long.valueOf(
              if (xx) xxBucket(w, m) else md5Bucket(w, m))
          } else {
            val w1 = arr.getUTF8String(i)
            val w2 = arr.getUTF8String(i + 1)
            java.lang.Long.valueOf(
              if (xx) xxBucketJoined(w1, w2, m)
              else md5BucketJoined(w1, w2, m))
          }
        out(k + i) = v
        i += 1
      }
      new GenericArrayData(out)
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("gramBuckets", this,
        classOf[HashedGramBuckets].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  def hashedGramBuckets(tokens: Column, m: Int, xx: Boolean): Column =
    Bridge.column(HashedGramBuckets(Bridge.expression(tokens), m, xx))

  /** Σ table(bucket) over a bucket array IN ARRAY ORDER — the serving
    * fold of DSIR importance weights and LangId per-language scores:
    * `aggregate(buckets, 0.0, (acc, b) => acc + element_at(tableLit,
    * b + 1))` collapsed to one primitive loop. Sequential left fold
    * in element order ⇒ bit-identical double sum. Null array → null;
    * a null ELEMENT → null (acc + null nulls the fold). Out-of-range
    * buckets throw (the column spec's ANSI element_at would too). */
  case class BucketScore(child: Expression, table: Array[Double])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    def compute(arr: ArrayData): Any = {
      val k = arr.numElements()
      var acc = 0.0
      var i = 0
      while (i < k) {
        if (arr.isNullAt(i)) return null
        acc += table(arr.getLong(i).toInt)
        i += 1
      }
      acc
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bucketScore", this,
        classOf[BucketScore].getName)
      val r = ctx.freshName("bucketScoreRes")
      nullSafeCodeGen(ctx, ev, a => s"""
        Object $r = $ref.compute($a);
        if ($r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ((java.lang.Double) $r).doubleValue(); }""")
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  def bucketScore(buckets: Column, table: Array[Double]): Column =
    Bridge.column(BucketScore(Bridge.expression(buckets), table))

  /** Hashed char-n-gram bucket multiset over an (already lowered)
    * text — the LangId feature extraction: for each n in nMin..nMax
    * (ascending), every length-n code-point substring's md5 bucket,
    * positions ascending — exactly `concat(transform(sequence(1,
    * len-(n-1)), i => bucketOf(substr(t, i, n), m)) for n in ..)`
    * with the when(length >= n) empty guard. One walk per row, linear
    * in the text: the bytes are fetched once and one pass records
    * each code point's starting byte offset, stepping with
    * UTF8String.numBytesForFirstByte — the stepping numChars and
    * substring use — so the code-point count and each gram's byte
    * range [off(i), off(i+n)) are exactly what substr(t, i+1, n)
    * copies; each gram streams that range into the thread's digest
    * without building a string. The last offset is clamped to the
    * text's length: on a truncated multi-byte tail substring's copy
    * runs past the value's last byte, this kernel hashes only the
    * value's own bytes (lower() re-encodes malformed input, so the
    * operator path never sees one). Null → null (the column spec maps
    * null text to an empty array via its outer bound(lower(text));
    * callers keep that coalesce). */
  case class CharGramBuckets(child: Expression, nMin: Int, nMax: Int,
                             m: Int)
      extends UnaryExpression {
    require(nMin >= 1 && nMin <= nMax && nMax <= 8,
      s"char n-gram lengths must satisfy 1 <= nMin <= nMax <= 8, " +
        s"got [$nMin, $nMax]")
    require(m >= 2, s"m must be >= 2, got $m")
    override def dataType: DataType =
      ArrayType(LongType, containsNull = false)
    def compute(v: UTF8String): ArrayData = {
      val bytes = v.getBytes
      val numBytes = bytes.length
      // off(k) = byte offset of code point k; off(len) = end
      val off = new Array[Int](numBytes + 1)
      var len = 0
      var p = 0
      while (p < numBytes) {
        off(len) = p
        len += 1
        p += UTF8String.numBytesForFirstByte(bytes(p))
      }
      off(len) = math.min(p, numBytes)
      var total = 0
      var n = nMin
      while (n <= nMax) { if (len >= n) total += len - n + 1; n += 1 }
      val out = new Array[Long](total)
      val d = md.get()
      d.reset()
      var o = 0
      n = nMin
      while (n <= nMax) {
        var i = 0
        while (i + n <= len) {
          d.update(bytes, off(i), off(i + n) - off(i))
          out(o) = prefix60(d.digest()) % m
          o += 1
          i += 1
        }
        n += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("charGramBuckets", this,
        classOf[CharGramBuckets].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  def charGramBuckets(lowered: Column, nMin: Int, nMax: Int,
                      m: Int): Column =
    Bridge.column(CharGramBuckets(Bridge.expression(lowered), nMin, nMax, m))

  /** (ngram bucket, context bucket) pairs of a token array for the
    * order-n LM fit ([[graft.operators.LanguageModel.trainNgram]]):
    * position i (0-based, i ≤ k−n) yields md5 buckets of the
    * space-joined tokens [i, i+n) and [i, i+n−1) — digests stream
    * over token bytes + single spaces, never building the gram
    * string. Output order = position order. Fewer than n tokens →
    * empty; null → null. Null token elements are impossible on the
    * operator path (tokens() filters them); the fallback mirrors
    * concat_ws's null-skipping exactly. */
  case class NgramCtxBuckets(child: Expression, n: Int, m: Int)
      extends UnaryExpression {
    require(n >= 2 && n <= 8, s"ngram order must be in [2, 8], got $n")
    require(m >= 2, s"m must be >= 2, got $m")
    private val structType = StructType(Seq(
      StructField("ng", LongType, nullable = false),
      StructField("ctx", LongType, nullable = false)))
    override def dataType: DataType =
      ArrayType(structType, containsNull = false)
    private def joinedBucket(arr: ArrayData, from: Int, until: Int)
    : Long = {
      val d = md.get()
      d.reset()
      var i = from
      var first = true
      while (i < until) {
        if (!arr.isNullAt(i)) { // concat_ws skips nulls
          if (!first) d.update(' '.toByte)
          d.update(arr.getUTF8String(i).getBytes)
          first = false
        }
        i += 1
      }
      prefix60(d.digest()) % m
    }
    def compute(arr: ArrayData): ArrayData = {
      val k = arr.numElements()
      if (k < n) return new GenericArrayData(Array.empty[Any])
      val out = new Array[Any](k - n + 1)
      var i = 0
      while (i <= k - n) {
        out(i) = new GenericInternalRow(Array[Any](
          joinedBucket(arr, i, i + n),
          joinedBucket(arr, i, i + n - 1)))
        i += 1
      }
      new GenericArrayData(out)
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("ngramCtx", this,
        classOf[NgramCtxBuckets].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  def ngramCtxBuckets(tokens: Column, n: Int, m: Int): Column =
    Bridge.column(NgramCtxBuckets(Bridge.expression(tokens), n, m))

  /** Raw NLL fold of the order-n LM scorer
    * ([[graft.operators.LanguageModel.scoreNgram]]): over positions
    * i = 0..k−n in order, acc −= ln((ng(b_full) + k) / (ctx(b_ctx) +
    * k·m)) with the same md5 buckets as [[NgramCtxBuckets]] —
    * identical operation order ⇒ bit-identical double. The caller
    * keeps the when(g ≥ 1)/struct/round layer. Fewer than n tokens →
    * 0.0 (the column fold over an empty sequence), null → null. */
  case class NgramNllSum(child: Expression, n: Int, m: Int,
                         smoothing: Double, ng: Array[Double],
                         ctx: Array[Double])
      extends UnaryExpression {
    require(n >= 2 && n <= 8, s"ngram order must be in [2, 8], got $n")
    require(m >= 2, s"m must be >= 2, got $m")
    require(ng.length == m && ctx.length == m,
      s"model arrays must have length m=$m")
    override def dataType: DataType = DoubleType
    private val km = smoothing * m
    private def joinedBucket(arr: ArrayData, from: Int, until: Int)
    : Long = {
      val d = md.get()
      d.reset()
      var i = from
      var first = true
      while (i < until) {
        if (!arr.isNullAt(i)) {
          if (!first) d.update(' '.toByte)
          d.update(arr.getUTF8String(i).getBytes)
          first = false
        }
        i += 1
      }
      prefix60(d.digest()) % m
    }
    def compute(arr: ArrayData): Double = {
      val k = arr.numElements()
      var acc = 0.0
      var i = 0
      while (i <= k - n) {
        val bFull = joinedBucket(arr, i, i + n).toInt
        val bCtx = joinedBucket(arr, i, i + n - 1).toInt
        // StrictMath, not Math: Spark's Log expression evaluates
        // StrictMath.log, and this fold must be bit-identical to it
        acc -= java.lang.StrictMath.log(
          (ng(bFull) + smoothing) / (ctx(bCtx) + km))
        i += 1
      }
      acc
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx0: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx0.addReferenceObj("ngramNll", this,
        classOf[NgramNllSum].getName)
      nullSafeCodeGen(ctx0, ev, a => s"${ev.value} = $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  def ngramNllSum(tokens: Column, n: Int, m: Int, smoothing: Double,
                  ng: Array[Double], ctx: Array[Double]): Column =
    Bridge.column(NgramNllSum(Bridge.expression(tokens), n, m,
      smoothing, ng, ctx))

  /** Space-joined word n-grams WITH multiplicity, position order —
    * `transform(sequence(1, size(t)−(n−1)), i => concat_ws(" ",
    * element_at(t, i) .. element_at(t, i+n−1)))` as one kernel
    * (UTF8String.concatWs, the Concat_ws fast path — null elements
    * skipped exactly like the column spec). The bigram-LM fit's
    * per-occurrence gram stream ([[graft.operators.LanguageModel
    * .bigramNll]]). Fewer than n tokens → empty; null → null. */
  case class WordNgrams(child: Expression, n: Int)
      extends UnaryExpression {
    require(n >= 1 && n <= 8, s"ngram order must be in [1, 8], got $n")
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    private val space = UTF8String.fromString(" ")
    def compute(arr: ArrayData): ArrayData = {
      val k = arr.numElements()
      if (k < n) return new GenericArrayData(Array.empty[Any])
      val parts = new Array[UTF8String](n)
      val out = new Array[Any](k - n + 1)
      var i = 0
      while (i <= k - n) {
        var j = 0
        while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(space, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("wordNgrams", this,
        classOf[WordNgrams].getName)
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($a);")
    }
    override protected def withNewChildInternal(c: Expression) =
      copy(child = c)
  }

  def wordNgrams(tokens: Column, n: Int): Column =
    Bridge.column(WordNgrams(Bridge.expression(tokens), n))
}
