package graft

import org.apache.spark.sql.functions._

import graft.expressions.GramExpressions
import graft.functions.{TextFunctions => TF}

/** Pins every native gram kernel (r19) to the column-math HOF
  * formulation it replaced — the house WordShingles/SimHashMd5
  * discipline: the kernel is a performance spelling, NEVER a
  * semantics change, and the DuckDB oracles replay the column
  * spelling, so any divergence here is a correctness bug. */
class GramExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private val texts: Seq[String] = Seq(
    "", " ", "one", "one two", "the quick brown fox jumps",
    "répé titions répé titions", "日本語 テキスト です",
    "a b c d e f g h i j", "x  double  spaces", "Tabs\tand\nnewlines mix",
    "MiXeD Case TOKENS", "emoji 🎉 in line 🎉 twice") ++
    (0 until 200).map(i => s"doc $i word${i % 7} tail${i % 13} " * (i % 5 + 1))

  private def df = (texts.map(Option(_)) :+ None).toDF("text")
    .repartition(3)

  /** the three kernels over TOKEN ARRAYS are null-in → null-out
    * (their operator call sites filter/guard nulls upstream); their
    * column specs here differ on null, so compare on non-null rows
    * and pin the null behavior separately */
  private def dfNonNull = texts.toDF("text").repartition(3)

  test("HashedGramBuckets == bucketArr HOF spec (md5 and xxhash64)") {
    for (hash <- Seq("md5", "xxhash64"); m <- Seq(2, 512, 4096)) {
      val bad = df.select(
          graft.operators.Dsir.bucketArr(col("text"), m, hash)
            .as("native"),
          graft.operators.Dsir.bucketArrHof(col("text"), m, hash)
            .as("spec"))
        .filter(col("native") =!= col("spec") ||
          col("native").isNull =!= col("spec").isNull)
        .count()
      assert(bad == 0L, s"hash=$hash m=$m: kernel diverged from spec")
    }
  }

  test("BucketScore == aggregate/element_at fold, bit for bit") {
    val m = 64
    val table = Array.tabulate(m)(i => math.log(i + 1.5) - 0.7)
    val tableLit = typedLit(table.toSeq)
    val buckets = graft.operators.Dsir.bucketArr(col("text"), m, "md5")
    val bad = df.select(
        GramExpressions.bucketScore(buckets, table).as("native"),
        aggregate(buckets, lit(0.0),
          (acc, b) => acc + element_at(tableLit, b.cast("int") + 1))
          .as("spec"))
      .filter(col("native") =!= col("spec") ||
        col("native").isNull =!= col("spec").isNull)
      .count()
    assert(bad == 0L)
  }

  test("CharGramBuckets (+ empty coalesce) == LangId bucketArr HOF spec") {
    for ((nMin, nMax) <- Seq((2, 3), (1, 1), (2, 4))) {
      val bad = df.select(
          graft.operators.LangId.bucketArr(col("text"), 512, nMin, nMax)
            .as("native"),
          graft.operators.LangId.bucketArrHof(col("text"), 512, nMin, nMax)
            .as("spec"))
        .filter(col("native") =!= col("spec") ||
          col("native").isNull =!= col("spec").isNull)
        .count()
      assert(bad == 0L, s"n=[$nMin,$nMax]: kernel diverged from spec")
    }
  }

  /** `len` code points drawn (seeded) from 1-, 2-, 3- and 4-byte
    * characters, all caseless or already lower, so lower() keeps the
    * byte layout */
  private def mixedDoc(len: Int, seed: Long): String = {
    val cps = Array(0x61, 0x20, 0x7a, 0xe9, 0x3b1, 0x65e5, 0x30c6,
      0x1f389, 0x10348)
    val rnd = new scala.util.Random(seed)
    val sb = new java.lang.StringBuilder
    (0 until len).foreach(_ =>
      sb.appendCodePoint(cps(rnd.nextInt(cps.length))))
    sb.toString
  }

  test("CharGramBuckets == HOF spec on long mixed-width and short texts") {
    val long = Seq(mixedDoc(20000, 1L), mixedDoc(21003, 2L))
    val short = Seq("", "a", "é", "日", "🎉", "ab", "é🎉", "日本", "a🎉b")
    val in = (long ++ short).toDF("text").repartition(3)
    for ((nMin, nMax) <- Seq((2, 3), (1, 1), (2, 4), (3, 5))) {
      val bad = in.select(
          graft.operators.LangId.bucketArr(col("text"), 512, nMin, nMax)
            .as("native"),
          graft.operators.LangId.bucketArrHof(col("text"), 512, nMin, nMax)
            .as("spec"))
        .filter(col("native") =!= col("spec") ||
          col("native").isNull =!= col("spec").isNull)
        .count()
      assert(bad == 0L, s"n=[$nMin,$nMax]: kernel diverged from spec")
    }
  }

  /** md5Prefix(g, 15) mod m over raw bytes */
  private def md5Bucket(g: Array[Byte], m: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5").digest(g)
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16) % m
  }

  /** the per-gram substringSQL walk CharGramBuckets used to run, with
    * each gram's copy cut at the value's last byte: substring copies
    * a truncated tail's claimed width, past the value (pinned below) */
  private def substringWalk(v: org.apache.spark.unsafe.types.UTF8String,
                            nMin: Int, nMax: Int, m: Int): Seq[Long] = {
    val len = v.numChars()
    (nMin to nMax).flatMap { n =>
      (1 to len - n + 1).map { i =>
        val start = if (i == 1) 0 else v.substringSQL(1, i - 1).numBytes
        md5Bucket(v.substringSQL(i, n).getBytes.take(v.numBytes - start),
          m)
      }
    }
  }

  test("CharGramBuckets.compute == substringSQL walk on malformed UTF-8") {
    import org.apache.spark.unsafe.types.UTF8String
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val ab = "ab日".getBytes("UTF-8").map(_ & 0xff)
    val cases = Seq(
      "truncated 3-byte tail" -> bytes(ab ++ Seq(0xe3, 0x81): _*),
      "truncated 4-byte tail" -> bytes(0x61, 0x62, 0x63, 0xf0, 0x9f),
      "stray continuation bytes" ->
        bytes(0x61, 0x80, 0x62, 0xbf, 0xbf, 0x63, 0x9f, 0x64),
      "lone lead byte" -> bytes(0x61, 0xe3, 0x62, 0x63, 0x64, 0x65),
      "lone lead byte at the end" -> bytes(0x61, 0x62, 0x63, 0xe3),
      "invalid leads" -> bytes(0xc0, 0x61, 0xf8, 0x62, 0xff, 0xfe, 0x63))
    for ((what, raw) <- cases; (nMin, nMax) <- Seq((1, 1), (2, 3), (2, 4));
         m <- Seq(2, 512)) {
      // spare bytes keep substring's overrun (below) inside the buffer
      val v = UTF8String.fromBytes(raw ++ new Array[Byte](4), 0, raw.length)
      val got = GramExpressions.CharGramBuckets(
          org.apache.spark.sql.catalyst.expressions.Literal(v), nMin, nMax,
          m).compute(v).toLongArray().toSeq
      assert(got == substringWalk(v, nMin, nMax, m),
        s"$what n=[$nMin,$nMax] m=$m")
    }
    // why the walk above cuts its copy: substring steps over a
    // truncated tail's claimed width and copies bytes past the value
    val buf = bytes(0x61, 0xe3, 0x81, 0x5a)
    val v = UTF8String.fromBytes(buf, 0, 3)
    assert(v.numChars() == 2 && v.substringSQL(2, 1).numBytes == 3)
  }

  test("CharGramBuckets buckets a 200k-code-point document in linear time") {
    import org.apache.spark.unsafe.types.UTF8String
    val v = UTF8String.fromString(mixedDoc(200000, 3L))
    val k = GramExpressions.CharGramBuckets(
      org.apache.spark.sql.catalyst.expressions.Literal(v), 2, 3, 512)
    val t0 = System.nanoTime()
    val out = k.compute(v)
    val s = (System.nanoTime() - t0) / 1e9
    assert(out.numElements() == 2 * 200000 - 3)
    assert(s < 10.0, f"200k code points took $s%.1f s")
  }

  test("NgramCtxBuckets == transform/concat_ws/element_at spec") {
    def bucketOf(g: org.apache.spark.sql.Column, m: Int) =
      pmod(conv(substring(md5(g), 1, 15), 16, 10).cast("long"),
        lit(m.toLong))
    for (n <- Seq(2, 3, 5); m <- Seq(512)) {
      val toks = TF.tokens(col("text"))
      val spec = TF.bound(toks) { t =>
        transform(
          // empty-safe [1..k-(n-1)] like trainNgram's upstream filter
          when(size(t) >= n, sequence(lit(1), size(t) - (n - 1)))
            .otherwise(array().cast("array<int>")),
          i => {
            val full = concat_ws(" ",
              (0 until n).map(j => element_at(t, i + j)): _*)
            val ctx = concat_ws(" ",
              (0 until n - 1).map(j => element_at(t, i + j)): _*)
            struct(bucketOf(full, m).as("ng"), bucketOf(ctx, m).as("ctx"))
          })
      }
      val bad = dfNonNull.select(
          GramExpressions.ngramCtxBuckets(toks, n, m).as("native"),
          spec.as("spec"))
        .filter(col("native") =!= col("spec") ||
          col("native").isNull =!= col("spec").isNull)
        .count()
      assert(bad == 0L, s"n=$n: kernel diverged from spec")
    }
  }

  test("NgramNllSum == aggregate fold, bit for bit") {
    def bucketOf(g: org.apache.spark.sql.Column, m: Int) =
      pmod(conv(substring(md5(g), 1, 15), 16, 10).cast("long"),
        lit(m.toLong))
    val n = 3; val m = 256; val k = 0.5
    val ng = Array.tabulate(m)(i => (i % 17).toDouble)
    val ctx = Array.tabulate(m)(i => (i % 11).toDouble)
    val ngLit = typedLit(ng.toSeq); val ctxLit = typedLit(ctx.toSeq)
    val toks = TF.tokens(col("text"))
    val spec = TF.bound(toks) { t =>
      TF.bound(size(t) - (n - 1)) { g =>
        aggregate(slice(sequence(lit(0), greatest(g, lit(0))), lit(2),
            greatest(g, lit(0))), lit(0.0),
          (acc, i) => {
            val full = concat_ws(" ",
              (0 until n).map(j => element_at(t, i + j)): _*)
            val cx = concat_ws(" ",
              (0 until n - 1).map(j => element_at(t, i + j)): _*)
            acc - log(
              (element_at(ngLit, bucketOf(full, m).cast("int") + 1) + k) /
              (element_at(ctxLit, bucketOf(cx, m).cast("int") + 1) + k * m))
          })
      }
    }
    val bad = dfNonNull.select(
        GramExpressions.ngramNllSum(toks, n, m, k, ng, ctx).as("native"),
        spec.as("spec"))
      .filter(col("native") =!= col("spec") ||
        col("native").isNull =!= col("spec").isNull)
      .count()
    assert(bad == 0L)
  }

  test("WordNgrams == transform/concat_ws spec, multiplicity kept") {
    for (n <- Seq(1, 2, 3)) {
      val toks = TF.tokens(col("text"))
      val spec = TF.bound(toks) { t =>
        when(size(t) >= n, transform(sequence(lit(1), size(t) - (n - 1)),
          i => concat_ws(" ",
            (0 until n).map(j => element_at(t, i + j)): _*)))
          .otherwise(array().cast("array<string>"))
      }
      val bad = dfNonNull.select(
          GramExpressions.wordNgrams(toks, n).as("native"),
          spec.as("spec"))
        .filter(col("native") =!= col("spec") ||
          col("native").isNull =!= col("spec").isNull)
        .count()
      assert(bad == 0L, s"n=$n: kernel diverged from spec")
    }
  }

  test("token-array kernels are null-in null-out") {
    val one = Seq(Option.empty[String]).toDF("text")
    val toks = TF.tokens(col("text"))
    val r = one.select(
      GramExpressions.ngramCtxBuckets(toks, 3, 64).as("a"),
      GramExpressions.ngramNllSum(toks, 3, 64, 0.5,
        new Array[Double](64), new Array[Double](64)).as("b"),
      GramExpressions.wordNgrams(toks, 2).as("c"),
      GramExpressions.hashedGramBuckets(toks, 64, xx = false).as("d"))
      .collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
  }
}
