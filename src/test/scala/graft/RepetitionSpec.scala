package graft

import graft.operators.Repetition

/** Gopher repetition suite (Rae 2021 A1.2) — hand-computed fixtures
  * for all three stages plus the 12-rule conjunction. */
class RepetitionSpec extends SparkTestBase {
  import spark.implicits._

  private def row1[A](df: org.apache.spark.sql.DataFrame, id: Long)
  : org.apache.spark.sql.Row =
    df.filter($"doc_id" === id).head()

  test("dupUnitFractions: hand-computed line/paragraph fractions, " +
    "null and single-unit docs are 0.0") {
    val docs = Seq(
      (1L, "a\nb\na\n\nc"),      // lines a,b,a,c; paras "a\nb\na","c"
      (2L, "x\n\nx"),            // lines x,x; paras x,x
      (3L, null.asInstanceOf[String]),
      (4L, "unique line only")
    ).toDF("doc_id", "text")
    val f = Repetition.dupUnitFractions(docs, "doc_id", "text")
    val r1 = row1(f, 1L)
    // 4 line occurrences, 3 distinct -> 1/4; dup chars 1 of 4
    assert(r1.getDouble(1) == 0.25 && r1.getDouble(2) == 0.25)
    // paragraphs distinct -> 0
    assert(r1.getDouble(3) == 0.0 && r1.getDouble(4) == 0.0)
    val r2 = row1(f, 2L)
    assert(r2.getDouble(1) == 0.5 && r2.getDouble(2) == 0.5 &&
      r2.getDouble(3) == 0.5 && r2.getDouble(4) == 0.5)
    Seq(3L, 4L).foreach { i =>
      val r = row1(f, i)
      (1 to 4).foreach(j => assert(r.getDouble(j) == 0.0, s"doc $i col $j"))
    }
    assert(f.count() == 4) // every input doc present exactly once
  }

  test("topNgramFractions: hand-computed top 2/3/4-gram coverage " +
    "with the (count, len, gram) struct-max tie-break") {
    val docs = Seq(
      (1L, "a b a b c"), // joined len 9
      (2L, "a")          // too short for any n
    ).toDF("doc_id", "text")
    val f = Repetition.topNgramFractions(docs, "doc_id", "text")
    val r1 = row1(f, 1L)
    // top 2-gram "a b" x2, len 3 -> 6/9
    assert(math.abs(r1.getDouble(1) - 6.0 / 9) < 1e-12)
    // 3-grams all count 1 len 5; tie -> largest gram "b a b" -> 5/9
    assert(math.abs(r1.getDouble(2) - 5.0 / 9) < 1e-12)
    // 4-grams count 1 len 7 -> 7/9
    assert(math.abs(r1.getDouble(3) - 7.0 / 9) < 1e-12)
    val r2 = row1(f, 2L)
    (1 to 3).foreach(j => assert(r2.getDouble(j) == 0.0))
  }

  test("dupNgramCoverage: interval-union coverage — overlapping " +
    "occurrences never double-count, non-duplicated n stay 0.0") {
    val docs = Seq(
      // "a b c d e" duplicated (tokens 1-5 and 9-13), nothing longer:
      // joined len 37, covered 9 + 9 = 18
      (1L, "a b c d e x1 x2 x3 a b c d e y1 y2 y3"),
      // all-same tokens: every 5-gram duplicated, spans overlap —
      // union must be the WHOLE string exactly (13 chars), never more
      (2L, "w w w w w w w"),
      (3L, "too short")
    ).toDF("doc_id", "text")
    val f = Repetition.dupNgramCoverage(docs, "doc_id", "text")
    val r1 = row1(f, 1L)
    assert(math.abs(r1.getDouble(1) - 18.0 / 37) < 1e-12, "dup5")
    (2 to 6).foreach(j => assert(r1.getDouble(j) == 0.0, s"dup${j + 4}"))
    val r2 = row1(f, 2L)
    assert(r2.getDouble(1) == 1.0, "overlap union must cap at 1.0")
    // 6-gram "w w w w w w" at s=1,2 -> also full coverage; 7-gram
    // occurs once -> 0
    assert(r2.getDouble(2) == 1.0 && r2.getDouble(3) == 0.0)
    val r3 = row1(f, 3L)
    (1 to 6).foreach(j => assert(r3.getDouble(j) == 0.0))
  }

  test("randomized equality vs a naive in-memory reference " +
    "(small alphabet, the PhrasesSpec discipline)") {
    val rnd = new scala.util.Random(42)
    val words = Seq("a", "bb", "ccc", "dd", "e")
    // tab/CR-edged fixture (ADVICE r15): the engine trims SPACES only
    // (Spark trim), so a tab-edged line keeps its tab inside the unit
    // key — the fixture must reach that edge and the naive reference
    // must replay space-only trimming (Java String.trim strips every
    // char <= 0x20 and would silently diverge); CRLF separators pin
    // the r16 `\r?\n` split on both sides
    def randLine(): String = {
      val core = (1 to (1 + rnd.nextInt(12))).map(_ =>
        words(rnd.nextInt(words.length))).mkString(" ")
      val pre = rnd.nextInt(5) match {
        case 0 => "\t" case 1 => "  " case _ => "" }
      val suf = if (rnd.nextInt(5) == 0) "\t" else ""
      pre + core + suf
    }
    def randDoc(): String = {
      val lines = (1 to (1 + rnd.nextInt(4))).map(_ => randLine())
      val sep = rnd.nextInt(4) match {
        case 0 => "\n" case 1 => "\n\n" case 2 => "\r\n"
        case _ => "\r\n\r\n" }
      lines.mkString(sep)
    }
    val docs = (1L to 40L).map(i => (i, randDoc()))
    val df = docs.toDF("doc_id", "text")

    // ---- naive reference, straight from the definitions ----
    def trimSpaces(s: String): String = s.replaceAll("^ +| +$", "")
    def naiveUnits(t: String, para: Boolean): Seq[String] = {
      val sep = if (para) "(\r?\n){2,}" else "\r?\n"
      t.split(sep).map(trimSpaces).filter(_.nonEmpty).toSeq
    }
    def naiveDupFracs(t: String, para: Boolean): (Double, Double) = {
      val u = naiveUnits(t, para)
      if (u.isEmpty) (0.0, 0.0)
      else {
        val g = u.groupBy(identity).view.mapValues(_.size)
        val dups = g.values.map(_ - 1).sum
        val dupCh = g.map { case (v, k) => (k - 1) * v.length }.sum
        val totCh = g.map { case (v, k) => k * v.length }.sum
        (dups.toDouble / u.size, dupCh.toDouble / totCh)
      }
    }
    def toks(t: String): Seq[String] =
      t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    def naiveTop(t: String, n: Int): Double = {
      val tk = toks(t)
      if (tk.size < n) 0.0
      else {
        val joined = tk.mkString(" ")
        val grams = tk.sliding(n).map(_.mkString(" ")).toSeq
        val byGram = grams.groupBy(identity).view.mapValues(_.size)
        val best = byGram.toSeq
          .maxBy { case (g, k) => (k, g.length, g) }
        best._2.toDouble * best._1.length / joined.length
      }
    }
    def naiveDupCov(t: String, n: Int): Double = {
      val tk = toks(t)
      if (tk.size < n) 0.0
      else {
        val joined = tk.mkString(" ")
        val offs = tk.scanLeft(0)((o, w) => o + w.length + 1)
        val grams = (0 to tk.size - n).map(s =>
          (tk.slice(s, s + n).mkString(" "), s))
        val dupG = grams.groupBy(_._1).filter(_._2.size > 1)
        val covered = Array.fill(joined.length)(false)
        dupG.values.flatten.foreach { case (g, s) =>
          (offs(s) until (offs(s) + g.length)).foreach(covered(_) = true)
        }
        covered.count(identity).toDouble / joined.length
      }
    }

    // the FUSED 12-rule pipeline must agree with the naive reference
    // on all 13 fractions (r16: gopherRepetitionFlags no longer joins
    // the three standalone stages — one tagged explode serves all
    // bands, so its equality here is a separate claim)
    val fusedCols = Seq("dup_line_frac", "dup_line_char_frac",
      "dup_para_frac", "dup_para_char_frac",
      "top2_char_frac", "top3_char_frac", "top4_char_frac") ++
      (5 to 10).map(n => s"dup${n}_char_frac")
    val fused = Repetition.gopherRepetitionFlags(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        fusedCols.map(c => r.getAs[Double](c))).toMap

    val units = Repetition.dupUnitFractions(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val tops = Repetition.topNgramFractions(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val covs = Repetition.dupNgramCoverage(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (1 to 6).map(j => r.getDouble(j))).toMap
    docs.foreach { case (i, t) =>
      val (lf, lcf) = naiveDupFracs(t, para = false)
      val (pf, pcf) = naiveDupFracs(t, para = true)
      val (glf, glcf, gpf, gpcf) = units(i)
      assert(math.abs(glf - lf) < 1e-12 && math.abs(glcf - lcf) < 1e-12,
        s"doc $i line fracs: got ($glf,$glcf) want ($lf,$lcf)\n$t")
      assert(math.abs(gpf - pf) < 1e-12 && math.abs(gpcf - pcf) < 1e-12,
        s"doc $i para fracs\n$t")
      Seq(2, 3, 4).zipWithIndex.foreach { case (n, j) =>
        assert(math.abs(tops(i)(j) - naiveTop(t, n)) < 1e-12,
          s"doc $i top$n: got ${tops(i)(j)} want ${naiveTop(t, n)}\n$t")
      }
      (5 to 10).zipWithIndex.foreach { case (n, j) =>
        assert(math.abs(covs(i)(j) - naiveDupCov(t, n)) < 1e-12,
          s"doc $i dup$n: got ${covs(i)(j)} want ${naiveDupCov(t, n)}\n$t")
      }
      val want = Seq(lf, lcf, pf, pcf) ++
        Seq(2, 3, 4).map(naiveTop(t, _)) ++
        (5 to 10).map(naiveDupCov(t, _))
      fused(i).zip(want).zipWithIndex.foreach { case ((g, w), j) =>
        assert(math.abs(g - w) < 1e-12,
          s"doc $i fused col $j: got $g want $w\n$t")
      }
    }
  }

  test("CRLF documents behave like their LF twins (ADVICE r15): " +
    "dupUnitFractions and dropCommonLines split on \\r?\\n") {
    val lf = Seq((1L, "a\nb\na\n\nc"), (2L, "x\n\nx"))
    val crlf = lf.map { case (i, t) => (i, t.replace("\n", "\r\n")) }
    val fLf = Repetition.dupUnitFractions(lf.toDF("doc_id", "text"),
      "doc_id", "text").collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getDouble)).toMap
    val fCr = Repetition.dupUnitFractions(crlf.toDF("doc_id", "text"),
      "doc_id", "text").collect().map(r => r.getLong(0) ->
        (1 to 4).map(r.getDouble)).toMap
    assert(fLf == fCr)
    // a CRLF doc's common line matches its LF twin's in the corpus
    // census, and endings normalize to '\n' on reassembly
    val docs = Seq(
      (1L, "unique alpha\r\ncommon banner\r\nbody one"),
      (2L, "common banner\nunique beta"),
      (3L, "unique gamma\ncommon banner")
    ).toDF("doc_id", "text")
    val out = Repetition.dropCommonLines(docs, "doc_id", "text", 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique alpha\nbody one")
    assert(out(2L) == "unique beta")
    assert(out(3L) == "unique gamma")
  }

  test("dropCommonLines: corpus-common lines removed everywhere, " +
    "rare and blank lines survive, order and columns preserved") {
    val docs = Seq(
      (1L, "unique alpha\ncookie banner here\n\nbody one", "en"),
      (2L, "cookie banner here\nunique beta\nbody two", "de"),
      (3L, "unique gamma\n  cookie banner here  \nbody three", "en"),
      (4L, null.asInstanceOf[String], "fr")
    ).toDF("doc_id", "text", "lang")
    // "cookie banner here" occurs (trimmed) in 3 docs > maxDocs=2
    val out = Repetition.dropCommonLines(docs, "doc_id", "text", 2L)
    assert(out.columns.toSeq == Seq("doc_id", "text", "lang"))
    val m = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "unique alpha\n\nbody one") // blank line survives
    assert(m(2L) == "unique beta\nbody two")
    assert(m(3L) == "unique gamma\nbody three") // trimmed-key match
    assert(m(4L) == "")                          // null -> empty
    // raise the threshold: nothing is common, docs unchanged
    val loose = Repetition.dropCommonLines(docs, "doc_id", "text", 3L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(1L) == "unique alpha\ncookie banner here\n\nbody one")
  }

  test("dropCommonLines evaluates its input once: each upstream row " +
    "runs once through the call plus one action") {
    import org.apache.spark.sql.functions.{concat, lit, udf}
    val evals = spark.sparkContext.longAccumulator("upstream rows")
    // nondeterministic: keeps the counter out of inferred join
    // filters, so it counts upstream evaluations only
    val counted = udf { (_: Long) => evals.add(1); true }.asNondeterministic()
    val docs = spark.range(1, 41)
      .select($"id".as("doc_id"), concat(lit("line "), $"id",
        lit("\ncommon footer\nbody "), $"id" % 7).as("text"))
      .filter(counted($"doc_id"))
    val out = Repetition.dropCommonLines(docs, "doc_id", "text", 4L)
      .collect()
    assert(out.length == 40 && !out.exists(_.getString(1).contains("footer")))
    assert(evals.value == 40L)
  }

  test("dropCommonLines == a per-line reference on randomized texts: " +
    "spaces, tabs and carriage returns around the lines, blanks, nulls") {
    // the reference: split on \r?\n, key = the line with leading and
    // trailing spaces (only) removed, doc frequency over distinct keys
    // per document, blank keys never common
    def key(l: String) = l.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val parts = Seq("nav", "foot er", " nav", "nav  ", "", "  ", "\t", "nav\t",
      "x\r", "a \r", " \r", "body", "menu", "\r")
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 40L).map { id =>
        val text =
          if (rnd.nextInt(10) == 0) null
          else Seq.fill(rnd.nextInt(7))(
              Seq.fill(1 + rnd.nextInt(2))(parts(rnd.nextInt(parts.size))).mkString)
            .mkString(if (rnd.nextBoolean()) "\n" else "\r\n")
        (id, text)
      }
      val lines = docs.map { case (id, t) =>
        id -> Option(t).getOrElse("").split("\r?\n", -1).toSeq }
      val df = lines.flatMap { case (_, ls) => ls.map(key).filter(_.nonEmpty).distinct }
        .groupBy(identity).map { case (k, v) => k -> v.size }
      for (maxDocs <- Seq(1L, 3L, 8L)) {
        val want = lines.map { case (id, ls) =>
          id -> ls.filter(l => df.getOrElse(key(l), 0) <= maxDocs).mkString("\n")
        }.toMap
        val got = Repetition.dropCommonLines(docs.toDF("doc_id", "text"),
            "doc_id", "text", maxDocs)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == want, s"seed=$seed maxDocs=$maxDocs")
      }
    }
  }

  test("gopherRepetitionFlags: published thresholds gate the " +
    "conjunction; clean docs pass, repetitive docs fail") {
    // doc 1 must be LONG to pass: with all-distinct words the top
    // n-gram fraction is (single occurrence length)/(doc length), so
    // a short doc fails the 2/3/4-gram caps on sheer brevity — the
    // published thresholds presume documents past the A1.1 50-word
    // floor (a real composition note: run gopherFlags first)
    val docs = Seq(
      (1L, (1 to 60).map(i => f"w$i%02d").mkString(" ")),
      (2L, "a b c d e x1 x2 x3 a b c d e y1 y2 y3") // dup5 .486 > .15
    ).toDF("doc_id", "text")
    val f = Repetition.gopherRepetitionFlags(docs, "doc_id", "text")
    assert(f.columns.length == 1 + 13 + 1) // id + 13 fractions + pass
    assert(row1(f, 1L).getAs[Boolean]("rep_pass"))
    assert(!row1(f, 2L).getAs[Boolean]("rep_pass"))
    // threshold parameterization: loosen dup-ngram caps -> doc 2 passes
    val loose = Repetition.gopherRepetitionFlags(docs, "doc_id", "text",
      maxTopNgramFrac = Seq(2 -> 1.0, 3 -> 1.0, 4 -> 1.0),
      maxDupNgramFrac = Seq(5 -> 1.0, 6 -> 1.0, 7 -> 1.0, 8 -> 1.0,
        9 -> 1.0, 10 -> 1.0))
    assert(row1(loose, 2L).getAs[Boolean]("rep_pass"))
  }
}
