package graft

import org.apache.spark.sql.functions._
import graft.operators.SubstringDedup

/** Pins SubstringDedup (Lee et al. ExactSubstr re-expressed in
  * Spark) against a clean-room naive reference: brute-force global
  * k-gram occurrence lists + interval merge, on planted and
  * randomized corpora, in both key modes and both keep policies. */
class SubstringDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def naiveTokens(t: String): Vector[String] =
    t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector

  /** reference: spans as (id -> sorted maximal [s, e] 1-based) */
  private def naiveSpans(docs: Seq[(Long, String)], k: Int,
                         keepFirst: Boolean): Map[Long, Seq[(Long, Long)]] = {
    val occ = scala.collection.mutable.LinkedHashMap
      .empty[String, Vector[(Long, Int)]]
    docs.foreach { case (id, text) =>
      val t = naiveTokens(text)
      (0 to t.length - k).foreach { i =>
        val g = t.slice(i, i + k).mkString(" ")
        occ(g) = occ.getOrElse(g, Vector.empty) :+ ((id, i + 1))
      }
    }
    val covered = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.SortedSet[Int]]
    occ.values.filter(_.length > 1).foreach { os =>
      val winner = os.minBy(identity)
      os.foreach { case (id, s) =>
        if (!(keepFirst && (id, s) == winner))
          covered.getOrElseUpdate(
            id, scala.collection.mutable.SortedSet.empty[Int]) += s
      }
    }
    covered.map { case (id, starts) =>
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      starts.foreach { s =>
        val e = s + k - 1
        if (spans.nonEmpty && s <= spans.last._2 + 1)
          spans(spans.length - 1) = (spans.last._1, math.max(spans.last._2, e))
        else spans += ((s.toLong, e.toLong))
      }
      id -> spans.toSeq
    }.toMap
  }

  private def gotSpans(docs: Seq[(Long, String)], k: Int,
                       keepFirst: Boolean, hashKeys: Boolean)
  : Map[Long, Seq[(Long, Long)]] =
    SubstringDedup.duplicateSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", k, keepFirst, hashKeys)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (id, rs) =>
        id -> rs.map(r => (r._2, r._3)).sortBy(identity).toSeq }

  test("planted cross-doc duplicate passage: both sides flagged, spans maximal") {
    val shared = "the quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"one two three $shared four"),
      (3L, "nothing duplicated here at all"))
    val spans = gotSpans(docs, k = 4, keepFirst = false, hashKeys = true)
    // 9 shared tokens starting at token 3 (doc 1) and 4 (doc 2)
    assert(spans(1L) == Seq((3L, 11L)))
    assert(spans(2L) == Seq((4L, 12L)))
    assert(!spans.contains(3L))
    // keepFirst exempts doc 1's copy (global first occurrence)
    val kf = gotSpans(docs, k = 4, keepFirst = true, hashKeys = true)
    assert(!kf.contains(1L) && kf(2L) == Seq((4L, 12L)))
  }

  test("within-doc repetition is found and removal empties a pure repeat") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "clean text with no repeats"))
    val spans = gotSpans(docs, k = 3, keepFirst = false, hashKeys = true)
    assert(spans(1L) == Seq((1L, 6L)))
    val out = SubstringDedup.removeDuplicateSpans(
        docs.toDF("doc_id", "text"), "doc_id", "text",
        k = 3, keepFirst = false)
      .select($"doc_id", $"text_dedup").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "")
    assert(out(2L) == "clean text with no repeats")
  }

  test("randomized: spans equal the naive reference in all four modes") {
    val rng = new scala.util.Random(133)
    val vocab = Vector("a", "b", "c", "d", "e")
    for (round <- 1 to 5) {
      val docs = (1L to 12L).map { id =>
        id -> (1 to (5 + rng.nextInt(25)))
          .map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
      }
      for (keepFirst <- Seq(false, true); hashKeys <- Seq(false, true)) {
        val want = naiveSpans(docs, 4, keepFirst)
        val got = gotSpans(docs, 4, keepFirst, hashKeys)
        assert(got == want,
          s"round $round keepFirst=$keepFirst hashKeys=$hashKeys")
      }
    }
  }

  test("removal equals naive token filtering; short docs pass through") {
    val rng = new scala.util.Random(134)
    val vocab = Vector("x", "y", "z", "w")
    val docs = (1L to 10L).map { id =>
      id -> (1 to (2 + rng.nextInt(20)))
        .map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val k = 3
    val want = {
      val spans = naiveSpans(docs, k, keepFirst = true)
      docs.map { case (id, text) =>
        val t = naiveTokens(text)
        val cov = spans.getOrElse(id, Seq.empty)
        id -> t.zipWithIndex.collect {
          case (tok, i) if !cov.exists(sp => i + 1 >= sp._1 && i + 1 <= sp._2)
          => tok
        }.mkString(" ")
      }.toMap
    }
    val got = SubstringDedup.removeDuplicateSpans(
        docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .select($"doc_id", $"text_dedup").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want)
  }

  test("gram-index screen: batch spans vs corpus equal the naive set view") {
    val rng = new scala.util.Random(138)
    val vocab = Vector("p", "q", "r", "s")
    val corpus = (1L to 8L).map { id =>
      id -> (1 to (6 + rng.nextInt(20)))
        .map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val batch = (100L to 106L).map { id =>
      id -> (1 to (6 + rng.nextInt(20)))
        .map(_ => vocab(rng.nextInt(vocab.length))).mkString(" ")
    }
    val k = 4
    // naive: batch anchors whose gram exists anywhere in the corpus
    val corpusGrams = corpus.flatMap { case (_, t) =>
      val w = naiveTokens(t)
      (0 to w.length - k).map(i => w.slice(i, i + k).mkString(" "))
    }.toSet
    val want = batch.flatMap { case (id, t) =>
      val w = naiveTokens(t)
      val starts = (0 to w.length - k)
        .filter(i => corpusGrams(w.slice(i, i + k).mkString(" ")))
        .map(_ + 1)
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      starts.foreach { s =>
        val e = s + k - 1
        if (spans.nonEmpty && s <= spans.last._2 + 1)
          spans(spans.length - 1) = (spans.last._1, math.max(spans.last._2, e))
        else spans += ((s.toLong, e.toLong))
      }
      spans.map { case (s, e) => (id, s, e) }
    }.toSet
    for (hashKeys <- Seq(true, false)) {
      val idx = SubstringDedup.gramIndex(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k, hashKeys)
      val got = SubstringDedup.duplicateSpansAgainst(
          batch.toDF("doc_id", "text"), idx, "doc_id", "text", k, hashKeys)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"hashKeys=$hashKeys")
    }
  }

  test("scrub face: corpus-known runs cut, fresh tails survive") {
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val idx = SubstringDedup.gramIndex(corpus, "doc_id", "text", 4)
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),      // full copy -> ''
      (11L, "alpha beta gamma delta fresh0 fresh1"),      // prefix run cut
      (12L, "all new material with nothing shared here")) // untouched
      .toDF("doc_id", "text")
    val got = SubstringDedup.removeDuplicateSpansAgainst(
        batch, idx, "doc_id", "text", 4)
      .select($"doc_id", $"text_dedup").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(10L) == "")
    assert(got(11L) == "fresh0 fresh1")
    assert(got(12L) == "all new material with nothing shared here")
  }

  test("gram index: update == rebuild; params validated; parquet round-trip") {
    val a = Seq((1L, "w x y z w x"), (2L, "x y z w")).toDF("doc_id", "text")
    val b = Seq((3L, "z w x y"), (4L, "fresh words only here")).toDF("doc_id", "text")
    val k = 3
    val updated = SubstringDedup.gramIndexUpdate(
      SubstringDedup.gramIndex(a, "doc_id", "text", k), b, "doc_id", "text", k)
    val rebuilt = SubstringDedup.gramIndex(
      a.unionByName(b), "doc_id", "text", k)
    assert(updated.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(updated).isEmpty)
    // parquet round-trip screens identically (and rides the bare-scan
    // validation memo)
    val dir = java.nio.file.Files.createTempDirectory("graft_gram_idx").toString
    updated.write.mode("overwrite").parquet(dir)
    val fromDisk = spark.read.parquet(dir)
    val batch = Seq((9L, "y z w x tail")).toDF("doc_id", "text")
    val got = SubstringDedup.duplicateSpansAgainst(
        batch, fromDisk, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((9L, 1L, 4L)))
    // wrong k throws (recall would silently collapse)
    val ek = intercept[IllegalArgumentException] {
      SubstringDedup.duplicateSpansAgainst(batch, fromDisk,
        "doc_id", "text", k + 1)
    }
    assert(ek.getMessage.contains("__k"))
    // a param-less index is rejected unless the caller opts in
    val bare = fromDisk.drop("__fmt", "__k", "__hashKeys")
    val ep = intercept[IllegalArgumentException] {
      SubstringDedup.duplicateSpansAgainst(batch, bare, "doc_id", "text", k)
    }
    assert(ep.getMessage.contains("acceptUnvalidated"))
    assert(SubstringDedup.duplicateSpansAgainst(batch, bare,
      "doc_id", "text", k, acceptUnvalidated = true).count() == 1)
  }

  test("fluent DDF delegates match the operator surface") {
    import graft.ddf.DDF
    import graft.operators.Frequent
    val docs = Seq((1L, "a b c d a b c d"), (2L, "a b c d x y z w"))
      .toDF("doc_id", "text")
    val d = DDF(docs)
    assert(d.substringSpans("doc_id", "text", 4).toDF.collect().toSet ==
      SubstringDedup.duplicateSpans(docs, "doc_id", "text", 4)
        .collect().toSet)
    assert(d.substringDedup("doc_id", "text", 4).toDF
      .select($"doc_id", $"text_dedup").collect().toSet ==
      SubstringDedup.removeDuplicateSpans(docs, "doc_id", "text", 4)
        .select($"doc_id", $"text_dedup").collect().toSet)
    val idx = DDF(SubstringDedup.gramIndex(docs, "doc_id", "text", 4))
    val batch = Seq((9L, "a b c d tail")).toDF("doc_id", "text")
    assert(DDF(batch).substringSpansAgainst(idx, "doc_id", "text", 4)
      .toDF.collect().toSet ==
      SubstringDedup.duplicateSpansAgainst(batch, idx.toDF,
        "doc_id", "text", 4).collect().toSet)
    val hh = Seq("h", "h", "h", "t1", "t2").toDF("v")
    assert(DDF(hh).heavyHitters("v", 0.5).toDF.collect().toSet ==
      Frequent.heavyHitters(hh, "v", 0.5).collect().toSet)
    val un = Seq((1L, "cafe\u0301")).toDF("id", "t") // decomposed
    assert(DDF(un).normalizeUnicode("t").toDF
      .select($"t").head().getString(0) == "caf\u00e9") // NFC-composed
  }

  test("no shuffle carries gram text in hash mode (scale shape)") {
    val docs = Seq((1L, "a b c d e f g"), (2L, "c d e f g h i"))
      .toDF("doc_id", "text")
    val plan = SubstringDedup.duplicateSpans(docs, "doc_id", "text", 4)
      .queryExecution.executedPlan.toString
    // the anchor column must be hashed BEFORE the first exchange:
    // xxhash64 appears below every Exchange in the plan text
    val firstExchange = plan.indexOf("Exchange")
    val hashSite = plan.indexOf("xxhash64")
    assert(firstExchange >= 0 && hashSite > firstExchange,
      s"xxhash64 should sit under the exchanges (map side):\n$plan")
  }
}
