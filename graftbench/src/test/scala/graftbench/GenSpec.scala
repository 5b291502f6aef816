package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def allBytes(s: Web.Shard, parts: Int): Seq[Byte] =
    (0 until parts).flatMap(p => Web.warcGz(s, p, parts).toSeq)

  test("same seed gives byte-identical shards and the same survivors") {
    val a = Web.shard(7L, 3, 200)
    val b = Web.shard(7L, 3, 200)
    assert(allBytes(a, 4) == allBytes(b, 4))
    assert(a.survivors.map(p => (p.id, p.lang, p.text)) == b.survivors.map(p => (p.id, p.lang, p.text)))
  }

  test("a different seed or shard gives different inputs") {
    val a = Web.shard(7L, 3, 200)
    assert(allBytes(a, 4) != allBytes(Web.shard(8L, 3, 200), 4))
    assert(allBytes(a, 4) != allBytes(Web.shard(7L, 4, 200), 4))
    assert(Docs.baseText(1L, 0) != Docs.baseText(2L, 0))
    assert(Tables.chunk(1L, 0, 100) != Tables.chunk(2L, 0, 100))
  }

  test("planted shard shares match the stated ones exactly") {
    val n = 320
    val s = Web.shard(11L, 0, n)
    def count(f: Web.Kind => Boolean) = s.pages.count(p => f(p.kind))
    val thin = count(_ == Web.Thin)
    val exact = count(_.isInstanceOf[Web.ExactCopy])
    val near = count(_.isInstanceOf[Web.NearCopy])
    assert(thin == math.round(n * Web.ThinShare))
    assert(exact == math.round(n * Web.ExactShare))
    assert(near == math.round(n * Web.NearShare))
    assert(s.survivors.size == n - thin - exact - near)
    // the first fifth is originals only; every copy points at an earlier original, once
    assert(s.pages.take((n * Web.OriginalPrefix).toInt).forall(_.kind == Web.Original))
    val sources = s.pages.collect {
      case p @ Web.Page(_, _, Web.ExactCopy(of), _, _, _) => (p, of)
      case p @ Web.Page(_, _, Web.NearCopy(of), _, _, _) => (p, of)
    }
    assert(sources.map(_._2).distinct.size == sources.size)
    sources.foreach { case (p, of) =>
      val src = s.pages.find(_.id == of).get
      assert(src.kind == Web.Original && src.id < p.id && src.lang == p.lang)
      val diff = src.text.split(" ").zip(p.text.split(" ")).count { case (a, b) => a != b }
      assert(diff == (if (p.kind.isInstanceOf[Web.ExactCopy]) 0 else 1))
    }
  }

  test("shared footer lines, languages and boilerplate are planted as stated") {
    val s = Web.shard(5L, 1, 2000)
    val footerShare = s.pages.count(_.footer).toDouble / s.pages.size
    assert(math.abs(footerShare - Web.FooterShare) < 0.05)
    val originals = s.pages.filter(_.kind == Web.Original)
    Web.LangWeights.foreach { case (l, w) =>
      assert(math.abs(originals.count(_.lang == l).toDouble / originals.size - w) < 0.05, l)
    }
    s.pages.foreach { p =>
      assert(p.html.contains("<nav>") && p.html.contains("&copy;"))
      assert(p.html.contains(Lang.footer(p.lang)) == p.footer)
    }
  }

  test("paragraphs carry a fixed stopword density and more than 200 characters") {
    val r = new Rng(3L)
    Lang.codes.foreach { l =>
      val stop = Lang.stopwords(l).toSet
      (0 until 50).foreach { _ =>
        val p = Lang.paragraph(l, r)
        assert(p.length > 200 && p.endsWith("."))
        val toks = p.stripSuffix(".").toLowerCase.split(" ")
        assert(toks.length == Lang.WordsPerParagraph)
        assert(toks.count(stop) == Lang.StopsPerParagraph)
      }
    }
  }

  test("same seed gives identical admission batches and admitted sets") {
    val corpus = Docs.corpus(9L, 50, 2)
    val a = new Docs.Stream(9L, corpus, 40)
    val b = new Docs.Stream(9L, corpus, 40)
    (0 until 3).foreach { _ => assert(a.next() == b.next()) }
    val c = new Docs.Stream(10L, Docs.corpus(10L, 50, 2), 40)
    assert(c.next().rows != new Docs.Stream(9L, corpus, 40).next().rows)
  }

  test("planted batch shares match the stated ones and admitted ids are the fresh ones") {
    val size = 100
    val corpus = Docs.corpus(4L, 200, 2)
    val corpusIds = corpus.map(_._1).toSet
    val stream = new Docs.Stream(4L, corpus, size)
    val first = stream.next()
    val second = stream.next()
    def n(share: Double) = math.round(size * share)
    Seq(first, second).foreach { b =>
      assert(b.rows.size == size)
      val kinds = b.rows.map(r => b.kinds(r._1))
      assert(kinds.count(_ == "fresh") == n(Docs.FreshShare))
      assert(kinds.count(_ == "exact_corpus") == n(Docs.ExactCorpusShare))
      assert(b.admitted == b.rows.filter(r => b.kinds(r._1) == "fresh").map(_._1).toSet)
    }
    // the first batch has no earlier admissions: those slots screen against the corpus
    assert(first.kinds.values.count(_ == "near_admitted") == 0)
    assert(second.rows.count(r => second.kinds(r._1) == "near_admitted") == n(Docs.NearAdmittedShare))
    // replays reuse ids the corpus holds by then
    val known = corpusIds ++ first.admitted
    val replays = second.rows.filter(r => second.kinds(r._1) == "replay")
    assert(replays.size == size - n(Docs.FreshShare) -
      n(Docs.NearAdmittedShare) - n(Docs.NearCorpusShare) - n(Docs.ExactCorpusShare))
    assert(replays.forall(r => known(r._1)))
    // near-duplicates differ from a corpus or admitted text in one word
    val texts = (corpus ++ first.rows.filter(r => first.admitted(r._1))).map(_._2.split(" ").toSeq)
    second.rows.filter(r => second.kinds(r._1).startsWith("near")).foreach { case (_, t) =>
      val ws = t.split(" ").toSeq
      assert(texts.exists(o => o.size == ws.size && o.zip(ws).count { case (a, b) => a != b } == 1))
    }
  }

  test("tables: dense order keys, one to seven lines each, stated null share") {
    val (orders, lines) = Tables.chunk(2L, 1, 1000)
    assert(orders.map(_.key) == (Tables.OrdersPerChunk + 1 to 2 * Tables.OrdersPerChunk).map(_.toLong))
    val per = lines.groupBy(_.order).values.map(_.size)
    assert(per.min >= 1 && per.max <= 7)
    val nullShare = orders.count(_.total.isEmpty).toDouble / orders.size
    assert(math.abs(nullShare - Tables.NullTotalShare) < 0.01)
    assert(Tables.chunk(2L, 1, 1000) == (orders, lines))
  }
}
