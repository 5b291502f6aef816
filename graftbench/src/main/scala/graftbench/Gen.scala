package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

/** SplitMix64: a small, fast, fully specified generator, so the same seed
  * gives the same inputs on every JVM. `fork` derives an independent
  * stream for a named sub-input (shard 3, batch 7, ...). */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def nextInt(n: Int): Int = java.lang.Long.remainderUnsigned(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def pick[T](xs: IndexedSeq[T]): T = xs(nextInt(xs.size))
  def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
  }
}

object Rng {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def fork(seed: Long, salt: Long*): Rng =
    new Rng(salt.foldLeft(mix(seed))((h, x) => mix(h ^ (x * 0x9E3779B97F4A7C15L))))
}

/** Three synthetic languages with disjoint syllable inventories and the
  * library's own per-language stopword lists, so language id is learnable
  * from a small training set and the jusText stopword density of a
  * paragraph is fixed by construction. */
object Lang {
  val codes: IndexedSeq[String] = IndexedSeq("en", "fr", "de")

  val stopwords: Map[String, IndexedSeq[String]] =
    codes.map(l => l -> graft.operators.Extract.stopwordsFor(l).toIndexedSeq).toMap

  /** every language's stopwords: the extractor's density rule then holds
    * for all three languages with one parameter */
  val allStopwords: Seq[String] = codes.flatMap(stopwords).distinct

  private val onsets = Map(
    "en" -> IndexedSeq("th", "sh", "st", "br", "cl", "gr", "w", "h", "b", "k", "m", "p", "r", "t"),
    "fr" -> IndexedSeq("qu", "ch", "gn", "pl", "l", "m", "n", "p", "r", "s", "v", "d"),
    "de" -> IndexedSeq("sch", "pf", "kr", "z", "w", "k", "g", "b", "l", "m", "r", "t"))
  private val nuclei = Map(
    "en" -> IndexedSeq("ea", "oo", "ow", "ai", "a", "i", "o", "u", "y"),
    "fr" -> IndexedSeq("ou", "eau", "oi", "é", "è", "ai", "e", "a", "u"),
    "de" -> IndexedSeq("ei", "ie", "au", "eu", "ä", "ö", "ü", "a", "e"))
  private val codas = Map(
    "en" -> IndexedSeq("ing", "ed", "ly", "ness", "ton", "ck", "nd"),
    "fr" -> IndexedSeq("tion", "ment", "eux", "ille", "ette", "ier", "ais"),
    "de" -> IndexedSeq("ung", "heit", "keit", "chen", "lich", "isch", "tz"))

  val VocabSize = 4000

  /** a fixed vocabulary per language (independent of the run seed, so the
    * language model sees the same word stock on every run); words have at
    * least five characters, never collide with a stopword, and are unique */
  val vocab: Map[String, IndexedSeq[String]] = codes.map { l =>
    val r = Rng.fork(0x5EED, l.hashCode.toLong)
    val stop = stopwords(l).toSet
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < VocabSize) {
      val syll = 1 + r.nextInt(2)
      val w = (0 until syll).map(_ => r.pick(onsets(l)) + r.pick(nuclei(l))).mkString +
        r.pick(codas(l))
      if (w.length >= 5 && !stop(w)) seen += w
    }
    l -> seen.toIndexedSeq
  }.toMap

  val WordsPerParagraph = 52
  val StopsPerParagraph = 24

  /** One paragraph: exactly [[StopsPerParagraph]] stopwords among
    * [[WordsPerParagraph]] words (density 0.46, above jusText's 0.32) and
    * more than 200 characters, so the extractor classifies it GOOD; it is
    * one sentence, so C4 line cleaning keeps it. */
  def paragraph(l: String, r: Rng): String = {
    val slots = r.shuffle(IndexedSeq.fill(StopsPerParagraph)(true) ++
      IndexedSeq.fill(WordsPerParagraph - StopsPerParagraph)(false))
    val words = slots.map(s => if (s) r.pick(stopwords(l)) else r.pick(vocab(l)))
    words.head.capitalize + " " + words.tail.mkString(" ") + "."
  }

  /** one line shared verbatim by many pages of a language: long enough
    * and stopword-dense enough that the extractor keeps it next to a
    * paragraph, a full sentence so C4 keeps it, and therefore only the
    * corpus-wide common-line filter removes it */
  val footer: Map[String, String] = Map(
    "en" -> "Thank you for reading this article and for sharing it with the people in your life.",
    "fr" -> "Merci de lire cet article et de le partager avec les amis dans votre vie de tous les jours.",
    "de" -> "Danke für das Lesen und für das Teilen mit den Freunden in der Familie und auf der Arbeit.")
}

/** The `ingest` workload's crawl: WARC.gz shards of HTML pages in three
  * languages, with planted thin pages, exact copies and near-duplicates.
  * Everything the pipeline should keep follows from the plan. */
object Web {
  val ThinShare = 0.10
  val ExactShare = 0.08
  val NearShare = 0.08
  val FooterShare = 0.5
  /** the first fifth of a shard is always original pages, so every copy
    * has an earlier original to point at */
  val OriginalPrefix = 0.2
  val LangWeights: IndexedSeq[(String, Double)] = IndexedSeq("en" -> 0.5, "fr" -> 0.25, "de" -> 0.25)

  sealed trait Kind
  case object Original extends Kind
  case object Thin extends Kind
  final case class ExactCopy(of: Long) extends Kind
  final case class NearCopy(of: Long) extends Kind

  /** `paragraphs` is the text the pipeline should output for the page
    * (joined by newlines) when the page survives */
  final case class Page(id: Long, lang: String, kind: Kind, paragraphs: IndexedSeq[String],
                        footer: Boolean, html: String) {
    def text: String = paragraphs.mkString("\n")
  }

  final case class Shard(index: Int, pages: IndexedSeq[Page]) {
    def survivors: IndexedSeq[Page] = pages.filter(_.kind == Original)
    def uri(p: Page): String = s"http://s$index.crawl.test/p/${p.id}"
  }

  private def counts(n: Int): (Int, Int, Int) =
    (math.round(n * ThinShare).toInt, math.round(n * ExactShare).toInt,
      math.round(n * NearShare).toInt)

  private def pickLang(r: Rng): String = {
    val u = r.nextDouble()
    var acc = 0.0
    LangWeights.find { case (_, w) => acc += w; u < acc }.map(_._1).getOrElse(LangWeights.last._1)
  }

  def shard(seed: Long, index: Int, nPages: Int): Shard = {
    val r = Rng.fork(seed, 0x3EB, index.toLong)
    val (nThin, nExact, nNear) = counts(nPages)
    val prefix = math.ceil(nPages * OriginalPrefix).toInt
    val tail: IndexedSeq[Int] = r.shuffle(
      IndexedSeq.fill(nThin)(1) ++ IndexedSeq.fill(nExact)(2) ++ IndexedSeq.fill(nNear)(3) ++
        IndexedSeq.fill(nPages - prefix - nThin - nExact - nNear)(0))
    val plan = IndexedSeq.fill(prefix)(0) ++ tail
    val base = index.toLong * 1000000L
    val pages = scala.collection.mutable.ArrayBuffer[Page]()
    // originals that no copy points at yet: each original is copied at
    // most once, so no line sits in more than two documents
    val copyable = scala.collection.mutable.ArrayBuffer[Page]()
    plan.zipWithIndex.foreach { case (k, pos) =>
      val id = base + pos
      val footer = r.nextDouble() < FooterShare
      val page = k match {
        case 0 =>
          val l = pickLang(r)
          val paras = IndexedSeq.fill(2 + r.nextInt(3))(Lang.paragraph(l, r))
          val p = Page(id, l, Original, paras, footer, "")
          copyable += p; p
        case 1 =>
          Page(id, pickLang(r), Thin, IndexedSeq.empty, footer, "")
        case _ =>
          val src = copyable.remove(r.nextInt(copyable.size))
          if (k == 2) Page(id, src.lang, ExactCopy(src.id), src.paragraphs, footer, "")
          else {
            // near-duplicate: one content word of one paragraph replaced
            val pi = r.nextInt(src.paragraphs.size)
            val ws = src.paragraphs(pi).split(" ")
            val wi = 1 + r.nextInt(ws.length - 2)
            val stop = Lang.stopwords(src.lang).toSet
            val j = (wi until ws.length - 1).find(i => !stop(ws(i))).getOrElse(wi)
            var w = r.pick(Lang.vocab(src.lang))
            while (w == ws(j)) w = r.pick(Lang.vocab(src.lang))
            ws(j) = w
            Page(id, src.lang, NearCopy(src.id), src.paragraphs.updated(pi, ws.mkString(" ")), footer, "")
          }
      }
      pages += page.copy(html = html(page, r))
    }
    Shard(index, pages.toIndexedSeq)
  }

  private val navItems = IndexedSeq("Home", "News", "World", "Sport", "Culture", "Archive", "Contact")

  /** nav bar (all links: the extractor drops it), a heading (a short
    * block the extractor keeps beside a paragraph and C4 then drops: no
    * final punctuation), the paragraphs, the optional shared footer, and
    * a copyright line */
  def html(p: Page, r: Rng): String = {
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><title>page ").append(p.id)
      .append("</title><script>var track = ").append(r.nextInt(1000000)).append(";</script></head><body>")
    sb ++= "<nav>"
    navItems.foreach(n => sb.append("<a href=\"/").append(n.toLowerCase).append("?from=").append(p.id)
      .append("\">").append(n).append("</a> "))
    sb ++= "</nav>"
    if (p.kind == Thin) {
      sb.append("<h1>Page ").append(p.id).append("</h1><p>Nothing here yet.</p>")
    } else {
      sb.append("<h1>").append(Lang.vocab(p.lang)(r.nextInt(Lang.VocabSize)).capitalize)
        .append(" ").append(p.id).append("</h1>")
      p.paragraphs.foreach(t => sb.append("<p>").append(t).append("</p>"))
    }
    if (p.footer) sb.append("<p>").append(Lang.footer(p.lang)).append("</p>")
    sb ++= "<div class=\"legal\">&copy; crawl test</div></body></html>"
    sb.toString
  }

  /** file `part` of the shard split into `parts` .warc.gz files of
    * consecutive pages: a warcinfo record then one response record per
    * page, each record its own gzip member */
  def warcGz(s: Shard, part: Int, parts: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def member(headers: Seq[(String, String)], payload: Array[Byte]): Unit = {
      val g = new GZIPOutputStream(out)
      val head = new StringBuilder("WARC/1.0\r\n")
      headers.foreach { case (k, v) => head.append(k).append(": ").append(v).append("\r\n") }
      head.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
      g.write(head.toString.getBytes(UTF_8)); g.write(payload); g.write("\r\n\r\n".getBytes(UTF_8))
      g.finish()
    }
    member(Seq("WARC-Type" -> "warcinfo", "WARC-Record-ID" -> s"<urn:bench:info:${s.index}:$part>",
      "WARC-Date" -> "2026-01-01T00:00:00Z", "Content-Type" -> "application/warc-fields"),
      s"software: graftbench\r\nshard: ${s.index}\r\npart: $part\r\n".getBytes(UTF_8))
    val per = (s.pages.size + parts - 1) / parts
    s.pages.slice(part * per, (part + 1) * per).foreach { p =>
      val body = p.html.getBytes(UTF_8)
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
      member(Seq("WARC-Type" -> "response", "WARC-Record-ID" -> s"<urn:bench:${p.id}>",
        "WARC-Target-URI" -> s.uri(p), "WARC-Date" -> "2026-01-01T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"), http)
    }
    out.toByteArray
  }

  /** language-labelled paragraphs for training the language model */
  def trainingSet(seed: Long, perLang: Int): IndexedSeq[(String, String)] = {
    val r = Rng.fork(seed, 0x7EA)
    Lang.codes.flatMap(l => IndexedSeq.fill(perLang)(Lang.paragraph(l, r) -> l))
  }
}

/** The `admit` workload's corpus and batches. The corpus is `baseDocs`
  * documents replicated `replicas` times, each replica with its own
  * suffix; each batch mixes fresh documents, near-duplicates of corpus
  * documents and of earlier admissions, exact copies of corpus documents
  * under new ids, and id replays. The admitted ids of every batch (its
  * fresh documents) follow from the plan. */
object Docs {
  val WordsPerDoc = 60
  val FreshShare = 0.5
  val NearCorpusShare = 0.2
  val NearAdmittedShare = 0.10
  val ExactCorpusShare = 0.10
  val ReplayShare = 0.10
  val BatchIdBase = 1000000000L
  val BatchIdStride = 100000L

  def words(r: Rng, n: Int): IndexedSeq[String] = IndexedSeq.fill(n)(r.pick(Lang.vocab("en")))

  def baseText(seed: Long, i: Int): String =
    words(Rng.fork(seed, 0xD0C, i.toLong), WordsPerDoc).mkString(" ")

  /** corpus doc ids run 1..baseDocs*replicas; replica k of base doc i is
    * id k*baseDocs + i + 1 and ends with its own suffix words */
  def corpus(seed: Long, baseDocs: Int, replicas: Int): IndexedSeq[(Long, String)] = {
    val base = (0 until baseDocs).map(baseText(seed, _))
    for (k <- 0 until replicas; i <- 0 until baseDocs)
      yield ((k * baseDocs + i + 1).toLong, s"${base(i)} replica$k edition$k")
  }

  def replace1(r: Rng, text: String): String = {
    val ws = text.split(" ")
    val j = r.nextInt(ws.length)
    var w = r.pick(Lang.vocab("en"))
    while (w == ws(j)) w = r.pick(Lang.vocab("en"))
    ws(j) = w
    ws.mkString(" ")
  }

  final case class Batch(index: Int, rows: IndexedSeq[(Long, String)], admitted: Set[Long],
                         kinds: Map[Long, String])

  /** The batch stream: `next()` plans batch i from the documents the
    * corpus holds at that point (the base corpus plus every earlier
    * batch's planned admissions). */
  final class Stream(seed: Long, corpusRows: IndexedSeq[(Long, String)], batchSize: Int) {
    private val admittedSoFar = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    private var i = 0

    def next(): Batch = {
      val r = Rng.fork(seed, 0xBA7, i.toLong)
      val idBase = BatchIdBase + i * BatchIdStride
      var nextId = idBase
      def newId(): Long = { nextId += 1; nextId }
      def n(share: Double) = math.round(batchSize * share).toInt
      val nFresh = n(FreshShare)
      val nNearAdm = if (admittedSoFar.isEmpty) 0 else n(NearAdmittedShare)
      val nNearCorp = n(NearCorpusShare) + (n(NearAdmittedShare) - nNearAdm)
      val nExact = n(ExactCorpusShare)
      val nReplay = batchSize - nFresh - nNearAdm - nNearCorp - nExact
      val rows = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
      val fresh = IndexedSeq.fill(nFresh)((newId(), words(r, WordsPerDoc).mkString(" ")))
      fresh.foreach { case (id, t) => rows += ((id, t, "fresh")) }
      (0 until nNearCorp).foreach(_ =>
        rows += ((newId(), replace1(r, r.pick(corpusRows)._2), "near_corpus")))
      (0 until nNearAdm).foreach(_ =>
        rows += ((newId(), replace1(r, r.pick(admittedSoFar.toIndexedSeq)._2), "near_admitted")))
      (0 until nExact).foreach(_ => rows += ((newId(), r.pick(corpusRows)._2, "exact_corpus")))
      val known = if (admittedSoFar.nonEmpty && r.nextInt(2) == 0) admittedSoFar.toIndexedSeq
                  else corpusRows
      (0 until nReplay).foreach(_ =>
        rows += ((r.pick(known)._1, words(r, WordsPerDoc).mkString(" "), "replay")))
      admittedSoFar ++= fresh
      i += 1
      val shuffled = r.shuffle(rows.toIndexedSeq)
      Batch(i - 1, shuffled.map(x => (x._1, x._2)), fresh.map(_._1).toSet,
        shuffled.map(x => x._1 -> x._3).toMap)
    }
  }
}

/** The `etl` workload's tables: a TPC-H-shaped customer / orders /
  * lineitem schema. Orders are generated in fixed-size chunks, each from
  * its own stream, so executors can write the tables in parallel while
  * the benchmark's process regenerates the same rows for the reference
  * answers. */
object Tables {
  final case class Customer(key: Long, nation: Int, segment: String)
  final case class Order(key: Long, cust: Long, date: Int, priority: String, total: Option[Double])
  final case class Line(order: Long, line: Int, part: Long, supp: Long, qty: Int, price: Double,
                        disc: Double, flag: String, mode: String, ship: Int)

  val Segments: IndexedSeq[String] = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities: IndexedSeq[String] = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Modes: IndexedSeq[String] = IndexedSeq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  val Flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val Days = 2400
  val Parts = 20000
  val Suppliers = 1000
  val NullTotalShare = 0.03
  val OrdersPerChunk = 5000

  def customers(seed: Long, n: Int): IndexedSeq[Customer] = {
    val r = Rng.fork(seed, 0xC57)
    (1 to n).map(k => Customer(k.toLong, r.nextInt(25), r.pick(Segments)))
  }

  /** chunk `c` holds orders c*OrdersPerChunk+1 .. (c+1)*OrdersPerChunk and
    * their 1 to 7 lines each */
  def chunk(seed: Long, c: Int, customers: Int): (IndexedSeq[Order], IndexedSeq[Line]) = {
    val r = Rng.fork(seed, 0x0D5, c.toLong)
    val orders = IndexedSeq.newBuilder[Order]
    val lines = IndexedSeq.newBuilder[Line]
    (1 to OrdersPerChunk).foreach { j =>
      val key = c.toLong * OrdersPerChunk + j
      val date = r.nextInt(Days)
      var total = 0L
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val part = 1L + r.nextInt(Parts)
        val qty = 1 + r.nextInt(50)
        val cents = qty.toLong * (90000L + part % 20001L) / 100L
        val disc = r.nextInt(11)
        total += cents * (100 - disc) / 100
        lines += Line(key, ln, part, 1L + r.nextInt(Suppliers), qty, cents / 100.0, disc / 100.0,
          r.pick(Flags), r.pick(Modes), date + 1 + r.nextInt(121))
      }
      val t = if (r.nextDouble() < NullTotalShare) None else Some(total / 100.0)
      orders += Order(key, 1L + r.nextInt(customers), date, r.pick(Priorities), t)
    }
    (orders.result(), lines.result())
  }
}
