package graft

import graft.sources.Warc

/** WARC reader (r16; streaming r17) — round-trip, gzip multi-member,
  * fail-soft malformation, the oversized-payload sizing path, the
  * binaryFiles streaming Spark path, HTTP unwrapping, chunked
  * transfer framing and gzip/deflate content codings. */
class WarcSpec extends SparkTestBase {
  import spark.implicits._

  private def rec(tpe: String, uri: String, payload: Array[Byte]) =
    (Seq("WARC-Type" -> tpe, "WARC-Record-ID" -> s"<urn:uuid:$tpe>",
      "WARC-Date" -> "2026-08-16T00:00:00Z", "WARC-Target-URI" -> uri,
      "Content-Type" -> "application/http; msgtype=response"),
      payload)

  private val html =
    "<html><body><p>hello warc world</p></body></html>"
  private val threeRecords = Seq(
    rec("warcinfo", "http://x/info", "software: graft\r\n".getBytes),
    rec("request", "http://x/a", "GET /a HTTP/1.1\r\n\r\n".getBytes),
    rec("response", "http://x/a", Warc.httpBytes(html.getBytes)))

  test("parse: round-trips warcBytes — headers lowercased, payloads " +
    "byte-exact, record order preserved") {
    val got = Warc.parse(Warc.warcBytes(threeRecords))
    assert(got.map(_.headers("warc-type")) ==
      Seq("warcinfo", "request", "response"))
    assert(got(2).headers("warc-target-uri") == "http://x/a")
    assert(got(2).payload.sameElements(Warc.httpBytes(html.getBytes)))
    assert(got(0).headers("content-length").toInt ==
      "software: graft\r\n".getBytes.length)
  }

  test("parse: multi-member gzip (.warc.gz convention) inflates " +
    "through the same path") {
    def gz(b: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(out)
      g.write(b); g.close(); out.toByteArray
    }
    val members = threeRecords.map(r => gz(Warc.warcBytes(Seq(r))))
    val concat = members.reduce(_ ++ _)
    val got = Warc.parse(concat)
    assert(got.map(_.headers("warc-type")) ==
      Seq("warcinfo", "request", "response"))
    assert(got(2).payload.sameElements(Warc.httpBytes(html.getBytes)))
  }

  test("parse: fail-soft — a truncated tail keeps the records before " +
    "it; garbage parses to empty") {
    val full = Warc.warcBytes(threeRecords)
    val torn = full.take(full.length - 30) // cuts into record 3
    val got = Warc.parse(torn)
    assert(got.map(_.headers("warc-type")) == Seq("warcinfo", "request"))
    assert(Warc.parse("not a warc at all".getBytes).isEmpty)
    assert(Warc.parse(Array.emptyByteArray).isEmpty)
  }

  test("read + httpResponses: binaryFile path over multiple files, " +
    "HTTP envelope stripped, non-response and non-HTTP rows dropped") {
    val dir = java.nio.file.Files.createTempDirectory("warc_spec")
    java.nio.file.Files.write(dir.resolve("a.warc"),
      Warc.warcBytes(threeRecords))
    java.nio.file.Files.write(dir.resolve("b.warc"),
      Warc.warcBytes(Seq(
        rec("response", "http://x/b", Warc.httpBytes("second".getBytes)),
        rec("response", "http://x/broken", "no http envelope".getBytes))))
    val records = Warc.read(spark, dir.toString + "/*.warc")
    assert(records.count() == 5)
    assert(records.filter($"warc_type" === "response").count() == 3)
    val bodies = Warc.httpResponses(records)
      .select($"target_uri", $"http_status", $"body")
      .as[(String, Int, String)].collect().toSet
    // the envelope-less response drops; both real ones unwrap
    assert(bodies == Set(("http://x/a", 200, html),
      ("http://x/b", 200, "second")))
    dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
  }

  test("read: one partition per file — N small files give N " +
    "partitions, listed exactly as binaryFiles lists them") {
    val dir = java.nio.file.Files.createTempDirectory("warc_parts")
    val n = 5
    (0 until n).foreach { f =>
      val recs = (0 until 3).map(i =>
        rec("response", s"http://x/$f/$i", Warc.httpBytes(s"p$f.$i".getBytes)))
      val bytes =
        if (f % 2 == 0) Warc.warcBytes(recs)
        else recs.map(r => gzBytes(Warc.warcBytes(Seq(r)))).reduce(_ ++ _)
      java.nio.file.Files.write(
        dir.resolve(f"part$f%02d.warc" + (if (f % 2 == 0) "" else ".gz")),
        bytes)
    }
    // hidden files and a sub-directory: never records
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    java.nio.file.Files.write(dir.resolve(".part00.warc.crc"),
      Warc.warcBytes(threeRecords))
    java.nio.file.Files.write(dir.resolve("_hidden.warc"),
      Warc.warcBytes(threeRecords))
    java.nio.file.Files.createDirectory(dir.resolve("nested"))
    val d = dir.toString
    // the reader this one replaced: binaryFiles + the same parser;
    // its (file, record_idx, uri) triples are the expected values
    def before(path: String): Set[(String, Int, String)] =
      spark.sparkContext.binaryFiles(path).flatMap { case (f, pds) =>
        Warc.parse(pds.toArray()).zipWithIndex.map { case (r, i) =>
          (f, i, r.headers("warc-target-uri")) }
      }.collect().toSet
    def after(path: String): Set[(String, Int, String)] =
      Warc.read(spark, path)
        .select($"warc_file", $"record_idx", $"target_uri")
        .as[(String, Int, String)].collect().toSet
    val paths = Seq(d, d + "/*.warc*", s"$d/part00.warc,$d/part03.warc.gz",
      s"$d/part0[12]*,$d/part04.warc")
    paths.foreach { p =>
      val want = before(p)
      assert(want.nonEmpty, p)
      assert(after(p) == want, p)
    }
    assert(after(d).map(_._1).size == n)
    assert(Warc.read(spark, d).rdd.getNumPartitions == n)
    assert(Warc.read(spark, d + "/*.warc").rdd.getNumPartitions == 3)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(dir.toFile)
  }

  test("recordIterator: oversized Content-Length keeps metadata, " +
    "nulls the payload, and the parse CONTINUES (the 512 MiB-member " +
    "sizing path, exercised via the maxPayloadBytes knob)") {
    val big = Array.fill[Byte](64)('x')
    val bytes = Warc.warcBytes(Seq(
      rec("response", "http://x/small1", "tiny payload a".getBytes),
      rec("response", "http://x/huge", big),
      rec("response", "http://x/small2", "tiny payload b".getBytes)))
    val got = Warc.recordIterator(
      new java.io.ByteArrayInputStream(bytes),
      maxPayloadBytes = 32).toVector
    assert(got.map(_.headers("warc-target-uri")) ==
      Seq("http://x/small1", "http://x/huge", "http://x/small2"))
    assert(got(0).payload != null && got(2).payload != null)
    assert(got(1).payload == null) // skipped octet-exactly, kept row
    assert(got(1).headers("content-length").toInt == 64)
    // and an oversized TORN tail (declared > cap, fewer octets on
    // the wire) fail-softs: prior records kept, nothing fabricated
    val torn = Warc.warcBytes(Seq(
      rec("response", "http://x/small1", "tiny payload a".getBytes))) ++
      Warc.warcBytes(Seq(rec("response", "http://x/huge", big)))
        .dropRight(big.length / 2)
    val got2 = Warc.recordIterator(
      new java.io.ByteArrayInputStream(torn),
      maxPayloadBytes = 32).toVector
    assert(got2.map(_.headers("warc-target-uri")) ==
      Seq("http://x/small1"))
  }

  test("recordIterator: consumes the stream record-at-a-time — an " +
    "I/O error mid-file keeps every record before it") {
    val full = Warc.warcBytes(threeRecords)
    val firstTwo = Warc.warcBytes(threeRecords.take(2)).length
    // a stream that dies after the first two records' bytes
    val dying = new java.io.InputStream {
      private var pos = 0
      override def read(): Int = {
        if (pos >= firstTwo) throw new java.io.IOException("torn wire")
        val b = full(pos) & 0xff; pos += 1; b
      }
    }
    val got = Warc.recordIterator(dying).toVector
    assert(got.map(_.headers("warc-type")) == Seq("warcinfo", "request"))
  }

  private def gzBytes(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(out)
    g.write(b); g.close(); out.toByteArray
  }

  private def chunked(body: Array[Byte], sizes: Seq[Int]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var pos = 0
    sizes.foreach { n =>
      out.write(f"$n%x\r\n".getBytes)
      out.write(body, pos, n); pos += n
      out.write("\r\n".getBytes)
    }
    assert(pos == body.length)
    out.write("0\r\n\r\n".getBytes)
    out.toByteArray
  }

  test("decodeBody: chunked framing removed (extensions tolerated), " +
    "malformed framing drops the record") {
    val body = "hello chunked transfer world".getBytes
    val framed = chunked(body, Seq(5, 16, 7))
    val h = Map("transfer-encoding" -> "chunked")
    assert(Warc.decodeBody(h, framed).exists(_.sameElements(body)))
    // chunk extension after the hex size (RFC 9112 §7.1.1)
    val withExt = new String(framed,
      java.nio.charset.StandardCharsets.ISO_8859_1)
      .replaceFirst("^5", "5;name=val")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(Warc.decodeBody(h, withExt).exists(_.sameElements(body)))
    // identity / absent pass through
    assert(Warc.decodeBody(Map.empty, body).exists(_.sameElements(body)))
    // torn mid-chunk or garbage size line: drop
    assert(Warc.decodeBody(h, framed.take(10)).isEmpty)
    assert(Warc.decodeBody(h, "zz\r\nnope".getBytes).isEmpty)
    // unsupported transfer coding: drop
    assert(Warc.decodeBody(
      Map("transfer-encoding" -> "gzip"), framed).isEmpty)
    // STACKED transfer codings ("gzip, chunked") drop too: the
    // de-chunked bytes would still be transfer-gzip'd — passing them
    // through would hand gzip frames to the charset decoder as text
    assert(Warc.decodeBody(
      Map("transfer-encoding" -> "gzip, chunked"),
      chunked(gzBytes(body), Seq(gzBytes(body).length))).isEmpty)
  }

  test("decodeBody: Content-Encoding gzip + deflate (zlib AND raw) " +
    "decode; br/zstd and corrupt streams drop") {
    val body = "compressed page body".getBytes
    assert(Warc.decodeBody(Map("content-encoding" -> "gzip"),
      gzBytes(body)).exists(_.sameElements(body)))
    assert(Warc.decodeBody(Map("content-encoding" -> "x-gzip"),
      gzBytes(body)).exists(_.sameElements(body)))
    def deflate(raw: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
      d.setInput(body); d.finish()
      val buf = new Array[Byte](256)
      val n = d.deflate(buf); d.end()
      buf.take(n)
    }
    assert(Warc.decodeBody(Map("content-encoding" -> "deflate"),
      deflate(raw = false)).exists(_.sameElements(body))) // zlib per RFC
    assert(Warc.decodeBody(Map("content-encoding" -> "deflate"),
      deflate(raw = true)).exists(_.sameElements(body))) // legacy raw
    assert(Warc.decodeBody(Map("content-encoding" -> "br"),
      body).isEmpty)
    assert(Warc.decodeBody(Map("content-encoding" -> "gzip"),
      "not gzip".getBytes).isEmpty)
    // chunked THEN gzip: transport order — unframe, then decompress
    assert(Warc.decodeBody(
      Map("transfer-encoding" -> "chunked",
        "content-encoding" -> "gzip"),
      chunked(gzBytes(body), Seq(gzBytes(body).length)))
      .exists(_.sameElements(body)))
  }

  test("read + httpResponses end-to-end: chunked+gzip responses " +
    "unwrap to clean text; an undecodable coding drops its record") {
    val page = "<html><body><p>chunked gzip page</p></body></html>"
    val coded = chunked(gzBytes(page.getBytes), Seq(11, 29,
      gzBytes(page.getBytes).length - 40))
    val dir = java.nio.file.Files.createTempDirectory("warc_te")
    java.nio.file.Files.write(dir.resolve("d.warc"), Warc.warcBytes(Seq(
      rec("response", "http://x/coded", Warc.httpBytes(coded,
        extraHeaders = Seq("Transfer-Encoding" -> "chunked",
          "Content-Encoding" -> "gzip"))),
      rec("response", "http://x/plain", Warc.httpBytes("plain".getBytes)),
      rec("response", "http://x/brotli", Warc.httpBytes("xx".getBytes,
        extraHeaders = Seq("Content-Encoding" -> "br"))))))
    val got = Warc.httpResponses(Warc.read(spark, dir.toString))
      .select($"target_uri", $"body").as[(String, String)]
      .collect().toMap
    assert(got == Map("http://x/coded" -> page,
      "http://x/plain" -> "plain")) // brotli record dropped
    dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
  }

  test("dechunk: a crafted hex chunk size near Long.MaxValue is a " +
    "torn chunk (None), never an overflow into a negative-length " +
    "write (ADVICE r18)") {
    val h = Map("transfer-encoding" -> "chunked")
    // Long.MaxValue: the old addition-form guard (pos + size + 2)
    // wrapped negative, passed, and write(b, pos, -1) threw IOOBE
    assert(Warc.dechunk("7fffffffffffffff\r\nxx".getBytes).isEmpty)
    assert(Warc.decodeBody(h, "7fffffffffffffff\r\nxx".getBytes).isEmpty)
    // just past Int.MaxValue: must also refuse (size.toInt would lie)
    assert(Warc.dechunk("80000000\r\nxx".getBytes).isEmpty)
    // > Long.MaxValue hex: NumberFormatException path, same drop
    assert(Warc.dechunk("ffffffffffffffff\r\nxx".getBytes).isEmpty)
    // and the whole family is a RECORD drop, not a task failure,
    // even through the end-to-end path
    val dir = java.nio.file.Files.createTempDirectory("warc_ovf")
    java.nio.file.Files.write(dir.resolve("o.warc"), Warc.warcBytes(Seq(
      rec("response", "http://x/evil", Warc.httpBytes(
        "7fffffffffffffff\r\nxx".getBytes,
        extraHeaders = Seq("Transfer-Encoding" -> "chunked"))),
      rec("response", "http://x/fine", Warc.httpBytes("ok".getBytes)))))
    val got = Warc.httpResponses(Warc.read(spark, dir.toString))
      .select($"target_uri", $"body").as[(String, String)]
      .collect().toMap
    assert(got == Map("http://x/fine" -> "ok"))
    dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
  }

  test("codingCoverage: the pinned br/zstd exclusion is MEASURED — " +
    "kept vs dropped record counts per coding") {
    val body = "coverage census body".getBytes
    val dir = java.nio.file.Files.createTempDirectory("warc_cov")
    java.nio.file.Files.write(dir.resolve("m.warc"), Warc.warcBytes(Seq(
      rec("response", "http://x/p1", Warc.httpBytes(body)),
      rec("response", "http://x/p2", Warc.httpBytes(body)),
      rec("response", "http://x/gz", Warc.httpBytes(gzBytes(body),
        extraHeaders = Seq("Content-Encoding" -> "gzip"))),
      rec("response", "http://x/zstd", Warc.httpBytes("zz".getBytes,
        extraHeaders = Seq("Content-Encoding" -> "zstd"))),
      rec("response", "http://x/br", Warc.httpBytes("bb".getBytes,
        extraHeaders = Seq("Content-Encoding" -> "br"))),
      rec("response", "http://x/corrupt", Warc.httpBytes(
        "not gzip at all".getBytes,
        extraHeaders = Seq("Content-Encoding" -> "gzip"))),
      rec("response", "http://x/noenv", "no http envelope".getBytes),
      rec("request", "http://x/req", "GET / HTTP/1.1\r\n\r\n".getBytes))))
    val cov = Warc.codingCoverage(Warc.read(spark, dir.toString))
      .as[(String, String, String, Long)].collect()
      .map { case (te, ce, o, n) => ((te, ce, o), n) }.toMap
    assert(cov == Map(
      ("identity", "identity", "kept") -> 2L,
      ("identity", "gzip", "kept") -> 1L,
      ("identity", "zstd", "dropped_unsupported_coding") -> 1L,
      ("identity", "br", "dropped_unsupported_coding") -> 1L,
      ("identity", "gzip", "dropped_corrupt") -> 1L,
      ("?", "?", "dropped_no_http_envelope") -> 1L))
    // the kept census equals what httpResponses actually emits
    assert(Warc.httpResponses(Warc.read(spark, dir.toString)).count()
      == cov.collect { case ((_, _, "kept"), n) => n }.sum)
    dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
  }

  test("openRecords: closing the returned Closeable ends the gzip " +
    "decorator AND the underlying stream (no Inflater left to GC)") {
    var innerClosed = false
    val inner = new java.io.FilterInputStream(
      new java.io.ByteArrayInputStream(
        gzBytes(Warc.warcBytes(threeRecords)))) {
      override def close(): Unit = { innerClosed = true; super.close() }
    }
    val (it, closeable) = Warc.openRecords(inner)
    assert(it.size == 3)
    assert(!innerClosed) // exhaustion alone doesn't close: caller owns
    closeable.close()
    assert(innerClosed) // the decorator chain closed down to in0
    // and a further read through the decorator is refused (Inflater
    // ended, not merely dereferenced)
    intercept[java.io.IOException] {
      closeable.asInstanceOf[java.io.InputStream].read()
    }
  }

  test("httpResponses decodes with the Content-Type charset; " +
    "missing/unknown charsets fall back to UTF-8") {
    val latin = "café crème"
    val latinBytes = latin.getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1)
    def resp(ct: String) = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(("HTTP/1.1 200 OK\r\nContent-Type: " + ct +
        "\r\n\r\n").getBytes)
      out.write(latinBytes)
      out.toByteArray
    }
    val dir = java.nio.file.Files.createTempDirectory("warc_cs")
    java.nio.file.Files.write(dir.resolve("c.warc"), Warc.warcBytes(Seq(
      rec("response", "http://x/1",
        resp("text/html; charset=ISO-8859-1")),
      rec("response", "http://x/2", resp("text/html")),
      rec("response", "http://x/3",
        resp("text/html; charset=no-such-charset-xyz")))))
    val got = Warc.httpResponses(Warc.read(spark, dir.toString))
      .select($"target_uri", $"body").as[(String, String)]
      .collect().toMap
    assert(got("http://x/1") == latin) // declared charset honored
    // é as Latin-1 0xE9 is invalid UTF-8 -> replacement char
    assert(got("http://x/2").contains('�'))
    assert(got("http://x/3").contains('�')) // unknown -> UTF-8
    assert(Warc.charsetOf("text/html; charset=\"utf-8\"")
      .contains(java.nio.charset.StandardCharsets.UTF_8))
    assert(Warc.charsetOf("text/plain").isEmpty)
    dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
  }
}
