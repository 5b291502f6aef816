package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, LocatedFileStatus, Path}
import org.apache.hadoop.mapreduce.{InputSplit, Job, RecordReader,
  TaskAttemptContext}
import org.apache.hadoop.mapreduce.lib.input.FileInputFormat
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** WARC (Web ARChive) reader — the container format upstream of the
  * HTML main-content extractor: C4, RefinedWeb and every Common
  * Crawl derivative start from `.warc`/`.warc.gz` files, and a user
  * of this engine's cleaning stack meets them before any HTML.
  * Clean-room from the PUBLIC format spec (ISO 28500 / IIPC
  * WARC-1.1: a WARC file is a sequence of records, each a
  * `WARC/x.y` version line + `Name: value` header lines + CRLF CRLF
  * + exactly `Content-Length` payload octets + CRLF CRLF), no
  * third-party parser.
  *
  * Reading is STREAMING, record at a time (r17): one task per WARC
  * file — [[read]] lists the input with Hadoop's `FileInputFormat`
  * (the listing `sparkContext.binaryFiles` uses: globs, comma-
  * separated paths, directories, and the `_`/`.` hidden-file filter)
  * and reads each file in its own partition. (`binaryFiles` itself
  * is not used: its `CombineFileInputFormat` splits pack small files
  * together, so a shard of a few ~40 KB files ran as ONE task
  * whatever `minPartitions` asked.) The file is never materialized
  * as a byte array, gzip members inflate through `GZIPInputStream`'s
  * native multi-member handling (the `.warc.gz` record-per-member
  * convention) directly off the file stream, and each record's
  * payload is the only allocation. **Per-member memory contract:
  * O(one record) = O(header + min(Content-Length, maxPayloadBytes))
  * — NOT O(member)**: a ~1 GB Common Crawl member that inflates to
  * 4–5 GB streams through in 64 KiB buffers. Records whose declared
  * Content-Length exceeds `maxPayloadBytes` (default 1 GiB — far
  * above any real crawl document, safely under the JVM's 2 GiB
  * array ceiling) keep their headers and get a NULL payload; the
  * parse skips their octets and continues. Only header fields and
  * the payload leave the parser, and nothing ever shuffles at read
  * time. **Parallelism is exactly one partition per FILE** (gzip
  * members are not splittable, so one task streams one file end to
  * end): N files give N tasks, so a shard of as many files as cores
  * runs on every core, and a corpus of many WARCs — the only layout
  * crawls ship — saturates a cluster; a single multi-TB WARC would
  * serialize into one task, so re-shard such a file into the
  * standard ~1 GB pieces before reading.
  *
  * **Codec scope (pinned, r18)**: this reader decodes exactly what
  * the JVM standard library ships — gzip/x-gzip, deflate (zlib and
  * raw), chunked framing, identity. `br` (RFC 7932) and `zstd`
  * (RFC 8878) content/transfer codings, and `.warc.zst` containers
  * (Common Crawl ships these alongside .warc.gz since 2019), have
  * NO JVM-stdlib codec and this library adds no third-party
  * dependencies, so those records/files are DROPPED BY DESIGN —
  * dropping beats emitting mojibake. The loss is MEASURED, not
  * silent: run [[codingCoverage]] over the same records a
  * [[httpResponses]] call reads to count kept vs dropped records
  * per coding before committing a corpus to this path.
  *
  * Fail-soft contract: a malformed record (missing/unparsable
  * Content-Length, truncated payload, missing version line, corrupt
  * gzip, mid-stream I/O error) stops the parse of THAT FILE at the
  * malformation — records already parsed are kept, the rest of the
  * file is skipped (a torn tail must not poison the records before
  * it; a thrown error would poison the whole corpus read).
  */
object Warc {

  val schema: StructType = StructType(Seq(
    StructField("warc_file", StringType, nullable = false),
    StructField("record_idx", IntegerType, nullable = false),
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", StringType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("payload", BinaryType)))

  /** payload ceiling: records declaring more octets than this keep
    * their metadata but carry a NULL payload (octets skipped). */
  val DefaultMaxPayloadBytes: Long = 1L << 30

  /** WARC/HTTP header blocks larger than this are malformed. */
  private val MaxHeaderBytes = 1 << 20

  /** read every record of every WARC file under `path` — a file, a
    * directory, a glob, or a comma-separated list of those, resolved
    * exactly as `sparkContext.binaryFiles` resolves them (hidden
    * `_`/`.` files skipped, sub-directories not descended). The
    * listing runs here, at call time (like a DataFrame file source),
    * so a pattern matching nothing throws now; each listed file
    * becomes one partition, placed on its first block's hosts.
    * Streaming per task: the file bytes never co-reside in memory —
    * see the object scaladoc for the per-member memory contract. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val sc = spark.sparkContext
    val files = listFiles(sc.hadoopConfiguration, path)
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val rdd = sc.makeRDD(files.map(f => (f.getPath.toString, hostsOf(f))))
      .flatMap { file =>
        val p = new Path(file)
        val in = p.getFileSystem(conf.value.value).open(p)
        // close the OUTERMOST stream (the gzip decorator when one
        // was stacked) — closing only the raw file stream would
        // leave each GZIPInputStream's native Inflater buffers to
        // GC finalization, accumulating off-heap memory on a
        // long-lived executor scanning many .warc.gz files
        // (ADVICE r17). GZIPInputStream.close ends the Inflater and
        // closes the chain down to `in`.
        val (records, stream) = openRecords(in)
        // belt and braces: exhaustion closes eagerly below, but an
        // ABANDONED iterator (limit/take stops consuming mid-file)
        // would otherwise hold the file stream until GC
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            try stream.close() catch { case NonFatal(_) => () }
          })
        closeOnExhaustion(records, stream).zipWithIndex.map {
          case (rec, i) =>
            Row(file, i, rec.headers.get("warc-type").orNull,
              rec.headers.get("warc-record-id").orNull,
              rec.headers.get("warc-target-uri").orNull,
              rec.headers.get("warc-date").orNull,
              rec.headers.get("content-type").orNull,
              rec.headers.get("content-length")
                .flatMap(_.toLongOption)
                .map(java.lang.Long.valueOf).orNull,
              rec.payload)
        }
      }
    spark.createDataFrame(rdd, schema)
  }

  /** the files `path` names, by the `FileInputFormat` listing that
    * `binaryFiles` runs (directories dropped, as its splits drop
    * them), in path order */
  private def listFiles(conf: Configuration, path: String)
  : Seq[FileStatus] = {
    val job = Job.getInstance(conf)
    FileInputFormat.setInputPaths(job, path)
    job.getConfiguration.setIfUnset(FileInputFormat.LIST_STATUS_NUM_THREADS,
      Runtime.getRuntime.availableProcessors().toString)
    new Lister().files(job).filterNot(_.isDirectory)
      .sortBy(_.getPath.toString)
  }

  /** exposes the protected `listStatus`; reads nothing */
  private final class Lister extends FileInputFormat[Void, Void] {
    def files(job: Job): Seq[FileStatus] = listStatus(job).asScala.toSeq
    override def createRecordReader(split: InputSplit,
                                    ctx: TaskAttemptContext)
    : RecordReader[Void, Void] = throw new UnsupportedOperationException
  }

  private def hostsOf(f: FileStatus): Seq[String] = f match {
    case l: LocatedFileStatus =>
      l.getBlockLocations.headOption.toSeq.flatMap(_.getHosts.toSeq)
    case _ => Nil
  }

  /** `response` records unwrapped from their HTTP envelope:
    * (warc_file, record_idx, target_uri, http_status, body). The
    * HTTP payload of a WARC response is a full HTTP/1.x message —
    * status line + headers + CRLF CRLF + body (RFC 9112). WARC
    * stores the raw captured message, so the body is undone in
    * transport order (r17): `Transfer-Encoding: chunked` framing is
    * removed first (RFC 9112 §7.1 — otherwise hex chunk-size lines
    * leak into the text), then `Content-Encoding` gzip/x-gzip/
    * deflate decompresses (RFC 9110 §8.4; `deflate` tries the
    * zlib wrapper the RFC specifies, then raw DEFLATE — raw-deflate
    * servers are legion). Records with a transfer or content coding
    * the JVM cannot decode (br, zstd, compress), a STACKED transfer
    * coding ("gzip, chunked" — the de-chunked bytes would still be
    * transfer-gzip'd), or a corrupt coded body are DROPPED, like envelope-less records — emitting
    * mojibake or framing bytes would silently poison the extractor
    * downstream. The decoded bytes then decode to text with the
    * `charset=` the response's own Content-Type header declares
    * (legacy corpora are full of ISO-8859-1 / windows-1252 —
    * UTF-8-only decoding garbles every non-ASCII page); missing,
    * unknown or unsupported charsets fall back to UTF-8 with
    * replacement. (In-body `<meta charset>` sniffing is deliberately
    * out of scope — the header is the transport-level truth the spec
    * assigns precedence when present.) Records without a parsable
    * HTTP envelope, or with a NULL (oversized) payload, are dropped.
    * Feeds [[graft.operators.Extract.mainContent]] directly. */
  def httpResponses(records: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("warc_file", StringType, nullable = false),
      StructField("record_idx", IntegerType, nullable = false),
      StructField("target_uri", StringType),
      StructField("http_status", IntegerType),
      StructField("body", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    records
      .filter(lower(col("warc_type")) === "response")
      .select(col("warc_file"), col("record_idx"), col("target_uri"),
        col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val payload = r.getAs[Array[Byte]](3)
          if (payload == null) None
          else splitHttpFull(payload).flatMap {
            case (status, headers, raw) =>
              decodeBody(headers, raw).map { body =>
                Row(r.getString(0), r.getInt(1), r.getString(2),
                  Integer.valueOf(status),
                  new String(body, headers.get("content-type")
                    .flatMap(charsetOf)
                    .getOrElse(
                      java.nio.charset.StandardCharsets.UTF_8)))
              }
          }
        }
      }(enc)
  }

  /** Coverage census for the codec-scope exclusions (see the object
    * scaladoc): for every `response` record of [[read]]'s output,
    * classifies what [[httpResponses]] would do with it and counts
    * per (transfer_coding, content_coding, outcome) — `kept`,
    * `dropped_unsupported_coding` (br/zstd/compress/stacked —
    * the pinned no-third-party-codec exclusion), `dropped_corrupt`
    * (a supported coding whose bytes do not decode),
    * `dropped_no_http_envelope`, `dropped_oversized_payload`.
    * Missing codings print as 'identity'. One scan + one tiny
    * shuffle (distinct codings × 5 outcomes); run it before
    * committing a crawl corpus so the br/zstd loss is a NUMBER in
    * the pipeline report, never a silent hole. */
  def codingCoverage(records: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("transfer_coding", StringType, nullable = false),
      StructField("content_coding", StringType, nullable = false),
      StructField("outcome", StringType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    records
      .filter(lower(col("warc_type")) === "response")
      .select(col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]](0)
          if (payload == null) Row("?", "?", "dropped_oversized_payload")
          else splitHttpFull(payload) match {
            case None => Row("?", "?", "dropped_no_http_envelope")
            case Some((_, headers, raw)) =>
              def norm(h: String): String = headers.get(h)
                .map(_.trim.toLowerCase).filter(_.nonEmpty)
                .getOrElse("identity")
              val te = norm("transfer-encoding")
              val ce = norm("content-encoding")
              val supported = Set("identity", "chunked")(te) &&
                Set("identity", "gzip", "x-gzip", "deflate")(ce)
              val outcome =
                if (!supported) "dropped_unsupported_coding"
                else if (decodeBody(headers, raw).isDefined) "kept"
                else "dropped_corrupt"
              Row(te, ce, outcome)
          }
        }
      }(enc)
      .groupBy(col("transfer_coding"), col("content_coding"),
        col("outcome"))
      .agg(count(lit(1)).as("records"))
  }

  /** the charset a Content-Type header value declares, when the JVM
    * supports it */
  private[graft] def charsetOf(contentType: String)
  : Option[java.nio.charset.Charset] = {
    val m = "(?i)charset=\"?([A-Za-z0-9_.:\\-]+)\"?".r
    m.findFirstMatchIn(contentType).flatMap { g =>
      try Some(java.nio.charset.Charset.forName(g.group(1)))
      catch { case NonFatal(_) => None }
    }
  }

  private[graft] final case class Record(
      headers: Map[String, String], payload: Array[Byte])

  /** convenience wrapper over [[recordIterator]] for byte-array
    * inputs (specs, small fixtures): same streaming parser, fed from
    * a ByteArrayInputStream. */
  private[graft] def parse(bytes: Array[Byte]): Seq[Record] =
    recordIterator(new java.io.ByteArrayInputStream(bytes)).toVector

  /** STREAMING record-at-a-time WARC parser — the only parse path.
    * Sniffs the gzip magic and, when present, inflates through
    * `GZIPInputStream` (multi-member native) without ever holding
    * the decompressed image: there is no whole-member byte array and
    * no size arithmetic anywhere, so neither the JVM's 2 GiB array
    * ceiling nor any Int sizing applies to member size. Per-record
    * memory is O(header + min(Content-Length, maxPayloadBytes));
    * oversized payloads are skipped octet-exactly and surface as
    * Records with a null payload. Fail-soft: any malformation or
    * I/O error ends the iterator, keeping records already emitted.
    * The caller owns closing the underlying stream; when the input
    * is gzip, prefer [[openRecords]] and close ITS Closeable so the
    * Inflater's native buffers end deterministically. */
  private[graft] def recordIterator(
      in0: java.io.InputStream,
      maxPayloadBytes: Long = DefaultMaxPayloadBytes)
  : Iterator[Record] = openRecords(in0, maxPayloadBytes)._1

  /** [[recordIterator]] paired with the OUTERMOST stream as the
    * Closeable the caller must close: for `.warc.gz` input that is
    * the GZIPInputStream decorator, whose close() ends the native
    * zlib Inflater immediately instead of at GC finalization
    * (ADVICE r17) and closes the chain down to `in0`. */
  private[graft] def openRecords(
      in0: java.io.InputStream,
      maxPayloadBytes: Long = DefaultMaxPayloadBytes)
  : (Iterator[Record], java.io.Closeable) = {
    val in: java.io.InputStream =
      try {
        val buffered = new java.io.BufferedInputStream(in0, 1 << 16)
        buffered.mark(2)
        val b0 = buffered.read(); val b1 = buffered.read()
        buffered.reset()
        if (b0 == 0x1f && b1 == 0x8b)
          new java.io.BufferedInputStream(
            new java.util.zip.GZIPInputStream(buffered, 1 << 16),
            1 << 16)
        else buffered
      } catch { case NonFatal(_) => return (Iterator.empty, in0) }

    val payloadCap = math.min(maxPayloadBytes, (Int.MaxValue - 8).toLong)

    val it: Iterator[Record] = new Iterator[Record] {
      private var nextRec: Record = _
      private var done = false

      override def hasNext: Boolean = {
        if (nextRec == null && !done) advance()
        nextRec != null
      }

      override def next(): Record = {
        if (!hasNext) throw new NoSuchElementException("WARC iterator")
        val r = nextRec; nextRec = null; r
      }

      private def advance(): Unit =
        try {
          // tolerate inter-record CRLF runs (the record terminator)
          var b = in.read()
          while (b == '\r' || b == '\n') b = in.read()
          if (b < 0) { done = true; return }
          // header block: accumulate until CRLF CRLF (or give up at
          // MaxHeaderBytes / EOF — malformed)
          val head = new java.io.ByteArrayOutputStream(512)
          head.write(b)
          val CrlfCrlf = 0x0d0a0d0a
          var window = b & 0xff
          var n = 1
          while (window != CrlfCrlf) {
            val c = in.read()
            if (c < 0 || n >= MaxHeaderBytes) { done = true; return }
            head.write(c)
            n += 1
            window = (window << 8) | (c & 0xff)
          }
          val headArr = head.toByteArray
          val headStr = new String(headArr, 0, headArr.length - 4,
            java.nio.charset.StandardCharsets.ISO_8859_1)
          val lines = headStr.split("\r\n")
          if (!lines.headOption.exists(_.startsWith("WARC/"))) {
            done = true; return
          }
          val headers = lines.tail.iterator.flatMap { l =>
            val i = l.indexOf(':')
            if (i <= 0) None
            else Some(l.substring(0, i).trim.toLowerCase ->
              l.substring(i + 1).trim)
          }.toMap
          headers.get("content-length").flatMap(_.toLongOption) match {
            case Some(len) if len >= 0 && len <= payloadCap =>
              val payload = in.readNBytes(len.toInt)
              if (payload.length < len) done = true // truncated tail
              else nextRec = Record(headers, payload)
            case Some(len) if len >= 0 =>
              // oversized: keep metadata, null the payload, continue
              if (skipExactly(len)) nextRec = Record(headers, null)
              else done = true
            case _ => done = true // malformed: stop this file here
          }
        } catch { case NonFatal(_) => done = true }

      private def skipExactly(n: Long): Boolean = {
        var remaining = n
        val buf = new Array[Byte](65536)
        while (remaining > 0) {
          val r = in.read(buf, 0,
            math.min(remaining, buf.length.toLong).toInt)
          if (r < 0) return false
          remaining -= r
        }
        true
      }
    }
    (it, in)
  }

  /** close `c` the moment `it` reports exhaustion (task streams must
    * not wait for partition GC) */
  private def closeOnExhaustion[A](it: Iterator[A],
                                   c: java.io.Closeable): Iterator[A] =
    new Iterator[A] {
      private var closed = false
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !closed) {
          closed = true
          try c.close() catch { case NonFatal(_) => () }
        }
        h
      }
      override def next(): A = it.next()
    }

  private def indexOfDoubleCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' &&
        b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** split an HTTP/1.x message into (status, body); None if the
    * payload is not an HTTP response */
  private[graft] def splitHttp(payload: Array[Byte])
  : Option[(Int, Array[Byte])] =
    splitHttpFull(payload).map { case (s, _, b) => (s, b) }

  /** [[splitHttp]] plus the lowercased response headers */
  private[graft] def splitHttpFull(payload: Array[Byte])
  : Option[(Int, Map[String, String], Array[Byte])] = {
    val headEnd = indexOfDoubleCrlf(payload, 0)
    if (headEnd < 0) None
    else {
      val head = new String(payload, 0, headEnd,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val lines = head.split("\r\n")
      val m = "^HTTP/\\d\\.\\d (\\d{3}).*$".r
      lines.headOption.getOrElse("") match {
        case m(code) =>
          val headers = lines.tail.iterator.flatMap { l =>
            val i = l.indexOf(':')
            if (i <= 0) None
            else Some(l.substring(0, i).trim.toLowerCase ->
              l.substring(i + 1).trim)
          }.toMap
          Some((code.toInt, headers, java.util.Arrays.copyOfRange(
            payload, headEnd + 4, payload.length)))
        case _ => None
      }
    }
  }

  /** undo the transport codings a captured HTTP message declares:
    * chunked framing first, then gzip/deflate content coding. None =
    * the record must be dropped (unsupported or corrupt coding) —
    * see [[httpResponses]]. Record-sized allocations only. */
  private[graft] def decodeBody(headers: Map[String, String],
                                raw: Array[Byte])
  : Option[Array[Byte]] = try {
    val te = headers.get("transfer-encoding")
      .map(_.trim.toLowerCase).filter(_.nonEmpty)
    val deChunked = te match {
      case None | Some("identity") => Some(raw)
      // ONLY the bare "chunked" coding is undone: a stacked list
      // ("gzip, chunked") means another transfer coding wraps the
      // de-chunked bytes — passing that through would hand gzip
      // frames to the charset decoder as text, so the record drops
      // with the other undecodable codings
      case Some("chunked") => dechunk(raw)
      case _ => None // stacked / gzip-as-transfer-coding: drop
    }
    deChunked.flatMap { b =>
      headers.get("content-encoding")
        .map(_.trim.toLowerCase).filter(_.nonEmpty) match {
        case None | Some("identity") => Some(b)
        case Some("gzip") | Some("x-gzip") => gunzipBody(b)
        case Some("deflate") => inflateBody(b)
        case _ => None // br / zstd / compress: no JVM-stdlib codec
      }
    }
  } catch {
    // belt-and-braces backstop for the fail-soft drop-the-record
    // contract: untrusted crawl bytes must never escalate a decode
    // bug into a task failure (ADVICE r17 — the pre-fix dechunk
    // overflow threw IndexOutOfBoundsException through here)
    case NonFatal(_) => None
  }

  /** remove chunked transfer framing (RFC 9112 §7.1): hex-size line
    * [; extensions] CRLF, that many octets, CRLF, repeated; a 0-size
    * chunk ends the body (trailer section ignored). None on any
    * framing malformation — chunk boundaries can't be trusted. */
  private[graft] def dechunk(b: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var pos = 0
    def readLine(): String = { // bytes until CRLF, null if none
      val start = pos
      while (pos + 1 < b.length &&
        !(b(pos) == '\r' && b(pos + 1) == '\n')) pos += 1
      if (pos + 1 >= b.length) null
      else {
        val s = new String(b, start, pos - start,
          java.nio.charset.StandardCharsets.ISO_8859_1)
        pos += 2
        s
      }
    }
    var size = -1L
    while (size != 0) {
      val line = readLine()
      if (line == null) return None
      size =
        try java.lang.Long.parseLong(line.split(";")(0).trim, 16)
        catch { case _: NumberFormatException => return None }
      // torn-chunk guard in SUBTRACTION form: the addition form
      // (pos + size + 2 > b.length) overflows Long for a crafted
      // hex size near Long.MaxValue, wrapping negative and letting
      // the write run with a negative length (ADVICE r17). The
      // right side is Long arithmetic over Ints — no overflow — and
      // any size past it also exceeds Int.MaxValue, so the
      // size.toInt below stays exact.
      if (size < 0 ||
        (size > 0 && size > b.length.toLong - pos - 2)) return None
      if (size > 0) {
        out.write(b, pos, size.toInt)
        pos += size.toInt
        if (!(b(pos) == '\r' && b(pos + 1) == '\n')) return None
        pos += 2
      }
    }
    Some(out.toByteArray)
  }

  private def gunzipBody(b: Array[Byte]): Option[Array[Byte]] =
    try Some(new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b)).readAllBytes())
    catch { case NonFatal(_) => None }

  private def inflateBody(b: Array[Byte]): Option[Array[Byte]] =
    try Some(new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(b)).readAllBytes())
    catch {
      case NonFatal(_) =>
        try Some(new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(b),
          new java.util.zip.Inflater(true)).readAllBytes())
        catch { case NonFatal(_) => None }
    }

  /** serialize records to WARC bytes — the fixture/spec writer (the
    * wavBytes discipline: real container bytes so gates drive the
    * REAL parse path). `headers` keys are written as given. */
  private[graft] def warcBytes(
      records: Seq[(Seq[(String, String)], Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val crlf = "\r\n".getBytes
    records.foreach { case (hdrs, payload) =>
      out.write("WARC/1.0\r\n".getBytes)
      hdrs.foreach { case (k, v) => out.write(s"$k: $v\r\n".getBytes) }
      out.write(s"Content-Length: ${payload.length}\r\n".getBytes)
      out.write(crlf)
      out.write(payload)
      out.write(crlf); out.write(crlf)
    }
    out.toByteArray
  }

  /** an HTTP/1.1 200 response envelope around `body`; extra headers
    * (e.g. Transfer-Encoding / Content-Encoding fixtures) appended
    * after Content-Type. */
  private[graft] def httpBytes(body: Array[Byte],
                               contentType: String = "text/html",
                               extraHeaders: Seq[(String, String)] = Nil)
  : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val extra = extraHeaders
      .map { case (k, v) => s"$k: $v\r\n" }.mkString
    out.write(("HTTP/1.1 200 OK\r\nContent-Type: " + contentType +
      s"\r\n${extra}Content-Length: ${body.length}\r\n\r\n").getBytes)
    out.write(body)
    out.toByteArray
  }
}
