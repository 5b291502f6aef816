package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ddf.DDF

/** What a workload needs from the benchmark's main loop. */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  /** run `body` as a measuring probe (traced runs only): its jobs are
    * excluded from the engine totals */
  def probe[T](body: => T): T = tracer.span(Tracer.Probe)(body)
}

/** One timed operation. `run` is the timed part; `check` compares the
  * output with the expected result afterwards, untimed, and returns the
  * mismatch if there is one. */
trait Op {
  def label: String
  def rowsIn: Long
  def run(): Unit
  def check(): Option[String]
}

trait Workload {
  /** ops that form one round; a run ends on a round boundary */
  def opsPerRound: Int = 1
  /** timed ops a run makes at least, however long they take */
  def minOps: Int = 2
  def warmupOps: Int
  /** builds inputs and state under `dir`; set-up runs it several times,
    * each with a fresh `dir`, and keeps the last */
  def prepare(dir: File): Unit
  def op(i: Int): Op
  /** bytes written under the output directories per input byte, over
    * the timed ops; None when the workload writes nothing */
  def writeAmp: Option[Double]
  /** per-layer figures only the workload knows (traced runs), per op */
  def layerFigures(timedOps: Int): Map[String, Double] = Map.empty
  /** extra report fields */
  def notes: Map[String, Any] = Map.empty
}

/** Compares collected rows with reference rows: doubles within a relative
  * 1e-9 (sums in another order), everything else exactly. */
object Compare {
  def cell(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Number, y: Number) if !x.isInstanceOf[java.lang.Double] && !y.isInstanceOf[java.lang.Double] =>
      x.longValue == y.longValue
    case _ => a == b
  }

  def rows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Option[String] =
    if (got.size != want.size) Some(s"${got.size} rows, expected ${want.size}")
    else got.zip(want).zipWithIndex.collectFirst {
      case ((g, w), i) if g.size != w.size || !g.zip(w).forall { case (a, b) => cell(a, b) } =>
        s"row $i is ${g.mkString("[", ",", "]")}, expected ${w.mkString("[", ",", "]")}"
    }
}

/** `etl`: a seeded mix of DDF query templates over generated
  * customer/orders/lineitem tables. Each round runs every template once
  * in a seeded order with seeded parameters; every answer is checked
  * against a reference computed in this process from the generator's rows. */
final class Etl(ctx: Ctx, orders: Int, customers: Int) extends Workload {
  import Tables._
  private val spark = ctx.spark
  private var dir: File = _
  private var cust: IndexedSeq[Customer] = _
  private var ords: IndexedSeq[Order] = _
  private var lines: IndexedSeq[Line] = _
  // keys are dense from 1, so key k sits at index k - 1
  private def orderOf(l: Line): Order = ords((l.order - 1).toInt)
  private def customerOf(o: Order): Customer = cust((o.cust - 1).toInt)
  private val seen = scala.collection.mutable.HashSet[String]()
  private var repeats = 0
  private var timedSeen = 0

  val templates: IndexedSeq[String] = IndexedSeq(
    "filter_agg", "join3_agg", "topk", "sort", "iqr_filter", "fillna_median", "distinct", "ntile")
  override def opsPerRound: Int = templates.size
  override def minOps: Int = templates.size
  def warmupOps: Int = templates.size

  def prepare(d: File): Unit = {
    dir = d
    val chunks = orders / OrdersPerChunk
    val seed = ctx.seed
    val nCust = customers
    val custSchema = StructType(Seq(StructField("c_custkey", LongType, false),
      StructField("c_nationkey", IntegerType, false), StructField("c_mktsegment", StringType, false)))
    val ordSchema = StructType(Seq(StructField("o_orderkey", LongType, false),
      StructField("o_custkey", LongType, false), StructField("o_orderdate", IntegerType, false),
      StructField("o_orderpriority", StringType, false), StructField("o_totalprice", DoubleType, true)))
    val lineSchema = StructType(Seq(StructField("l_orderkey", LongType, false),
      StructField("l_linenumber", IntegerType, false), StructField("l_partkey", LongType, false),
      StructField("l_suppkey", LongType, false), StructField("l_quantity", IntegerType, false),
      StructField("l_extendedprice", DoubleType, false), StructField("l_discount", DoubleType, false),
      StructField("l_returnflag", StringType, false), StructField("l_shipmode", StringType, false),
      StructField("l_shipdate", IntegerType, false)))
    val sc = spark.sparkContext
    val parts = math.max(1, sc.defaultParallelism)
    spark.createDataFrame(sc.parallelize(0 until parts, parts).flatMap { p =>
      Tables.customers(seed, nCust).filter(c => (c.key % parts).toInt == p)
        .map(c => Row(c.key, c.nation, c.segment))
    }, custSchema).write.parquet(new File(d, "customer").getPath)
    val chunkIds = sc.parallelize(0 until chunks, parts)
    spark.createDataFrame(chunkIds.flatMap { c =>
      Tables.chunk(seed, c, nCust)._1.map(o => Row(o.key, o.cust, o.date, o.priority, o.total.orNull))
    }, ordSchema).write.parquet(new File(d, "orders").getPath)
    spark.createDataFrame(chunkIds.flatMap { c =>
      Tables.chunk(seed, c, nCust)._2.map(l => Row(l.order, l.line, l.part, l.supp, l.qty, l.price,
        l.disc, l.flag, l.mode, l.ship))
    }, lineSchema).write.parquet(new File(d, "lineitem").getPath)
    // this process's copy, for reference answers
    cust = Tables.customers(seed, nCust)
    val gen = (0 until chunks).map(Tables.chunk(seed, _, nCust))
    ords = gen.flatMap(_._1)
    lines = gen.flatMap(_._2)
  }

  private def table(name: String): DDF = DDF(spark.read.parquet(new File(dir, name).getPath))

  private def rowsOf(t: String*): Long = t.map {
    case "lineitem" => lines.size.toLong
    case "orders" => ords.size.toLong
    case "customer" => cust.size.toLong
  }.sum

  private def key(xs: Any*): Seq[Any] = xs

  /** Spark's exact `percentile`: linear interpolation at (n - 1) * p */
  private def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = (sorted.size - 1) * p
    val lo = math.floor(pos).toLong
    val hi = math.ceil(pos).toLong
    val lk = sorted(lo.toInt)
    val hk = sorted(hi.toInt)
    if (hi == lo || hk == lk) lk else (hi - pos) * lk + (pos - lo) * hk
  }

  private def collectRows(d: DDF): Seq[Seq[Any]] = d.collect().toSeq.map(_.toSeq)

  def op(i: Int): Op = {
    val round = if (i < 0) -1 else i / templates.size
    val order = Rng.fork(ctx.seed, 0xE71, round.toLong).shuffle(templates)
    val t = order(((i % templates.size) + templates.size) % templates.size)
    val r = Rng.fork(ctx.seed, 0xE72, i.toLong)
    val tr = ctx.tracer
    // build (DDF calls, eager analysis) and action are separate spans
    def timed(build: => DDF)(action: DDF => Seq[Seq[Any]]): () => Seq[Seq[Any]] = () => {
      val d = tr.span("ddf.build")(build)
      tr.span("ddf.action")(action(d))
    }
    val (params, inputRows, runQ, expected): (Seq[Any], Long, () => Seq[Seq[Any]], () => Seq[Seq[Any]]) = t match {
      case "filter_agg" =>
        val d = 400 + r.nextInt(Days - 400); val q = 10 + r.nextInt(40)
        (Seq(d, q), rowsOf("lineitem"), timed(
          table("lineitem").filter(s"l_shipdate < $d and l_quantity < $q")
            .groupBy(Seq("l_returnflag", "l_shipmode"))
            .agg(("n", "count", "*"), ("rev", "sum", "l_extendedprice"), ("disc", "avg", "l_discount"))
            .sort(Seq("l_returnflag", "l_shipmode")))(collectRows),
          () => lines.filter(l => l.ship < d && l.qty < q).groupBy(l => (l.flag, l.mode)).toSeq
            .sortBy(_._1).map { case ((f, m), ls) =>
              key(f, m, ls.size.toLong, ls.map(_.price).sum, ls.map(_.disc).sum / ls.size) })
      case "join3_agg" =>
        val seg = r.pick(Segments); val d0 = r.nextInt(Days - 600); val d1 = d0 + 200 + r.nextInt(400)
        (Seq(seg, d0, d1), rowsOf("lineitem", "orders", "customer"), timed(
          table("lineitem").join(table("orders"), Seq("l_orderkey"), Seq("o_orderkey"))
            .join(table("customer"), Seq("o_custkey"), Seq("c_custkey"))
            .filter(s"c_mktsegment == '$seg' and o_orderdate >= $d0 and o_orderdate < $d1")
            .map(col("l_extendedprice") * (lit(1.0) - col("l_discount")), "rev")
            .groupBy(Seq("c_nationkey")).agg(("rev", "sum", "rev"), ("n", "count", "*"))
            .sort(Seq("c_nationkey")))(collectRows),
          () => lines.flatMap { l =>
            val o = orderOf(l); val c = customerOf(o)
            if (c.segment == seg && o.date >= d0 && o.date < d1) Some(c.nation -> l.price * (1.0 - l.disc))
            else None
          }.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, xs) =>
            key(n, xs.map(_._2).sum, xs.size.toLong) })
      case "topk" =>
        val mode = r.pick(Modes); val n = 10 + r.nextInt(91)
        (Seq(mode, n), rowsOf("lineitem"), timed(
          table("lineitem").filter(s"l_shipmode == '$mode'")
            .topK(n, Seq("l_extendedprice", "l_orderkey", "l_linenumber"), Seq(false, true, true))
            .select(Seq("l_orderkey", "l_linenumber", "l_extendedprice")))(collectRows),
          () => lines.filter(_.mode == mode)
            .sortBy(l => (-l.price, l.order, l.line)).take(n).map(l => key(l.order, l.line, l.price)))
      case "sort" =>
        val d0 = r.nextInt(Days - 100); val w = 30 + r.nextInt(61)
        (Seq(d0, w), rowsOf("orders"), timed(
          table("orders").filter(s"o_orderdate >= $d0 and o_orderdate < ${d0 + w}")
            .sort(Seq("o_totalprice", "o_orderkey"), Seq(false, true))
            .select(Seq("o_orderkey")))(collectRows),
          // descending puts nulls last, then ascending key
          () => ords.filter(o => o.date >= d0 && o.date < d0 + w)
            .sortBy(o => (o.total.isEmpty, -o.total.getOrElse(0.0), o.key)).map(o => key(o.key)))
      case "iqr_filter" =>
        val d0 = r.nextInt(1200); val d1 = d0 + 600 + r.nextInt(600); val k = 0.5 + r.nextInt(11) * 0.1
        (Seq(d0, d1, k), rowsOf("lineitem"), timed(
          table("lineitem").filter(s"l_shipdate >= $d0 and l_shipdate < $d1")
            .iqrFilter("l_extendedprice", Seq("l_shipmode"), k)
            .groupBy(Seq("l_shipmode")).agg(("n", "count", "*"), ("q", "sum", "l_quantity"))
            .sort(Seq("l_shipmode")))(collectRows),
          () => lines.filter(l => l.ship >= d0 && l.ship < d1).groupBy(_.mode).toSeq.sortBy(_._1)
            .flatMap { case (m, ls) =>
              val s = ls.map(_.price).sorted
              val q1 = percentile(s, 0.25); val q3 = percentile(s, 0.75); val iqr = q3 - q1
              val kept = ls.filter(l => l.price >= q1 - iqr * k && l.price <= q3 + iqr * k)
              if (kept.isEmpty) None else Some(key(m, kept.size.toLong, kept.map(_.qty.toLong).sum))
            })
      case "fillna_median" =>
        val d0 = r.nextInt(Days - 900); val d1 = d0 + 300 + r.nextInt(600)
        (Seq(d0, d1), rowsOf("orders"), timed(
          table("orders").filter(s"o_orderdate >= $d0 and o_orderdate < $d1")
            .fillna(Seq("o_totalprice"), DDF.FillWithMedian)
            .groupBy(Seq("o_orderpriority")).agg(("s", "sum", "o_totalprice"), ("n", "count", "*"))
            .sort(Seq("o_orderpriority")))(collectRows),
          () => {
            val os = ords.filter(o => o.date >= d0 && o.date < d1)
            val med = percentile(os.flatMap(_.total).sorted, 0.5)
            os.groupBy(_.priority).toSeq.sortBy(_._1).map { case (p, xs) =>
              key(p, xs.map(_.total.getOrElse(med)).sum, xs.size.toLong) }
          })
      case "distinct" =>
        val s = 100 + r.nextInt(901)
        (Seq(s), rowsOf("lineitem"), timed(
          table("lineitem").filter(s"l_suppkey <= $s").distinct(Seq("l_partkey", "l_suppkey")))(
          d => Seq(Seq(d.countRows()))),
          () => Seq(key(lines.iterator.filter(_.supp <= s).map(l => l.part * (Suppliers + 1) + l.supp)
            .toSet.size.toLong)))
      case "ntile" =>
        val d0 = r.nextInt(Days - 500); val w = 200 + r.nextInt(301); val k = 4 + r.nextInt(17)
        (Seq(d0, w, k), rowsOf("orders"), timed(
          table("orders").filter(s"o_orderdate >= $d0 and o_orderdate < ${d0 + w} and o_totalprice is not null")
            .ntileGlobal("o_totalprice", k, tieCols = Seq("o_orderkey"))
            .groupBy(Seq("bucket")).agg(("n", "count", "*"), ("ks", "sum", "o_orderkey"),
              ("lo", "min", "o_totalprice"))
            .sort(Seq("bucket")))(collectRows),
          () => {
            val os = ords.filter(o => o.date >= d0 && o.date < d0 + w && o.total.nonEmpty)
              .sortBy(o => (o.total.get, o.key))
            val n = os.size.toLong; val small = n / k; val rem = n % k; val cut = rem * (small + 1)
            os.zipWithIndex.map { case (o, idx) =>
              val rk = idx + 1L
              val b = if (rk <= cut) (rk - 1) / (small + 1) + 1 else rem + (rk - 1 - cut) / small + 1
              (b.toInt, o)
            }.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, xs) =>
              key(b, xs.size.toLong, xs.map(_._2.key).sum, xs.map(_._2.total.get).min) }
          })
    }
    val sig = (t +: params).mkString("|")
    if (i >= 0) { timedSeen += 1; if (!seen.add(sig)) repeats += 1 }
    new Op {
      val label: String = t
      val rowsIn: Long = inputRows
      private var got: Seq[Seq[Any]] = Nil
      def run(): Unit = got = runQ()
      def check(): Option[String] = Compare.rows(got, expected())
    }
  }

  def writeAmp: Option[Double] = None

  override def notes: Map[String, Any] = Map(
    "plan_repeat_share" -> (if (timedSeen == 0) 0.0 else repeats.toDouble / timedSeen),
    "rows" -> Map("lineitem" -> rowsOf("lineitem"), "orders" -> rowsOf("orders"),
      "customer" -> rowsOf("customer")))
}

/** `ingest`: each op takes one generated WARC.gz crawl shard through
  * read → HTTP unwrap → main-content extraction → language id → C4 line
  * cleaning → corpus-wide common-line removal → quality filter → exact
  * dedup → MinHash near-dedup → parquet, and checks that exactly the
  * planted originals survive, each with its language and clean text. */
final class Ingest(ctx: Ctx, pagesPerShard: Int, filesPerShard: Int) extends Workload {
  import graft.sources.Warc
  import graft.operators.{Dedup, Extract, LangId, Repetition}
  import graft.functions.TextFunctions

  private val spark = ctx.spark
  private val tr = ctx.tracer
  private var dir: File = _
  private var model: DataFrame = _
  val MaxDocsPerLine = 4L
  val MinQuality = 0.5
  val TrainPerLang = 150
  private var bytesIn = 0L
  private var bytesOut = 0L
  // traced-run counts, summed over timed ops
  private val counts = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def warmupOps: Int = 1

  def prepare(d: File): Unit = {
    dir = d
    import spark.implicits._
    val train = Web.trainingSet(ctx.seed, TrainPerLang).toDF("text", "lang")
    model = LangId.train(train, "text", "lang").localCheckpoint()
  }

  private def cut(df: DataFrame): DataFrame = if (tr.enabled) df.localCheckpoint(true) else df

  private def lineCount(df: DataFrame): Long = ctx.probe(
    df.select("text").rdd.map(r => Option(r.getString(0)).map(_.split("\n", -1).count(_.trim.nonEmpty)).getOrElse(0).toLong)
      .fold(0L)(_ + _))

  def op(i: Int): Op = {
    val shard = Web.shard(ctx.seed, i + 1000, pagesPerShard)
    val in = new File(dir, s"shards/shard-${i + 1000}")
    in.mkdirs()
    (0 until filesPerShard).foreach(f => java.nio.file.Files.write(
      new File(in, f"part-$f%02d.warc.gz").toPath, Web.warcGz(shard, f, filesPerShard)))
    val out = new File(dir, s"out/shard-${i + 1000}")
    val traced = tr.enabled && i >= 0
    new Op {
      val label = "shard"
      val rowsIn: Long = shard.pages.size + filesPerShard.toLong
      def run(): Unit = {
        val pages = tr.span("sources") {
          val recs = cut(Warc.read(spark, in.getPath + "/*.warc.gz"))
          if (traced) counts("records") += ctx.probe(recs.rdd.count())
          cut(Warc.httpResponses(recs).select(
            regexp_extract(col("target_uri"), "/p/(\\d+)$", 1).cast("long").as("doc_id"), col("body")))
        }
        val cleaned = tr.span("kernels") {
          if (traced) counts("kernel_rows") += ctx.probe(pages.rdd.count())
          val text = pages.select(col("doc_id"),
            Extract.mainContent(col("body"), stopwords = Lang.allStopwords).as("text"))
          cut(LangId.classify(text, "text", model)
            .select(col("doc_id"), col("lang"), TextFunctions.c4CleanLines(col("text")).as("text")))
        }
        if (traced) counts("lines_in") += lineCount(cleaned)
        val uncommon = tr.span("lines")(cut(Repetition.dropCommonLines(cleaned, "doc_id", "text", MaxDocsPerLine)))
        if (traced) counts("lines_out") += lineCount(uncommon)
        val good = tr.span("kernels") {
          if (traced) counts("kernel_rows") += ctx.probe(uncommon.rdd.count())
          cut(uncommon.filter(TextFunctions.qualityScore(col("text")) >= MinQuality))
        }
        val unique = tr.span("dedup") {
          if (traced) counts("dedup_in") += ctx.probe(good.rdd.count())
          cut(Dedup.minhashDedup(Dedup.exact(good, Seq("text"), "doc_id"), "doc_id", "text"))
        }
        if (traced) {
          counts("dedup_out") += ctx.probe(unique.rdd.count())
          counts("dedup_pairs") += ctx.probe(
            Dedup.minhashPairs(Dedup.exact(good, Seq("text"), "doc_id"), "doc_id", "text").rdd.count())
        }
        tr.span("sink")(unique.write.parquet(out.getPath))
      }
      def check(): Option[String] = {
        if (i >= 0) { bytesIn += Files.bytes(in); bytesOut += Files.bytes(out) }
        val got = spark.read.parquet(out.getPath).collect()
          .map(r => (r.getAs[Long]("doc_id"), (r.getAs[String]("lang"), r.getAs[String]("text")))).toMap
        val want = shard.survivors.map(p => (p.id, (p.lang, p.text))).toMap
        if (got.keySet != want.keySet) {
          val extra = (got.keySet -- want.keySet).toSeq.sorted.take(5).map(id =>
            s"$id(${shard.pages.find(_.id == id).map(_.kind).getOrElse("?")})")
          Some(s"${got.size} survivors, expected ${want.size}; unexpected ${extra.mkString(",")}; " +
            s"missing ${(want.keySet -- got.keySet).toSeq.sorted.take(5).mkString(",")}")
        } else want.collectFirst {
          case (id, w) if got(id) != w => s"doc $id: got ${got(id).toString.take(160)}, expected ${w.toString.take(160)}"
        }
      }
    }
  }

  def writeAmp: Option[Double] = Some(if (bytesIn == 0) 0.0 else bytesOut.toDouble / bytesIn)

  override def layerFigures(timedOps: Int): Map[String, Double] = Map(
    "sources.records" -> counts("records") / timedOps,
    "kernels.rows" -> counts("kernel_rows") / timedOps,
    "lines.dropped_share" -> (if (counts("lines_in") == 0) 0.0 else 1 - counts("lines_out") / counts("lines_in")),
    "dedup.pairs" -> counts("dedup_pairs") / timedOps,
    "dedup.drop_share" -> (if (counts("dedup_in") == 0) 0.0 else 1 - counts("dedup_out") / counts("dedup_in")),
    "sources.mb_in" -> bytesIn / 1e6 / timedOps)

  override def notes: Map[String, Any] = Map("pages_per_shard" -> pagesPerShard,
    "files_per_shard" -> filesPerShard)
}

/** `admit`: set-up persists a replicated base corpus and its MinHash
  * index partitioned by band bucket; each op runs one admission cycle
  * (`Admission.admitBatch`) for a seeded batch and checks the admitted
  * id set against the plan. */
final class Admit(ctx: Ctx, baseDocs: Int, replicas: Int, batchSize: Int) extends Workload {
  import graft.operators.Dedup
  import graft.streaming.Admission

  private val spark = ctx.spark
  private var dir: File = _
  private var stream: Docs.Stream = _
  val NumHashes = 64
  val Bands = 32
  val Threshold = 0.6
  val NumParts = 16
  // the q129 catalog shape: no within-batch pass, no batch-size count
  private var bytesIn = 0L
  private val sums = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  def warmupOps: Int = 2

  private def corpusDir = new File(dir, "corpus")
  private def indexDir = new File(dir, "index")

  def prepare(d: File): Unit = {
    dir = d
    import spark.implicits._
    val rows = Docs.corpus(ctx.seed, baseDocs, replicas)
    rows.toDF("doc_id", "text").write.parquet(corpusDir.getPath)
    val corpus = spark.read.parquet(corpusDir.getPath)
    Dedup.indexWritePartitioned(
      Dedup.minhashIndex(corpus, "doc_id", "text", numHashes = NumHashes, bands = Bands),
      indexDir.getPath, numParts = NumParts)
    stream = new Docs.Stream(ctx.seed, rows, batchSize)
  }

  def op(i: Int): Op = {
    import spark.implicits._
    val b = stream.next()
    val batch = b.rows.toDF("doc_id", "text")
    val corpusBefore = Files.list(corpusDir)
    val indexBefore = Files.list(indexDir)
    val inBytes = b.rows.map(_._2.getBytes("UTF-8").length + 8L).sum
    new Op {
      val label = "cycle"
      val rowsIn: Long = b.rows.size.toLong
      private var stats: Admission.AdmitStats = _
      def run(): Unit = stats = ctx.tracer.span("admission")(Admission.admitBatch(batch, corpusDir.getPath,
        indexDir.getPath, "doc_id", "text", numHashes = NumHashes, bands = Bands, threshold = Threshold,
        dedupWithinBatch = false, batchId = b.index.toLong, collectStats = false))
      def check(): Option[String] = {
        val corpusAfter = Files.list(corpusDir)
        val indexAfter = Files.list(indexDir)
        if (i >= 0) {
          val corpusNew = (corpusAfter -- corpusBefore.keySet).values.sum
          val rewritten = indexAfter.filter { case (f, _) => !indexBefore.contains(f) }
          val indexNew = rewritten.values.sum
          bytesIn += inBytes
          sums("corpus_bytes") += corpusNew
          sums("index_bytes") += indexNew
          sums("index_files") += rewritten.keys.count(_.endsWith(".parquet"))
          sums("index_share") += (if (indexAfter.isEmpty) 0.0 else indexNew.toDouble / indexAfter.values.sum)
          sums("admitted") += stats.admitted
          sums("batch_rows") += b.rows.size
        }
        val lo = Docs.BatchIdBase + b.index * Docs.BatchIdStride
        val got = spark.read.parquet(corpusDir.getPath)
          .filter(col("doc_id") > lo && col("doc_id") <= lo + Docs.BatchIdStride)
          .select("doc_id").as[Long].collect().toSet
        if (got != b.admitted)
          Some(s"admitted ${got.size}, expected ${b.admitted.size}; unexpected " +
            (got -- b.admitted).toSeq.sorted.take(5).map(id => s"$id(${b.kinds.getOrElse(id, "?")})").mkString(",") +
            s"; missing ${(b.admitted -- got).toSeq.sorted.take(5).mkString(",")}")
        else if (stats.admitted != b.admitted.size)
          Some(s"cycle reported ${stats.admitted} admitted, expected ${b.admitted.size}")
        else None
      }
    }
  }

  def writeAmp: Option[Double] =
    Some(if (bytesIn == 0) 0.0 else (sums("corpus_bytes") + sums("index_bytes")) / bytesIn)

  override def layerFigures(timedOps: Int): Map[String, Double] = Map(
    "admission.admit_share" -> (if (sums("batch_rows") == 0) 0.0 else sums("admitted") / sums("batch_rows")),
    "admission.corpus_mb_written" -> sums("corpus_bytes") / 1e6 / timedOps,
    "admission.index_mb_written" -> sums("index_bytes") / 1e6 / timedOps,
    "admission.index_files_rewritten" -> sums("index_files") / timedOps,
    "admission.index_rewrite_share" -> sums("index_share") / timedOps)

  override def notes: Map[String, Any] = Map("corpus_docs" -> baseDocs * replicas, "batch_docs" -> batchSize)
}
