package graft.tools

import org.apache.spark.sql.functions._

/** scratch diagnostics main — scaling smoke for the dedup family:
  * replicates the documents table k× (ids offset; texts get a
  * replica-suffix token so replicas are near- but not exact dups) and
  * times exact dedup / minhash LSH / count-based jaccard at each
  * scale. Verifies the operators' growth curves empirically rather
  * than by assertion. Not part of the library surface. */
object ScaleSmoke {

  /** Prints one `[scale-smoke] <prefix> <label> <secs> s` line per
    * timed step, followed by `<unit>=<n>`: the result's size for a
    * collection, the result itself otherwise. */
  private final class Timer(prefix: String) {
    def timed[T](label: String, unit: String = "")(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      val tail = r match {
        case _ if unit.isEmpty => ""
        case c: Iterable[_] => s"  $unit=${c.size}"
        case n => s"  $unit=$n"
      }
      println(f"[scale-smoke] $prefix $label%-18s " +
        f"${(System.nanoTime() - t0) / 1e9}%7.2f s$tail")
      r
    }

    /** the common step: `f` returns a row count */
    def apply(label: String)(f: => Long): Unit = timed(label, "rows")(f): Unit
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // non-numeric args select sections (dedup/budget/incr/exact/emb/
    // upd/adm/bkt/cc/ntile/rank/sub/suba/hh/bpe/ivf/lpa/cont/contd/
    // attr/lp/tri/snm/kcore/zorder/lnk/sem/salt/dsir/lid/lm/web/cjkq);
    // numeric
    // args override the replication scales.
    // No sections = run all.
    val sections = args.drop(1).filterNot(_.forall(_.isDigit)).toSet
    def on(s: String): Boolean = sections.isEmpty || sections(s)
    val scaleArgs = args.drop(1).filter(_.forall(_.isDigit)).map(_.toInt)
    val scales = if (scaleArgs.nonEmpty) scaleArgs.toSeq else Seq(1, 4, 8)
    val cpus = graft.GraftSession.envCpus
    // the bkt section persists a bucketed TABLE (bucket metadata lives
    // in the catalog, not parquet); keep the warehouse out of the repo
    // tree
    val spark = graft.GraftSession.local(cpus, Seq(
      "spark.sql.warehouse.dir" -> java.nio.file.Files
        .createTempDirectory("graft_smoke_warehouse").toString))
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))

    def corpus(k: Int) = (0 until k).map { i =>
      base.select((col("doc_id") + lit(i.toLong * 1000000)).as("doc_id"),
        concat(col("text"), lit(s" replica$i")).as("text"))
    }.reduce(_ union _).cache()

    if (on("dedup")) scales.foreach { k =>
      val c = corpus(k)
      val n = c.count() // materialize cache outside timings
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      time("exact")(graft.operators.Dedup
        .exact(c, Seq("text"), "doc_id").count())
      time("minhashPairs")(graft.operators.Dedup
        .minhashPairs(c, "doc_id", "text", threshold = 0.8).count())
      time("jaccardExact(0.5)")(graft.operators.Dedup
        .jaccardPairsExact(c, "doc_id", "text", threshold = 0.5).count())
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- language id (r17): train = one explode + partial-agg
    // groupBy (corpus-linear shuffle of gram buckets); classify and
    // the per-line face are ZERO-shuffle codegen projections, so
    // both must scale linearly with the scan — any superlinearity
    // here means the literal-array serving broke codegen.
    if (on("lid")) scales.foreach { k =>
      val pools = Seq(
        Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy",
          "dogs", "while", "night"),
        Seq("le", "renard", "brun", "saute", "chien", "paresseux",
          "pendant", "nuit", "toujours", "belle"),
        Seq("der", "schnelle", "braune", "fuchs", "springt", "faulen",
          "hund", "immer", "nacht", "zwischen"))
      val li = col("doc_id") % 3
      val pool = when(li === 0, typedLit(pools(0)))
        .when(li === 1, typedLit(pools(1)))
        .otherwise(typedLit(pools(2)))
      val c = corpus(k).select(col("doc_id"),
        when(li === 0, "en").when(li === 1, "fr").otherwise("de")
          .as("lang"),
        array_join(transform(sequence(lit(0), lit(29)),
          j => element_at(pool,
            ((col("doc_id") + j) % 10 + 1).cast("int"))), " ")
          .as("text")).cache()
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      time("lid-train")(graft.operators.LangId
        .train(c, "text", "lang", m = 4096).count())
      // cache + materialize the model so the serve timings don't
      // re-run the (lazy) training aggregation inside collectModel
      val model = graft.operators.LangId
        .train(c, "text", "lang", m = 4096).cache()
      model.count()
      time("lid-classify")(graft.operators.LangId
        .classify(c, "text", model, m = 4096,
          out = "pred", marginOut = "pm")
        .filter(col("pred").isNotNull).count())
      time("lid-lines")(graft.operators.LangId
        .lineLangs(c, "text", model, m = 4096)
        .select(explode(col("line_langs"))).count())
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- order-n hashed LM (r18): train = one explode + ONE
    // partial-agg groupBy whose output is bounded by langs x m x 2
    // rows whatever the corpus (the hashing-trick fit — must scale
    // linearly in the scan); score = a zero-shuffle literal-array
    // codegen projection (the lid-classify shape). Model cached +
    // materialized before serve timings (the lazy-model lesson).
    if (on("lm")) scales.foreach { k =>
      val c = corpus(k).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "en")
          .when(col("doc_id") % 3 === 1, "fr").otherwise("de")
          .as("lang"),
        col("text")).cache()
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      time("lm-train")(graft.operators.LanguageModel
        .trainNgram(c, "text", "lang", n = 3, m = 4096).count())
      val model = graft.operators.LanguageModel
        .trainNgram(c, "text", "lang", n = 3, m = 4096).cache()
      model.count()
      time("lm-score")(graft.operators.LanguageModel
        .scoreNgram(c, "text", "lang", model, n = 3, m = 4096)
        .filter(col("nll").isNotNull).count())
      model.unpersist()
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- CJK char-level quality rules (r18): everything is one
    // shuffle-free codegen projection (entropy's per-doc sort is
    // O(L log L) inside the projection), so the wall must track the
    // scan linearly — any superlinearity means the HOF lambdas broke
    // codegen. Corpus: the replicated documents text re-labeled so
    // the dispatcher exercises both script branches.
    if (on("cjkq")) scales.foreach { k =>
      val CQ = graft.functions.CjkQuality
      val c = corpus(k).select(col("doc_id"),
        when(col("doc_id") % 2 === 0, "zh").otherwise("en").as("lang"),
        col("text")).cache()
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      time("cjk-entropy")(c
        .select(CQ.charEntropy(col("text")).as("h"))
        .filter(col("h") >= 0.0).count())
      time("cjk-flags")(c
        .filter(CQ.cjkQualityFlags(col("text")).getField("pass"))
        .count())
      time("cjk-dispatch")(c
        .filter(CQ.qualityPassByScript(col("text"), col("lang")))
        .count())
      time("cjk-c4")(c.select(sum(length(
          CQ.c4CleanByScript(col("text"), col("lang")))))
        .head().getLong(0))
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- web-ingest spine (r18, VERDICT r17 item 3): the q263
    // pipeline's WARC stages, scaled by FILE COUNT (the unit WARC
    // corpora actually shard by — the reader parallelizes per file).
    // k x 4 single-member .warc.gz files of 500 synthetic HTML
    // responses each; walls published for parse (record-at-a-time
    // streaming read), unwrap (HTTP envelope + codings), extract
    // (fused jusText projection) and dedup (exact + minhash over the
    // extracted text). All four must track file count linearly.
    if (on("web")) {
      import graft.sources.Warc
      val pad = "the cat is in the hat and it is a fine day for " +
        "the dog to nap on the mat by the door and this is of it"
      def gz(b: Array[Byte]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        val g = new java.util.zip.GZIPOutputStream(out)
        g.write(b); g.close(); out.toByteArray
      }
      // main paragraphs interleave stopwords (jusText keeps them as
      // main content) with per-id pseudo-random words (documents are
      // mostly DISTINCT — dup minorities are planted, not emergent,
      // so LSH buckets stay small and the probe measures the linear
      // path, not an everything-collides pathology)
      val stops = Seq("the", "is", "of", "and", "to", "in", "that",
        "it")
      // full-avalanche word ids (MurmurHash3): an affine id*31+j*7
      // formula here produced near-periodic cross-document word
      // overlaps that chained unrelated docs into emergent near-dup
      // components (the avalanche-seed lesson) — hashed ids keep
      // unrelated documents' shingle sets disjoint
      def para(id: Long): String = (0 until 30)
        .map(j => s"${stops(j % 8)} w${math.abs(
          scala.util.hashing.MurmurHash3.stringHash(id + "-" + j))}")
        .mkString(" ")
      def mkDir(k: Int): String = {
        val dir = java.nio.file.Files
          .createTempDirectory(s"graft_smoke_web_$k")
        (0 until 4 * k).foreach { f =>
          val recs = (0 until 500).map { r =>
            val id = f * 100000 + r
            // r % 10 == 0: EXACT copy of its neighbor's content;
            // r % 10 == 5: near-dup (neighbor + a few extra tokens)
            val baseId: Long =
              if (r % 10 == 0 && r > 0) id - 1
              else if (r % 10 == 5) id - 1 else id
            val extra =
              if (r % 10 == 5) " nearly the same but not quite it"
              else ""
            val body = "<html><head><script>var x=1;</script></head>" +
              s"""<body><div><a href="/">menu item $id</a> """ +
              s"""<a href="/b">nav $id</a></div>""" +
              s"<p>$pad</p><p>${para(baseId)}$extra</p>" +
              "<div>(c) footer</div></body></html>"
            (Seq("WARC-Type" -> "response",
              "WARC-Record-ID" -> s"<urn:$id>",
              "WARC-Target-URI" -> s"http://x/doc/$id",
              "Content-Type" -> "application/http; msgtype=response"),
              Warc.httpBytes(body.getBytes("UTF-8")))
          }
          java.nio.file.Files.write(dir.resolve(f"f$f%03d.warc.gz"),
            gz(Warc.warcBytes(recs)))
        }
        dir.toString
      }
      scales.foreach { k =>
        val dir = mkDir(k)
        val n = 4 * k * 500
        val time = new Timer(f"k=$k%-2d n=$n%-6d")
        time("web-parse")(Warc.read(spark, dir + "/*.warc.gz").count())
        time("web-unwrap")(Warc.httpResponses(
          Warc.read(spark, dir + "/*.warc.gz")).count())
        def extracted = Warc.httpResponses(
            Warc.read(spark, dir + "/*.warc.gz"))
          .select(col("target_uri").as("doc_id"),
            graft.operators.Extract.mainContent(col("body"))
              .as("text"))
        time("web-extract")(extracted
          .agg(count(lit(1)), sum(length(col("text"))))
          .head().getLong(0))
        time("web-dedup")(graft.operators.Dedup.minhashDedup(
          graft.operators.Dedup.exact(extracted, Seq("text"),
            "doc_id"),
          "doc_id", "text", numHashes = 64, bands = 32,
          shingleLen = 3, threshold = 0.6).count())
        new java.io.File(dir).listFiles().foreach(_.delete())
        new java.io.File(dir).delete()
        spark.catalog.clearCache()
      }
    }

    // ---- token-budget mega-stratum: replicate ONE language k× (ids
    // offset) and union the other languages untouched, so a single
    // stratum carries ~k× the rows while the strata machinery sees a
    // realistic mix. The exact path must drag the whole mega-stratum
    // through ONE window partition; the threshold path windows only
    // the ~margin×budget candidate prefix. Replication is NARROW —
    // quality/n_tok are computed once on the real docs, then the
    // 4-column selection rows are exploded k× — so the smoke reaches
    // multi-million-row strata (where the window partition actually
    // binds) without dragging text payloads or a k-way union plan
    // through every measurement.
    import graft.functions.{TextFunctions => TF}
    if (on("budget")) {
    val narrowDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("quality", TF.qualityScore(col("text")))
      .withColumn("n_tok", TF.tokenCount(col("text")))
      .select(col("doc_id"), col("lang"), col("quality"), col("n_tok"))
      .cache()
    val topLang = narrowDocs.groupBy(col("lang")).count()
      .orderBy(col("count").desc).head().getString(0)
    def megaCorpus(k: Int) = {
      val one = narrowDocs.filter(col("lang") === topLang)
      val rest = narrowDocs.filter(col("lang") =!= topLang)
      one.select(explode(sequence(lit(0L), lit((k - 1).toLong))).as("__r"),
          col("doc_id"), col("lang"), col("quality"), col("n_tok"))
        .select((col("doc_id") + col("__r") * lit(10000000L)).as("doc_id"),
          col("lang"), col("quality"), col("n_tok"))
        .unionByName(rest)
        .repartition(cpus.toInt * 2)
        .cache()
    }
    // prescribed 1/4/8 plus larger points: the single-partition window
    // sort only starts to bind in the millions of rows
    val budgetScales = (scales ++ Seq(64, 512, 4096)).distinct.sorted
    budgetScales.foreach { k =>
      val c = megaCorpus(k)
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      time("budgetExact")(graft.operators.Budget.tokenBudgetSelect(
        c, "lang", "doc_id", "quality", "n_tok", budget = 5000L).count())
      time("budgetThreshold")(graft.operators.Budget
        .tokenBudgetSelectThreshold(
          c, "lang", "doc_id", "quality", "n_tok", budget = 5000L).count())
      c.unpersist()
      spark.catalog.clearCache()
    }
    }

    // ---- global ntile: the empty-partitionBy discretizer used to be
    // ONE total-sort task (global window); ntileGlobal spreads the
    // sort across range partitions plus a light counts job. Replicate
    // lineitem's price column (replica index in the tie-break, so the
    // total order stays unique) and time both shapes; histograms
    // (count/min/max per bucket) are asserted identical in-run.
    import org.apache.spark.sql.expressions.Window
    val prices = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_extendedprice").as("v"), col("l_orderkey"),
        col("l_linenumber"))
    def priceCorpus(k: Int) = prices
      .select(explode(sequence(lit(0L), lit((k - 1).toLong))).as("__r"),
        col("v"), col("l_orderkey"), col("l_linenumber"))
      .cache()
    // ---- incremental dedup: screening a small NEW batch against a
    // growing corpus must cost ~the corpus banding (linear), never
    // the corpus-internal pair volume minhashPairs on (corpus ∪
    // batch) would also generate. Corpus replicas are near-dups of
    // each other, so the full-corpus pair set grows ~k² while the
    // batch's true matches grow ~k — the timing gap is the point.
    if (on("incr")) {
      val newBatch = base.limit(200)
        .select((col("doc_id") + lit(90000000L)).as("doc_id"),
          concat(col("text"), lit(" probe")).as("text")).cache()
      newBatch.count()
      Seq(1, 4, 8).foreach { k =>
        val c = corpus(k)
        val n = c.count()
        val time = new Timer(f"k=$k%-2d n=$n%-6d")
        time("pairsAgainst")(graft.operators.Dedup.minhashPairsAgainst(
          newBatch, c, "doc_id", "text", threshold = 0.8).count())
        time("pairsFull")(graft.operators.Dedup.minhashPairs(
          c.unionByName(newBatch), "doc_id", "text",
          threshold = 0.8).count())
        c.unpersist()
        spark.catalog.clearCache()
      }
      newBatch.unpersist()
    }

    // ---- incremental exact screen: the broadcast path scans the
    // corpus ONCE with no corpus shuffle (cost = one linear pass),
    // while full exact dedup on (corpus ∪ batch) shuffles every
    // corpus row. broadcastBatch=false is the backfill escape hatch:
    // same answer via a shuffled semi join — measured here so the
    // "corpus never shuffles, never scanned twice" claim is a number,
    // not an assertion.
    if (on("exact")) {
      val newBatch = base.limit(200)
        .select((col("doc_id") + lit(90000000L)).as("doc_id"),
          when(col("doc_id") % 2 === 0,
              concat(col("text"), lit(" replica0")))       // corpus hit
            .otherwise(concat(col("text"), lit(" probe"))) // miss
            .as("text"))
        .cache()
      newBatch.count()
      scales.foreach { k =>
        val c = corpus(k)
        val n = c.count()
        val time = new Timer(f"k=$k%-2d n=$n%-6d")
        time("exactScreenBcast")(graft.operators.Dedup.exactAgainst(
          newBatch, c, Seq("text")).count())
        time("exactScreenShuf")(graft.operators.Dedup.exactAgainst(
          newBatch, c, Seq("text"), broadcastBatch = false).count())
        time("exactFull")(graft.operators.Dedup.exact(
          c.unionByName(newBatch), Seq("text"), "doc_id").count())
        c.unpersist()
        spark.catalog.clearCache()
      }
      newBatch.unpersist()
    }

    // ---- index maintenance: folding a fixed batch into a PERSISTED
    // index (read back from parquet, the production shape) must cost
    // ~the batch banding plus one shuffle of the small index table,
    // while a rebuild re-bands the whole corpus — the gap is the
    // point of minhashIndexUpdate.
    if (on("upd")) {
      val newBatch = base.limit(200)
        .select((col("doc_id") + lit(90000000L)).as("doc_id"),
          concat(col("text"), lit(" probe")).as("text")).cache()
      newBatch.count()
      scales.foreach { k =>
        val c = corpus(k)
        val n = c.count()
        val time = new Timer(f"k=$k%-2d n=$n%-6d")
        val dir = java.nio.file.Files
          .createTempDirectory("graft_smoke_idx").toString
        graft.operators.Dedup.minhashIndex(c, "doc_id", "text")
          .write.mode("overwrite").parquet(dir)
        val persisted = spark.read.parquet(dir)
        time("indexUpdate")(graft.operators.Dedup.minhashIndexUpdate(
          persisted, newBatch, "doc_id", "text").count())
        time("indexRebuild")(graft.operators.Dedup.minhashIndex(
          c.unionByName(newBatch), "doc_id", "text").count())

        // durable-write comparison: the full swap rewrites the WHOLE
        // index every cycle (corpus-proportional); the partitioned
        // in-place update rewrites only dirty layout partitions
        // (batch-bucket-bounded). Trickle batch (10 docs, <=160
        // bucket keys over 512 parts) shows the bounded regime; the
        // 200-doc batch (3200 keys) honestly saturates all parts.
        // per-partition (file-name fingerprint, bytes): a rewrite
        // always produces fresh file names, so the fingerprint — not
        // the byte total, which can coincide — detects rewritten dirs
        def allBytes(d: String): Map[String, (String, Long)] =
          new java.io.File(d).listFiles()
            .filter(_.getName.startsWith("part="))
            .map(p => p.getName -> (
              p.listFiles().map(_.getName).sorted.mkString(","),
              p.listFiles().map(_.length).sum))
            .toMap
        val swapDir = java.nio.file.Files
          .createTempDirectory("graft_smoke_idx_swap").toString
        time("updSwapDurable") {
          graft.operators.Dedup.minhashIndexUpdate(
              persisted, newBatch, "doc_id", "text")
            .write.mode("overwrite").parquet(swapDir)
          spark.read.parquet(swapDir).count()
        }
        val pdir = java.nio.file.Files
          .createTempDirectory("graft_smoke_idx_part").toString
        graft.operators.Dedup.indexWritePartitioned(
          graft.operators.Dedup.minhashIndex(c, "doc_id", "text"),
          pdir, numParts = 512)
        for ((label, m, off) <- Seq(("updPartial10", 10, 80000000L),
                                    ("updPartial200", 200, 90000000L))) {
          val b = base.limit(m)
            .select((col("doc_id") + lit(off)).as("doc_id"),
              concat(col("text"), lit(" probe")).as("text"))
          val before = allBytes(pdir)
          var st: graft.operators.Dedup.PartialUpdateStats = null
          time(label) {
            st = graft.operators.Dedup.minhashIndexUpdatePartitioned(
              spark, pdir, b, "doc_id", "text", numParts = 512)
            st.dirtyPartitions.toLong
          }
          val after = allBytes(pdir)
          val rewritten = after.filter { case (p, fp) =>
            !before.get(p).contains(fp) }.values.map(_._2).sum
          println(f"[scale-smoke] k=$k%-2d n=$n%-6d $label%-18s " +
            f"dirty=${st.dirtyPartitions}/${st.totalPartitions} " +
            f"rewrittenMB=${rewritten / 1e6}%6.2f " +
            f"indexMB=${after.values.map(_._2).sum / 1e6}%6.2f")
        }
        c.unpersist()
        spark.catalog.clearCache()
      }
      newBatch.unpersist()
    }

    // ---- full admission cycle (Admission.admitBatch) against
    // PERSISTED corpus+index state: a fixed 200-doc batch (half
    // near-dups of corpus docs -> screened, half token-reversed ->
    // genuinely fresh, admitted) at growing corpus scale. Screens and
    // within-batch dedup are batch-bounded; the one corpus-
    // proportional piece is the ids-only index swap rewrite — the
    // growth this section makes visible (and the reason the scaladoc
    // says to partition the persisted index by band at 100 TB).
    // admitReplay re-runs the SAME batch: the id screen must make it
    // a no-op, at batch-bounded cost.
    if (on("adm")) scales.foreach { k =>
      val c = corpus(k)
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      val dir = java.nio.file.Files.createTempDirectory("graft_smoke_adm")
      val corpusDir = dir.resolve("corpus").toString
      val indexDir = dir.resolve("index").toString
      c.write.mode("overwrite").parquet(corpusDir)
      graft.operators.Dedup.minhashIndex(c, "doc_id", "text")
        .write.mode("overwrite").parquet(indexDir)
      val batch = base.limit(200).select(
        (col("doc_id") + lit(90000000L)).as("doc_id"),
        when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" probe"))) // near-dup of replicas
          .otherwise(concat_ws(" ", // token-reversed: genuinely fresh
            reverse(graft.functions.TextFunctions.tokens(col("text")))))
          .as("text")).cache()
      batch.count()
      time("admitCycle")(graft.streaming.Admission.admitBatch(
        batch, corpusDir, indexDir, "doc_id", "text").admitted)
      time("admitReplay")(graft.streaming.Admission.admitBatch(
        batch, corpusDir, indexDir, "doc_id", "text").admitted)
      batch.unpersist(); c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- bucketed-corpus id screen: the admission cost model names
    // the two per-cycle corpus SCANS as the dominant 100 TB term and
    // proposes bucketing the corpus by idCol. Measured here both
    // ways: (1) the id probe against a corpus bucketed on doc_id
    // prunes buckets (SelectedBucketsCount in the scan) when the
    // batch's ids arrive as an IN list; (2) the shuffled id-screen
    // anti join (the backfill path, broadcastBatch = false) elides
    // the corpus-side exchange entirely — only the batch shuffles.
    if (on("bkt")) {
      val k = scales.max
      val c = corpus(k)
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      val plainDir = java.nio.file.Files
        .createTempDirectory("graft_smoke_bkt_plain").toString
      c.write.mode("overwrite").parquet(plainDir)
      val plain = spark.read.parquet(plainDir)
      val nBuckets = 64
      spark.sql("DROP TABLE IF EXISTS graft_smoke_corpus_bkt")
      c.write.mode("overwrite").bucketBy(nBuckets, "doc_id")
        .sortBy("doc_id").saveAsTable("graft_smoke_corpus_bkt")
      val bkt = spark.table("graft_smoke_corpus_bkt")
      // a 20-id probe batch, half corpus hits / half fresh — the
      // admission id screen's shape
      val hit = c.select(col("doc_id")).limit(10)
        .collect().map(_.getLong(0))
      val ids = hit ++ hit.map(_ + 777777777L)
      // (1) bucket pruning on the IN-list probe. autoBucketedScan
      // must be OFF: with it on (the default) the planner un-buckets
      // scans that need no distribution — better parallelism for full
      // scans, but it silently discards pruning for point probes.
      // The 100 TB id-screen deployment flips this conf (or uses a
      // format whose pruning is planner-independent).
      spark.conf.set(
        "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      val probe = bkt.filter(col("doc_id").isin(ids.map(Long.box): _*))
      val scan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: [^,\n]*".r.findFirstIn(scan)
        .getOrElse("SelectedBucketsCount: ABSENT (pruning lost)")
      println(s"[scale-smoke] k=$k n=$n idProbeBucketed   $sel")
      time("idProbeBucketed")(probe.count())
      time("idProbePlain")(
        plain.filter(col("doc_id").isin(ids.map(Long.box): _*)).count())
      // (2) shuffled id-screen: the bucketed corpus joins WITHOUT a
      // corpus-side exchange (only the batch shuffles, to nBuckets).
      // The metric is "did any shuffle ingest a file scan", not a
      // raw exchange count — both plans have the same number of
      // exchanges, the bucketed one just never moves the corpus.
      val batchDf = spark.createDataset(ids.toSeq)(
        org.apache.spark.sql.Encoders.scalaLong).toDF("doc_id")
        .withColumn("text", lit("probe"))
      // textual subtree walk (one node per line, indentation = depth)
      // because AQE hides the inner plan from SparkPlan.collect
      def corpusShuffled(df: org.apache.spark.sql.DataFrame): Boolean = {
        val lines = df.queryExecution.executedPlan.toString.split("\n")
        def indent(l: String): Int =
          l.indexWhere(c => c != ' ' && c != ':' && c != '+' && c != '-')
        lines.zipWithIndex.exists { case (l, i) =>
          l.contains("Exchange hashpartitioning") && {
            val d = indent(l)
            lines.drop(i + 1).takeWhile(x => indent(x) > d)
              .exists(_.contains("FileScan"))
          }
        }
      }
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val sPlain = graft.operators.Dedup.exactAgainst(batchDf, plain,
          Seq("doc_id"), broadcastBatch = false, hashKeys = false)
        val sBkt = graft.operators.Dedup.exactAgainst(batchDf, bkt,
          Seq("doc_id"), broadcastBatch = false, hashKeys = false)
        println(s"[scale-smoke] k=$k n=$n idScreenCorpusShuffled  " +
          s"plain=${corpusShuffled(sPlain)} bucketed=${corpusShuffled(sBkt)}")
        time("idScreenShufPlain")(sPlain.count())
        time("idScreenShufBkt")(sBkt.count())
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
          "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
      }
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- connected components: the adaptive driver/distributed
    // cutover claim measured. Chain graphs (worst-case diameter for
    // label propagation) at growing edge counts, driver union-find vs
    // the forced distributed pointer-jumping loop. The driver path
    // exists because per-round job overhead dominates on small
    // graphs; the distributed loop exists because the driver path
    // can't hold 100 TB-scale edge lists.
    if (on("cc")) Seq(10000, 100000, 1000000).foreach { nEdges =>
      import spark.implicits._
      val chain = spark.range(nEdges)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val time = new Timer(f"k=1  n=$nEdges%-7d")
      time("ccDriver")(graft.operators.Dedup
        .connectedComponentMinLabel(chain).count())
      time("ccDistributed")(graft.operators.Dedup
        .connectedComponentMinLabel(chain, driverThreshold = 0L).count())
      spark.catalog.clearCache()
    }

    // ---- incremental embedding screen: replicas are SCALED copies
    // (same direction, cosine 1 with their original), so the corpus's
    // internal near-dup pair volume grows ~k² while the fixed batch's
    // true matches grow ~k — the same construction as the text `incr`
    // smoke, in embedding space.
    if (on("emb")) {
      val embBase = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      def embCorpus(k: Int) = (0 until k).map { i =>
        embBase.select((col("vec_id") + lit(i.toLong * 1000000)).as("vec_id"),
          transform(col("embedding"),
            x => x * (lit(1.0f) + lit(0.5f) * i)).as("embedding"))
      }.reduce(_ unionByName _).cache()
      val newBatch = embBase.limit(100)
        .select((col("vec_id") + lit(90000000L)).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        .cache()
      newBatch.count()
      scales.foreach { k =>
        val c = embCorpus(k)
        val n = c.count()
        val time = new Timer(f"k=$k%-2d n=$n%-6d")
        time("embScreen")(graft.operators.Dedup.embeddingPairsAgainst(
          newBatch, c, "vec_id", "embedding", dim = 64,
          threshold = 0.95).count())
        time("embPairsFull")(graft.operators.Dedup.embeddingPairs(
          c.unionByName(newBatch), "vec_id", "embedding", dim = 64,
          threshold = 0.95).count())
        c.unpersist()
        spark.catalog.clearCache()
      }
      newBatch.unpersist()
    }

    if (on("ntile")) Seq(1, 4, 16).foreach { k =>
      val c = priceCorpus(k)
      val n = c.count()
      def hist(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("b")).agg(count(lit(1)).as("n"),
          min(col("v")).as("lo"), max(col("v")).as("hi"))
          .collect().map(r => r.getInt(0) ->
            ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
      val time = new Timer(f"k=$k%-2d n=$n%-8d")
      val tie = Seq("l_orderkey", "l_linenumber", "__r")
      val hWindow = time.timed("ntileWindow", "buckets") {
        val w = Window.orderBy((col("v") +: tie.map(col)).map(_.asc): _*)
        hist(c.withColumn("b", ntile(10).over(w)))
      }
      val hRange = time.timed("ntileGlobal", "buckets") {
        hist(graft.ddf.DDF(c).ntileGlobal("v", 10, out = "b",
          tieCols = tie).toDF)
      }
      require(hWindow == hRange, s"k=$k: bucket histograms diverged")
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- distributed midranks (r12): the experiment-readout family
    // (rocAuc / mannWhitneyU / spearmanCorr) used to rank via
    // rank().over(Window.orderBy(v)) — ONE total-sort task. The
    // Midrank helper replaces it with a grouped tie census + range-
    // partitioned prefix sum. Time both shapes on replicated prices
    // (replicas share values, so ties grow too) and assert the
    // U-statistic row identical.
    if (on("rank")) Seq(1, 4, 16).foreach { k =>
      val c = priceCorpus(k)
        .withColumn("g", when(col("l_orderkey") % 2 === 0, "A")
          .otherwise("B"))
        .cache()
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-8d")
      val rWindow = time.timed("mwWindow") {
        // the pre-r12 shape, verbatim
        val wOrd = Window.orderBy(col("v"))
        val wTie = Window.partitionBy(col("v"))
        val m = c.withColumn("__rk", rank().over(wOrd))
          .withColumn("__t", count(lit(1)).over(wTie))
          .withColumn("__mid", col("__rk") + (col("__t") - 1) / 2.0)
        val a = m.agg(
          sum(when(col("g") === "A", lit(1L))).as("n_a"),
          sum(when(col("g") === "B", lit(1L))).as("n_b"),
          sum(when(col("g") === "A", col("__mid"))).as("__ra"),
          sum((pow(col("__t"), 3) - col("__t")) / col("__t")).as("__tt"))
        a.collect().head.toSeq
      }
      val rCensus = time.timed("mwMidrank") {
        val u = graft.operators.AbTest.mannWhitneyU(c, "g", "v", "A", "B")
        u.collect().head.toSeq
      }
      // compare via the operator's own outputs on the window path
      val (na, nb, ra, tt) = (rWindow(0).asInstanceOf[Long],
        rWindow(1).asInstanceOf[Long],
        rWindow(2).asInstanceOf[Double],
        rWindow(3).asInstanceOf[Double])
      val uWin = ra - na * (na + 1) / 2.0
      val sig2 = na.toDouble * nb / 12.0 *
        ((na + nb + 1) - tt / (na.toDouble + nb) / (na + nb - 1))
      val zWin = BigDecimal((uWin - na.toDouble * nb / 2.0)
        / math.sqrt(sig2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      require(rCensus(0) == na && rCensus(1) == nb,
        s"k=$k: counts diverged $rCensus vs ($na,$nb)")
      require(rCensus(2) == BigDecimal(uWin)
          .setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"k=$k: U diverged ${rCensus(2)} vs $uWin")
      require(math.abs(rCensus(3).asInstanceOf[Double]
          - zWin.toDouble) < 2e-6,
        s"k=$k: z diverged ${rCensus(3)} vs $zWin")
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- SubstringDedup: the scaladoc's scale shape, measured. The
    // replicated corpus duplicates every document body across
    // replicas (only the one-token `replicaI` suffix differs), so
    // duplicated-substring coverage approaches ALL tokens as k grows
    // — the worst-case load for the anchor pipeline. Claims checked:
    // (a) hash mode ≡ exact-key mode span-for-span (collision-free at
    // this scale, asserted in-run at every k); (b) wall time tracks
    // the anchor count (corpus-linear map work + slim-shuffle agg),
    // not the duplicate multiplicity.
    if (on("sub")) scales.foreach { k =>
      val c = corpus(k)
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      val hashSpans = graft.operators.SubstringDedup
        .duplicateSpans(c, "doc_id", "text", k = 8)
      time("subSpansHash")(hashSpans.count())
      val exactSpans = graft.operators.SubstringDedup
        .duplicateSpans(c, "doc_id", "text", k = 8, hashKeys = false)
      time("subSpansExact")(exactSpans.count())
      require(hashSpans.exceptAll(exactSpans).isEmpty &&
        exactSpans.exceptAll(hashSpans).isEmpty,
        s"k=$k: hash-key spans diverge from exact-key spans")
      time("subRemoveKeep1")(graft.operators.SubstringDedup
        .removeDuplicateSpans(c, "doc_id", "text", k = 8)
        .filter(col("text_dedup") =!= "").count())
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- gram-index maintenance: batch-bounded append fold vs full
    // update rewrite, as the INDEX grows k×. Claim: the rewrite cost
    // rides the index size (it rewrites everything), the append cost
    // rides the BATCH (index scanned once, only missing grams
    // written); on-disk content asserted equal both ways.
    if (on("suba")) scales.foreach { k =>
      // per-replica token suffixing: unlike corpus(k), whose replicas
      // share every body gram, each replica here contributes an
      // entirely DISTINCT gram population — the index genuinely grows
      // k×, which is what this section varies
      val c = (0 until k).map { i =>
        base.select((col("doc_id") + lit(i.toLong * 1000000)).as("doc_id"),
          concat_ws(" ", transform(
            graft.functions.TextFunctions.tokens(col("text")),
            t => concat(t, lit(s"_$i")))).as("text"))
      }.reduce(_ union _).cache()
      val batch = base.select((col("doc_id") + lit(90000000L)).as("doc_id"),
        concat(col("text"), lit(" subabatch")).as("text"))
        .limit(500).cache()
      batch.count()
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_smoke_suba$k").toString
      val appendDir = s"$dir/app"; val rewriteDir = s"$dir/rw"
      val idx = graft.operators.SubstringDedup
        .gramIndex(c, "doc_id", "text", k = 8)
      idx.write.mode("overwrite").parquet(appendDir)
      idx.write.mode("overwrite").parquet(rewriteDir)
      val nIdx = spark.read.parquet(appendDir).count()
      val time = new Timer(f"k=$k%-2d idx=$nIdx%-8d")
      time("gramAppendFold")(graft.operators.SubstringDedup
        .gramIndexAppendInPlace(spark, appendDir, batch,
          "doc_id", "text", k = 8))
      time("gramUpdateRewrite") {
        val merged = graft.operators.SubstringDedup.gramIndexUpdate(
          spark.read.parquet(rewriteDir), batch, "doc_id", "text", k = 8)
          .localCheckpoint()
        merged.write.mode("overwrite").parquet(rewriteDir)
        merged.count()
      }
      val a = spark.read.parquet(appendDir)
      val r = spark.read.parquet(rewriteDir)
      require(a.exceptAll(r).isEmpty && r.exceptAll(a).isEmpty,
        s"k=$k: append fold diverges from the update rewrite")
      batch.unpersist(); c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- Frequent.heavyHitters: two-pass Misra–Gries vs the exact
    // one-exchange groupBy, on the exploded token stream (open-domain
    // shape). Equality asserted in-run at every scale; the MG claim
    // is the SHUFFLE (pass 1 exchanges nothing; pass 2 exchanges only
    // candidate-matching partial counts), which at local scale shows
    // as comparable wall time — the win is network width on a real
    // cluster, the equality is what must hold everywhere.
    if (on("hh")) scales.foreach { k =>
      val c = corpus(k)
      val toks = c.select(explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("token"))
        .cache()
      val n = toks.count()
      val time = new Timer(f"k=$k%-2d n=$n%-8d")
      val share = 0.002
      val mg = graft.operators.Frequent.heavyHitters(toks, "token", share)
      time("hhTwoPass")(mg.count())
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > n * share)
      time("hhExactGroupBy")(exact.count())
      require(mg.exceptAll(exact).isEmpty && exact.exceptAll(mg).isEmpty,
        s"k=$k: two-pass heavy hitters diverge from the exact groupBy")
      toks.unpersist()
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- BPE trainer: the scaladoc's scale claims, measured. The
    // corpus replicates k× but the DISTINCT-WORD table stays ~flat
    // (replicas add one `replicaI` token each — Heaps'-law shape), so
    // (a) the distributed loop's per-merge cost must be flat in k
    // (its input is the word table, never the corpus) and (b) the
    // driver-cutover path must collapse the loop to ~the one
    // word-count pass. Merge sequences from both paths are asserted
    // identical in-run (the UTF-8 tie-break equality, at data scale).
    if (on("bpe")) scales.foreach { k =>
      val c = corpus(k)
      val n = c.count()
      val time = new Timer(f"k=$k%-2d n=$n%-6d")
      def collectMerges(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getInt(0), r.getString(1),
          r.getString(2), r.getLong(3))).toSeq
      val mDist = time.timed("bpeTrainDist", "merges") {
        collectMerges(graft.operators.Bpe.train(c, "text", 40,
          driverCutover = 0L))
      }
      val mLocal = time.timed("bpeTrainLocal", "merges") {
        collectMerges(graft.operators.Bpe.train(c, "text", 40))
      }
      require(mDist == mLocal, s"k=$k: train paths diverged")
      // r18 siblings on the same corpus/scale axis: byte-level BPE
      // (GPT-2 pre-tokens ≈ the word inventory on this single-space
      // corpus — same flat-in-k claim) and the WordPiece trainer
      // (two aggs per distributed merge instead of one; still
      // word-table-sized, so still flat in k)
      val bDist = time.timed("byteBpeDist", "merges") {
        collectMerges(graft.operators.Bpe.train(c, "text", 40,
          driverCutover = 0L, byteLevel = true))
      }
      val bLocal = time.timed("byteBpeLocal", "merges") {
        collectMerges(graft.operators.Bpe.train(c, "text", 40,
          byteLevel = true))
      }
      require(bDist == bLocal, s"k=$k: byte-level train paths diverged")
      def collectWp(df: org.apache.spark.sql.DataFrame) =
        df.collect().filter(r => !r.isNullAt(2))
          .map(r => (r.getInt(0), r.getString(1), r.getDouble(2),
            r.getLong(3))).toSeq
      val wDist = time.timed("wpTrainDist", "merges") {
        collectWp(graft.operators.WordPiece.train(c, "text", 40,
          driverCutover = 0L))
      }
      val wLocal = time.timed("wpTrainLocal", "merges") {
        collectWp(graft.operators.WordPiece.train(c, "text", 40))
      }
      require(wDist == wLocal, s"k=$k: wordpiece train paths diverged")
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- IVF operating point: recall@10 vs brute force as nProbe
    // sweeps the centroid count, at both the q50 fixed sizing (8
    // centroids) and the sqrt-rule self-sizing. This is the measured
    // probe-vs-recall curve behind the SimilaritySpec gate — the gate
    // pins the default operating point with slack; this table shows
    // where the curve actually sits and what each probe step buys.
    if (on("ivf")) {
      import graft.operators.Similarity
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).cache()
      val n = emb.count()
      val q = emb.filter(col("vec_id") < 50).cache()
      val exact = Similarity
        .bruteForceTopK(emb, q, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (nc <- Seq(8, 0); np <- Seq(1, 2, 3, 4, 6, 8)) {
        val model = Similarity.fitIvfQuantizer(emb, "embedding",
          nCentroids = nc)
        val kEff = model.clusterCenters.length
        if (np <= kEff) {
          val t0 = System.nanoTime()
          val approx = Similarity
            .ivfTopK(emb, q, "vec_id", "embedding", 10, model, np)
            .select(col("query_id"), col("neighbor_id")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val recall = (exact intersect approx).size.toDouble / exact.size
          println(f"[scale-smoke] n=$n%-6d ivf nc=$kEff%-3d np=$np%-2d " +
            f"recall=$recall%.4f  ${(System.nanoTime() - t0) / 1e9}%6.2f s")
        }
      }
      emb.unpersist(); q.unpersist()
      spark.catalog.clearCache()
    }
    // lpa: label-propagation rounds on two graph shapes — a chain of
    // 3-cliques (worst case: many small communities, labels travel)
    // and a bipartite co-occurrence graph (the q149 shape, dense).
    // Cost should scale in edges x iters, never quadratically.
    if (on("lpa")) Seq(10000, 40000, 160000).foreach { nCliques =>
      import spark.implicits._
      // clique i = nodes {3i, 3i+1, 3i+2} + bridge to clique i+1
      val cliqueEdges = (0L until nCliques).flatMap { i =>
        val b = 3 * i
        Seq((b, b + 1), (b + 1, b + 2), (b, b + 2)) ++
          (if (i + 1 < nCliques) Seq((b + 2, b + 3)) else Nil)
      }.toDF("src", "dst")
      val t0 = System.nanoTime()
      val comms = graft.operators.LabelProp
        .communitySizes(cliqueEdges, "src", "dst", iters = 3).count()
      println(f"[scale-smoke] lpa cliqueChain nCliques=$nCliques%-7d " +
        f"edges=${4 * nCliques - 1}%-8d " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s  communities=$comms")
    }

    // cont: containment join at replicated corpus scale — same
    // co-occurrence cost model as the jaccard join (sum over shingles
    // of C(freq,2) join rows); the replica-suffix token keeps shingle
    // buckets from exploding quadratically across replicas.
    if (on("cont")) scales.foreach { k =>
      val c = corpus(k)
      val n = c.count()
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.containmentPairs(c, "doc_id",
        "text", shingleLen = 3, threshold = 0.9,
        maxTokenBucket = 64).count()
      println(f"[scale-smoke] cont k=$k%-3d docs=$n%-8d " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s  pairs=$pairs")
      c.unpersist()
    }

    // contd: containment join in its DOCUMENTED regime — post-dedup
    // (VERDICT r10 item 4). The r10 `cont` curve measured the
    // adversarial replica-dense corpus (replicas share ~all
    // shingles, so C(freq,2) join rows grow quadratically in k —
    // output-proportional, the regime the operator documents NOT to
    // run in). Here every replica's TOKENS carry a replica suffix,
    // making replica shingle sets disjoint: the shingle-frequency
    // PROFILE of the base corpus is preserved while n grows — the
    // post-near-dedup world where surviving docs share few shingles.
    // The claim under test: cost and pairs grow ~linearly in k.
    if (on("contd")) scales.foreach { k =>
      val c = (0 until k).map { i =>
        base.select(
          (col("doc_id") + lit(i.toLong * 1000000)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", "$1r" + i).as("text"))
      }.reduce(_ union _).cache()
      val n = c.count()
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup.containmentPairs(c, "doc_id",
        "text", shingleLen = 3, threshold = 0.9,
        maxTokenBucket = 64).count()
      println(f"[scale-smoke] contd k=$k%-3d docs=$n%-8d " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s  pairs=$pairs")
      c.unpersist()
      spark.catalog.clearCache()
    }

    // attr: the touch-attribution window vs the touches x
    // conversions join it replaces, on the power-user shape that
    // breaks the join: ONE user with T touches and C conversions in
    // one lookback window is T x C join rows but only T + C window
    // rows. The window should stay flat-ish while the join grows
    // multiplicatively.
    if (on("attr")) {
      import spark.implicits._
      Seq((5000, 500), (20000, 2000), (80000, 8000)).foreach {
        case (t, c) =>
          val touches = (0 until t).map(i =>
            (1L, new java.sql.Timestamp(i * 1000L), i.toLong, "click",
              0.0))
          val convs = (0 until c).map(i =>
            (1L, new java.sql.Timestamp((i * 1000L) + 500L),
              (t + i).toLong, "purchase", 0.0))
          val ev = (touches ++ convs)
            .toDF("user_id", "ts", "event_id", "event_type", "value")
          val t0 = System.nanoTime()
          val viaWindow = graft.operators.EventAnalytics.attribution(
            ev, "user_id", "ts", "event_id", "event_type",
            "purchase", Seq("click"), lookbackSec = t + c + 10L)
            .count()
          val tw = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          val viaJoin = ev.filter($"event_type" === "purchase")
            .select($"event_id".as("cid"),
              unix_micros($"ts").as("csec"))
            .join(ev.filter($"event_type" === "click")
              .select($"event_id".as("tid"),
                unix_micros($"ts").as("tsec")),
              $"tsec" <= $"csec")
            .count()
          val tj = (System.nanoTime() - t1) / 1e9
          println(f"[scale-smoke] attr T=$t%-6d C=$c%-5d " +
            f"window=$tw%6.2f s ($viaWindow rows)  " +
            f"join=$tj%6.2f s ($viaJoin rows)")
      }
    }

    // lp: link-prediction growth + the hub case its maxDegree cap
    // exists for. Clique chains: candidates grow linearly in cliques
    // (within a 6-clique every non-adjacent... all pairs ARE
    // adjacent, so candidates come only from the bridges — tiny,
    // what matters is the wedge volume staying linear). Star graph:
    // a degree-100k hub is C(100k, 2) ≈ 5e9 wedges uncapped — the
    // cap excludes the hub as an intermediate and the run completes
    // in seconds with zero candidate pairs (rim nodes share ONLY the
    // hub), the documented recall trade made visible.
    if (on("lp")) {
      import spark.implicits._
      Seq(10000, 40000, 160000).foreach { nCliques =>
        val s = 6
        val cliqueEdges = (0L until nCliques).flatMap { i =>
          val b = s * i
          (for (x <- 0 until s; y <- x + 1 until s)
            yield (b + x, b + y)) ++
            (if (i + 1 < nCliques) Seq((b + s - 1, b + s)) else Nil)
        }.toDF("src", "dst")
        val t0 = System.nanoTime()
        val cands = graft.operators.GraphMetrics
          .linkPrediction(cliqueEdges, "src", "dst").count()
        println(f"[scale-smoke] lp cliqueChain nCliques=$nCliques%-7d " +
          f"edges=${15 * nCliques + nCliques - 1}%-8d " +
          f"${(System.nanoTime() - t0) / 1e9}%6.2f s  candidates=$cands")
      }
      val star = (1L to 100000L).map(i => (0L, i)).toDF("src", "dst")
      val t0 = System.nanoTime()
      val n = graft.operators.GraphMetrics
        .linkPrediction(star, "src", "dst", maxDegree = 10000).count()
      println(f"[scale-smoke] lp star hubDeg=100000 capped " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s  candidates=$n " +
        "(uncapped would wedge C(100k,2)~5e9)")
    }

    // tri: triangle census growth + the hub-skew case the degree
    // orientation exists for. Clique chains grow triangles linearly
    // in cliques (20/clique at size 6); the star graph has ~zero
    // triangles but a degree-100k hub — a naive wedge join would
    // build 10^10 hub wedges, the oriented join builds none (every
    // hub edge points INTO the hub).
    if (on("tri")) {
      import spark.implicits._
      Seq(10000, 40000, 160000).foreach { nCliques =>
        val s = 6 // clique size
        val cliqueEdges = (0L until nCliques).flatMap { i =>
          val b = s * i
          (for (x <- 0 until s; y <- x + 1 until s)
            yield (b + x, b + y)) ++
            (if (i + 1 < nCliques) Seq((b + s - 1, b + s)) else Nil)
        }.toDF("src", "dst")
        val t0 = System.nanoTime()
        val tri = graft.operators.GraphMetrics
          .triangles(cliqueEdges, "src", "dst").count()
        println(f"[scale-smoke] tri cliqueChain nCliques=$nCliques%-7d " +
          f"edges=${16 * nCliques - 1}%-8d " +
          f"${(System.nanoTime() - t0) / 1e9}%6.2f s  triangles=$tri")
      }
      Seq(100000, 400000).foreach { rim =>
        val hub = (1L to rim).map(i => (0L, i))
        val rimEdges = (1L until 1000L).map(i => (i, i + 1))
        val e = (hub ++ rimEdges).toDF("src", "dst")
        val t0 = System.nanoTime()
        val tri = graft.operators.GraphMetrics
          .triangles(e, "src", "dst").count()
        println(f"[scale-smoke] tri hubStar rim=$rim%-7d " +
          f"${(System.nanoTime() - t0) / 1e9}%6.2f s  triangles=$tri")
      }
    }

    // snm: sorted-neighborhood candidates at replicated corpus scale
    // — the n*(w-1) law should hold to the row and wall time should
    // track the range sort, i.e. ~linear in n.
    if (on("snm")) scales.foreach { k =>
      val c = corpus(k)
      val n = c.count()
      val keyed = c.select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "\\s+", ""),
          1, 12).as("bkey"))
      val t0 = System.nanoTime()
      val pairs = graft.operators.Blocking
        .sortedNeighborPairs(keyed, "doc_id", "bkey", window = 8)
        .count()
      println(f"[scale-smoke] snm k=$k%-3d docs=$n%-8d w=8 " +
        f"${(System.nanoTime() - t0) / 1e9}%6.2f s  pairs=$pairs " +
        f"(law=${(1 until 8).map(j => n - j).sum})")
      c.unpersist()
    }

    // kcore: peel-to-fixpoint growth on the CASCADING shape — at
    // k=2 a pendant path peels exactly one node (its free endpoint)
    // per round, so rounds = pathLen by construction while the
    // triangles survive as the 2-core. Cost should scale with
    // edges x rounds; the (20000, 12) row isolates the rounds term.
    if (on("kcore")) Seq((20000, 4), (80000, 4), (20000, 12)).foreach {
      case (nTris, pathLen) =>
        import spark.implicits._
        val edges = (0L until nTris).flatMap { i =>
          val b = (3 + pathLen) * i
          val tri = Seq((b, b + 1), (b + 1, b + 2), (b, b + 2))
          val path = (0 until pathLen)
            .map(j => (b + 2 + j, b + 3 + j))
          tri ++ path
        }.toDF("src", "dst")
        val t0 = System.nanoTime()
        val core = graft.operators.GraphMetrics
          .kCore(edges, "src", "dst", k = 2).count()
        println(f"[scale-smoke] kcore nTris=$nTris%-6d " +
          f"pathLen=$pathLen%-3d edges=${(3 + pathLen) * nTris}%-8d " +
          f"${(System.nanoTime() - t0) / 1e9}%6.2f s  coreNodes=$core")
    }

    // zorder: file-pruning potential of the Morton layout vs the
    // lexicographic clustered write, measured from the actual per-file
    // min/max (the stats parquet footers carry — what any engine's
    // file-level pruning consults). A mid-domain equality predicate on
    // EACH column counts the files whose [min, max] admit it.
    if (on("zorder")) {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))
      val zdir = java.nio.file.Files
        .createTempDirectory("graft_smoke_z").toString + "/z"
      val ldir = java.nio.file.Files
        .createTempDirectory("graft_smoke_z").toString + "/lex"
      val nFiles = 32
      var t0 = System.nanoTime()
      graft.operators.ZOrder.saveZOrdered(li, "l_partkey", "l_suppkey",
        zdir, nFiles = nFiles)
      val tz = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      graft.ddf.DDF(li).save.clustered(ldir,
        Seq("l_partkey", "l_suppkey"), nFiles = nFiles)
      val tl = (System.nanoTime() - t0) / 1e9
      val st = li.agg(min(col("l_partkey")), max(col("l_partkey")),
        min(col("l_suppkey")), max(col("l_suppkey"))).head()
      val pMid = (st.getLong(0) + st.getLong(1)) / 2
      val sMid = (st.getLong(2) + st.getLong(3)) / 2
      def admits(dir: String, c: String, v: Long): Int =
        new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".parquet")).count { f =>
            val r = spark.read.parquet(f.toString)
              .agg(min(col(c)), max(col(c))).head()
            r.getLong(0) <= v && v <= r.getLong(1)
          }
      println(f"[scale-smoke] zorder write $tz%6.2f s, lex write " +
        f"$tl%6.2f s, $nFiles files each")
      println(f"[scale-smoke] files admitting l_partkey=$pMid: " +
        f"zorder ${admits(zdir, "l_partkey", pMid)}/$nFiles, " +
        f"lex ${admits(ldir, "l_partkey", pMid)}/$nFiles")
      println(f"[scale-smoke] files admitting l_suppkey=$sMid: " +
        f"zorder ${admits(zdir, "l_suppkey", sMid)}/$nFiles, " +
        f"lex ${admits(ldir, "l_suppkey", sMid)}/$nFiles")
    }

    // lnk: fuzzy-linkage candidate growth — nation-only vs composite
    // (nation × 16-char name-prefix) blocking as the customer corpus
    // replicates k×. Replicas mint fresh TPC-H-shaped names from
    // their offset keys (a growing corpus grows its name space), so
    // composite blocks stay bounded (same nation AND same
    // custkey-div-100 prefix) while nation-only blocks grow ~n/25:
    // candidates quadratic vs linear — the q211 fixture re-block
    // (VERDICT r11 item 4) as a measured table. Wall time rides the
    // candidate count (the JW comparator runs once per candidate).
    if (on("lnk")) {
      import graft.operators.Linkage
      val cust0 = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
      def custCorpus(k: Int) = (0 until k).map { i =>
        cust0.select(
          (col("c_custkey") + lit(i.toLong * 10000000L)).as("ck"),
          col("c_nationkey"), col("c_mktsegment"))
      }.reduce(_ union _)
        .select(col("ck"),
          format_string("Customer#%09d", col("ck")).as("c_name"),
          col("c_nationkey"), col("c_mktsegment")).cache()
      Seq(1, 2).foreach { k =>
        val cust = custCorpus(k)
        val n = cust.count()
        val pfx = substring(col("c_name"), 1, 16).as("pfx")
        val a = cust.select(col("ck").as("rid"),
          col("c_nationkey").as("blk"), pfx,
          col("c_name").as("nm"), col("c_mktsegment").as("mk"))
        val swapped = concat(substring(col("c_name"), 1, 16),
          substring(col("c_name"), 18, 1), substring(col("c_name"), 17, 1))
        val b = cust.select((col("ck") + 100000000L).as("rid"),
          col("c_nationkey").as("blk"), pfx,
          when(col("ck") % 10 === 0, swapped)
            .otherwise(col("c_name")).as("nm"),
          col("c_mktsegment").as("mk"))
        val fields = Seq(
          Linkage.FieldSpec("nm", 0.95, 0.001, jwThreshold = Some(0.97)),
          Linkage.FieldSpec("mk", 0.9, 0.2))
        for ((label, bc) <- Seq(("lnkNationOnly", Seq("blk")),
                                ("lnkComposite", Seq("blk", "pfx")))) {
          val t0 = System.nanoTime()
          // aggregate over score, not count(): a bare count would let
          // Catalyst prune the JW comparator out of the plan and time
          // only candidate enumeration — the wall must carry the
          // scoring work the gate query actually runs per candidate
          val r = Linkage.linkPairs(a, "rid", b, "rid", bc, fields)
            .agg(count(lit(1)).as("cands"), sum(col("score"))).head()
          println(f"[scale-smoke] lnk k=$k%-2d n=$n%-7d $label%-16s " +
            f"${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
            f"candidates=${r.getLong(0)}")
        }
        cust.unpersist()
        spark.catalog.clearCache()
      }
    }

    // ---- SemDeDup center provisioning: the operator's cost is
    // Σ n_c² over clusters. Replica block i is a REFLECTION of the
    // base embeddings (deterministic per-block sign pattern —
    // orthogonal, so within-block geometry is untouched while blocks
    // decorrelate from each other). With the center count HELD FIXED
    // (block 0's 10 seeds), every new block crowds into the same 10
    // clusters and the verify wall grows ~quadratically; scaling the
    // center count with the corpus (the paper's k ∝ n rule — block
    // i's centers are block 0's seeds under block i's reflection)
    // keeps cluster sizes flat and the wall ~linear. maxClusterSize
    // is the refusal backstop when a fit under-provisions.
    if (on("sem")) {
      import graft.operators.SemDedup
      val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // period-97 pseudo-random windows: distinct NON-REPEATING sign
      // patterns for every i < 97 (a short-period family like
      // (j+7i)%5 silently duplicates blocks past i=5 — twin blocks
      // are identical point sets and the smoke measures the twins,
      // not provisioning)
      def signs(i: Int): Seq[Double] =
        if (i == 0) Seq.fill(64)(1.0) // block 0 IS the base corpus
        else Seq.tabulate(64)(j =>
          if ((j * 41 + i * 17) % 97 < 39) -1.0 else 1.0)
      def block(i: Int) = e0.select(
        (col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
        zip_with(col("v"), typedLit(signs(i)), (x, s) => x * s).as("v"))
      val seeds0 = e0.orderBy(col("vec_id")).limit(10).collect()
        .map(_.getSeq[Double](1).toSeq).toSeq
      val baseN = e0.count()
      scales.foreach { k =>
        val c = (0 until k).map(block).reduce(_ unionByName _).cache()
        val n = c.count()
        val fixed = seeds0
        val scaled = (0 until k).flatMap { i =>
          val s = signs(i)
          fixed.map(cv => cv.zip(s).map { case (x, sg) => x * sg })
        }
        // the FIT face (r13): k ∝ n provisioning from a bounded
        // sample — targetClusterSize fixed at block-0's n/10, so the
        // fitted k grows ~10·k with the corpus and per-cluster size
        // stays flat (the scaled arm's property, with centers the
        // operator provisioned itself instead of hand-built ones)
        val tFit = System.nanoTime()
        val fitted = SemDedup.fitCenters(c, "v",
          targetClusterSize = math.max(1L, baseN / 10))
        println(f"[scale-smoke] sem k=$k%-2d n=$n%-6d " +
          f"semFitCenters     ${(System.nanoTime() - tFit) / 1e9}%7.2f s  " +
          f"kFit=${fitted.length}")
        // the SCREEN face (r13): fixed 200-row batch vs the growing
        // corpus under the fitted centers — wall must track the
        // corpus scan (two assign passes + a broadcast cluster
        // join), never corpus x batch
        val batch = c.limit(200).select(
          (col("vec_id") + 90000000L).as("vec_id"),
          zip_with(col("v"), typedLit(Seq.fill(64)(1.001)),
            (x, s) => x * s).as("v"))
        val tScr = System.nanoTime()
        val hits = SemDedup.screenPairs(c, batch, "vec_id", "v",
          fitted, minCosine = 0.95, maxClusterSize = Int.MaxValue)
          .count()
        println(f"[scale-smoke] sem k=$k%-2d n=$n%-6d " +
          f"semScreen200      ${(System.nanoTime() - tScr) / 1e9}%7.2f s  " +
          f"hits=$hits")
        for ((label, cents) <- Seq(("semFixedCenters", fixed),
                                   ("semScaledCenters", scaled),
                                   ("semFittedCenters", fitted))) {
          val t0 = System.nanoTime()
          val pairs = SemDedup.semDedupPairs(c, "vec_id", "v", cents,
            minCosine = 0.4, maxClusterSize = Int.MaxValue).count()
          val wall = (System.nanoTime() - t0) / 1e9
          // audit OUTSIDE the timed window: clusterSizes re-runs the
          // O(n·|cents|) assignment, which is k× dearer in the
          // scaled arm and would bias the very comparison this
          // section makes
          val maxC = SemDedup.clusterSizes(c, "v", cents)
            .agg(max(col("n"))).head().getLong(0)
          println(f"[scale-smoke] sem k=$k%-2d n=$n%-6d $label%-17s " +
            f"$wall%7.2f s  maxCluster=$maxC pairs=$pairs")
        }
        c.unpersist()
        spark.catalog.clearCache()
      }
    }

    // ---- SemDeDup ROUTED assignment past the flat ceiling (r14):
    // k = 8192 centers — double the 4096 flat-literal-argmin ceiling
    // VERDICT r13 flagged, a regime where the flat face's 8192-term
    // expression tree is not even analyzable in reasonable time. The
    // routed face must (a) run at all, (b) price per-row candidate
    // work at ~nProbe·k/nCells instead of k (nProbe=1 vs exhaustive
    // walls), and (c) stay ~linear in the corpus at fixed k (block
    // scaling). Centers are 10 block-0 seeds under 820 distinct
    // period-1021 sign patterns — 8192 distinct model rows, the
    // operator never told which are "real".
    if (on("semr")) {
      import graft.operators.SemDedup
      val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      def signs(i: Int): Seq[Double] =
        if (i == 0) Seq.fill(64)(1.0)
        else Seq.tabulate(64)(j =>
          if ((j * 41 + i * 17) % 97 < 39) -1.0 else 1.0)
      def block(i: Int) = e0.select(
        (col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
        zip_with(col("v"), typedLit(signs(i)), (x, s) => x * s).as("v"))
      val seeds0 = e0.orderBy(col("vec_id")).limit(10).collect()
        .map(_.getSeq[Double](1).toSeq).toSeq
      def pat(p: Int): Seq[Double] = Seq.tabulate(64)(j =>
        if ((j * 41 + p * 29) % 1021 < 408) -1.0 else 1.0)
      val bigK = 8192
      val centers = (0 until (bigK + 9) / 10).flatMap { p =>
        val s = pat(p)
        seeds0.map(cv => cv.zip(s).map { case (x, sg) => x * sg })
      }.take(bigK)
      scales.foreach { k =>
        val c = (0 until k).map(block).reduce(_ unionByName _).cache()
        val n = c.count()
        for (np <- Seq(1, 4, 0)) { // 0 = exhaustive probe (exact)
          val t0 = System.nanoTime()
          val assigned = SemDedup.assignRouted(c, "vec_id", "v",
              centers, nProbe = np)
            .agg(count(lit(1)), countDistinct(col("cluster"))).head()
          val lbl = if (np == 0) "exh" else np.toString
          println(f"[scale-smoke] semr k=$k%-2d n=$n%-6d " +
            f"routedK8192/np=$lbl%-4s " +
            f"${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
            f"rows=${assigned.getLong(0)} " +
            f"clustersHit=${assigned.getLong(1)}")
        }
        c.unpersist()
        spark.catalog.clearCache()
      }
    }

    // ---- SemDeDup FIT wall (r15, VERDICT r14 item 6): `semr` prices
    // routed ASSIGNMENT past the flat ceiling; this prices the other
    // half of provisioning — fitCenters itself (spark.ml Lloyd over
    // the bounded sample, random init, 10 rounds) as k grows with the
    // sample held fixed. The model is O(k · sample · dim · rounds),
    // so the curve should be ~linear in k at fixed sample — the
    // measured points plus that model are the BENCH_NOTES sizing
    // recipe for fitCap/fitFraction at 10⁸-doc scale (where k hits
    // the 65536 default ceiling and sample = fitCap = 1e5).
    if (on("semf")) {
      import graft.operators.SemDedup
      val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      def signs(i: Int): Seq[Double] =
        if (i == 0) Seq.fill(64)(1.0)
        else Seq.tabulate(64)(j =>
          if ((j * 41 + i * 17) % 97 < 39) -1.0 else 1.0)
      def block(i: Int) = e0.select(
        (col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
        zip_with(col("v"), typedLit(signs(i)), (x, s) => x * s).as("v"))
      val c = (0 until 10).map(block).reduce(_ unionByName _).cache()
      val n = c.count() // 10 × embeddings rows (20k at sf0.1)
      Seq(512, 2048, 8192, 16384).foreach { k =>
        val t0 = System.nanoTime()
        val fitted = SemDedup.fitCenters(c, "v",
          targetClusterSize = math.max(1L, n / k), maxCenters = k)
        println(f"[scale-smoke] semf n=$n%-6d k=${fitted.length}%-6d " +
          f"fit ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
      c.unpersist()
      spark.catalog.clearCache()
    }

    // ---- Gopher repetition suite (r15; fused r16): the full 12-rule
    // A1.2 set is explode + partial-agg Column math — the wall must
    // track the CORPUS linearly (shuffle rows ≈ Σ_n grams + units ≈
    // 9.2 × tokens) with per-doc work flat. Corpus = documents
    // replicated k× with multi-line synthesis (the q252 fixture
    // shape) so the line/para stages see real units. UNCACHED on
    // purpose (r16): the 100 TB input is parquet, not a warm cache —
    // the r15 plan scanned + tokenized the corpus once per stage, and
    // caching the probe corpus hid exactly that cost; the probe also
    // prints the PLAN's parquet-scan count (3 per gate pass pre-r16,
    // 1 fused) so the scan drop is visible independent of wall noise.
    if (on("rep")) {
      import graft.operators.Repetition
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      def corpus(k: Int) = (0 until k).map(i =>
        docs0.select((col("doc_id") + lit(i.toLong * 1000000L))
          .as("doc_id"),
          concat_ws("\n",
            substring(col("text"), 1, 60),
            substring(col("text"), 61, 60),
            substring(col("text"), 1, 60)).as("text")))
        .reduce(_ unionByName _)
      Seq(1, 4, 8).foreach { k =>
        val c = corpus(k)
        val n = c.count()
        def run(tag: String, frame: org.apache.spark.sql.DataFrame)
        : Unit = {
          val t0 = System.nanoTime()
          val q = frame.agg(count(lit(1)),
            sum(when(col("rep_pass"), 1L).otherwise(0L)))
          val out = q.head()
          // simple mode prints the tree once — one line per scan
          val scans = q.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode
                .fromString("simple"))
            .split("Scan parquet").length - 1
          println(f"[scale-smoke] rep  n=$n%-7d $tag%-6s 12-rule " +
            f"${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
            f"rows=${out.getLong(0)} pass=${out.getLong(1)} " +
            f"parquet_scans=${scans / k} x$k")
          spark.catalog.clearCache()
        }
        // the pre-r16 shape: three standalone stages joined — each
        // scans + tokenizes the corpus independently. rep_pass MUST
        // be the real conjunction over the 13 columns: a literal
        // would let Catalyst prune every fraction computation and
        // the arm would measure nothing (caught live, r16).
        val staged = Repetition
          .dupUnitFractions(c, "doc_id", "text")
          .join(Repetition.topNgramFractions(c, "doc_id", "text"),
            Seq("doc_id"))
          .join(Repetition.dupNgramCoverage(c, "doc_id", "text"),
            Seq("doc_id"))
        val stagedPass = staged.withColumn("rep_pass", Seq(
          col("dup_line_frac") <= 0.30, col("dup_para_frac") <= 0.30,
          col("dup_line_char_frac") <= 0.20,
          col("dup_para_char_frac") <= 0.20,
          col("top2_char_frac") <= 0.20, col("top3_char_frac") <= 0.18,
          col("top4_char_frac") <= 0.16, col("dup5_char_frac") <= 0.15,
          col("dup6_char_frac") <= 0.14, col("dup7_char_frac") <= 0.13,
          col("dup8_char_frac") <= 0.12, col("dup9_char_frac") <= 0.11,
          col("dup10_char_frac") <= 0.10).reduce(_ && _))
        run("staged", stagedPass)
        run("staged2", stagedPass)
        run("fused",
          Repetition.gopherRepetitionFlags(c, "doc_id", "text"))
        run("fused2",
          Repetition.gopherRepetitionFlags(c, "doc_id", "text"))
      }
    }

    // ---- raw-HTML main-content extraction (r16): mainContent is
    // pure per-row Column math — the wall must track the corpus
    // LINEARLY and the plan must stay SHUFFLE-FREE below the probe's
    // own count aggregate (exactly ONE Exchange, the partial->final
    // agg; an extraction that exchanged would be a scale bug). Page
    // synthesis mirrors the q257 fixture shape.
    if (on("ext")) {
      import graft.operators.Extract
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val pad = lit("the cat is in the hat and it is a fine day for " +
        "the dog to nap on the mat by the door and this is of it")
      def corpus(k: Int) = (0 until k).map(i =>
        docs0.select((col("doc_id") + lit(i.toLong * 1000000L))
          .as("doc_id"),
          concat(lit("<html><head><script>var x=1;</script></head>" +
              "<body><div><a href=\"/\">"),
            substring(col("text"), 1, 30),
            lit("</a> <a href=\"/b\">"), substring(col("text"), 11, 30),
            lit("</a></div><p>"), pad, lit(" "),
            substring(col("text"), 1, 40), lit(" "), pad,
            lit("</p><p>Read "), substring(col("text"), 41, 15),
            lit("</p><div>© footer</div></body></html>")).as("html")))
        .reduce(_ unionByName _)
      Seq(1, 4, 8).foreach { k =>
        val c = corpus(k)
        val n = c.count()
        val t0 = System.nanoTime()
        val q = Extract.extract(c, "html")
          .agg(count(lit(1)), sum(length(col("text"))))
        val out = q.head()
        val exchanges = q.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode
              .fromString("simple"))
          .split("Exchange").length - 1
        println(f"[scale-smoke] ext  n=$n%-7d mainContent " +
          f"${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
          f"rows=${out.getLong(0)} chars=${out.getLong(1)} " +
          f"exchanges=$exchanges")
        spark.catalog.clearCache()
      }
    }

    // ---- hybrid salted join: replicated shuffle volume must track
    // the HOT subset only. Fixture: ~half the left rows land on ONE
    // hot key, the rest are a near-unique tail; the right side is one
    // row per key (distinct-key sized — non-tiny, the regime where
    // replicating all of it salt-fold is the scale bug r12 flagged).
    // Three arms, each with total shuffle WRITE records measured by a
    // task-metrics listener: plain join / hybrid saltedJoin (auto
    // threshold -> exactly one hot key) / the naive full-replication
    // construction (explode 0..salt-1 on EVERY right row — the
    // pre-r13 shape, built inline). hybrid - plain must stay ~salt ×
    // hot right rows (= salt copies of 1 key's single right row +
    // re-keyed left, not salt × |right|), while naive - plain grows
    // with salt × n_right.
    if (on("salt")) {
      import graft.operators.Skew
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      val bcSaved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def measured(body: => Long): (Long, Long, Double) = {
        val recs = new java.util.concurrent.atomic.AtomicLong(0)
        val l = new SparkListener {
          override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            if (m != null)
              recs.addAndGet(m.shuffleWriteMetrics.recordsWritten): Unit
          }
        }
        spark.sparkContext.addSparkListener(l)
        val t0 = System.nanoTime()
        val rows =
          try body
          finally {
            // listener bus is async — drain before reading counters
            Thread.sleep(1000)
            spark.sparkContext.removeSparkListener(l)
          }
        (rows, recs.get(), (System.nanoTime() - t0) / 1e9)
      }
      try scales.foreach { k =>
        val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .select(col("l_orderkey"), col("l_quantity"))
        val left = (0 until k).map(i => li0.select(
            (col("l_orderkey") + lit(i.toLong * 100000000L)).as("ok"),
            col("l_quantity")))
          .reduce(_ unionByName _)
          .select(when(col("ok") % 2 === 0, lit(0L)).otherwise(col("ok"))
            .as("key"), col("l_quantity"))
          .cache()
        val right = left.select(col("key")).distinct()
          .withColumn("payload", concat(lit("dim"), col("key")))
          .cache()
        val nL = left.count(); val nR = right.count()
        val salt = 8
        val arms = Seq[(String, () => Long)](
          ("plain", () => left.join(right, Seq("key")).count()),
          ("hybridSalted", () => Skew.saltedJoin(left, right,
            Seq("key"), salt).count()),
          ("naiveFullSalt", () => {
            val l2 = left.withColumn("__salt",
              (rand(42L) * salt).cast("int"))
            val r2 = right.withColumn("__salt",
              explode(sequence(lit(0), lit(salt - 1))))
            l2.join(r2, Seq("key", "__salt")).count()
          }))
        arms.foreach { case (label, f) =>
          val (rows, recs, wall) = measured(f())
          println(f"[scale-smoke] salt k=$k%-2d nL=$nL%-7d nR=$nR%-7d " +
            f"$label%-14s $wall%7.2f s  rows=$rows shufRecs=$recs")
        }
        left.unpersist(); right.unpersist()
        spark.catalog.clearCache()
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", bcSaved)
    }

    // ---- DSIR: the fit partial-aggs into m bucket rows whatever the
    // corpus size (model stays O(m)), and the weighting pass is one
    // shuffle-free scan — both walls must grow ~linearly with the
    // corpus while the ratio table stays exactly m rows.
    if (on("dsir")) {
      import graft.operators.Dsir
      val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
      scales.foreach { k =>
        val c = (0 until k).map { i =>
          d0.select((col("doc_id") + lit(i.toLong * 1000000L)).as("doc_id"),
            col("lang"), concat(col("text"), lit(s" replica$i")).as("text"))
        }.reduce(_ unionByName _).cache()
        val n = c.count()
        var t0 = System.nanoTime()
        // cache the ratio table: importanceWeights collects it, and
        // an uncached collect would RE-RUN both fit aggregations
        // inside the weigh window — the weigh number must price the
        // scoring pass, not a second fit
        val ratios = Dsir.logRatioTable(
          c.filter(col("lang") === "en"), c, "text", 8192).cache()
        val mRows = ratios.count()
        val fitS = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val scored = Dsir.importanceWeights(c, "text", ratios, 8192)
          .agg(count(lit(1)), sum(col("log_weight"))).head().getLong(0)
        val weighS = (System.nanoTime() - t0) / 1e9
        println(f"[scale-smoke] dsir k=$k%-2d n=$n%-6d " +
          f"fit=$fitS%7.2f s (model=$mRows rows)  " +
          f"weigh=$weighS%7.2f s  scored=$scored")
        ratios.unpersist()
        // hash-family A/B (r13): same pipeline under xxhash64 — no
        // per-gram hex string, so fit+weigh price the production
        // bucket chain against the SQL-replayable md5 default
        t0 = System.nanoTime()
        val ratiosXx = Dsir.logRatioTable(
          c.filter(col("lang") === "en"), c, "text", 8192,
          hash = "xxhash64").cache()
        ratiosXx.count()
        val fitXx = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        Dsir.importanceWeights(c, "text", ratiosXx, 8192,
            hash = "xxhash64")
          .agg(count(lit(1)), sum(col("log_weight"))).head()
        val weighXx = (System.nanoTime() - t0) / 1e9
        println(f"[scale-smoke] dsir k=$k%-2d n=$n%-6d " +
          f"fitXx=$fitXx%5.2f s  weighXx=$weighXx%5.2f s  " +
          f"(md5 fit=$fitS%5.2f weigh=$weighS%5.2f)")
        ratiosXx.unpersist()
        c.unpersist()
        spark.catalog.clearCache()
      }
    }

    // signature screen: a FIXED 200-row batch against a growing
    // corpus index — the screen wall must track the batch side (the
    // broadcast chunk join + per-screen census), with only the
    // census and the bucket read growing in the corpus; never
    // corpus × batch.
    if (on("sig")) {
      import graft.operators.Dedup
      scales.foreach { k =>
        val n = k * 100000L
        // synthetic well-spread signatures: md5-derived, corpus-unique
        val c = spark.range(n).select(col("id"),
          org.apache.spark.sql.functions.xxhash64(col("id")).as("sig"))
          .cache()
        c.count()
        var t0 = System.nanoTime()
        val idx = Dedup.signatureIndex(c, "id", "sig", maxDistance = 3)
          .cache()
        val idxRows = idx.count()
        val buildS = (System.nanoTime() - t0) / 1e9
        // batch: 100 planted 1-bit neighbours + 100 fresh rows
        val batch = spark.range(100).select((col("id") + 10000000L).as("id"),
            org.apache.spark.sql.functions.xxhash64(col("id"))
              .bitwiseXOR(lit(1L)).as("sig"))
          .unionByName(spark.range(100)
            .select((col("id") + 20000000L).as("id"),
              org.apache.spark.sql.functions
                .xxhash64(col("id") + 999999999L).as("sig")))
        t0 = System.nanoTime()
        val hits = Dedup.signaturePairsAgainstIndex(batch, idx,
            "id", "sig", maxDistance = 3)
          .count()
        val screenS = (System.nanoTime() - t0) / 1e9
        println(f"[scale-smoke] sig k=$k%-2d n=$n%-7d " +
          f"build=$buildS%7.2f s (index=$idxRows rows)  " +
          f"screen=$screenS%7.2f s  hits=$hits")
        idx.unpersist(); c.unpersist()
        spark.catalog.clearCache()
      }
    }

    // unigram tokenizer: train wall must track the DISTINCT-WORD
    // table (the replica suffix grows it only by k tokens), NOT the
    // corpus — the corpus-proportional work is the one word-count
    // pass plus the linear encode map.
    if (on("ug")) {
      import graft.operators.Unigram
      scales.foreach { k =>
        val c = corpus(k)
        val n = c.count()
        var t0 = System.nanoTime()
        val vocab = Unigram.train(c, "text", vocabSize = 400,
          maxPieceLen = 6, seedSize = 1000, emIters = 2).cache()
        val vRows = vocab.count()
        val trainS = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val toks = Unigram.tokenCount(c, "text", vocab)
          .agg(sum(col("ug_count"))).head().getLong(0)
        val encS = (System.nanoTime() - t0) / 1e9
        println(f"[scale-smoke] ug k=$k%-2d n=$n%-6d " +
          f"train=$trainS%7.2f s (vocab=$vRows)  " +
          f"encode=$encS%7.2f s  pieces=$toks")
        vocab.unpersist()
        c.unpersist()
        spark.catalog.clearCache()
      }
    }

    spark.stop()
  }
}
