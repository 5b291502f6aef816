package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.Admission

class AdmissionSpec extends SparkTestBase {
  import spark.implicits._

  // every corpus doc gets its own token namespace -> no cross near-dups
  private def freshText(tag: String) =
    s"${tag}a ${tag}b ${tag}c ${tag}d ${tag}e ${tag}f ${tag}g ${tag}h"

  private def corpusDf: DataFrame =
    (0L until 40L).map(i => (i, freshText(s"c$i"))).toDF("doc_id", "text")

  /** fresh (corpusDir, indexDir) seeded with corpusDf + its index */
  private def setup(): (String, String) = {
    val corpusDir = Files.createTempDirectory("graft_adm_c").toString
    val indexDir = Files.createTempDirectory("graft_adm_i").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    Dedup.minhashIndex(corpusDf, "doc_id", "text",
        numHashes = 64, bands = 32)
      .write.mode("overwrite").parquet(indexDir)
    (corpusDir, indexDir)
  }

  private def admit(b: DataFrame, c: String, i: String,
                    within: Boolean = true, batchId: Long = -1L) =
    Admission.admitBatch(b, c, i, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.6,
      dedupWithinBatch = within, batchId = batchId)

  private def corpusIds(c: String): Seq[Long] =
    spark.read.parquet(c).select($"doc_id").as[Long].collect().sorted.toSeq

  /** (band, bucket) -> (sorted ids, n) of a MinHash index frame */
  private def buckets(df: DataFrame) = df
    .drop(df.columns.filter(_.startsWith("__")): _*)
    .collect()
    .map(r => ((r.get(0), r.get(1)),
      (r.getSeq[Long](2).sorted, r.getLong(3)))).toMap

  test("two admission cycles: screens, appends, and index fold") {
    val (c, i) = setup()
    val batch1 = Seq(
      100L -> freshText("n100"), // fresh -> admitted
      101L -> freshText("n101"), // fresh -> admitted
      102L -> freshText("c0"), // exact-text copy of doc 0 -> near screen
      0L -> freshText("c0"), // id replay of doc 0 -> id screen
      103L -> freshText("twin"), // within-batch verbatim twins:
      104L -> freshText("twin") //   min id 103 admitted, 104 dropped
    ).toDF("doc_id", "text")
    val s1 = admit(batch1, c, i, batchId = 1L)
    assert(s1 == Admission.AdmitStats(1L, 6L, 5L, 3L))
    assert(corpusIds(c) == ((0L until 40L) ++ Seq(100L, 101L, 103L)))

    // batch 2's near-dup of a batch-1 ADMISSION only drops if the
    // index fold actually happened
    val batch2 = Seq(
      200L -> (freshText("n100") + " k"), // near-dup of admitted 100
      201L -> freshText("n201") // fresh -> admitted
    ).toDF("doc_id", "text")
    val s2 = admit(batch2, c, i, batchId = 2L)
    assert(s2 == Admission.AdmitStats(2L, 2L, 2L, 1L))
    assert(corpusIds(c) == ((0L until 40L) ++ Seq(100L, 101L, 103L, 201L)))

    // the folded index still carries its validated build params
    assert(Seq("__fmt", "__numHashes", "__bands", "__shingleLen",
        "__seed", "__maxBucketSize")
      .forall(spark.read.parquet(i).columns.contains))
  }

  test("partitioned index: same admissions, same merged index as flat") {
    // run the EXACT two-cycle scenario above against a PARTITIONED
    // index persist: both layouts must land the identical corpus and
    // stats, and their merged indexes (base + deltas, read through the
    // state) must equal each other and a rebuild over the final
    // corpus, bucket for bucket
    val (cSwap, iSwap) = setup()
    val corpusDir = Files.createTempDirectory("graft_adm_cp").toString
    val indexDir = Files.createTempDirectory("graft_adm_ip").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    Dedup.indexWritePartitioned(
      Dedup.minhashIndex(corpusDf, "doc_id", "text",
        numHashes = 64, bands = 32),
      indexDir, numParts = 64)
    val batch1 = Seq(
      100L -> freshText("n100"), 101L -> freshText("n101"),
      102L -> freshText("c0"), 0L -> freshText("c0"),
      103L -> freshText("twin"), 104L -> freshText("twin")
    ).toDF("doc_id", "text")
    val batch2 = Seq(
      200L -> (freshText("n100") + " k"), 201L -> freshText("n201")
    ).toDF("doc_id", "text")
    for ((c, i) <- Seq((cSwap, iSwap), (corpusDir, indexDir))) {
      assert(admit(batch1, c, i, batchId = 1L)
        == Admission.AdmitStats(1L, 6L, 5L, 3L))
      assert(admit(batch2, c, i, batchId = 2L)
        == Admission.AdmitStats(2L, 2L, 2L, 1L))
      assert(corpusIds(c) == ((0L until 40L) ++ Seq(100L, 101L, 103L, 201L)))
    }
    val merged = buckets(Admission.mergedIndex(spark, corpusDir, indexDir))
    assert(merged == buckets(Admission.mergedIndex(spark, cSwap, iSwap)))
    assert(merged == buckets(Dedup.minhashIndex(spark.read.parquet(corpusDir),
      "doc_id", "text", numHashes = 64, bands = 32)))
    // and the partitioned state really kept its layout
    assert(spark.read.parquet(indexDir).columns.contains("part"))
  }

  test("replaying an already-admitted batch is a no-op") {
    val (c, i) = setup()
    val batch = Seq(100L -> freshText("n100")).toDF("doc_id", "text")
    assert(admit(batch, c, i).admitted == 1L)
    val before = corpusIds(c)
    val replay = admit(batch, c, i)
    assert(replay.afterIdScreen == 0L && replay.admitted == 0L)
    assert(corpusIds(c) == before)
  }

  test("corpus screen runs BEFORE within-batch dedup") {
    // chain c0 -- A -- B with jaccard(A,c0)=0.75, jaccard(B,A)=0.75,
    // jaccard(B,c0)=0.5625 < 0.6: A drops against the corpus, so B's
    // only within-batch partner is gone and B must be admitted.
    // Within-batch-first would keep min-id A, drop B, then lose A
    // against the corpus — admitting nothing.
    val c0 = (1 to 20).map(k => s"w$k").mkString(" ")
    val a = c0 + " " + (21 to 26).map(k => s"w$k").mkString(" ")
    val b = a + " " + (27 to 34).map(k => s"w$k").mkString(" ")
    val corpusDir = Files.createTempDirectory("graft_adm_c2").toString
    val indexDir = Files.createTempDirectory("graft_adm_i2").toString + "/idx"
    val corpus = Seq(0L -> c0).toDF("doc_id", "text")
    corpus.write.mode("overwrite").parquet(corpusDir)
    Dedup.minhashIndex(corpus, "doc_id", "text", numHashes = 64, bands = 32)
      .write.mode("overwrite").parquet(indexDir)
    val stats = admit(Seq(100L -> a, 101L -> b).toDF("doc_id", "text"),
      corpusDir, indexDir)
    assert(stats.admitted == 1L)
    assert(corpusIds(corpusDir) == Seq(0L, 101L))
  }

  test("index built with different params fails fast") {
    val (c, i) = setup()
    val batch = Seq(100L -> freshText("n100")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Admission.admitBatch(batch, c, i, "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.6)
    }
    assert(e.getMessage.contains("recall"))
  }

  test("fluent DDF.admitInto delegates to the admission cycle") {
    val (c, i) = setup()
    val s = graft.ddf.DDF(
      Seq(100L -> freshText("n100"), 102L -> freshText("c0"))
        .toDF("doc_id", "text"))
      .admitInto(c, i, "doc_id", "text", threshold = 0.6, bands = 32)
    assert(s.admitted == 1L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
  }

  test("fluent DDF.admitIntoSubstring delegates, compaction knob wired") {
    import graft.operators.SubstringDedup
    val c = Files.createTempDirectory("graft_adm_fls_c").toString
    val i = Files.createTempDirectory("graft_adm_fls_i").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(c)
    SubstringDedup.gramIndex(corpusDf, "doc_id", "text", k = 4)
      .coalesce(1).write.mode("overwrite").parquet(i)
    def admitVia(rows: (Long, String)*) = graft.ddf.DDF(rows.toDF("doc_id", "text"))
      .admitIntoSubstring(c, i, "doc_id", "text", k = 4)
    val s = admitVia(100L -> freshText("n100"),
      101L -> (freshText("c3") + " t0 t1")) // 8/10 covered -> out
    assert(s.admitted == 1L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
    // the compaction knob is the listing threshold: at the base's one
    // file plus one, the next cycle folds the delta into the base
    assert(visibleIndexFiles(i).size == 2)
    spark.conf.set(ListingThreshold, "2")
    val s2 = try admitVia(200L -> (freshText("n100") + " zz"))
      finally spark.conf.unset(ListingThreshold)
    assert(s2.admitted == 0L)
    assert(!visibleIndexFiles(i).exists(_.startsWith("delta-")))
  }

  test("collectStats=false skips telemetry counts but admits identically") {
    val (c, i) = setup()
    val batch = Seq(100L -> freshText("n100"), 0L -> freshText("c0"))
      .toDF("doc_id", "text")
    val s = Admission.admitBatch(batch, c, i, "doc_id", "text",
      numHashes = 64, bands = 32, threshold = 0.6, collectStats = false)
    // batchRows is the only skipped count; afterIdScreen is always
    // real — the id-screened batch's checkpoint observes it
    assert(s.batchRows == -1L && s.afterIdScreen == 1L)
    assert(s.admitted == 1L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
  }

  test("steady-state cycle: <= 4 SQL executions and <= 14 jobs, no cache or stamp job") {
    // the benchmark/catalog admission shape: partitioned MinHash index,
    // bands 32, threshold 0.6, no within-batch pass, no batch count.
    // Cycle 1 adopts the state: the plain reads' schema inference and
    // listing, and the one stamp validation. Cycle 2 reads through its
    // manifest: the id-screened batch's checkpoint, the admitted
    // checkpoint (the near screen planned inside it), corpus delta
    // write, index delta write — and nothing outside those executions.
    val corpusDir = Files.createTempDirectory("graft_adm_cx").toString
    val indexDir = Files.createTempDirectory("graft_adm_ix").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    Dedup.indexWritePartitioned(
      Dedup.minhashIndex(corpusDf, "doc_id", "text",
        numHashes = 64, bands = 32),
      indexDir, numParts = 16)
    def cycle(b: DataFrame, id: Long) =
      Admission.admitBatch(b, corpusDir, indexDir, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.6,
        dedupWithinBatch = false, batchId = id, collectStats = false)
    var s1: Admission.AdmitStats = null
    val adoption = jobsOutsideSqlDuring {
      s1 = cycle(Seq(100L -> freshText("n100"), 101L -> freshText("n101"),
        102L -> freshText("c0")).toDF("doc_id", "text"), 1L)
    }
    assert(s1.admitted == 2L)
    // the detector sees the adoption's inference jobs
    assert(adoption.exists(_.startsWith("parquet at")), adoption.toString)
    var s2: Admission.AdmitStats = null
    var execs: Seq[String] = Nil
    var jobs = 0
    val outside = jobsOutsideSqlDuring {
      execs = sqlExecutionsDuring {
        jobs = jobsDuring {
          s2 = cycle(Seq(200L -> (freshText("n100") + " k"),
            201L -> freshText("n201"), 0L -> freshText("c0"))
            .toDF("doc_id", "text"), 2L)
        }
      }
    }
    assert(s2 == Admission.AdmitStats(2L, -1L, 2L, 1L))
    assert(corpusIds(corpusDir) ==
      ((0L until 40L) ++ Seq(100L, 101L, 201L)))
    def heads = execs.map(_.linesIterator.slice(1, 4).mkString(" | "))
      .mkString("\n  ")
    assert(execs.size <= 4,
      s"cycle 2 started ${execs.size} SQL executions:\n  $heads")
    assert(jobs <= 14, s"cycle 2 ran $jobs jobs:\n  $heads")
    execs.foreach(p => assert(!p.contains("InMemoryRelation") &&
      !p.contains("InMemoryTableScan"), p))
    assert(stampScans(execs).isEmpty,
      s"cycle 2 re-read the index stamp:\n  $heads")
    assert(outside.isEmpty,
      s"cycle 2 ran jobs outside SQL executions: ${outside.mkString(", ")}")
  }

  test("compactCorpus collapses per-batch append files, row-preserving") {
    val (c, i) = setup()
    // a state no cycle has adopted has no manifest to commit under
    intercept[IllegalArgumentException](Admission.compactCorpus(spark, c, i, 2))
    admit(Seq(100L -> freshText("n100")).toDF("doc_id", "text"), c, i)
    admit(Seq(101L -> freshText("n101")).toDF("doc_id", "text"), c, i)
    val before = corpusIds(c)
    def partFiles = new java.io.File(c).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(partFiles > 2) // initial write + two appends
    val n = Admission.compactCorpus(spark, c, i, 2)
    assert(n == before.size)
    assert(partFiles <= 2)
    assert(corpusIds(c) == before)
    // the next cycle reads the compacted corpus, not a stale listing:
    // an id replay, a near-dup of a pre-compaction admission and a
    // fresh doc
    val s = admit(Seq(100L -> freshText("n100"),
        200L -> (freshText("n101") + " k"), 201L -> freshText("n201"))
      .toDF("doc_id", "text"), c, i)
    assert(s.afterIdScreen == 2L && s.admitted == 1L)
    assert(corpusIds(c) == before :+ 201L)
    // a commit interrupted after its rename leaves moves to finish:
    // the compaction's own recovery finishes them first
    Admission.stepHook = step =>
      if (step == "after-rename") throw new RuntimeException("crash")
    try intercept[RuntimeException](
      admit(Seq(300L -> freshText("n300")).toDF("doc_id", "text"), c, i))
    finally Admission.stepHook = _ => ()
    assert(Admission.compactCorpus(spark, c, i, 2) == before.size + 2)
    assert(corpusIds(c) == before ++ Seq(201L, 300L))
    assert(admit(Seq(300L -> freshText("n300")).toDF("doc_id", "text"), c, i)
      .admitted == 0L)
  }

  /** a fresh corpus + MinHash index, flat or partitioned in 2 parts */
  private def world(partitioned: Boolean): (String, String) =
    state("w", corpusDf, Dedup.minhashIndex(corpusDf, "doc_id", "text",
      numHashes = 64, bands = 32), partitioned)

  /** a plain read's rows, sorted; the id is the first column */
  private def rowsOf(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  /** a plain read of a set-of-rows index, stamp columns dropped */
  private def indexRowsOf(df: DataFrame): Seq[String] =
    df.drop(df.columns.filter(_.startsWith("__")): _*).collect()
      .map(_.toString).sorted.toSeq

  /** an LSH index frame as bucket key -> (sorted ids, n) */
  private def lshBuckets(df: DataFrame) =
    df.drop(df.columns.filter(c => c.startsWith("__") || c == "part"): _*)
      .collect().map(r => r.toSeq.dropRight(2) ->
        (r.getSeq[Long](r.length - 2).sorted, r.getLong(r.length - 1)))
      .toMap

  private val ListingThreshold =
    "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** One admission space's fixture: a fresh world (corpus + index;
    * partitioned in 2 parts when asked, for the spaces with that
    * layout), its cycle (no within-batch pass, no batch count), and
    * three batches admitting 2, 2 and 1 rows — b2 holds a near-dup of
    * a b1 admission and b3 one of a b2 admission, so each drops only
    * if the previous commit reached the index. `rebuild` builds the
    * space's index over a corpus frame; `index` reads a state's index
    * content (merged through the state for the MinHash and embedding
    * spaces, a plain read for the set-of-rows spaces). */
  private case class SpaceFixture(
      name: String, lsh: Boolean, world: Boolean => (String, String),
      run: (String, String, DataFrame, Long) => Admission.AdmitStats,
      batches: Seq[DataFrame], rebuild: DataFrame => DataFrame) {
    def index(c: String, i: String): Any =
      if (lsh) lshBuckets(Admission.mergedIndex(spark, c, i))
      else indexRowsOf(spark.read.parquet(i))
  }

  /** a fresh (corpus, index) pair: `corpus` written as is, its index
    * in one file, or partitioned in 2 parts */
  private def state(tag: String, corpus: DataFrame, index: DataFrame,
                    partitioned: Boolean): (String, String) = {
    val c = Files.createTempDirectory(s"graft_adm_${tag}_c").toString
    val i = Files.createTempDirectory(s"graft_adm_${tag}_i").toString + "/idx"
    corpus.write.mode("overwrite").parquet(c)
    if (partitioned) Dedup.indexWritePartitioned(index, i, numParts = 2)
    else index.coalesce(1).write.mode("overwrite").parquet(i)
    (c, i)
  }

  private lazy val vectors: Seq[Array[Float]] = {
    val rnd = new scala.util.Random(5)
    Seq.fill(25)(Array.fill(8)(rnd.nextFloat() * 2 - 1))
  }

  /** 20 corpus vectors; batches of fresh vectors (21–24) and scaled
    * copies (cosine 1) */
  private def vectorBatches: Seq[DataFrame] = {
    val v = vectors
    def scaled(x: Array[Float], by: Float) = x.map(_ * by)
    Seq(Seq(100L -> v(20), 101L -> v(21), 102L -> scaled(v(0), 2f)),
      Seq(200L -> v(22), 201L -> v(23), 202L -> scaled(v(20), 3f)),
      Seq(300L -> scaled(v(22), 2f), 301L -> v(24)))
      .map(_.toDF("vec_id", "v"))
  }

  private def vectorCorpus =
    vectors.take(20).zipWithIndex.map { case (x, n) => (n.toLong, x) }
      .toDF("vec_id", "v")

  /** unit-norm centers: argmin L2 == argmax dot, so a scaled copy
    * assigns to its source's cluster */
  private val unitCenters =
    (0 until 4).map(i => Seq.tabulate(8)(j => if (j == i) 1.0 else 0.0))

  private lazy val spaces: Seq[SpaceFixture] = {
    import graft.operators.{SemDedup, SubstringDedup}
    val sigBase = 0x5555555555550000L
    val sigCorpus = (0L until 20L).map(i => (i, sigBase | (i << 8)))
      .toDF("id", "sig")
    Seq(
      SpaceFixture("minhash", lsh = true, world(_),
        (c, i, b, n) => Admission.admitBatch(b, c, i, "doc_id", "text",
          numHashes = 64, bands = 32, threshold = 0.6,
          dedupWithinBatch = false, batchId = n, collectStats = false),
        Seq(
          Seq(100L -> freshText("n100"), 101L -> freshText("n101"),
            102L -> freshText("c0")),
          Seq(200L -> freshText("n200"), 201L -> freshText("n201"),
            202L -> (freshText("n100") + " k")),
          Seq(300L -> (freshText("n200") + " k"), 301L -> freshText("n301")))
          .map(_.toDF("doc_id", "text")),
        Dedup.minhashIndex(_, "doc_id", "text", numHashes = 64, bands = 32)),
      SpaceFixture("embedding", lsh = true,
        p => state("emb", vectorCorpus,
          Dedup.embeddingIndex(vectorCorpus, "vec_id", "v", dim = 8), p),
        (c, i, b, n) => Admission.admitBatchEmbedding(b, c, i, "vec_id", "v",
          dim = 8, dedupWithinBatch = false, batchId = n,
          collectStats = false),
        vectorBatches, Dedup.embeddingIndex(_, "vec_id", "v", dim = 8)),
      SpaceFixture("semantic", lsh = false,
        p => state("sem", vectorCorpus,
          SemDedup.assignmentIndex(vectorCorpus, "vec_id", "v", unitCenters), p),
        (c, i, b, n) => Admission.admitBatchSemantic(b, c, i, "vec_id", "v",
          unitCenters, minCosine = 0.95, dedupWithinBatch = false,
          batchId = n, collectStats = false),
        vectorBatches,
        SemDedup.assignmentIndex(_, "vec_id", "v", unitCenters)),
      SpaceFixture("signature", lsh = false,
        p => state("sig", sigCorpus,
          Dedup.signatureIndex(sigCorpus, "id", "sig", maxDistance = 3), p),
        (c, i, b, n) => Admission.admitBatchSignature(b, c, i, "id", "sig",
          maxDistance = 3, dedupWithinBatch = false, batchId = n,
          collectStats = false),
        // fresh signatures are >= 8 bits from every other one; the
        // near-dups flip 1 bit
        Seq(Seq(100L -> 0L, 101L -> (0xFFL << 40), 102L -> (sigBase | (7L << 8) | 1L)),
          Seq(200L -> (0xFFL << 32), 201L -> (0xFFL << 16), 202L -> 1L),
          Seq(300L -> ((0xFFL << 32) | 1L), 301L -> (0xFFL << 48)))
          .map(_.toDF("id", "sig")),
        Dedup.signatureIndex(_, "id", "sig", maxDistance = 3)),
      SpaceFixture("substring", lsh = false,
        p => state("sub", corpusDf,
          SubstringDedup.gramIndex(corpusDf, "doc_id", "text", k = 4), p),
        (c, i, b, n) => Admission.admitBatchSubstring(b, c, i, "doc_id",
          "text", k = 4, maxDupCoverage = 0.5, batchId = n,
          collectStats = false),
        // the near-dups are 8 covered tokens of 9 or 10
        Seq(
          Seq(100L -> freshText("n100"), 101L -> freshText("n101"),
            102L -> (freshText("c3") + " t0 t1")),
          Seq(200L -> freshText("n200"), 201L -> freshText("n201"),
            202L -> (freshText("n100") + " zz")),
          Seq(300L -> (freshText("n200") + " zz"), 301L -> freshText("n301")))
          .map(_.toDF("doc_id", "text")),
        SubstringDedup.gramIndex(_, "doc_id", "text", k = 4)))
  }

  /** the index files a plain read of `i` sees */
  private def visibleIndexFiles(i: String): Seq[String] = {
    val root = new java.io.File(i)
    root.listFiles().toSeq.flatMap(f =>
      if (f.isDirectory && !f.getName.startsWith("_"))
        f.listFiles().toSeq.map(g => s"${f.getName}/${g.getName}")
      else Seq(f.getName))
      .filterNot(n => n.split('/').last.matches("[_.].*"))
  }

  test("a commit crashed at any step replays to the uninterrupted state") {
    // in every space, cycle 2 crashes at each step boundary of its
    // commit, is replayed and followed by cycle 3; the result must be
    // the uninterrupted run's: plain corpus read row for row, index
    // content, cycle 3's near-dup of a cycle-2 admission dropped, and
    // nothing staged left behind
    val steps = Seq("corpus-staged", "index-staged", "before-rename",
      "after-rename")
    for (sp <- spaces) {
      val Seq(b1, b2, b3) = sp.batches
      val layouts = if (sp.lsh) Seq(true, false) else Seq(false)
      val reference = layouts.map { p =>
        val (c, i) = sp.world(p)
        assert(Seq(b1, b2, b3).zipWithIndex.map { case (b, n) =>
          sp.run(c, i, b, n).admitted } == Seq(2L, 2L, 1L), sp.name)
        p -> (rowsOf(c), sp.index(c, i), visibleIndexFiles(i).size)
      }.toMap
      for ((step, partitioned) <- steps.zip(Seq(true, false, false, true)
          .map(_ && sp.lsh))) {
        val at = s"${sp.name} $step"
        val (c, i) = sp.world(partitioned)
        assert(sp.run(c, i, b1, 0).admitted == 2L, at)
        val (cycle1, index1) = (rowsOf(c), if (sp.lsh) Nil else rowsOf(i))
        Admission.stepHook = s =>
          if (s == step) throw new RuntimeException(s"crash at $s")
        val e = try intercept[RuntimeException](sp.run(c, i, b2, 1))
          finally Admission.stepHook = _ => ()
        assert(e.getMessage == s"crash at $step", at)
        // plain reads after the crash: the previous corpus version, and
        // the previous index — which, while MinHash/embedding deltas
        // exist, fails validation rather than answer
        assert(rowsOf(c) == cycle1, at)
        if (sp.lsh) {
          val plain = intercept[IllegalArgumentException](
            Dedup.validatedStamp(spark.read.parquet(i), "plain", Nil))
          assert(plain.getMessage.contains("admission delta rows"), at)
        } else assert(rowsOf(i) == index1, at)
        val replay = sp.run(c, i, b2, 1)
        assert(replay.admitted == (if (step == "after-rename") 0L else 2L),
          s"$at: $replay")
        assert(sp.run(c, i, b3, 2).admitted == 1L, at)
        val (refRows, refIndex, refFiles) = reference(partitioned)
        val rows = rowsOf(c)
        assert(rows == refRows, at)
        val ids = spark.read.parquet(c).collect().map(_.get(0))
        assert(ids.distinct.length == ids.length, at)
        assert(sp.index(c, i) == refIndex, at)
        for (root <- Seq(c, i))
          assert(!new java.io.File(root, "_graft_staging").exists(), at)
        assert(new java.io.File(i, "_graft_state").list().toSeq
          .filterNot(_.endsWith(".crc")) == Seq("v3.json"), at)
        assert(visibleIndexFiles(i).size == refFiles, at)
      }
    }
    // compactCorpus is a commit too: crashed at each of its steps, the
    // next compaction recovers, and the corpus holds the same rows,
    // once each, in one file
    val sp = spaces.head
    for (step <- Seq("corpus-staged", "before-rename", "after-rename")) {
      val (c, i) = sp.world(false)
      sp.run(c, i, sp.batches.head, 0)
      val before = rowsOf(c)
      Admission.stepHook = s =>
        if (s == step) throw new RuntimeException(s"crash at $s")
      try intercept[RuntimeException](Admission.compactCorpus(spark, c, i, 1))
      finally Admission.stepHook = _ => ()
      assert(rowsOf(c) == before, step)
      assert(Admission.compactCorpus(spark, c, i, 1) == before.size, step)
      assert(rowsOf(c) == before, step)
      assert(new java.io.File(c).list().count(_.endsWith(".parquet")) == 1,
        step)
      assert(!new java.io.File(c, "_graft_staging").exists(), step)
      assert(sp.run(c, i, sp.batches(1), 1).admitted == 2L, step)
    }
  }

  test("compaction near the listing threshold: answers unchanged, plain reads exact") {
    // the deltas fold into the base once a read would name more files
    // than the listing threshold, set here to the base's file count
    // plus `room`: the partitioned base (2 files, room 2) compacts at
    // cycles 3 and 5, the flat one (room 4) at cycle 5
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val batches = (1 to 4).map { n =>
      Seq((1000L + n) -> freshText(s"t$n"),
        (2000L + n) -> (freshText(s"t${n - 1}") + " k"))
        .toDF("doc_id", "text")
    }
    def cycles(c: String, i: String): Seq[Admission.AdmitStats] =
      (batches :+ batches.last).zipWithIndex.map { case (b, n) =>
        Admission.admitBatch(b, c, i, "doc_id", "text", numHashes = 64,
          bands = 32, threshold = 0.6, dedupWithinBatch = false,
          batchId = n)
      }
    def deltas(i: String) =
      visibleIndexFiles(i).count(_.split('/').last.startsWith("delta-"))
    for ((partitioned, room) <- Seq((true, 2), (false, 4))) {
      val (rc, ri) = world(partitioned)
      val expected = cycles(rc, ri)
      val (c, i) = world(partitioned)
      val baseFiles = visibleIndexFiles(i).size
      assert(baseFiles <= room, s"base of $baseFiles files")
      spark.conf.set(key, (baseFiles + room).toString)
      val got = try cycles(c, i) finally spark.conf.unset(key)
      assert(got == expected)
      assert(expected.map(_.admitted) == Seq(2L, 1L, 1L, 1L, 0L))
      assert(rowsOf(c) == rowsOf(rc))
      val rebuilt = buckets(Dedup.minhashIndex(spark.read.parquet(c),
        "doc_id", "text", numHashes = 64, bands = 32))
      assert(buckets(Admission.mergedIndex(spark, c, i)) == rebuilt)
      assert(buckets(Admission.mergedIndex(spark, rc, ri)) == rebuilt)
      // the last (replayed) cycle compacted and admitted nothing: the
      // state is one base again, in its layout, and a plain read is
      // the exact index; the uncompacted state's plain read refuses
      assert(deltas(i) == 0 && deltas(ri) == 4, s"partitioned=$partitioned")
      assert(spark.read.parquet(i).columns.contains("part") == partitioned)
      assert(buckets(spark.read.parquet(i).drop("part")) == rebuilt)
      def screen(idx: String) = Dedup.minhashPairsAgainstIndex(
        batches.head, spark.read.parquet(c), spark.read.parquet(idx),
        "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
        .count()
      assert(screen(i) == 2L) // both docs of batch 1 match themselves
      intercept[IllegalArgumentException](screen(ri))
    }
  }

  test("embedding admission loop: screens, appends, and index fold") {
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val corpusVecs = (0L until 20L).map(i => (i, vec()))
    val corpusDir = Files.createTempDirectory("graft_adm_e_c").toString
    val indexDir = Files.createTempDirectory("graft_adm_e_i").toString + "/idx"
    val corpus = corpusVecs.toDF("vec_id", "v")
    corpus.write.mode("overwrite").parquet(corpusDir)
    Dedup.embeddingIndex(corpus, "vec_id", "v", dim = 8)
      .write.mode("overwrite").parquet(indexDir)
    def adm(b: DataFrame, batchId: Long) = Admission.admitBatchEmbedding(
      b, corpusDir, indexDir, "vec_id", "v", dim = 8, batchId = batchId)
    val fresh100 = vec(); val fresh102 = vec()
    val b1 = Seq(
      100L -> fresh100, // fresh -> admitted
      101L -> corpusVecs(0)._2.map(_ * 2f), // cosine 1 with vec 0 -> near
      0L -> corpusVecs(0)._2, // id replay -> id screen
      102L -> fresh102, // within-batch twins: 102 admitted,
      103L -> fresh102.clone() //   103 dropped
    ).toDF("vec_id", "v")
    assert(adm(b1, 1L) == Admission.AdmitStats(1L, 5L, 4L, 2L))
    // a scaled copy of a batch-1 ADMISSION drops only if the index
    // fold happened
    val b2 = Seq(200L -> fresh100.map(_ * 3f), 201L -> vec())
      .toDF("vec_id", "v")
    assert(adm(b2, 2L) == Admission.AdmitStats(2L, 2L, 2L, 1L))
    val ids = spark.read.parquet(corpusDir)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) ++ Seq(100L, 102L, 201L)))
    assert(Seq("__fmt", "__nTables", "__bitsPerTable", "__dim", "__seed",
        "__maxBucketSize")
      .forall(spark.read.parquet(indexDir).columns.contains))
  }

  test("semantic admission loop: cluster-blocked screen, fold == " +
    "rebuild, centers-stamp guard") {
    import graft.operators.SemDedup
    // unit-norm centers: argmin L2 == argmax dot, so scaled copies
    // assign to the SAME cluster as their source (the fixture's
    // near-dup construction depends on it)
    val centers = (0 until 4).map(i =>
      Seq.tabulate(8)(j => if (j == i) 1.0 else 0.0))
    val rnd = new scala.util.Random(7)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val corpusVecs = (0L until 20L).map(i => (i, vec()))
    val corpusDir = Files.createTempDirectory("graft_adm_s_c").toString
    val indexDir = Files.createTempDirectory("graft_adm_s_i").toString + "/idx"
    val corpus = corpusVecs.toDF("vec_id", "v")
    corpus.write.mode("overwrite").parquet(corpusDir)
    SemDedup.assignmentIndex(corpus, "vec_id", "v", centers)
      .write.mode("overwrite").parquet(indexDir)
    def adm(b: DataFrame, batchId: Long) = Admission.admitBatchSemantic(
      b, corpusDir, indexDir, "vec_id", "v", centers,
      minCosine = 0.95, batchId = batchId)
    val fresh100 = vec(); val fresh102 = vec()
    val b1 = Seq(
      100L -> fresh100,                      // fresh -> admitted
      101L -> corpusVecs(0)._2.map(_ * 2f),  // cos 1 w/ vec 0 -> near
      0L -> corpusVecs(0)._2,                // id replay -> id screen
      102L -> fresh102,                      // within-batch twins:
      103L -> fresh102.clone()               //   102 kept, 103 dropped
    ).toDF("vec_id", "v")
    assert(adm(b1, 1L) == Admission.AdmitStats(1L, 5L, 4L, 2L))
    // a scaled copy of a batch-1 ADMISSION drops only if the index
    // fold happened
    val b2 = Seq(200L -> fresh100.map(_ * 3f), 201L -> vec())
      .toDF("vec_id", "v")
    assert(adm(b2, 2L) == Admission.AdmitStats(2L, 2L, 2L, 1L))
    val ids = spark.read.parquet(corpusDir)
      .select($"vec_id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) ++ Seq(100L, 102L, 201L)))
    // the folded index equals a from-scratch rebuild over the final
    // corpus (same (id, cluster) multiset, stamps intact)
    val idx = spark.read.parquet(indexDir)
    assert(Seq("__fmt", "__k", "__dim", "__digest")
      .forall(idx.columns.contains))
    val rebuilt = SemDedup.assignmentIndex(
      spark.read.parquet(corpusDir), "vec_id", "v", centers)
    assert(idx.select($"id", $"cluster")
      .exceptAll(rebuilt.select($"id", $"cluster")).count() == 0)
    assert(rebuilt.select($"id", $"cluster")
      .exceptAll(idx.select($"id", $"cluster")).count() == 0)
    // a cycle under DIFFERENT centers is refused before any work
    val other = centers.map(_.map(_ * 2.0))
    val e = intercept[IllegalArgumentException] {
      Admission.admitBatchSemantic(b2, corpusDir, indexDir,
        "vec_id", "v", other, minCosine = 0.95)
    }
    assert(e.getMessage.contains("DIFFERENT center table"))
  }

  test("signature admission loop: hamming screen, min-id within, fold") {
    val corpusDir = Files.createTempDirectory("graft_adm_gc").toString
    val indexDir = Files.createTempDirectory("graft_adm_gi").toString + "/idx"
    // corpus fingerprints ride a DENSE base mask (popcount 24): every
    // batch probe meant to be fresh is trivially > 3 bits from all of
    // them, while planted nears differ in exactly 1 bit
    val base = 0x5555555555550000L
    val corpus = (0L until 20L).map(i => (i, base | (i << 8)))
      .toDF("id", "sig")
    corpus.write.mode("overwrite").parquet(corpusDir)
    graft.operators.Dedup.signatureIndex(corpus, "id", "sig",
        maxDistance = 3)
      .write.mode("overwrite").parquet(indexDir)
    def adm(b: DataFrame, batchId: Long) =
      Admission.admitBatchSignature(b, corpusDir, indexDir, "id", "sig",
        maxDistance = 3, batchId = batchId)
    val b1 = Seq(
      100L -> (base | (7L << 8) | 1L), // hamming 1 from corpus 7 -> near
      101L -> 0L,                      // fresh (24+ from corpus) -> admitted
      0L -> (base | 0L),               // id replay -> id screen
      102L -> 2L,                      // within-batch near of 101 -> dropped
      103L -> (0xFFL << 40)            // fresh -> admitted
    ).toDF("id", "sig")
    assert(adm(b1, 1L) == Admission.AdmitStats(1L, 5L, 4L, 2L))
    // fold proof: a 1-bit neighbour of batch-1 ADMISSION 101 drops
    // only if the index folded; replaying an admitted id is a no-op
    val b2 = Seq(200L -> 1L, 101L -> 0L, 201L -> (0xFFL << 32))
      .toDF("id", "sig")
    assert(adm(b2, 2L) == Admission.AdmitStats(2L, 3L, 2L, 1L))
    val ids = spark.read.parquet(corpusDir)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) ++ Seq(101L, 103L, 201L)))
    // the folded index equals a from-scratch rebuild over the final
    // corpus (stamps intact, update == rebuild discipline)
    val idx = spark.read.parquet(indexDir)
    assert(Seq("__fmt", "__max_distance").forall(idx.columns.contains))
    val rebuilt = graft.operators.Dedup.signatureIndex(
      spark.read.parquet(corpusDir), "id", "sig", maxDistance = 3)
    assert(idx.select($"chunk", $"key", $"id", $"sig")
      .exceptAll(rebuilt.select($"chunk", $"key", $"id", $"sig"))
      .count() == 0)
    assert(rebuilt.select($"chunk", $"key", $"id", $"sig")
      .exceptAll(idx.select($"chunk", $"key", $"id", $"sig"))
      .count() == 0)
    // a cycle under a different maxDistance is refused before any work
    val e = intercept[IllegalArgumentException] {
      Admission.admitBatchSignature(b2, corpusDir, indexDir, "id",
        "sig", maxDistance = 2)
    }
    assert(e.getMessage.contains("__max_distance"))
  }

  test("substring admission loop: coverage screen, fold, id replay") {
    import graft.operators.SubstringDedup
    val corpusDir = Files.createTempDirectory("graft_adm_sc").toString
    val indexDir = Files.createTempDirectory("graft_adm_si").toString + "/idx"
    corpusDf.write.mode("overwrite").parquet(corpusDir)
    SubstringDedup.gramIndex(corpusDf, "doc_id", "text", k = 4)
      .write.mode("overwrite").parquet(indexDir)
    def admitSub(b: DataFrame, within: Boolean = false, id: Long = -1L) =
      Admission.admitBatchSubstring(b, corpusDir, indexDir,
        "doc_id", "text", k = 4, maxDupCoverage = 0.5,
        dedupWithinBatch = within, batchId = id)
    // cycle 1: one fresh doc, one doc that is 8 corpus tokens + a
    // 2-token tail (coverage 8/10 > 0.5 -> rejected), one doc with a
    // 4-token corpus run inside 12 tokens (4/12 < 0.5 -> admitted)
    val b1 = Seq(
      100L -> freshText("n100"),
      101L -> (freshText("c3") + " tail0 tail1"),
      102L -> ("c5a c5b c5c c5d x0 x1 x2 x3 x4 x5 x6 x7"))
      .toDF("doc_id", "text")
    val s1 = admitSub(b1, id = 1L)
    assert(s1.admitted == 2L)
    assert(corpusIds(corpusDir) == ((0L until 40L) ++ Seq(100L, 102L)))
    // cycle 2: near-copy of cycle-1 ADMISSION 100 (fold proof), and
    // an id replay of 102 (id-screen no-op)
    val b2 = Seq(
      200L -> (freshText("n100") + " zz"),
      102L -> "anything at all here")
      .toDF("doc_id", "text")
    val s2 = admitSub(b2, id = 2L)
    assert(s2.afterIdScreen == 1L, "id replay must drop before screening")
    assert(s2.admitted == 0L, "coverage vs folded index must reject 200")
    assert(corpusIds(corpusDir) == ((0L until 40L) ++ Seq(100L, 102L)))
    // within-batch stage: two copies of one long run in a fresh batch
    // -> keep-first admits exactly one
    val b3 = Seq(
      300L -> freshText("w1"),
      301L -> freshText("w1"))
      .toDF("doc_id", "text")
    val s3 = admitSub(b3, within = true, id = 3L)
    assert(s3.admitted == 1L)
    // short docs (< k tokens) cannot be coverage-rejected
    val s4 = admitSub(Seq(400L -> "c0a c0b c0c").toDF("doc_id", "text"),
      id = 4L)
    assert(s4.admitted == 1L)
  }

  /** The fold sequence of a set-of-rows space: its batches (the last
    * one replayed) run in two worlds, one with the listing threshold
    * at the base's one file plus one, so every cycle that finds a
    * delta first compacts. Both admit alike, and the merged index
    * (base ∪ deltas, read plainly), the compacted one and a rebuild
    * over the final corpus hold the same rows. */
  private def foldSequence(sp: SpaceFixture): Unit = {
    val batches = sp.batches :+ sp.batches.last
    def cycles(c: String, i: String) = batches.zipWithIndex.map {
      case (b, n) => sp.run(c, i, b, n)
    }
    def deltas(i: String) = visibleIndexFiles(i).count(_.startsWith("delta-"))
    val (mc, mi) = sp.world(false)
    val expected = cycles(mc, mi)
    val (c, i) = sp.world(false)
    assert(visibleIndexFiles(i).size == 1, sp.name)
    spark.conf.set(ListingThreshold, "2")
    val got = try cycles(c, i) finally spark.conf.unset(ListingThreshold)
    assert(got == expected, sp.name)
    assert(expected.map(_.admitted) == Seq(2L, 2L, 1L, 0L), sp.name)
    assert(rowsOf(c) == rowsOf(mc), sp.name)
    val rebuilt = indexRowsOf(sp.rebuild(spark.read.parquet(c)))
    assert(indexRowsOf(spark.read.parquet(mi)) == rebuilt, sp.name)
    assert(indexRowsOf(spark.read.parquet(i)) == rebuilt, sp.name)
    assert(deltas(mi) == 3 && deltas(i) == 0, sp.name)
  }

  test("substring auto-compaction: K trickle cycles + compact == rebuild") {
    foldSequence(spaces.find(_.name == "substring").get)
  }

  test("semantic and signature fold sequences: merged, compacted and " +
    "rebuilt indexes agree") {
    spaces.filter(sp => sp.name == "semantic" || sp.name == "signature")
      .foreach(foldSequence)
  }

  test("steady-state semantic, signature and substring cycles: 4 SQL " +
    "executions, no listing, schema or stamp job") {
    // cycle 1 adopts the state; cycle 2 reads through its manifest:
    // the id-screened batch's checkpoint, the admitted checkpoint (the
    // screen planned inside it), the corpus and index delta writes —
    // and nothing outside those executions
    val pins = Map("semantic" -> (4, 12), "signature" -> (4, 13),
      "substring" -> (4, 16))
    for (sp <- spaces if !sp.lsh) {
      val (c, i) = sp.world(false)
      val Seq(b1, b2, _) = sp.batches
      assert(sp.run(c, i, b1, 0).admitted == 2L, sp.name)
      var execs: Seq[String] = Nil
      var jobs = 0
      val outside = jobsOutsideSqlDuring {
        execs = sqlExecutionsDuring {
          jobs = jobsDuring(assert(sp.run(c, i, b2, 1).admitted == 2L))
        }
      }
      def heads = execs.map(_.linesIterator.slice(1, 4).mkString(" | "))
        .mkString("\n  ")
      val (maxExecs, maxJobs) = pins(sp.name)
      assert(execs.size <= maxExecs,
        s"${sp.name}: cycle 2 started ${execs.size} SQL executions:\n  $heads")
      assert(jobs <= maxJobs, s"${sp.name}: cycle 2 ran $jobs jobs:\n  $heads")
      execs.foreach(p => assert(!p.contains("InMemoryRelation") &&
        !p.contains("InMemoryTableScan"), p))
      assert(stampScans(execs).isEmpty,
        s"${sp.name}: cycle 2 re-read the index stamp:\n  $heads")
      assert(outside.isEmpty, s"${sp.name}: cycle 2 ran jobs outside SQL " +
        s"executions: ${outside.mkString(", ")}")
    }
  }

  test("adoption refuses a partitioned index without __numParts, before any write") {
    val (c, i) = world(true)
    // the same layout with its __numParts stamp dropped
    spark.read.parquet(i).drop("__numParts").localCheckpoint()
      .write.mode("overwrite").partitionBy("part").parquet(i)
    val (rows, files) = (rowsOf(c), visibleIndexFiles(i))
    val e = intercept[IllegalArgumentException](
      spaces.head.run(c, i, spaces.head.batches.head, 0))
    assert(e.getMessage.contains("__numParts"), e.getMessage)
    assert(rowsOf(c) == rows && visibleIndexFiles(i) == files)
    for (root <- Seq(c, i); dir <- Seq("_graft_state", "_graft_staging"))
      assert(!new java.io.File(root, dir).exists(), s"$root/$dir")
  }

  test("semantic streaming face drives the same assignment cycles " +
    "(r15 — the sixth space's foreachBatch twin)") {
    import graft.operators.SemDedup
    val centers = (0 until 4).map(i =>
      Seq.tabulate(8)(j => if (j == i) 1.0 else 0.0))
    val rnd = new scala.util.Random(11)
    def vec() = Array.fill(8)(rnd.nextFloat() * 2 - 1)
    val corpusVecs = (0L until 20L).map(i => (i, vec()))
    val corpusDir = Files.createTempDirectory("graft_adm_sem_c").toString
    val indexDir = Files.createTempDirectory("graft_adm_sem_i").toString + "/idx"
    val inDir = Files.createTempDirectory("graft_adm_sem_in").toString
    val chk = Files.createTempDirectory("graft_adm_sem_chk").toString
    val corpus = corpusVecs.toDF("vec_id", "v")
    corpus.write.mode("overwrite").parquet(corpusDir)
    SemDedup.assignmentIndex(corpus, "vec_id", "v", centers)
      .write.mode("overwrite").parquet(indexDir)
    val dupOf0 = corpusVecs.head._2.map(_ * 2.0f) // scaled copy: cosine 1
    Seq((100L, vec()),        // fresh -> admitted
        (101L, dupOf0),       // near-dup of corpus vec 0 -> rejected
        (5L, vec()))          // id replay -> exact screen drops it
      .toDF("vec_id", "v")
      .coalesce(1).write.mode("append").parquet(inDir)
    val stats = Admission.admitStreamSemantic(
      spark.readStream.schema("vec_id LONG, v ARRAY<FLOAT>")
        .parquet(s"$inDir/*.parquet"),
      corpusDir, indexDir, chk, "vec_id", "v", centers,
      minCosine = 0.95)
    assert(stats.map(_.admitted).sum == 1L)
    val ids = spark.read.parquet(corpusDir).select("vec_id")
      .as[Long].collect().sorted.toSeq
    assert(ids == ((0L until 20L) :+ 100L))
    // restart on the same checkpoint: no replay into the corpus
    val stats2 = Admission.admitStreamSemantic(
      spark.readStream.schema("vec_id LONG, v ARRAY<FLOAT>")
        .parquet(s"$inDir/*.parquet"),
      corpusDir, indexDir, chk, "vec_id", "v", centers,
      minCosine = 0.95)
    assert(stats2.map(_.admitted).sum == 0L)
  }

  test("streaming face: foreachBatch loop + checkpoint restart") {
    val (c, i) = setup()
    val base = Files.createTempDirectory("graft_adm_s").toString
    val streamDir = s"$base/in"
    val checkpoint = s"$base/ckpt"
    Seq(100L -> freshText("n100"), 102L -> freshText("c0"))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(streamDir)
    def stream = spark.readStream
      .schema("doc_id LONG, text STRING").parquet(streamDir)
    val stats = Admission.admitStream(stream, c, i, checkpoint,
      "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
    assert(stats.map(_.admitted).sum == 1L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
    // restart on the same checkpoint: nothing new to process, and the
    // already-ingested file is never replayed into the corpus
    val stats2 = Admission.admitStream(stream, c, i, checkpoint,
      "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.6)
    assert(stats2.map(_.admitted).sum == 0L)
    assert(corpusIds(c) == ((0L until 40L) :+ 100L))
  }
}
