package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** scratch diagnostics main — job-count decomposition of one
  * admission gate query (VERDICT r10 item 6: the five admission gate
  * queries are ~34 s of fixed per-cycle job overhead at toy scale;
  * before fusing anything, measure WHERE the jobs are). Replays
  * q124's exact shape step by step and prints the Spark job count
  * consumed by each step. Not part of the library surface. */
object ProbeAdmit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.local()
    val jobs = new AtomicInteger(0)
    @volatile var verbose = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          val nt = j.stageInfos.map(_.numTasks).sum
          println(f"[probe-admit-job]   job=${j.jobId}%-4d tasks=$nt%-4d $site")
        }
      }
    })
    def setVerbose(v: Boolean): Unit = verbose = v
    def mark(name: String)(f: => Unit): Unit = {
      org.apache.spark.GraftSparkAccess
        .drainListenerBus(spark.sparkContext, 10000L)
      val j0 = jobs.get
      val t0 = System.nanoTime()
      f
      org.apache.spark.GraftSparkAccess
        .drainListenerBus(spark.sparkContext, 10000L)
      println(f"[probe-admit] $name%-28s jobs=${jobs.get - j0}%-4d " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    import graft.operators.Dedup
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 2000).select(col("vec_id"), col("embedding"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_probe_adm")
    val corpusDir = tmp.resolve("corpus").toString
    val indexDir = tmp.resolve("index").toString
    mark("write corpus")(base.write.mode("overwrite").parquet(corpusDir))
    mark("build+write index")(
      Dedup.embeddingIndex(base, "vec_id", "embedding", dim = 64)
        .write.mode("overwrite").parquet(indexDir))
    val b1 = base.filter(col("vec_id") < 100)
      .select((col("vec_id") + 30000).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val b2 = b1.filter(col("vec_id") < 30050)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .union(base.filter(col("vec_id") < 50)
        .select((col("vec_id") + 20000).as("vec_id"),
          transform(col("embedding"), x => x * lit(3.0f)).as("embedding")))
      .union(base.filter(col("vec_id") < 30))
    mark("cycle 1 (b1)")(
      graft.streaming.Admission.admitBatchEmbedding(b1, corpusDir,
        indexDir, "vec_id", "embedding", dim = 64, threshold = 0.95,
        dedupWithinBatch = false, batchId = 1L, collectStats = false): Unit)
    // cycle 2 replayed step by step (the admitCore skeleton inlined)
    // so the per-step job/wall split is visible
    locally {
      val corpus = spark.read.parquet(corpusDir)
      val index = spark.read.parquet(indexDir)
      var fresh: org.apache.spark.sql.DataFrame = null
      mark("c2: exactAgainst+cache")(
        { fresh = Dedup.exactAgainst(b2.dropDuplicates("vec_id"), corpus,
            Seq("vec_id"), hashKeys = false).cache() }: Unit)
      var matched: org.apache.spark.sql.DataFrame = null
      setVerbose(true)
      mark("c2: near screen")(
        { matched = Dedup.embeddingPairsAgainstIndex(fresh, corpus, index,
            "vec_id", "embedding", 64, threshold = 0.95)
            .select(col("id_new").as("vec_id")).distinct() }: Unit)
      setVerbose(false)
      var admitted: org.apache.spark.sql.DataFrame = null
      mark("c2: anti+localCheckpoint")(
        { admitted = fresh.join(matched, Seq("vec_id"), "left_anti")
            .localCheckpoint() }: Unit)
      mark("c2: count")(admitted.count(): Unit)
      mark("c2: corpus append")(
        admitted.write.mode("append").parquet(corpusDir))
      mark("c2: fold+swap")(
        graft.streaming.Admission.swapWriteIndex(
          Dedup.embeddingIndexUpdate(index, admitted, "vec_id",
            "embedding", 64), indexDir))
      fresh.unpersist()
    }
    mark("read result")(
      spark.read.parquet(corpusDir).select(col("vec_id"))
        .orderBy(col("vec_id")).count(): Unit)
    spark.stop()
  }
}
