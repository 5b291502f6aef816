package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import graft.functions.TextFunctions
import graft.operators.{Dedup, Repetition}

/** The generated-class working set of the ingest dedup tail. Spark
  * caches compiled classes in 4 LRU segments of 25 entries, keyed on
  * (class loader, generated source): a driver thread and an executor
  * task thread compile the same source under different loaders, so
  * each counts once. An op whose working set nears the cache's size
  * evicts its own classes and recompiles them on every call, so this
  * pins the count of distinct keys one chain touches.
  *
  * Method (the same one BENCH_NOTES applies to graftbench runs): empty
  * the codegen cache, attach a DEBUG appender to the `CodeGenerator`
  * logger (each compile logs its source at DEBUG), run the chain once,
  * and count distinct (sha1 of the source, compiled on a task thread)
  * pairs. */
class CodegenWorkingSetSpec extends SparkTestBase {
  import spark.implicits._

  private val LoggerName =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** distinct (source sha1, task thread) keys compiled while `body`
    * runs, starting from an empty codegen cache */
  private def compiledKeys(body: => Unit): Set[(String, Boolean)] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    val appender = new AbstractAppender("codegen-working-set", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = if (e.getLevel == Level.DEBUG) {
        val sha = java.security.MessageDigest.getInstance("SHA-1")
          .digest(e.getMessage.getFormattedMessage.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        seen.add((sha, e.getThreadName.startsWith("Executor task launch worker")))
      }
    }
    appender.start()
    // Spark's own logger context: the one its classes' loader selects
    // (a test class loader may be handed a context of its own)
    val ctx = LogManager.getContext(
      classOf[org.apache.spark.SparkContext].getClassLoader, false)
      .asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val lc = new LoggerConfig(LoggerName, Level.DEBUG, false)
    lc.addAppender(appender, null, null)
    config.addLogger(LoggerName, lc)
    // the private cache, emptied so every key the chain needs compiles
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    ctx.updateLoggers()
    try body
    finally {
      config.removeLogger(LoggerName)
      ctx.updateLoggers()
      appender.stop()
    }
    import scala.jdk.CollectionConverters._
    seen.asScala.toSet
  }

  /** crawl-shaped documents: shared header and footer lines, near and
    * exact duplicates, and short low-quality pages */
  private lazy val docs = {
    val rnd = new scala.util.Random(3)
    val words = Seq("the", "river", "a", "city", "of", "old", "and", "market",
      "is", "bridge", "to", "night", "in", "garden", "with", "stone", "for",
      "winter", "on", "harbor")
    def sentence() = Seq.fill(8 + rnd.nextInt(8))(words(rnd.nextInt(words.size)))
      .mkString(" ").capitalize + "."
    val bodies = Seq.fill(30)(Seq.fill(3 + rnd.nextInt(3))(sentence()))
    val pages = bodies.zipWithIndex.flatMap { case (b, i) =>
      val near = b.updated(b.size - 1, b.last.stripSuffix(".") + " again.")
      Seq(b, near, b).zipWithIndex.map { case (lines, k) =>
        (i * 3L + k, "Home | News | Contact" +: lines :+ "Copyright 2024 Example")
      }
    } ++ (0 until 10).map(i => (1000L + i, Seq("x y", "z")))
    pages.map { case (id, lines) => (id, "en", lines.mkString("\n")) }
      .toDF("doc_id", "lang", "text")
  }

  test("the ingest dedup tail touches at most 65 generated-class keys") {
    val out = java.nio.file.Files.createTempDirectory("codegen-ws").toFile
    // the session first: its start-up reconfigures logging
    val in = docs
    try {
      val keys = compiledKeys {
        val uncommon = Repetition.dropCommonLines(in, "doc_id", "text", 4L)
        val good = uncommon.filter(TextFunctions.qualityScore(col("text")) >= 0.5)
        Dedup.minhashDedup(Dedup.exact(good, Seq("text"), "doc_id"),
            "doc_id", "text")
          .write.mode("overwrite").parquet(out.getPath)
      }
      val survivors = spark.read.parquet(out.getPath).as[(Long, String, String)]
        .collect().map(_._1).toSet
      // one of each (body, near, exact) triple: the exact copy and the
      // near-dup go, and so do the short pages
      assert(survivors.size == 30 && survivors.forall(_ < 1000L), survivors)
      assert(keys.nonEmpty, "no compile was logged")
      // 78 before the pair search verified over the checkpoint's raw
      // rows with native banding and pair expansion, and the line
      // census became one aggregation
      assert(keys.size <= 65, s"${keys.size} keys " +
        s"(${keys.count(_._2)} on task threads)")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
  }
}
