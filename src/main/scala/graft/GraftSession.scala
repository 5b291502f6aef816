package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on: `local[cpus]`, shuffle
  * partitions = cpus, UTC session time zone, UI off, WARN logging.
  * `extra` adds a tool's own confs before the session is created.
  *
  * Codegen cache: Spark keeps compiled generated classes in one cache
  * per JVM, `spark.sql.codegen.cache.maxEntries` (default 100) keys
  * in 4 LRU segments, each key a (generated source, class loader)
  * pair — a source compiled on a driver thread and on a task thread
  * takes two. A session that runs the same multi-operator pipeline
  * repeatedly (the ingest chain, admission cycles) recompiles on
  * every call once the pipeline's keys overflow a segment. The conf
  * is static: pass it in `extra` (or to your own session builder),
  * e.g. `"spark.sql.codegen.cache.maxEntries" -> "400"`, before the
  * session is created. graft's mains and benchmarks leave it at
  * Spark's default. */
object GraftSession {

  /** core count from `SPARK_GRAFT_CPUS`, 4 when unset */
  private def envCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def local(cpus: String = envCpus,
            extra: Seq[(String, String)] = Nil): SparkSession = {
    val spark = extra.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
        b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
