package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main runs on: `local[cpus]`, shuffle
  * partitions = cpus, UTC session time zone, UI off, WARN logging.
  * `extra` adds a tool's own confs before the session is created. */
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
