package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** one SparkSession per JVM, shared across suites */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** wait until the async listener bus has delivered every event
    * posted so far, so a listener removed next has seen them all */
  def drainListenerBus(): Unit =
    org.apache.spark.ListenerBusDrain(spark.sparkContext)

  /** Count Spark jobs launched by `body`, with AQE and broadcast
    * joins disabled for determinism (AQE materializes query stages
    * as extra jobs; broadcast exchanges submit their own). Restores
    * both confs. Used by the fused-scan pins — "this used to be two
    * jobs, now it is one". */
  def countJobs(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobStart}
    val sc = spark.sparkContext
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    val bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; drainListenerBus() }
    finally {
      sc.removeSparkListener(l)
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
    n.get
  }

  /** Raw job counter — unlike countJobs it does NOT disable AQE or
    * broadcast joins: a job count under the session defaults is a
    * property of the plan shapes the operators build, adaptive
    * stages and broadcast exchanges included. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener,
      SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  /** Physical plan descriptions of the SQL executions `body` starts,
    * in start order. Unlike countJobs it leaves AQE and broadcast
    * joins as configured: an execution count is a property of the
    * plan shapes the operators build under the session defaults. */
  def sqlExecutionsDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          seen.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** The first stage names of the jobs `body` starts OUTSIDE any SQL
    * execution — parquet schema inference ("parquet at …") and
    * parallel file listing run as such bare jobs; an operator's own
    * queries never do. */
  def jobsOutsideSqlDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .isEmpty)
          seen.add(j.stageInfos.headOption.fold("?")(_.name))
    }
    spark.sparkContext.addSparkListener(l)
    try { body; drainListenerBus() }
    finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** the executions among `plans` that scan an LSH index's stamp:
    * the every-tuple validation aggregates on the `__` param columns
    * (in no fixed order), the fold's standalone stamp read is a
    * one-row limit over them */
  def stampScans(plans: Seq[String]): Seq[String] =
    plans.filter(p => "Keys \\[\\d+\\]: \\[__".r.findFirstIn(p).isDefined ||
      p.contains("CollectLimit"))
}
