package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.Assertions._

/** Shared local session for all specs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs `f` starts on this thread. The listener bus delivers
    * events asynchronously but in order, so a marker job run after `f`
    * proves every job start of `f` has been counted once it arrives. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case `marker` => markerSeen.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** The library DataFrame plans the SQL face's DSv2 scan: a
    * `BatchScanExec` and no anti join applying the deletes. */
  def assertSharedScan(df: DataFrame): Unit = {
    val aqe = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    assert(aqe.collect(plan) { case b: BatchScanExec => b }.nonEmpty,
      s"no BatchScanExec in the library plan:\n$plan")
    assert(aqe.collect(plan) {
      case j: BaseJoinExec if j.joinType == LeftAnti => j
    }.isEmpty, s"the library plan anti-joins:\n$plan")
  }
}
