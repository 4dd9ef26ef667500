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
