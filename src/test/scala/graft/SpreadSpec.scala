package graft

import java.nio.file.Files

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.scalatest.funsuite.AnyFunSuite

class SpreadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("a malformed spread.bytesPerCore is warned about once, with its value, then defaulted") {
    val dir = Files.createTempDirectory("graft-spread").resolve("t").toString
    spark.range(10).coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir) // one file: narrow, so the conf is read
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("spread-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    appender.start()
    val logger = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getLogger("graft.spread")
    logger.addAppender(appender)
    spark.conf.set("spark.graft.spread.bytesPerCore", "64m")
    try {
      // the 8 MiB default still spreads this tiny input; nothing throws
      val spread = (1 to 3).map(_ => Spread.ifNarrow(df))
      assert(spread.forall(_.rdd.getNumPartitions ==
        spark.sparkContext.defaultParallelism))
      assert(warnings.size == 1, warnings)
      assert(warnings.peek.startsWith("WARN"), warnings)
      assert(warnings.peek.contains("'64m'"), warnings)
    } finally {
      spark.conf.unset("spark.graft.spread.bytesPerCore")
      logger.removeAppender(appender)
      appender.stop()
    }
  }
}
