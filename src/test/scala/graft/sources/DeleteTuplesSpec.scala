package graft.sources

import java.nio.file.Files

import scala.collection.immutable.ArraySeq

import graft.TestSpark
import graft.catalog.{CatalogIO, HadoopFsCatalog, TableRef}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side equality-delete decoder: its tuples equal what a
  * Spark read of the delete file, cast to the key types and collected,
  * yields; it runs no Spark job; its cache is keyed by path, length and
  * key types; and the delete threshold it shares with every MOR reader
  * refuses malformed values by name. */
class DeleteTuplesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val conf = new Configuration()

  /** Writes `df` as ONE delete file of `format`; returns its path. */
  private def deleteFile(df: DataFrame, format: String = "parquet"): String = {
    val dir = Files.createTempDirectory("del-tuples").resolve("d").toString
    df.coalesce(1).write.format(format).save(dir)
    new java.io.File(dir).listFiles()
      .find(_.getName.startsWith("part-")).get.getPath
  }

  /** The Spark read of the delete file, cast to the key types and
    * collected, normalized as the probes compare. */
  private def viaSparkRead(path: String,
      keyType: String => DataType): Set[ArraySeq[Any]] = {
    val raw = CatalogIO.readDeleteFiles(spark, Map.empty, Seq(path), conf)
    val cols = raw.columns.toVector
    val typed = cols.foldLeft(raw)((d, c) => d.withColumn(c, d.col(c).cast(keyType(c))))
    val convs = cols.map(c => CatalystTypeConverters.createToCatalystConverter(keyType(c)))
    typed.collect().map(r =>
      ArraySeq.from(cols.indices.map(i => MorScan.normalize(convs(i)(r.get(i)))))
    ).toSet
  }

  private def assertSameDecode(path: String, keyType: String => DataType): Unit = {
    val decoded = DeleteTuples.of(path, keyType, conf)
    val expected = viaSparkRead(path, keyType)
    assert(expected.nonEmpty)
    assert(decoded.tuples == expected)
  }

  private val keySchema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("s", StringType), StructField("d", DecimalType(10, 2)),
    StructField("dt", DateType), StructField("ts", TimestampType),
    StructField("b", BinaryType)))

  private val keyRows = Seq(
    Row(1, 10L, "a", new java.math.BigDecimal("1.25"),
      java.sql.Date.valueOf("2024-02-29"),
      java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789012"),
      Array[Byte](1, 2, 3)),
    Row(-7, Long.MaxValue, "ünï", new java.math.BigDecimal("-99999999.99"),
      java.sql.Date.valueOf("1970-01-01"),
      java.sql.Timestamp.valueOf("1999-12-31 23:59:59"), Array[Byte]()),
    // a NULL in every key column
    Row(null, null, null, null, null, null, null))

  private def keyFrame: DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(keyRows: _*), keySchema)

  test("parquet: int, long, string, decimal, date, timestamp, binary and NULL keys " +
      "decode as the Spark read does") {
    val path = deleteFile(keyFrame)
    assertSameDecode(path, keySchema(_).dataType)
    val decoded = DeleteTuples.of(path, keySchema(_).dataType, conf)
    assert(decoded.cols == keySchema.fieldNames.toVector)
    assert(decoded.tuples.size == 3)
    assert(decoded.tuples.contains(ArraySeq.fill[Any](7)(null)))
  }

  test("ORC delete files decode as the Spark read does") {
    val path = deleteFile(keyFrame, "orc")
    assert(CatalogIO.FileFormatSniff.of(path, conf) == "orc")
    assertSameDecode(path, keySchema(_).dataType)
  }

  test("promoted keys: an int key read as bigint and a narrow decimal read wider") {
    import spark.implicits._
    val path = deleteFile(Seq((1, BigDecimal("1.5")), (2, BigDecimal("-3.25")))
      .toDF("k", "d").select($"k", $"d".cast(DecimalType(5, 2)).as("d")))
    val keyType: String => DataType = Map("k" -> LongType, "d" -> DecimalType(12, 2))
    assertSameDecode(path, keyType)
    assert(DeleteTuples.of(path, keyType, conf).tuples
      .exists(_.head == 1L), "the int key must decode as a long")
  }

  test("a renamed key column decodes with its physical field's type") {
    import spark.implicits._
    // delete files carry CURRENT names; an epoch's schema carries the
    // PHYSICAL ones, which the readers translate through keyNameMap
    val path = deleteFile(Seq(3, 4).toDF("label"))
    val physical = StructType(Seq(StructField("val", LongType)))
    val keyNameMap = Map("label" -> "val")
    val keyType: String => DataType = c => physical(keyNameMap(c.toLowerCase)).dataType
    assertSameDecode(path, keyType)
    assert(DeleteTuples.of(path, keyType, conf).types == Vector(LongType))
  }

  test("decoding runs no Spark job, and repeats come from the cache") {
    import spark.implicits._
    val path = deleteFile(Seq(5L, 6L).toDF("k"))
    var first: DeleteTuples = null
    assert(TestSpark.jobsDuring { first = DeleteTuples.of(path, _ => LongType, conf) } == 0)
    assert(DeleteTuples.of(path, _ => LongType, conf) eq first)
    // other key types are another cache entry
    val asString = DeleteTuples.of(path, _ => StringType, conf)
    assert(asString ne first)
    assert(asString.tuples.map(_.head.toString) == Set("5", "6"))
    // a rewritten path with another length is decoded again
    val lengthBefore = new java.io.File(path).length
    Files.copy(java.nio.file.Paths.get(deleteFile(Seq(7L, 8L, 9L).toDF("k"))),
      java.nio.file.Paths.get(path), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(new java.io.File(path).length != lengthBefore)
    val f = new java.io.File(path)
    Files.deleteIfExists(f.toPath.resolveSibling(s".${f.getName}.crc"))
    assert(DeleteTuples.of(path, _ => LongType, conf).tuples ==
      Set(7L, 8L, 9L).map(k => ArraySeq[Any](k)))
  }

  test("the cache holds at most spark.graft.mor.maxDeleteTuples tuples, least recently used out first") {
    import spark.implicits._
    val a = deleteFile(Seq(1L, 2L).toDF("k"))
    val b = deleteFile(Seq(3L, 4L).toDF("k"))
    spark.conf.set(DeleteTuples.ThresholdKey, "3")
    try {
      val first = DeleteTuples.of(a, _ => LongType, conf)
      assert(DeleteTuples.of(a, _ => LongType, conf) eq first)
      // b's two tuples push the total past 3: a, the least recently used, goes
      DeleteTuples.of(b, _ => LongType, conf)
      val again = DeleteTuples.of(a, _ => LongType, conf)
      assert(again ne first)
      assert(again.tuples == first.tuples)
      // a file larger than the bound is decoded but never cached
      spark.conf.set(DeleteTuples.ThresholdKey, "1")
      assert(DeleteTuples.of(b, _ => LongType, conf) ne DeleteTuples.of(b, _ => LongType, conf))
    } finally spark.conf.unset(DeleteTuples.ThresholdKey)
  }

  test("a malformed or negative spark.graft.mor.maxDeleteTuples fails naming the key") {
    val wh = Files.createTempDirectory("del-tuples-wh").toString
    val cat = s"dt${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val hc = new HadoopFsCatalog(cat, wh)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT) USING parquet")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1), (2)")
    import spark.implicits._
    MergeOps.deleteMatchedMergeOnRead(spark, hc, TableRef.parse("db.t"),
      Seq(2L).toDF("k"), Seq("k"))
    try {
      Seq("lots", "-1", "4e6").foreach { bad =>
        spark.conf.set(DeleteTuples.ThresholdKey, bad)
        val e = intercept[IllegalArgumentException](
          spark.table(s"$cat.db.t").collect())
        assert(e.getMessage.contains("spark.graft.mor.maxDeleteTuples"), e.getMessage)
        assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
      spark.conf.set(DeleteTuples.ThresholdKey, " 10 ")
      assert(DeleteTuples.threshold(spark) == 10L)
      assert(spark.table(s"$cat.db.t").collect().map(_.getLong(0)).toSeq == Seq(1L))
    } finally spark.conf.unset(DeleteTuples.ThresholdKey)
    assert(DeleteTuples.threshold(spark) == 4000000L)
  }
}
