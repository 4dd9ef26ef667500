package graft.catalog

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.LayoutColumns._

/** Per-file constant FILLS over NATIVE avro data files (round 19): the
  * engine's sync-split avro decoder NULL-fills fields absent from a
  * record, so the constant injection wraps its reader exactly like the
  * parquet/orc readers — the v3 `ADD COLUMN ... initial-default` shape
  * on an avro table, and the mixed partitioned layouts the round-18
  * cross-format append guards used to refuse (avro appends onto
  * fill-bearing tables, parquet appends onto partitioned avro bases).
  * Round 20: fills + live deletes over avro entries SERVE — AvroMorScan
  * injects each slice's constants below its probes and position
  * counter; renames keep refusing everywhere fills live. */
class AvroFillSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def conf = spark.sessionState.newHadoopConf()

  private def df(lo: Int, hi: Int) = {
    import spark.implicits._
    (lo to hi).map(i => (i.toLong, s"n-$i")).toDF("id", "name")
  }

  private def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  test("v3 ADD COLUMN initial-default on an AVRO table: existing rows " +
      "serve the constant on both faces; new appends carry the column") {
    val base = Files.createTempDirectory("graft-avrofill").toString
    val meta0 = IcebergExport.writeTable(spark, df(1, 30), s"$base/t",
      fileFormat = "avro")
    val meta1 = IcebergExport.addColumn(spark, meta0, "score", "int",
      initialDefault = Some("7"))
    val layout = CatalogIO.readLayout(meta1, conf)
    assert(layout.dataFormat == "avro" && layout.hasFills,
      s"the default must read back as per-file fills: $layout")
    // DataFrame face: every pre-addition row serves 7
    val got = CatalogIO.scanMetadataLocation(spark, meta1)
    assert(got.count() == 30L)
    assert(got.filter("score = 7").count() == 30L)
    // SQL face through a registered pointer, with a fill-column filter
    // (group pruning + constant injection) and a data-column filter
    graft.sources.TempCatalog.withTempHandles(spark, "graft-avrofill") {
      (cat, hc) =>
        spark.sql(s"CREATE NAMESPACE $cat.db")
        hc.registerTable(TableRef.parse("db.af"), meta1)
        assert(spark.sql(
          s"SELECT SUM(score) FROM $cat.db.af").head.getLong(0) == 210L)
        assert(spark.sql(
          s"SELECT COUNT(*) FROM $cat.db.af WHERE score = 7")
          .head.getLong(0) == 30L)
        assert(spark.sql(
          s"SELECT COUNT(*) FROM $cat.db.af WHERE score = 99")
          .head.getLong(0) == 0L, "a contradicted fill group must prune")
        assert(spark.sql(
          s"SELECT name FROM $cat.db.af WHERE id = 3").head.getString(0)
          == "n-3")
    }
    // an avro append AFTER the addition carries the column physically
    // (fill-free entry); the mixed fill/fill-free groups union
    val appendDf = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(101L, "n-101",
        Int.box(42))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT NOT NULL, name STRING, score INT"))
    val meta2 = IcebergExport.appendSnapshot(spark, appendDf, meta1,
      fileFormat = "avro")
    val got2 = CatalogIO.scanMetadataLocation(spark, meta2)
    assert(got2.count() == 31L)
    assert(got2.filter("score = 42").count() == 1L)
    assert(got2.filter("score = 7").count() == 30L)
  }

  test("fills + live deletes over avro entries SERVE (round 20): keys " +
      "on data AND fill columns probe the injected constants, both faces") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-avrofill-del").toString
    val meta0 = IcebergExport.writeTable(spark, df(1, 20), s"$base/t",
      fileFormat = "avro")
    val meta1 = IcebergExport.addColumn(spark, meta0, "score", "int",
      initialDefault = Some("7"))
    // an avro append carrying the column physically (score = 42) —
    // fill-bearing and fill-free avro entries coexist under the deletes
    val appendDf = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(101L, "n-101", Int.box(42)),
        org.apache.spark.sql.Row(102L, "n-102", Int.box(42))),
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT NOT NULL, name STRING, score INT"))
    val meta2 = IcebergExport.appendSnapshot(spark, appendDf, meta1,
      fileFormat = "avro")
    // eq delete keyed on the DATA column (kills id 1 and 101 — the
    // seq gate admits both files) ...
    val meta3 = IcebergExport.appendDeletes(spark, meta2,
      equality = Some(Seq(1L, 101L).toDF("id")))
    // ... and one keyed ON THE FILL COLUMN: score=7 must compare the
    // INJECTED constant, killing every surviving pre-addition row and
    // sparing the appended physical 42s
    val meta4 = IcebergExport.appendDeletes(spark, meta3,
      equality = Some(Seq(7).toDF("score")))
    val layout = CatalogIO.readLayout(meta4, conf)
    assert(layout.dataFormat == "avro" && layout.hasFills &&
      layout.deleteFiles.size == 2,
      s"fixture must compose avro + fills + deletes: $layout")
    def check(d: org.apache.spark.sql.DataFrame, face: String): Unit = {
      val got = d.select("id", "name", "score").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
        .sortBy(_._1)
      assert(got == Seq((102L, "n-102", 42)), s"$face rows: $got")
    }
    check(CatalogIO.scanMetadataLocation(spark, meta4), "DataFrame")
    graft.sources.TempCatalog.withTempHandles(spark, "graft-avrofill-del") {
      (cat, hc) =>
        spark.sql(s"CREATE NAMESPACE $cat.db")
        hc.registerTable(TableRef.parse("db.afd"), meta4)
        check(spark.table(s"$cat.db.afd"), "SQL")
        // the PRE-fill-delete snapshot still serves the constants
        hc.registerTable(TableRef.parse("db.afd3"), meta3)
        assert(spark.sql(
          s"SELECT COUNT(*) FROM $cat.db.afd3 WHERE score = 7")
          .head.getLong(0) == 19L)
    }
  }

  test("a MIXED delete-live layout's filled parquet base + avro appends " +
      "serve (round 20): the hive-import-then-avro-append shape") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft-avrofill-mix").toString
    // hive col=value tree: parquet files LACKING the partition column
    val t = df(1, 20).withColumn("g",
      (col("id") % 2).cast("string"))
    t.write.partitionBy("g").parquet(s"$base/hv")
    val meta0 = IcebergExport.importHiveTable(spark, s"$base/hv",
      t.schema, Seq("g"))
    // an avro append (carries every column, incl. the partition source)
    val appendDf = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(101L, "n-101", "1"),
        org.apache.spark.sql.Row(102L, "n-102", "0")),
      org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT NOT NULL, name STRING, g STRING"))
    val meta1 = IcebergExport.appendSnapshot(spark, appendDf, meta0,
      fileFormat = "avro")
    // eq deletes: one keyed on the FILL column (g='0' — probes the
    // parquet group's injected constants AND the avro group's physical
    // values), one on the data column
    val meta2 = IcebergExport.appendDeletes(spark, meta1,
      equality = Some(Seq("0").toDF("g")))
    val meta3 = IcebergExport.appendDeletes(spark, meta2,
      equality = Some(Seq(3L).toDF("id")))
    val layout = CatalogIO.readLayout(meta3, conf)
    assert(layout.dataFormat == "mixed" && layout.hasFills &&
      layout.dataFileFormats.exists(_.contains("avro")),
      s"fixture must compose mixed(avro) + fills + deletes: $layout")
    val expect = ((1 to 20).filter(i => i % 2 == 1 && i != 3)
      .map(i => (i.toLong, s"n-$i", "1")) :+ ((101L, "n-101", "1")))
      .sortBy(_._1)
    def check(d: org.apache.spark.sql.DataFrame, face: String): Unit = {
      val got = d.select("id", "name", "g").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
        .sortBy(_._1)
      assert(got == expect, s"$face rows: $got")
    }
    check(CatalogIO.scanMetadataLocation(spark, meta3), "DataFrame")
    graft.sources.TempCatalog.withTempHandles(spark, "graft-avrofill-mix") {
      (cat, hc) =>
        spark.sql(s"CREATE NAMESPACE $cat.db")
        hc.registerTable(TableRef.parse("db.afm"), meta3)
        check(spark.table(s"$cat.db.afm"), "SQL")
    }
  }
}
