package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.catalog.{CatalogIO, HadoopFsCatalog, TableRef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming aggregates materialized as versioned catalog commits: the
  * final table state equals the batch aggregate over the same corpus,
  * every version is a complete committed snapshot reachable by time
  * travel, and the version trail grows with the trigger count. */
class StreamMaterializeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("complete-mode stream aggregate commits versions; final == batch; history time-travels") {
    // two source files → maxFilesPerTrigger=1 forces ≥2 micro-batches
    val streamDir = Files.createTempDirectory("graft-matstream")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      streamDir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // second file: a slice re-written as a single parquet FILE (the file
    // stream source lists plain files, not nested dirs)
    val batchDocs = graft.Tables(spark, sfDir, "documents")
    val sliceDir = Files.createTempDirectory("graft-matslice")
    batchDocs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(sliceDir.resolve("out").toString)
    val part = Files.list(sliceDir.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, streamDir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val union = batchDocs.unionByName(batchDocs.filter(col("doc_id") % 2 === 0))
    def aggOf(d: DataFrame): DataFrame =
      d.groupBy("lang").agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("n_chars"))

    val wh = Files.createTempDirectory("graft-matwh").toString
    val cat = new HadoopFsCatalog("matwh", wh)
    cat.createNamespace(graft.catalog.Namespace.of("live"))
    val ref = TableRef.parse("live.lang_stats")
    val ckpt = Files.createTempDirectory("graft-matckpt").toString

    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val q = StreamMaterialize.materialize(spark, cat, ref, aggOf(stream), ckpt)
    try q.processAllAvailable() finally q.stop()

    // final committed state == batch aggregate over everything streamed
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == rows(aggOf(union)))

    // one version per micro-batch, each a complete committed snapshot
    val versions = cat.listTableVersions(ref)
    assert(versions.size >= 2, s"expected >=2 versions, got $versions")
    assert(versions == (1 to versions.size), s"non-contiguous: $versions")
    for (v <- versions) {
      val snap = CatalogIO.readTableVersion(spark, cat, ref, v)
      // every snapshot is a full aggregate: langs distinct, counts positive
      assert(snap.groupBy("lang").count().filter(col("count") > 1).count() == 0)
      assert(snap.filter(col("n_docs") <= 0).count() == 0)
    }
    // history is monotone: doc totals never shrink across versions
    val totals = versions.map(v =>
      CatalogIO.readTableVersion(spark, cat, ref, v)
        .agg(sum("n_docs")).collect()(0).getLong(0))
    assert(totals == totals.sorted, s"non-monotone history: $totals")
    assert(totals.last == union.count())
    cat.close()
  }

  test("a materialized table serves the DSv2 SQL face mid-stream (committed snapshots only)") {
    val streamDir = Files.createTempDirectory("graft-matstream2")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      streamDir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = graft.Tables(spark, sfDir, "documents")

    val wh = Files.createTempDirectory("graft-matwh2").toString
    val cat = new HadoopFsCatalog("matwh2", wh)
    cat.createNamespace(graft.catalog.Namespace.of("live"))
    val ckpt = Files.createTempDirectory("graft-matckpt2").toString

    val stream = spark.readStream.schema(batchDocs.schema).parquet(streamDir.toString)
    val q = StreamMaterialize.materialize(spark, cat,
      TableRef.parse("live.by_lang"),
      stream.groupBy("lang").agg(count(lit(1)).as("n")), ckpt)
    try q.processAllAvailable() finally q.stop()

    val catName = s"mat${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.sources.GraftSparkCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    val viaSql = rows(spark.sql(s"SELECT lang, n FROM $catName.live.by_lang"))
    assert(viaSql == rows(batchDocs.groupBy("lang").agg(count(lit(1)).as("n"))))
    assert(rows(spark.sql(
      s"SELECT lang, n FROM $catName.live.by_lang VERSION AS OF 1")) == viaSql)
    cat.close()
  }

  test("append-mode stream lands each micro-batch as a manifest append; replays are fenced") {
    val streamDir = Files.createTempDirectory("graft-appstream")
    Files.copy(Paths.get(s"$sfDir/nation.parquet"),
      streamDir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchNation = spark.read.parquet(s"$sfDir/nation.parquet")
    val sliceDir = Files.createTempDirectory("graft-appslice")
    batchNation.filter(col("n_nationkey") < 5).coalesce(1)
      .write.mode("overwrite").parquet(sliceDir.resolve("out").toString)
    val part = Files.list(sliceDir.resolve("out")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, streamDir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val wh = Files.createTempDirectory("graft-appwh").toString
    val cat = new HadoopFsCatalog("appwh", wh)
    cat.createNamespace(graft.catalog.Namespace.of("live"))
    val ref = TableRef.parse("live.ingest")
    val ckpt = Files.createTempDirectory("graft-appckpt").toString

    val stream = spark.readStream.schema(batchNation.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val q = StreamMaterialize.appendStream(spark, cat, ref,
      stream.select("n_nationkey", "n_name"), ckpt)
    try q.processAllAvailable() finally q.stop()

    // ingested = both files' rows; one version per micro-batch
    val expect = rows(batchNation.unionByName(
      batchNation.filter(col("n_nationkey") < 5)).select("n_nationkey", "n_name"))
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == expect)
    val versions = cat.listTableVersions(ref)
    assert(versions.size == 2, s"expected 2 versions, got $versions")
    // v2 is a MANIFEST append: same segment as v1, superset file list
    val l1 = CatalogIO.readLayout(cat.metadataLocationForVersion(ref, 1))
    val l2 = CatalogIO.readLayout(cat.metadataLocationForVersion(ref, 2))
    assert(l2.dataLocation == l1.dataLocation)
    assert(l1.dataFilePaths.get.toSet.subsetOf(l2.dataFilePaths.get.toSet))
    // v1 time-travels to the first batch alone
    assert(CatalogIO.readTableVersion(spark, cat, ref, 1).count() ==
      batchNation.count())

    cat.close()
  }

  test("ingest fence: a crash-replayed batch is skipped; a different run is not falsely fenced") {
    val wh = Files.createTempDirectory("graft-fencewh").toString
    val cat = new HadoopFsCatalog("fencewh", wh)
    cat.createNamespace(graft.catalog.Namespace.of("live"))
    val ref = TableRef.parse("live.fenced")
    import spark.implicits._
    def batch(ids: Long*): DataFrame = ids.toDF("id")

    // run A commits batches 0 and 1; the fence rides the commit
    StreamMaterialize.commitIngestBatch(spark, cat, ref, batch(1), 0L, "runA", true)
    StreamMaterialize.commitIngestBatch(spark, cat, ref, batch(2), 1L, "runA", true)
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == Seq("1", "2"))
    assert(CatalogIO.currentProperties(cat, ref).get("runA").contains("1"))

    // crash-replay of batch 1 (same run): fenced, no duplicate rows,
    // no new version
    val v0 = cat.listTableVersions(ref)
    StreamMaterialize.commitIngestBatch(spark, cat, ref, batch(2), 1L, "runA", true)
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == Seq("1", "2"))
    assert(cat.listTableVersions(ref) == v0)

    // a DIFFERENT run's batch 0 (fresh checkpoint ⇒ fresh fence key)
    // must NOT be fenced by run A's ids — that interleaving is new data
    StreamMaterialize.commitIngestBatch(spark, cat, ref, batch(3), 0L, "runB", true)
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == Seq("1", "2", "3"))
    // both fences coexist: appends carry properties forward
    val props = CatalogIO.currentProperties(cat, ref)
    assert(props.get("runA").contains("1") && props.get("runB").contains("0"), props)

    // an interleaved SQL-path append must not erase the fences either
    CatalogIO.commitAppend(spark, cat, ref, batch(4))
    assert(CatalogIO.currentProperties(cat, ref).get("runA").contains("1"))
    // …and the replay check still holds after the interleaving
    StreamMaterialize.commitIngestBatch(spark, cat, ref, batch(2), 1L, "runA", true)
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == Seq("1", "2", "3", "4"))

    // a property key named like a top-level metadata field is a plain
    // property: it commits and never shadows the real field
    CatalogIO.commitAppend(spark, cat, ref, batch(5),
      properties = Map("dataLocation" -> "/tmp/evil"))
    assert(CatalogIO.currentProperties(cat, ref).get("dataLocation")
      .contains("/tmp/evil"))
    assert(rows(CatalogIO.readTable(spark, cat, ref)) ==
      Seq("1", "2", "3", "4", "5"))
    cat.close()
  }

  test("a fenced replay re-publishes a lagging pointer (crash between metadata write and flip)") {
    val wh = Files.createTempDirectory("graft-healwh").toString
    val cat = new HadoopFsCatalog("healwh", wh)
    cat.createNamespace(graft.catalog.Namespace.of("live"))
    val ref = TableRef.parse("live.heal")
    import spark.implicits._
    StreamMaterialize.commitIngestBatch(spark, cat, ref,
      Seq(1L).toDF("id"), 0L, "runH", true)
    StreamMaterialize.commitIngestBatch(spark, cat, ref,
      Seq(2L).toDF("id"), 1L, "runH", true)
    val v2Loc = cat.loadTableMetadataLocation(ref)
    assert(v2Loc.endsWith("v2.metadata.json"))
    // simulate the crash window: batch 1's metadata committed but the
    // pointer flip lost — rewind the pointer file to v1 by hand
    val ptr = java.nio.file.Paths.get(wh, "live", "heal", "pointer.text")
    // nio bypasses Hadoop's checksum sidecar — drop it or reads fail CRC
    Files.deleteIfExists(java.nio.file.Paths.get(wh, "live", "heal", ".pointer.text.crc"))
    Files.writeString(ptr, cat.metadataLocationForVersion(ref, 1) + "\n")
    assert(CatalogIO.readTable(spark, cat, ref).count() == 1) // readers lag
    // the replay of batch 1 is fenced (v2's metadata carries the fence)
    // AND heals the pointer instead of leaving the rows unpublished
    StreamMaterialize.commitIngestBatch(spark, cat, ref,
      Seq(2L).toDF("id"), 1L, "runH", true)
    // (healed pointer may carry the fs scheme; same file either way)
    assert(cat.loadTableMetadataLocation(ref).endsWith("v2.metadata.json"))
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == Seq("1", "2"))
    cat.close()
  }

  test("compaction carries the replay fence: a crash-replayed batch stays fenced after compact") {
    val wh = Files.createTempDirectory("graft-cfwh").toString
    val cat = new HadoopFsCatalog("cfwh", wh)
    cat.createNamespace(graft.catalog.Namespace.of("live"))
    val ref = TableRef.parse("live.cfing")
    import spark.implicits._
    StreamMaterialize.commitIngestBatch(spark, cat, ref,
      Seq(1L).toDF("id"), 0L, "fenceK", true)
    StreamMaterialize.commitIngestBatch(spark, cat, ref,
      Seq(2L).toDF("id"), 1L, "fenceK", true)
    val res = CatalogIO.compactTable(spark, cat, ref)
    assert(res.compacted)
    // replaying batch 1 AFTER the compaction must still be fenced — the
    // compaction commit carries commit-scoped properties forward; a
    // compaction that dropped the fence would double-append here
    StreamMaterialize.commitIngestBatch(spark, cat, ref,
      Seq(2L).toDF("id"), 1L, "fenceK", true)
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == Seq("1", "2"))
    // and a genuinely new batch still appends past the compaction
    StreamMaterialize.commitIngestBatch(spark, cat, ref,
      Seq(3L).toDF("id"), 2L, "fenceK", true)
    assert(rows(CatalogIO.readTable(spark, cat, ref)) == Seq("1", "2", "3"))
    cat.close()
  }

  test("ingest into a partitioned table follows the recorded layout (no flat files, spec preserved)") {
    val wh = Files.createTempDirectory("graft-ptwh").toString
    val cat = new HadoopFsCatalog("ptwh", wh)
    cat.createNamespace(graft.catalog.Namespace.of("live"))
    val ref = TableRef.parse("live.part_ingest")
    import spark.implicits._
    CatalogIO.createTable(spark, cat, ref,
      Seq((1L, "eu"), (2L, "us")).toDF("id", "region"), partitionBy = Seq("region"))
    StreamMaterialize.commitIngestBatch(spark, cat, ref,
      Seq((3L, "eu"), (4L, "ap")).toDF("id", "region"), 0L, "runP", true)
    val l = CatalogIO.readLayout(cat.loadTableMetadataLocation(ref))
    // the append kept the partition spec AND landed under partition dirs
    assert(l.partitionColumns == Seq("region"))
    assert(l.dataFilePaths.get.count(_.startsWith("region=eu/")) == 2, l.dataFilePaths)
    assert(rows(CatalogIO.readTable(spark, cat, ref)) ==
      Seq("1|eu", "2|us", "3|eu", "4|ap"))
    cat.close()
  }
  test("Iceberg streaming sink (round 17): micro-batches land as append " +
      "snapshots behind the catalog pointer; replays fence via the " +
      "snapshot summary; a downstream admission-bounded pointer stream " +
      "sees exactly the increments") {
    import graft.catalog.{IcebergExport, IcebergFormat}
    val wh = Files.createTempDirectory("graft-icesinkwh").toString
    val cat = new HadoopFsCatalog("icesinkwh", wh)
    cat.createNamespace(graft.catalog.Namespace.of("live"))
    val ref = TableRef.parse("live.icesink")
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-icesink").toString + "/t"
    val meta0 = IcebergExport.writeTable(spark, Seq(0L).toDF("id"), dir)
    cat.registerTable(ref, meta0)
    def batch(ids: Long*): DataFrame = ids.toDF("id")
    def conf = spark.sessionState.newHadoopConf()
    def idsNow(): Seq[Long] = CatalogIO.readTable(spark, cat, ref)
      .collect().map(_.getLong(0)).sorted.toSeq

    // three batches → three Iceberg snapshots behind the SAME ref
    StreamMaterialize.commitIcebergBatch(spark, cat, ref, batch(1L, 2L),
      0L, "fenceA", "parquet", true)
    StreamMaterialize.commitIcebergBatch(spark, cat, ref, batch(3L),
      1L, "fenceA", "parquet", true)
    StreamMaterialize.commitIcebergBatch(spark, cat, ref, batch(4L),
      2L, "fenceA", "parquet", true)
    assert(idsNow() == Seq(0L, 1L, 2L, 3L, 4L))
    val loc3 = cat.loadTableMetadataLocation(ref)
    val text3 = CatalogIO.readMetadataText(loc3, conf)
    assert(IcebergFormat.mainAncestry(text3).size == 4) // base + 3 appends
    // the fence rides the newest snapshot's summary
    assert(IcebergFormat.latestSummaryValue(text3, "fenceA").contains("2"))

    // crash-replay of batch 2: fenced — no snapshot, no pointer move
    StreamMaterialize.commitIcebergBatch(spark, cat, ref, batch(99L),
      2L, "fenceA", "parquet", true)
    assert(cat.loadTableMetadataLocation(ref) == loc3)
    assert(idsNow() == Seq(0L, 1L, 2L, 3L, 4L))

    // a DIFFERENT run (fresh checkpoint ⇒ fresh fence key) is not fenced
    StreamMaterialize.commitIcebergBatch(spark, cat, ref, batch(5L),
      0L, "fenceB", "parquet", true)
    assert(idsNow() == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    // both fences live in the ancestry (the newest snapshot's summary
    // carries fenceB; fenceA's newest occurrence is still snapshot 3)
    val text4 = CatalogIO.readMetadataText(
      cat.loadTableMetadataLocation(ref), conf)
    assert(IcebergFormat.latestSummaryValue(text4, "fenceB").contains("0"))
    assert(IcebergFormat.latestSummaryValue(text4, "fenceA").contains("2"))

    // END-TO-END through a real streaming query (the foreachBatch face)
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long](spark)
    src.addData(6L, 7L)
    val ck = Files.createTempDirectory("graft-icesink-ck").toString
    val q = StreamMaterialize.appendIcebergStream(spark, cat, ref,
      src.toDF().toDF("id"), ck)
    try q.processAllAvailable() finally q.stop()
    assert(idsNow() == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))

    // downstream: the w16 admission-bounded Iceberg-pointer stream sees
    // exactly the increments, one commit per micro-batch under the
    // 1-file budget (each append wrote one file)
    val name = "icesink_out"
    val q2 = spark.readStream.format("graft-table")
      .option("type", "hadoop").option("warehouse", wh)
      .option("table", "live.icesink")
      .option("startingVersion", "earliest")
      .option("maxFilesPerTrigger", "1").load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table(name).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq ==
        Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
      assert(q2.recentProgress.count(_.numInputRows > 0) >= 5,
        q2.recentProgress.map(_.numInputRows).mkString(","))
    } finally q2.stop()
    cat.close()
  }

}
