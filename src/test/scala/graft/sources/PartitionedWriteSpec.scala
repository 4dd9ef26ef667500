package graft.sources

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E3 at scale: partitioned parquet layout + partition pruning. A date-
  * partitioned events table must answer a day filter by scanning only
  * that day's directory — the difference between reading 1/365th and
  * reading everything at 100 TB. */
class PartitionedWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("date-partitioned write is pruned to the selected partition") {
    val dir = Files.createTempDirectory("part-events").toString + "/events"
    val ev = graft.Tables(spark, "/root/testdata/sf0.001", "events")
      .withColumn("day", to_date(col("ts")))
    ev.write.partitionBy("day").parquet(dir)

    val days = ev.select("day").distinct().count()
    assert(days > 1, s"fixture needs multiple days, got $days")

    val oneDay = ev.groupBy("day").count().orderBy("day").collect().head
    val df = spark.read.parquet(dir).filter(col("day") === oneDay.getDate(0))
    assert(df.count() == oneDay.getLong(1))

    // physical scan must carry a partition filter and prune directories
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"), scan)
    // layout sanity: one directory per day was produced
    val dayDirs = new java.io.File(dir).listFiles().count(_.getName.startsWith("day="))
    assert(dayDirs.toLong == days)
  }

  test("an append without layout arguments keeps the table's partitioning") {
    import graft.catalog.{CatalogIO, HadoopFsCatalog, Namespace, TableRef}
    import spark.implicits._
    val hc = new HadoopFsCatalog("pappend",
      Files.createTempDirectory("part-append-wh").toString)
    hc.createNamespace(Namespace.of("db"))
    val ref = TableRef.parse("db.t")
    CatalogIO.createTable(spark, hc, ref,
      Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("k", "p"), partitionBy = Seq("p"))
    CatalogIO.commitAppend(spark, hc, ref, Seq((4L, "a"), (5L, "b")).toDF("k", "p"))
    val layout = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    assert(layout.partitionColumns == Seq("p"))
    assert(layout.dataFiles.get.forall(_.path.startsWith("p=")), layout.dataFiles)
    // the partition filter counts the rows of both commits
    val t = CatalogIO.readTable(spark, hc, ref)
    assert(t.filter(col("p") === "a").count() == 3)
    assert(t.filter(col("p") === "b").count() == 2)
  }

  test("partitioned catalog table is pruned through the DSv2 catalog read path") {
    import graft.catalog.{CatalogConfig, CatalogFactory, CatalogIO, HadoopFsCatalog, TableRef}
    val wh = Files.createTempDirectory("part-wh").toString
    val cat = CatalogFactory.build(CatalogConfig("hadoop", "pwh",
      Map("warehouse" -> wh))).asInstanceOf[HadoopFsCatalog]
    try {
      val ev = graft.Tables(spark, "/root/testdata/sf0.001", "events")
        .withColumn("day", to_date(col("ts")))
      CatalogIO.createTable(spark, cat, TableRef.parse("db.events_p"), ev,
        partitionBy = Seq("day"))
      assert(CatalogIO.readLayout(
        cat.loadTableMetadataLocation(TableRef.parse("db.events_p")))
        .partitionColumns == Seq("day"))

      spark.conf.set("spark.sql.catalog.gpart", classOf[GraftSparkCatalog].getName)
      spark.conf.set("spark.sql.catalog.gpart.type", "hadoop")
      spark.conf.set("spark.sql.catalog.gpart.warehouse", wh)
      val oneDay = ev.groupBy("day").count().orderBy("day").collect().head
      val q = spark.sql(
        s"SELECT * FROM gpart.db.events_p WHERE day = DATE'${oneDay.getDate(0)}'")
      assert(q.count() == oneDay.getLong(1))
      // the day filter must prune partition directories at the scan, not
      // surface as a post-scan data filter
      val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("day"), scan)
    } finally cat.close()
  }

  test("IVF probe over a label-partitioned embedding layout scans only probed lists") {
    // the s02 scale shape: embeddings written partitioned by the IVF list
    // key (label), so probing nprobe lists is partition pruning, not a
    // full scan — at 100 TB the probe cost tracks the probed lists only
    import graft.catalog.{CatalogConfig, CatalogFactory, CatalogIO, HadoopFsCatalog, TableRef}
    val wh = Files.createTempDirectory("ivf-wh").toString
    val cat = CatalogFactory.build(CatalogConfig("hadoop", "ivfwh",
      Map("warehouse" -> wh))).asInstanceOf[HadoopFsCatalog]
    try {
      val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      CatalogIO.createTable(spark, cat, TableRef.parse("db.emb_p"), emb,
        partitionBy = Seq("label"))
      val labels = emb.select("label").distinct().count()
      assert(labels > 3, s"fixture needs several lists, got $labels")
      val dataDir = CatalogIO.readDataLocation(
        cat.loadTableMetadataLocation(TableRef.parse("db.emb_p")))
      // probe 2 of the lists (in annIvf these come from the centroid
      // ranking — metadata-sized, collected to drive static pruning)
      val probed = spark.read.parquet(dataDir)
        .filter(col("label").isin(0, 1))
      val scan = probed.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("label"), scan)
      // pruning is real: only the probed lists' files are read
      val probedFiles = probed.select(input_file_name()).distinct().count()
      val allFiles = spark.read.parquet(dataDir)
        .select(input_file_name()).distinct().count()
      assert(probedFiles < allFiles,
        s"probe read $probedFiles of $allFiles files — no pruning")

      // and the OPERATOR itself embodies that shape: annIvf over the
      // label-partitioned layout plans its probe scan with partition
      // filters on the probed lists — the 100 TB probe cost is the
      // nprobe directories, not the corpus
      import graft.operators.Similarity
      val ann = Similarity.annIvfOver(spark,
        () => spark.read.parquet(dataDir),
        queryFilter = col("vec_id") < 2, k = 3, nprobe = 2)
      val annScan = ann.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).filter(_.contains("Scan parquet"))
      assert(annScan.nonEmpty, ann.queryExecution.executedPlan.toString)
      assert(annScan.exists(s =>
        s.contains("PartitionFilters") && s.contains("label")),
        annScan.mkString("\n"))
      assert(ann.count() > 0)
    } finally cat.close()
  }

  test("attachAsSessionTable registers a partitioned layout (partitions recovered)") {
    import graft.catalog.{CatalogConfig, CatalogFactory, CatalogIO, HadoopFsCatalog, TableRef}
    val wh = Files.createTempDirectory("attach-wh").toString
    val cat = CatalogFactory.build(CatalogConfig("hadoop", "awh",
      Map("warehouse" -> wh))).asInstanceOf[HadoopFsCatalog]
    try {
      val ev = graft.Tables(spark, "/root/testdata/sf0.001", "events")
        .withColumn("day", to_date(col("ts")))
      CatalogIO.createTable(spark, cat, TableRef.parse("db.ev_att"), ev,
        partitionBy = Seq("day"))
      CatalogIO.attachAsSessionTable(spark, cat, TableRef.parse("db.ev_att"),
        "graft_att_events")
      // MSCK recovered every partition: full count matches the source
      assert(spark.table("graft_att_events").count() == ev.count())
      // and a day filter prunes through the session-table read path
      val oneDay = ev.groupBy("day").count().orderBy("day").collect().head
      val q = spark.table("graft_att_events")
        .filter(col("day") === oneDay.getDate(0))
      assert(q.count() == oneDay.getLong(1))
      val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") && scan.contains("day"), scan)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_att_events")
      cat.close()
    }
  }
}
