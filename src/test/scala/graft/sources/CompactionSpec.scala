package graft.sources

import java.nio.file.Files

import graft.TestSpark
import graft.catalog.{CatalogIO, HadoopFsCatalog, TableRef}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `CatalogIO.compactTable` — the small-files maintenance face of the
  * manifest format: many appends accumulate many small files; compaction
  * rewrites the current snapshot into the layout's minimum file count as
  * an ordinary versioned commit (history intact, fence preserved,
  * expireVersions reclaims the old segments afterwards). */
class CompactionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def freshCatalog(): (String, HadoopFsCatalog) = {
    val wh = Files.createTempDirectory("compact-wh").toString
    val name = s"cw${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    (name, new HadoopFsCatalog(name, wh))
  }

  test("compaction collapses an append-heavy manifest; history and content are intact") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) USING parquet")
    (1 to 5).foreach(i => spark.sql(s"INSERT INTO $cat.db.t VALUES ($i, 'r$i')"))
    val ref = TableRef.parse("db.t")
    val before = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    assert(before.dataFilePaths.get.size >= 5) // one+ file per append
    val preRows = spark.table(s"$cat.db.t").collect().map(_.mkString("|")).sorted.toSeq
    val preVersions = hc.listTableVersions(ref)

    val res = CatalogIO.compactTable(spark, hc, ref)
    assert(res.compacted && res.fromFiles >= 5 && res.toFiles == 1)
    val after = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    // fresh segment, manifest lists only the rewritten files
    assert(after.dataLocation != before.dataLocation)
    assert(after.absoluteDataFiles.get.forall(_.startsWith(after.dataLocation)))
    assert(spark.table(s"$cat.db.t").collect().map(_.mkString("|")).sorted.toSeq
      == preRows)
    // one new version; the pre-compaction snapshot still time-travels
    assert(hc.listTableVersions(ref) == preVersions :+ (preVersions.last + 1))
    assert(spark.sql(s"SELECT * FROM $cat.db.t VERSION AS OF ${preVersions.last}")
      .collect().map(_.mkString("|")).sorted.toSeq == preRows)
    // expiry reclaims the append-era segment; the compacted current survives
    val exp = CatalogIO.expireVersions(hc, ref, keepLast = 1)
    assert(exp.deletedDataDirs >= 1)
    assert(spark.table(s"$cat.db.t").collect().map(_.mkString("|")).sorted.toSeq
      == preRows)
  }

  test("a compact manifest is a no-op: no version churn") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.one USING parquet AS SELECT 1 AS k")
    val ref = TableRef.parse("db.one")
    val versions = hc.listTableVersions(ref)
    val res = CatalogIO.compactTable(spark, hc, ref)
    assert(!res.compacted && res.fromFiles == res.toFiles)
    assert(hc.listTableVersions(ref) == versions)
  }

  test("bucketed compaction lands one file per bucket and keeps SPJ shuffle-free") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(
      s"""CREATE TABLE $cat.db.o USING parquet
         |PARTITIONED BY (bucket(4, o_orderkey)) AS
         |SELECT o_orderkey, o_orderpriority
         |FROM parquet.`$dir/orders.parquet`""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.db.l USING parquet
         |PARTITIONED BY (bucket(4, l_orderkey)) AS
         |SELECT l_orderkey, l_quantity
         |FROM parquet.`$dir/lineitem.parquet`""".stripMargin)
    // fragment the orders table with bucketed appends
    spark.sql(s"INSERT INTO $cat.db.o VALUES (999999, '1-URGENT')")
    spark.sql(s"INSERT INTO $cat.db.o VALUES (999998, '2-HIGH')")
    val ref = TableRef.parse("db.o")
    val preRows = spark.table(s"$cat.db.o").count()
    val frag = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    assert(frag.dataFilePaths.get.size > 4)

    val res = CatalogIO.compactTable(spark, hc, ref)
    assert(res.compacted && res.toFiles == 4) // exactly one file per bucket
    assert(spark.table(s"$cat.db.o").count() == preRows)
    val after = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    assert(after.numBuckets.contains(4) && after.bucketColumns == Seq("o_orderkey"))

    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(s"$cat.db.o")
        .join(spark.table(s"$cat.db.l"), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
      val plan = joined.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, plan)
      assert(!plan.substring(joinIdx).contains("Exchange hashpartitioning"), plan)
      assert(joined.collect().nonEmpty)
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("identity-partitioned compaction lands one file per partition, pruning intact") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT, part STRING) USING parquet PARTITIONED BY (part)")
    (1 to 3).foreach(i =>
      spark.sql(s"INSERT INTO $cat.db.p VALUES ($i, 'a'), (${i + 10}, 'b')"))
    val ref = TableRef.parse("db.p")
    val res = CatalogIO.compactTable(spark, hc, ref)
    assert(res.compacted && res.fromFiles >= 6 && res.toFiles == 2)
    val after = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    // one file per partition VALUE, each under its own partition dir
    val byDir = after.dataFilePaths.get.groupBy(_.split("/").dropRight(1).mkString("/"))
    assert(byDir.keySet == Set("part=a", "part=b"))
    assert(byDir.values.forall(_.size == 1))
    assert(spark.table(s"$cat.db.p").where(col("part") === "a").count() == 3)
  }


  // ----- incremental (partial) compaction (round 9) -----

  test("compactPartitions rewrites ONLY the selected partition; other files keep identical paths") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.p (k BIGINT, r STRING) USING parquet PARTITIONED BY (r)")
    // two appends per partition -> >=2 files per partition dir
    (1 to 2).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.p VALUES ($i, 'eu'), (${i + 10}, 'us'), (${i + 20}, 'ap')")
    }
    val ref = TableRef.parse("db.p")
    val before = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    val preRows = spark.table(s"$cat.db.p").collect().map(_.mkString("|")).sorted.toSeq
    val untouchedBefore = before.dataFilePaths.get.filterNot(_.startsWith("r=eu"))
    assert(before.dataFilePaths.get.count(_.startsWith("r=eu")) >= 2)

    val res = CatalogIO.compactPartitions(spark, hc, ref, _ == "r=eu")
    assert(res.compacted)

    val after = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    // eu collapsed to one file; us/ap manifest entries are IDENTICAL paths
    assert(after.dataFilePaths.get.count(_.startsWith("r=eu")) == 1)
    assert(after.dataFilePaths.get.filterNot(_.startsWith("r=eu")).sorted ==
      untouchedBefore.sorted)
    // same segment tree (no snapshot rewrite), same rows, history intact
    assert(after.dataLocation == before.dataLocation)
    assert(spark.table(s"$cat.db.p").collect().map(_.mkString("|")).sorted.toSeq == preRows)
    assert(spark.sql(s"SELECT * FROM $cat.db.p VERSION AS OF 3").count() == preRows.size)
  }

  test("compactSmallFiles merges only sub-threshold files; full-size files stay untouched") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    // big base file via CTAS, then several tiny appends
    spark.sql(s"CREATE TABLE $cat.db.t USING parquet AS " +
      s"SELECT o_orderkey AS k, o_totalprice AS v FROM parquet.`$dir/orders.parquet`")
    (1 to 4).foreach(i => spark.sql(s"INSERT INTO $cat.db.t VALUES ($i + 9000000, 1.0)"))
    val ref = TableRef.parse("db.t")
    val before = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    val preRows = spark.table(s"$cat.db.t").count()
    // threshold between the tiny append files and the CTAS file
    val fs = new org.apache.hadoop.fs.Path(before.dataLocation)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val sizes = before.dataFilePaths.get.map(f => f -> fs.getFileStatus(
      new org.apache.hadoop.fs.Path(before.dataLocation + "/" + f)).getLen)
    val big = sizes.maxBy(_._2)
    val res = CatalogIO.compactSmallFiles(spark, hc, ref, smallFileBytes = big._2)
    assert(res.compacted)
    val after = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    // the big file's manifest entry is byte-identical; small ones merged to 1
    assert(after.dataFilePaths.get.contains(big._1))
    assert(after.dataFilePaths.get.size == 2)
    assert(spark.table(s"$cat.db.t").count() == preRows)
  }

  test("partial compaction of a bucketed table merges per bucket; SPJ survives") {
    val (cat, hc) = freshCatalog()
    val ref = TableRef.parse("db.b")
    hc.createNamespace(graft.catalog.Namespace(Vector("db")))
    import spark.implicits._
    CatalogIO.createTable(spark, hc, ref,
      (1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"),
      bucketBy = Some((4, Seq("k"))))
    // two appends fragment each bucket
    (1 to 2).foreach { i =>
      spark.sql(s"INSERT INTO $cat.db.b VALUES (${100 + i}, 'x'), (${200 + i}, 'y')")
    }
    val preRows = spark.table(s"$cat.db.b").collect().map(_.mkString("|")).sorted.toSeq
    val res = CatalogIO.compactSmallFiles(spark, hc, ref, smallFileBytes = 1L << 30)
    assert(res.compacted && res.toFiles <= 4) // at most one file per bucket
    val after = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    // every compacted file carries a bucket id in its name
    assert(after.dataFilePaths.get.forall(f =>
      org.apache.spark.sql.execution.datasources.BucketingUtils
        .getBucketId(f.split('/').last).isDefined))
    assert(spark.table(s"$cat.db.b").collect().map(_.mkString("|")).sorted.toSeq == preRows)
  }

  test("partial compaction refuses while equality deletes are live; no-op below 2 selected files") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) USING parquet")
    spark.sql(s"INSERT INTO $cat.db.t SELECT 1, 'a'") // single task -> one file
    val ref = TableRef.parse("db.t")
    assert(CatalogIO.readLayout(hc.loadTableMetadataLocation(ref)).dataFilePaths.get.size == 1)
    // <=1 selected file: no-op, no version churn
    val versions = hc.listTableVersions(ref)
    val res = CatalogIO.compactPartitions(spark, hc, ref, _ => true)
    assert(!res.compacted && hc.listTableVersions(ref) == versions)
    import spark.implicits._
    MergeOps.deleteMatchedMergeOnRead(spark, hc, ref, Seq(1L).toDF("k"), Seq("k"))
    val ex = intercept[UnsupportedOperationException] {
      CatalogIO.compactSmallFiles(spark, hc, ref)
    }
    assert(ex.getMessage.contains("equality-delete"))
  }
}
