package graft.sources

import java.nio.file.Files

import graft.TestSpark
import graft.catalog.{CatalogIO, HadoopFsCatalog, TableRef}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.LayoutColumns._

/** Manifest-planned scans (round 11, ManifestScan.scala): split
  * planning, partition discovery and size statistics served purely from
  * the manifest's (path, size) entries — zero driver-side filesystem
  * metadata calls on data files at plan time. Spark's own
  * `InMemoryFileIndex` re-stats every path it is handed (O(files)
  * object-store HEADs per query planning at 100 TB); the kill-switch
  * `spark.graft.manifest.planning=false` restores that path and is the
  * oracle for every equivalence test here. */
class ManifestScanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshCatalog(): (String, HadoopFsCatalog) = {
    val wh = Files.createTempDirectory("mfs-wh").toString
    val name = s"mf${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $name.db")
    (name, new HadoopFsCatalog(name, wh))
  }

  private def withPlanning[A](on: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.manifest.planning", on.toString)
    try body finally spark.conf.unset("spark.graft.manifest.planning")
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec in ${df.queryExecution.sparkPlan}"))

  test("manifest-planned results and schema match the listing-planned oracle") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.u USING parquet AS " +
      "SELECT id AS k, concat('v', id) AS s FROM range(0, 5000)")
    spark.sql(s"INSERT INTO $cat.db.u SELECT id, concat('v', id) FROM range(5000, 9000)")
    spark.sql(s"CREATE TABLE $cat.db.p USING parquet PARTITIONED BY (g) AS " +
      "SELECT id AS k, CAST(id % 4 AS STRING) AS g FROM range(0, 4000)")
    for (t <- Seq("u", "p"); q <- Seq(
        s"SELECT * FROM $cat.db.$t",
        s"SELECT * FROM $cat.db.$t WHERE k BETWEEN 100 AND 4200")) {
      val manifest = withPlanning(on = true)(spark.sql(q))
      val listing = withPlanning(on = false)(spark.sql(q))
      assert(manifest.schema == listing.schema, s"schema diverged for $q")
      assert(manifest.collect().map(_.mkString("|")).sorted.toSeq ==
        listing.collect().map(_.mkString("|")).sorted.toSeq,
        s"rows diverged for $q")
    }
  }

  test("planning succeeds with the data tree GONE — the zero-filesystem proof") {
    // any getFileStatus/listStatus on a data file would throw here; the
    // manifest is the only surviving source of paths and sizes
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.t USING parquet AS " +
      "SELECT id AS k, concat('x', id) AS s FROM range(0, 20000)")
    val layout = CatalogIO.readLayout(hc.loadTableMetadataLocation(TableRef.parse("db.t")))
    val sized = layout.dataFilePaths.get.zip(layout.dataFileSizes.get)
    assert(sized.nonEmpty && sized.forall(_._2 > 0))
    val df = withPlanning(on = true)(spark.table(s"$cat.db.t"))
    val scan = scanOf(df)
    val dataPath = new org.apache.hadoop.fs.Path(layout.dataLocation)
    val fs = dataPath.getFileSystem(new org.apache.hadoop.conf.Configuration())
    assert(fs.delete(dataPath, true), "data tree should exist before the delete")
    val planned = scan.scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[FilePartition].files)
    // every manifest entry is planned, with the manifest's byte length
    val byName = planned.map(f =>
      new org.apache.hadoop.fs.Path(f.filePath.toString).getName ->
        (f.start, f.length)).groupBy(_._1)
    sized.foreach { case (rel, size) =>
      val name = new org.apache.hadoop.fs.Path(rel).getName
      val slices = byName.getOrElse(name, fail(s"$rel not planned")).map(_._2)
      assert(slices.map(_._2).sum == size,
        s"slices of $rel should cover its manifest size $size: $slices")
    }
  }

  test("partition pruning answers from manifest-parsed partition values") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.pp USING parquet PARTITIONED BY (g) AS " +
      "SELECT /*+ REPARTITION(1) */ id AS k, CAST(id % 4 AS STRING) AS g FROM range(0, 4000)")
    val df = withPlanning(on = true)(
      spark.sql(s"SELECT k FROM $cat.db.pp WHERE g = '2'"))
    assert(df.count() == 1000)
    val planned = scanOf(df).scan.toBatch.planInputPartitions()
      .flatMap(_.asInstanceOf[FilePartition].files)
    assert(planned.nonEmpty &&
      planned.forall(_.filePath.toString.contains("g=2")),
      s"only partition g=2 should be planned: ${planned.map(_.filePath).toSeq}")
  }

  test("null partition values (__HIVE_DEFAULT_PARTITION__) round-trip") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.np USING parquet PARTITIONED BY (g) AS " +
      "SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'a' ELSE NULL END AS g " +
      "FROM range(0, 100)")
    val got = withPlanning(on = true)(
      spark.sql(s"SELECT g, count(*) AS n FROM $cat.db.np GROUP BY g"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toMap
    assert(got == Map(Some("a") -> 50L, None -> 50L))
  }

  test("stats-based file skipping composes with manifest planning") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.sp USING parquet AS " +
      "SELECT /*+ COALESCE(1) */ id AS k FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $cat.db.sp SELECT /*+ COALESCE(1) */ id FROM range(1000, 2000)")
    spark.conf.set("spark.graft.stats.pruning", "true")
    withPlanning(on = true) {
      StatsPruning.lastPlanned = None
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.sp WHERE k >= 1500")
        .collect()(0).getLong(0) == 500)
      assert(StatsPruning.lastPlanned.contains((1, 2)),
        s"stats pruning should skip 1 of 2 files: ${StatsPruning.lastPlanned}")
    }
  }

  test("schema evolution reads identically through manifest and listing planning") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.ev USING parquet AS " +
      "SELECT CAST(id AS INT) AS k, concat('v', id) AS s FROM range(0, 1000)")
    // metadata-only evolution: files predate every change
    spark.sql(s"ALTER TABLE $cat.db.ev ADD COLUMN extra DOUBLE")
    spark.sql(s"ALTER TABLE $cat.db.ev ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.db.ev SELECT id, concat('n', id), id * 0.5 " +
      "FROM range(1000, 1100)")
    spark.sql(s"ALTER TABLE $cat.db.ev DROP COLUMN s")
    val q = s"SELECT * FROM $cat.db.ev"
    val manifest = withPlanning(on = true)(spark.sql(q))
    val listing = withPlanning(on = false)(spark.sql(q))
    assert(manifest.schema == listing.schema)
    assert(manifest.collect().map(_.mkString("|")).sorted.toSeq ==
      listing.collect().map(_.mkString("|")).sorted.toSeq)
    // old files serve the added column as null, new files carry values
    assert(withPlanning(on = true)(
      spark.sql(s"SELECT count(*) FROM $cat.db.ev WHERE extra IS NULL"))
      .collect()(0).getLong(0) == 1000)
  }

  test("bucketed tables keep shuffle-free SPJ over manifest planning") {
    val (cat, _) = freshCatalog()
    for (t <- Seq("b1", "b2")) {
      spark.sql(s"CREATE TABLE $cat.db.$t (k BIGINT, v STRING) USING parquet " +
        "CLUSTERED BY (k) INTO 4 BUCKETS")
      spark.sql(s"INSERT INTO $cat.db.$t SELECT id, concat('$t', id) FROM range(0, 2000)")
    }
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try withPlanning(on = true) {
      val j = spark.sql(
        s"SELECT a.k FROM $cat.db.b1 a JOIN $cat.db.b2 b ON a.k = b.k")
      assert(j.count() == 2000)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"SPJ should remove the shuffle over manifest planning:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
