package graft.sources

import java.nio.file.Files

import graft.TestSpark
import graft.catalog.{CatalogIO, HadoopFsCatalog, TableRef}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Positional delete files (round 11 — Iceberg's v2 position deletes
  * re-expressed): DELETE/UPDATE WHERE commit O(matched) row-address
  * parquets instead of rewriting files or hiding whole key groups.
  * Scans (DSv2 SQL and the DataFrame face) apply the addresses; the
  * kill-proof is always a full-table row comparison against the
  * expected surviving set. */
class PositionalDeleteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshCatalog(): (String, HadoopFsCatalog) = {
    val wh = Files.createTempDirectory("pos-wh").toString
    val name = s"pd${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $name.db")
    (name, new HadoopFsCatalog(name, wh))
  }

  /** 3-file table: k in [0,300), s = "x<k>", v = k * 1.5. */
  private def fixture(): (String, HadoopFsCatalog) = {
    val (cat, hc) = freshCatalog()
    def slice(lo: Int) =
      s"SELECT /*+ COALESCE(1) */ id AS k, concat('x', id) AS s, id * 1.5d AS v " +
        s"FROM range($lo, ${lo + 100})"
    spark.sql(s"CREATE TABLE $cat.db.t USING parquet AS ${slice(0)}")
    spark.sql(s"INSERT INTO $cat.db.t ${slice(100)}")
    spark.sql(s"INSERT INTO $cat.db.t ${slice(200)}")
    (cat, hc)
  }

  private def ks(cat: String, where: String = "true"): Seq[Long] =
    spark.sql(s"SELECT k FROM $cat.db.t WHERE $where")
      .collect().map(_.getLong(0)).sorted.toSeq

  private def layoutOf(hc: HadoopFsCatalog): CatalogIO.TableLayout =
    CatalogIO.readLayout(hc.loadTableMetadataLocation(TableRef.parse("db.t")))

  test("DELETE WHERE commits one pos-delete file; scans hide exactly the matches") {
    val (cat, hc) = fixture()
    val before = layoutOf(hc)
    MergeOps.deleteWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
      col("k") % 10 === 3 && col("k") < 150)
    val after = layoutOf(hc)
    // O(matched) commit shape: data files untouched, ONE pos delete
    assert(after.dataFilePaths.get == before.dataFilePaths.get)
    assert(after.posDeleteFiles.size == 1 && after.eqDeleteFiles.isEmpty)
    // targets recorded: the matched rows live in the first two slices
    assert(after.posDeleteFiles.head.targets.nonEmpty)
    val expected = (0L until 300L).filterNot(k => k % 10 == 3 && k < 150)
    assert(ks(cat) == expected)
    // filters on top still correct (they are NOT pushed while pos live)
    assert(ks(cat, "k < 50") == expected.filter(_ < 50))
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.t").collect()(0).getDouble(0)
      == expected.map(_ * 1.5).sum)
    // time travel to the pre-delete snapshot still sees every row
    val preVersion = hc.listTableVersions(TableRef.parse("db.t")).takeRight(2).head
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF $preVersion")
      .collect()(0).getLong(0) == 300)
  }

  test("UPDATE WHERE hides old copies and appends rewritten rows") {
    val (cat, hc) = fixture()
    val filesBefore = layoutOf(hc).dataFilePaths.get
    MergeOps.updateWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
      col("k") >= 295, Map("s" -> lit("updated"), "v" -> (col("v") + 1000)))
    val after = layoutOf(hc)
    assert(after.posDeleteFiles.size == 1)
    assert(after.dataFilePaths.get.size > filesBefore.size, "rewritten copies appended")
    val rows = spark.sql(s"SELECT k, s, v FROM $cat.db.t WHERE k >= 290 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == (290L to 294L).map(k => (k, s"x$k", k * 1.5)) ++
      (295L to 299L).map(k => (k, "updated", k * 1.5 + 1000)))
    assert(ks(cat).size == 300) // count preserved by an update
  }

  test("equality and positional deletes compose on the same table") {
    val (cat, hc) = fixture()
    // eq-delete keys 10..19, then re-insert 15 (seq-gated: stays visible)
    MergeOps.deleteMatchedMergeOnRead(spark, hc, TableRef.parse("db.t"),
      spark.range(10, 20).selectExpr("id AS k"), Seq("k"))
    spark.sql(s"INSERT INTO $cat.db.t SELECT 15L, 'back', 0d")
    // pos-delete every k in [200, 210)
    MergeOps.deleteWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
      col("k") >= 200 && col("k") < 210)
    val after = layoutOf(hc)
    assert(after.eqDeleteFiles.size == 1 && after.posDeleteFiles.size == 1)
    val expected = ((0L until 300L).filterNot(k => k >= 10 && k < 20)
      .filterNot(k => k >= 200 && k < 210) :+ 15L).sorted
    assert(ks(cat) == expected)
    // the DataFrame face agrees with SQL
    val apiDf = CatalogIO.readTable(spark, hc, TableRef.parse("db.t"))
    val api = apiDf.select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(api == expected)
    TestSpark.assertSharedScan(apiDf)
    assert(apiDf.collect().map(_.mkString("|")).sorted.toSeq ==
      spark.table(s"$cat.db.t").collect().map(_.mkString("|")).sorted.toSeq)
  }

  test("a pos delete can address rows already matched by predicate on one file only") {
    val (cat, hc) = fixture()
    // matches only rows in the third slice: targets must name ONE file
    MergeOps.deleteWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
      col("k") >= 250)
    val d = layoutOf(hc).posDeleteFiles.head
    assert(d.targets.size == 1, s"expected a single target, got ${d.targets}")
    assert(ks(cat) == (0L until 250L))
  }

  test("no matches = no-op commit; address overflow refuses") {
    val (cat, hc) = fixture()
    val versions = hc.listTableVersions(TableRef.parse("db.t"))
    MergeOps.deleteWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
      col("k") > 10000)
    assert(hc.listTableVersions(TableRef.parse("db.t")) == versions,
      "a no-match delete must not commit a version")
    spark.conf.set("spark.graft.mor.maxDeleteTuples", "5")
    try {
      val e = intercept[IllegalStateException](
        MergeOps.deleteWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
          col("k") < 10))
      assert(e.getMessage.contains("maxDeleteTuples"))
      assert(hc.listTableVersions(TableRef.parse("db.t")) == versions)
    } finally spark.conf.unset("spark.graft.mor.maxDeleteTuples")
    assert(ks(cat).size == 300)
  }

  test("compaction materializes positional deletes away and restores pushdown") {
    val (cat, hc) = fixture()
    MergeOps.deleteWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
      col("k") % 7 === 0)
    val expected = (0L until 300L).filterNot(_ % 7 == 0)
    assert(ks(cat) == expected)
    CatalogIO.compactTable(spark, hc, TableRef.parse("db.t"))
    val after = layoutOf(hc)
    assert(after.deleteFiles.isEmpty, "compaction must clear delete files")
    assert(ks(cat) == expected, "row set unchanged across compaction")
  }

  test("positional deletes past the per-file threshold degrade: SQL, library " +
      "and compaction all read the post-delete rows") {
    val (cat, hc) = fixture()
    val ref = TableRef.parse("db.t")
    // 50 addresses into the first file, committed under the default
    // threshold; the reads below run with a per-file threshold of 10
    MergeOps.deleteWhereMergeOnRead(spark, hc, ref,
      col("k") % 2 === 0 && col("k") < 100)
    val expected = (0L until 300L).filterNot(k => k % 2 == 0 && k < 100)
    spark.conf.set("spark.graft.mor.maxDeleteTuples", "10")
    try {
      assert(ks(cat) == expected)
      assert(CatalogIO.readTable(spark, hc, ref).select("k").collect()
        .map(_.getLong(0)).sorted.toSeq == expected)
      assert(CatalogIO.compactTable(spark, hc, ref).compacted)
      assert(layoutOf(hc).deleteFiles.isEmpty)
      assert(ks(cat) == expected, "row set unchanged across compaction")
    } finally spark.conf.unset("spark.graft.mor.maxDeleteTuples")
  }

  test("positional deletes survive later appends and eq deletes (address stability)") {
    val (cat, hc) = fixture()
    MergeOps.deleteWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
      col("k") === 42)
    spark.sql(s"INSERT INTO $cat.db.t SELECT 42L, 'again', 0d")
    MergeOps.deleteMatchedMergeOnRead(spark, hc, TableRef.parse("db.t"),
      spark.sql("SELECT 7L AS k"), Seq("k"))
    // 42 deleted positionally then re-inserted (new file: unaddressed by
    // the old delete); 7 eq-deleted — net: everything but 7, 42 exactly once
    assert(ks(cat) == (0L until 300L).filterNot(_ == 7))
    assert(ks(cat).count(_ == 42L) == 1, "re-inserted 42 visible exactly once")
  }

  test("UPDATE assignments all evaluate against the OLD row (swap semantics)") {
    val (cat, hc) = fixture()
    // cross-referencing assignments: s reads old v, v reads old s's
    // length — a sequential fold would feed each the other's NEW value
    MergeOps.updateWhereMergeOnRead(spark, hc, TableRef.parse("db.t"),
      col("k") === 7,
      Map("s" -> concat(lit("was-"), col("v").cast("string")),
        "v" -> (length(col("s")) + col("v"))))
    val r = spark.sql(s"SELECT s, v FROM $cat.db.t WHERE k = 7").collect()(0)
    assert(r.getString(0) == "was-10.5", s"s should read OLD v: ${r.getString(0)}")
    // old s = "x7" (length 2), old v = 10.5 -> new v = 12.5
    assert(r.getDouble(1) == 12.5, s"v should read OLD s: ${r.getDouble(1)}")
  }

  test("partition pruning survives live positional deletes (only data pushdown is withheld)") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.pt USING parquet PARTITIONED BY (g) AS " +
      "SELECT /*+ REPARTITION(1) */ id AS k, CAST(id % 4 AS STRING) AS g FROM range(0, 400)")
    MergeOps.deleteWhereMergeOnRead(spark, hc, TableRef.parse("db.pt"),
      col("k") === 5)
    val df = spark.sql(s"SELECT k FROM $cat.db.pt WHERE g = '2'")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 400L).filter(_ % 4 == 2))
    // the scan plans ONLY partition g=2's files despite the live delete
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val planned = scan.scan.toBatch.planInputPartitions().flatMap {
      case m: MorFilePartition => m.files.files
      case f: org.apache.spark.sql.execution.datasources.FilePartition => f.files
    }
    assert(planned.nonEmpty &&
      planned.forall(_.filePath.toString.contains("g=2")),
      s"only g=2 files should plan: ${planned.map(_.filePath).toSeq}")
  }
}
