package graft.catalog

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Incremental append reads between committed versions (round 10;
  * CatalogIO.readAppendsBetween — the batch change-capture face of the
  * manifest format). Contract: the result is EXACTLY the rows added in
  * the range, cost is O(added files), and any non-append history in the
  * range refuses loudly instead of misstating the change set. */
class IncrementalReadSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshCatalog(): (HadoopFsCatalog, String) = {
    val wh = Files.createTempDirectory("incr-wh").toString
    val hc = new HadoopFsCatalog("incr", wh)
    hc.createNamespace(Namespace(Vector("db")))
    (hc, wh)
  }

  private def batch(lo: Int, n: Int): DataFrame =
    spark.sql(s"SELECT id AS k, concat('v', id) AS s FROM range($lo, ${lo + n})")

  private def keys(df: DataFrame): Seq[Long] =
    df.select("k").collect().map(_.getLong(0)).sorted.toSeq

  test("the manifest diff serves exactly the rows each append committed") {
    val (hc, wh) = freshCatalog()
    val ref = TableRef.parse("db.t")
    CatalogIO.createTable(spark, hc, ref, batch(0, 10))       // v1
    CatalogIO.commitAppend(spark, hc, ref, batch(100, 5))     // v2
    CatalogIO.commitAppend(spark, hc, ref, batch(200, 7))     // v3
    assert(keys(CatalogIO.readAppendsBetween(spark, hc, ref, 1, 2)) ==
      (100L until 105L))
    assert(keys(CatalogIO.readAppendsBetween(spark, hc, ref, 2, 3)) ==
      (200L until 207L))
    assert(keys(CatalogIO.readAppendsBetween(spark, hc, ref, 1, 3)) ==
      ((100L until 105L) ++ (200L until 207L)))
    // empty range: zero rows, full schema
    val none = CatalogIO.readAppendsBetween(spark, hc, ref, 3, 3)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "s"))
    // cursor face: everything since v1, new cursor = latest
    val (df, cursor) = CatalogIO.readAppendsSince(spark, hc, ref, 1)
    assert(cursor == 3 && keys(df).size == 12)
  }

  test("a metadata-only commit in range adds no rows") {
    val (hc, wh) = freshCatalog()
    val ref = TableRef.parse("db.t")
    CatalogIO.createTable(spark, hc, ref, batch(0, 10))                  // v1
    CatalogIO.commitMetadataOnly(hc, ref, CatalogIO.readLayout(
      hc.metadataLocationForVersion(ref, 1)).copy(
      properties = Map("note" -> "metadata-only")))                      // v2
    assert(CatalogIO.readAppendsBetween(spark, hc, ref, 1, 2).count() == 0)
  }

  test("appends written before an in-range rename serve the CURRENT names") {
    val (hc, wh) = freshCatalog()
    val ref = TableRef.parse("db.t")
    CatalogIO.createTable(spark, hc, ref, batch(0, 10))       // v1
    CatalogIO.commitAppend(spark, hc, ref, batch(100, 5))     // v2 (old names)
    // rename k -> kk through the DSv2 face (metadata-only, seq 3)
    val cat = s"ir${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN k TO kk")  // v3
    val incr = CatalogIO.readAppendsBetween(spark, hc, ref, 1, 3)
    assert(incr.columns.toSeq == Seq("kk", "s"))
    assert(incr.select("kk").collect().map(_.getLong(0)).sorted.toSeq ==
      (100L until 105L))
  }

  test("non-append history refuses: overwrite, manifest shrink, MOR deletes") {
    val (hc, wh) = freshCatalog()
    val ref = TableRef.parse("db.t")
    CatalogIO.createTable(spark, hc, ref, batch(0, 10),
      partitionBy = Seq("s"))                                  // v1
    CatalogIO.commitAppend(spark, hc, ref, batch(100, 3))     // v2
    // file-level DELETE (manifest shrink) — drop one partition's files
    CatalogIO.commitManifestFilter(hc, ref, expectedBase = None,
      keepFile = f => !f.contains("s=v100"))                   // v3
    val shrink = intercept[UnsupportedOperationException](
      CatalogIO.readAppendsBetween(spark, hc, ref, 2, 3))
    assert(shrink.getMessage.contains("manifest shrank"))
    // ...but a range that ends BEFORE the shrink still reads fine
    assert(CatalogIO.readAppendsBetween(spark, hc, ref, 1, 2).count() == 3)

    // merge-on-read delete file in range
    graft.sources.MergeOps.deleteMatchedMergeOnRead(spark, hc, ref,
      spark.sql("SELECT CAST(3 AS BIGINT) AS k"), Seq("k"))    // v4
    val mor = intercept[UnsupportedOperationException](
      CatalogIO.readAppendsBetween(spark, hc, ref, 3, 4))
    assert(mor.getMessage.contains("row-level delete"))

    // full snapshot replace
    CatalogIO.commitVersion(spark, hc, ref, batch(500, 4))     // v5
    val replaced = intercept[UnsupportedOperationException](
      CatalogIO.readAppendsBetween(spark, hc, ref, 4, 5))
    assert(replaced.getMessage.contains("segment was replaced"))
    // re-sync: full read at v5, then incremental resumes
    assert(keys(CatalogIO.readTableVersion(spark, hc, ref, 5)) ==
      (500L until 504L))
    CatalogIO.commitAppend(spark, hc, ref, batch(600, 2))      // v6
    assert(keys(CatalogIO.readAppendsBetween(spark, hc, ref, 5, 6)) ==
      (600L until 602L))
  }

  test("deletes that PRE-DATE the range do not poison later appends") {
    val (hc, wh) = freshCatalog()
    val ref = TableRef.parse("db.t")
    CatalogIO.createTable(spark, hc, ref, batch(0, 10))        // v1
    graft.sources.MergeOps.deleteMatchedMergeOnRead(spark, hc, ref,
      spark.sql("SELECT CAST(1 AS BIGINT) AS k"), Seq("k"))    // v2 (delete)
    CatalogIO.commitAppend(spark, hc, ref, batch(100, 4))      // v3
    // the v2 delete is outside (2,3]; the diff is exactly v3's rows —
    // including a re-insert of the deleted key, which stays visible
    CatalogIO.commitAppend(spark, hc, ref,
      spark.sql("SELECT CAST(1 AS BIGINT) AS k, 'back' AS s")) // v4
    assert(keys(CatalogIO.readAppendsBetween(spark, hc, ref, 2, 4)) ==
      (Seq(1L) ++ (100L until 104L)))
  }

  test("skipRewrites: appends across compaction/clustering serve exactly once; overwrite still refuses") {
    val (hc, _) = freshCatalog()
    val ref = TableRef.parse("db.sk")
    CatalogIO.createTable(spark, hc, ref, batch(0, 10))       // v1
    CatalogIO.commitAppend(spark, hc, ref, batch(100, 5))     // v2
    assert(CatalogIO.compactTable(spark, hc, ref).compacted)  // v3: replace
    CatalogIO.commitAppend(spark, hc, ref, batch(200, 7))     // v4
    assert(CatalogIO.clusterTable(spark, hc, ref, Seq("k")).compacted) // v5
    CatalogIO.commitAppend(spark, hc, ref, batch(300, 2))     // v6
    // the plain face refuses the range (segment replaced mid-range)
    intercept[UnsupportedOperationException](
      CatalogIO.readAppendsBetween(spark, hc, ref, 1, 6).collect())
    // skipRewrites serves ONLY the appended rows — the compaction's
    // rewritten copies of v1/v2 rows must NOT reappear
    assert(keys(CatalogIO.readAppendsBetween(spark, hc, ref, 1, 6,
      skipRewrites = true)) ==
      ((100L until 105L) ++ (200L until 207L) ++ (300L until 302L)))
    // a range that is only maintenance = an empty change set
    assert(CatalogIO.readAppendsBetween(spark, hc, ref, 4, 5,
      skipRewrites = true).count() == 0)
    // a genuine overwrite refuses even with the flag
    CatalogIO.commitVersion(spark, hc, ref, batch(0, 1))      // v7: overwrite
    val e = intercept[UnsupportedOperationException](
      CatalogIO.readAppendsBetween(spark, hc, ref, 6, 7,
        skipRewrites = true).collect())
    assert(e.getMessage.contains("overwrite"))
  }
}
