package graft.catalog

import java.nio.file.Files

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** A table whose latest version predates file manifests (a whole-
  * directory snapshot, the `pre_manifest.json` golden) refuses every
  * manifest commit with the same message, before anything is written. */
class PreManifestSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("manifest commits on a pre-manifest version refuse and leave the pointer") {
    import spark.implicits._
    val hc = new HadoopFsCatalog("premanifest",
      Files.createTempDirectory("premanifest-wh").toString)
    hc.createNamespace(Namespace.of("db"))
    val ref = TableRef.parse("db.t")
    val rows = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    CatalogIO.createTable(spark, hc, ref, rows)
    // publish the golden as v2, the table's latest version
    val v2 = new Path(hc.tableDir(ref), "metadata/v2.metadata.json")
    val golden = getClass.getResourceAsStream("/metadata/pre_manifest.json")
    val out = hc.fileSystem.create(v2, false)
    try golden.transferTo(out) finally { out.close(); golden.close() }
    hc.replaceTablePointer(ref, v2.toString)
    val pointer = hc.loadTableMetadataLocation(ref)
    assert(CatalogIO.readLayout(pointer).dataFiles.isEmpty)

    def refuses(face: String)(commit: => Any): Unit = {
      val e = intercept[UnsupportedOperationException](commit)
      assert(e.getMessage.contains("predates file manifests"), s"$face: ${e.getMessage}")
      assert(hc.loadTableMetadataLocation(ref) == pointer, s"$face moved the pointer")
      assert(hc.listTableVersions(ref) == Seq(1, 2), s"$face wrote a version")
    }
    refuses("commitAppend")(CatalogIO.commitAppend(spark, hc, ref, rows))
    refuses("commitMergeOnRead")(CatalogIO.commitMergeOnRead(spark, hc, ref,
      newRows = None, deleteTuples = Some(rows.select("k"))))
    refuses("commitManifestFilter")(CatalogIO.commitManifestFilter(hc, ref,
      expectedBase = None, keepFile = _ => false))
    val staging = new Path(Files.createTempDirectory("premanifest-st").toString)
    refuses("commitStagedManifestReplace")(CatalogIO.commitStagedManifestReplace(
      hc, ref, staging, "k BIGINT, v STRING", expectedBase = Some(2),
      keepFile = _ => false, stagedFiles = Some(Nil)))
    refuses("compactFiles")(CatalogIO.compactFiles(spark, hc, ref, (_, _) => true))
  }
}
