package graft.catalog

import java.nio.file.Files

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.LayoutColumns._

/** Manifest-chunk indirection (round 12 — Iceberg's manifest-list
  * design re-expressed): past a file-count threshold, a version's
  * metadata JSON records references to immutable chunk files instead of
  * inlining the per-file arrays, and a commit carries unchanged chunks
  * forward BY REFERENCE — commit metadata cost O(files in this commit),
  * never O(table). These specs force chunking with a zero threshold and
  * a tiny chunk size so a handful of files exercises the multi-chunk
  * paths. */
class ManifestChunkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private def uid(): String =
    java.util.UUID.randomUUID().toString.take(8).replace("-", "")

  private def withChunking[A](inlineMax: Int, target: Int)(body: => A): A = {
    val (pm, pt) = (CatalogIO.manifestInlineMax, CatalogIO.manifestChunkTarget)
    CatalogIO.manifestInlineMax = inlineMax
    CatalogIO.manifestChunkTarget = target
    try body
    finally { CatalogIO.manifestInlineMax = pm; CatalogIO.manifestChunkTarget = pt }
  }

  private def newCat(): HadoopFsCatalog =
    new HadoopFsCatalog(s"mc${uid()}",
      Files.createTempDirectory("graft-mchunk").toString)

  private def df(ids: Range, parts: Int = 2) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row-$i")).toDF("id", "name").repartition(parts)
  }

  private def metaText(cat: HadoopFsCatalog, ref: TableRef, v: Int): String = {
    val p = new Path(cat.metadataLocationForVersion(ref, v))
    val in = cat.fileSystem.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("chunked metadata round-trips every per-file array and scans identically") {
    withChunking(inlineMax = 0, target = 3) {
      val cat = newCat()
      val ref = TableRef.parse("m.t1")
      cat.createNamespace(Namespace.of("m"))
      CatalogIO.createTable(spark, cat, ref, df(1 to 40, parts = 4))
      CatalogIO.commitAppend(spark, cat, ref, df(41 to 60, parts = 4))
      val v2 = metaText(cat, ref, 2)
      assert(v2.contains("manifestChunkFiles"), "v2 should be chunked")
      assert(!v2.contains("\"dataFiles\""), "chunked versions must not inline the file list")
      val layout = CatalogIO.readLayout(cat.metadataLocationForVersion(ref, 2),
        cat.fileSystem.getConf)
      assert(layout.dataFilePaths.exists(_.size == 8))
      assert(layout.dataFileStats.exists(_.size == 8), "stats round-trip through chunks")
      assert(layout.dataFileSizes.exists(ss => ss.size == 8 && ss.forall(_ > 0)),
        "sizes round-trip through chunks")
      assert(layout.manifestChunks.exists(cs => cs.size >= 3 &&
        cs.map(_.count).sum == 8))
      // 3-entry target: no chunk may exceed it
      assert(layout.manifestChunks.get.forall(_.count <= 3))
      val rows = CatalogIO.readTable(spark, cat, ref)
      assert(rows.count() == 60)
      import org.apache.spark.sql.functions.sum
      assert(rows.agg(sum("id")).head.getLong(0) == (1 to 60).map(_.toLong).sum)
    }
  }

  test("appends carry prior chunks forward by reference — O(new) manifest writes") {
    withChunking(inlineMax = 0, target = 4) {
      val cat = newCat()
      val ref = TableRef.parse("m.t2")
      cat.createNamespace(Namespace.of("m"))
      CatalogIO.createTable(spark, cat, ref, df(1 to 40, parts = 8))
      val conf = cat.fileSystem.getConf
      def chunksAt(v: Int): Seq[CatalogIO.ManifestChunk] =
        CatalogIO.readLayout(cat.metadataLocationForVersion(ref, v), conf)
          .manifestChunks.getOrElse(fail(s"v$v not chunked"))
      val v1 = chunksAt(1)
      CatalogIO.commitAppend(spark, cat, ref, df(41 to 50, parts = 2))
      val v2 = chunksAt(2)
      // every SEALED v1 chunk (at target size) is referenced verbatim by
      // v2 — carried forward, not rewritten. Only an underfull tail may
      // be coalesced into the new entries' chunk.
      val sealedV1 = v1.filter(_.count == 4)
      assert(sealedV1.nonEmpty)
      sealedV1.foreach(c => assert(v2.contains(c),
        s"sealed chunk $c must be reused by reference in v2"))
      // the append added 2 files: new chunk bytes are O(new), so v2 adds
      // at most 2 chunk files beyond the reused set (tail merge + spill)
      assert(v2.filterNot(v1.toSet).map(_.count).sum <= 4 + 2,
        "append rewrote more than tail + new entries")
      // a second append still reuses all sealed v2 chunks
      CatalogIO.commitAppend(spark, cat, ref, df(51 to 60, parts = 2))
      val v3 = chunksAt(3)
      v2.filter(_.count == 4).foreach(c => assert(v3.contains(c)))
      // version JSON stays pointer-sized: O(chunks), not O(files)
      assert(metaText(cat, ref, 3).length < 4000)
      assert(CatalogIO.readTable(spark, cat, ref).count() == 60)
    }
  }

  test("file-level delete rewrites only the punctured chunk; later chunks realign") {
    withChunking(inlineMax = 0, target = 3) {
      val cat = newCat()
      val ref = TableRef.parse("m.t3")
      cat.createNamespace(Namespace.of("m"))
      CatalogIO.createTable(spark, cat, ref, df(1 to 90, parts = 9))
      val conf = cat.fileSystem.getConf
      val v1 = CatalogIO.readLayout(cat.metadataLocationForVersion(ref, 1), conf)
      val files = v1.dataFilePaths.get
      assert(files.size == 9 && v1.manifestChunks.get.size == 3)
      // drop one file from the MIDDLE chunk (index 4)
      val victim = files(4)
      CatalogIO.commitManifestFilter(cat, ref, expectedBase = Some(1),
        keepFile = f => f != victim)
      val v2 = CatalogIO.readLayout(cat.metadataLocationForVersion(ref, 2), conf)
      assert(v2.dataFilePaths.get.size == 8 && !v2.dataFilePaths.get.contains(victim))
      val (c1, c2) = (v1.manifestChunks.get, v2.manifestChunks.get)
      // first chunk untouched → reused; last chunk realigns → reused;
      // middle chunk was punctured → rewritten
      assert(c2.contains(c1.head), "pre-hole chunk must be reused")
      assert(c2.contains(c1.last), "post-hole chunk must realign and be reused")
      assert(!c2.contains(c1(1)), "punctured chunk must be rewritten")
      val rows = CatalogIO.readTable(spark, cat, ref)
      assert(rows.count() < 90 && rows.count() > 0)
      // prior version still reads its own full manifest (time travel)
      assert(CatalogIO.readTableVersion(spark, cat, ref, 1, conf).count() == 90)
    }
  }

  test("inline → chunked migration: history reads across both formats") {
    val cat = newCat()
    val ref = TableRef.parse("m.t4")
    cat.createNamespace(Namespace.of("m"))
    // v1+v2 inline (threshold above file count)
    withChunking(inlineMax = 512, target = 3) {
      CatalogIO.createTable(spark, cat, ref, df(1 to 20, parts = 2))
      CatalogIO.commitAppend(spark, cat, ref, df(21 to 40, parts = 2))
      assert(metaText(cat, ref, 2).contains("\"dataFiles\""))
    }
    // threshold drops (table "grew"): next commit converts to chunked
    withChunking(inlineMax = 0, target = 3) {
      CatalogIO.commitAppend(spark, cat, ref, df(41 to 60, parts = 2))
      val v3 = metaText(cat, ref, 3)
      assert(v3.contains("manifestChunkFiles") && !v3.contains("\"dataFiles\""))
      assert(CatalogIO.readTable(spark, cat, ref).count() == 60)
      // every version of the mixed-format history still reads
      val conf = cat.fileSystem.getConf
      assert(CatalogIO.readTableVersion(spark, cat, ref, 1, conf).count() == 20)
      assert(CatalogIO.readTableVersion(spark, cat, ref, 2, conf).count() == 40)
      // and a shrink back under the threshold returns to inline
      withChunking(inlineMax = 512, target = 3) {
        CatalogIO.commitAppend(spark, cat, ref, df(61 to 70, parts = 1))
        assert(metaText(cat, ref, 4).contains("\"dataFiles\""))
        assert(CatalogIO.readTable(spark, cat, ref).count() == 70)
      }
    }
  }

  test("merge-on-read state (delete files, seqs) round-trips chunked") {
    withChunking(inlineMax = 0, target = 3) {
      val cat = newCat()
      val ref = TableRef.parse("m.t5")
      cat.createNamespace(Namespace.of("m"))
      CatalogIO.createTable(spark, cat, ref, df(1 to 30, parts = 3))
      import spark.implicits._
      CatalogIO.commitMergeOnRead(spark, cat, ref, newRows = None,
        deleteTuples = Some(Seq(3L, 7L).toDF("id")))
      CatalogIO.commitAppend(spark, cat, ref, df(Range(3, 4), parts = 1))
      val layout = CatalogIO.readLayout(
        cat.loadTableMetadataLocation(ref), cat.fileSystem.getConf)
      assert(layout.deleteFiles.size == 1)
      assert(layout.dataFileSeqs.exists(ss =>
        ss.size == 4 && ss.count(_ == 3) == 1),
        "per-file seqs must survive the chunk round-trip")
      val ids = CatalogIO.readTable(spark, cat, ref)
        .select("id").as[Long].collect().toSet
      assert(!ids.contains(7L), "equality delete applies")
      assert(ids.contains(3L), "re-inserted row (seq past delete) is visible")
    }
  }

  test("expire reclaims chunks referenced only by expired versions") {
    withChunking(inlineMax = 0, target = 3) {
      val cat = newCat()
      val ref = TableRef.parse("m.t6")
      cat.createNamespace(Namespace.of("m"))
      CatalogIO.createTable(spark, cat, ref, df(1 to 30, parts = 3))
      // v2 replaces the segment (fresh chunk set); v1's chunks die with it
      CatalogIO.commitVersion(spark, cat, ref, df(101 to 130, parts = 3))
      CatalogIO.commitAppend(spark, cat, ref, df(131 to 140, parts = 1))
      val conf = cat.fileSystem.getConf
      val v1Chunks = CatalogIO.readLayout(
        cat.metadataLocationForVersion(ref, 1), conf).manifestChunks.get
      val v3Chunks = CatalogIO.readLayout(
        cat.metadataLocationForVersion(ref, 3), conf).manifestChunks.get
      val metaDir = new Path(cat.tableDir(ref), "metadata")
      val res = CatalogIO.expireVersions(cat, ref, keepLast = 2)
      assert(res.expiredVersions == Seq(1))
      v1Chunks.foreach(c => assert(
        !cat.fileSystem.exists(new Path(metaDir, c.relPath)),
        s"expired-only chunk ${c.relPath} must be deleted"))
      v3Chunks.foreach(c => assert(
        cat.fileSystem.exists(new Path(metaDir, c.relPath)),
        s"live chunk ${c.relPath} must survive"))
      assert(CatalogIO.readTable(spark, cat, ref).count() == 40)
    }
  }

  test("chunked tables serve every SQL face: DSv2 reads, time travel, incremental, stream") {
    withChunking(inlineMax = 0, target = 3) {
      val wh = Files.createTempDirectory("graft-mchunk-sql").toString
      val cat = s"mc${uid()}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSparkCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.type", "hadoop")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val hc = new HadoopFsCatalog(cat, wh)
        spark.sql(s"CREATE NAMESPACE $cat.db")
        spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) USING parquet")
        spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('r', id) " +
          "FROM range(40)")
        spark.sql(s"INSERT INTO $cat.db.t SELECT id + 100, concat('s', id) " +
          "FROM range(10)")
        val ref = TableRef.parse("db.t")
        val layout = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref),
          hc.fileSystem.getConf)
        assert(layout.manifestChunks.exists(_.nonEmpty),
          "SQL-written table must be chunked under the forced threshold")
        // DSv2 read + filter over the chunked manifest
        assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head.getLong(0) == 50)
        assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE k >= 100")
          .head.getLong(0) == 10)
        // time travel across chunked versions
        assert(spark.sql(s"SELECT count(*) FROM $cat.db.t VERSION AS OF 2")
          .head.getLong(0) == 40)
        // incremental read: the diff is chunk-resolved on both ends
        val (delta, _) = CatalogIO.readAppendsSince(spark, hc, ref, 2)
        assert(delta.count() == 10)
        // streaming source over the chunked history
        val q = spark.readStream.format("graft-table")
          .option("type", "hadoop").option("warehouse", wh)
          .option("table", "db.t")
          .option("startingVersion", "earliest")
          .load()
          .groupBy().count()
          .writeStream.format("memory").queryName(s"mcs_${uid()}")
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          val n = spark.sql(s"SELECT count FROM ${q.name}").head.getLong(0)
          assert(n == 50, s"stream served $n of 50 rows")
        } finally q.stop()
      } finally {
        Seq("", ".type", ".warehouse").foreach(s =>
          spark.conf.unset(s"spark.sql.catalog.$cat$s"))
      }
    }
  }

  test("chunk summaries prune whole chunks at plan time; a key band reads a chunk subset") {
    withChunking(inlineMax = 0, target = 4) {
      val wh = Files.createTempDirectory("graft-mchunk-prune").toString
      val cat = s"mp${uid()}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftSparkCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.type", "hadoop")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val hc = new HadoopFsCatalog(cat, wh)
        spark.sql(s"CREATE NAMESPACE $cat.db")
        spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, v STRING) USING parquet")
        // 12 single-file inserts over disjoint key ranges: with target=4
        // the manifest chunks cover contiguous, disjoint key bands —
        // exactly the clustered shape summaries exist to exploit
        (0 until 12).foreach { i =>
          spark.sql(s"INSERT INTO $cat.db.t SELECT id, concat('r', id) " +
            s"FROM range(${i * 100}, ${i * 100 + 100}, 1, 1)")
        }
        val ref = TableRef.parse("db.t")
        val layout = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref),
          hc.fileSystem.getConf)
        val chunks = layout.manifestChunks.getOrElse(fail("not chunked"))
        assert(chunks.size >= 3, s"expected >=3 chunks, got ${chunks.size}")
        assert(chunks.forall(_.summary.nonEmpty),
          "every chunk must carry a stats envelope summary")
        // a key band: only the chunk(s) whose envelope intersects are READ
        graft.sources.StatsPruning.lastChunkPlanned = None
        assert(spark.sql(
          s"SELECT count(*) FROM $cat.db.t WHERE k >= 450 AND k < 520")
          .head.getLong(0) == 70)
        val (skipped, total) = graft.sources.StatsPruning.lastChunkPlanned
          .getOrElse(fail("chunk-pruned plan never ran"))
        assert(total == chunks.size)
        assert(skipped >= 1 && total - skipped <= 2,
          s"expected a chunk-subset read, got $skipped skipped of $total")
        // kill-switch: same rows through the eager path, no chunk plan
        spark.conf.set("spark.graft.chunk.pruning", "false")
        try {
          graft.sources.StatsPruning.lastChunkPlanned = None
          assert(spark.sql(
            s"SELECT count(*) FROM $cat.db.t WHERE k >= 450 AND k < 520")
            .head.getLong(0) == 70)
          assert(graft.sources.StatsPruning.lastChunkPlanned.isEmpty)
        } finally spark.conf.set("spark.graft.chunk.pruning", "true")
        // a filterless read resolves every chunk and serves everything
        assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE v IS NOT NULL")
          .head.getLong(0) == 1200)
        // manifest-answered aggregates still fire through the lazy table
        graft.sources.StatsPruning.lastManifestAgg = None
        assert(spark.sql(s"SELECT count(*) FROM $cat.db.t").head.getLong(0) == 1200)
        assert(graft.sources.StatsPruning.lastManifestAgg.isDefined,
          "filterless COUNT must stay manifest-answered under the lazy table")
        // commits after pruned reads keep the chunk-reuse funnel intact
        spark.sql(s"INSERT INTO $cat.db.t VALUES (5000, 'tail')")
        assert(spark.sql(s"SELECT count(*) FROM $cat.db.t WHERE k >= 450 AND k < 520")
          .head.getLong(0) == 70)
        assert(spark.table(s"$cat.db.t").count() == 1201)
      } finally {
        Seq("", ".type", ".warehouse").foreach(s =>
          spark.conf.unset(s"spark.sql.catalog.$cat$s"))
      }
    }
  }

  test("append metadata cost is flat in table size (the O(new) contract)") {
    withChunking(inlineMax = 0, target = 8) {
      val cat = newCat()
      val ref = TableRef.parse("m.t7")
      cat.createNamespace(Namespace.of("m"))
      CatalogIO.createTable(spark, cat, ref, df(1 to 10, parts = 1))
      val metaDir = new Path(cat.tableDir(ref), "metadata")
      val manifests = new Path(metaDir, "manifests")
      def manifestBytes(): Long = {
        val it = cat.fileSystem.listFiles(manifests, true)
        var b = 0L
        while (it.hasNext) b += it.next().getLen
        b
      }
      // grow the table; record manifest bytes WRITTEN per append
      val written = (1 to 12).map { i =>
        val before = manifestBytes()
        CatalogIO.commitAppend(spark, cat, ref, df(i * 100 to i * 100 + 1, parts = 1))
        manifestBytes() - before
      }
      // cost must not grow with table size: the last appends (table ~4×
      // bigger than at the start) write no more than the tail-coalesce
      // bound (target entries), not the cumulative list
      val early = written.take(3).max
      val late = written.takeRight(3).max
      assert(late <= early * 3 + 2048,
        s"append manifest bytes grew with table size: early=$early late=$late " +
          s"(all: ${written.mkString(",")})")
      assert(CatalogIO.readTable(spark, cat, ref).count() == 10 + 24)
    }
  }
  test("chunked ADOPTED FILL tables serve their fill columns (round 18 — " +
      "the lazy chunk face must step aside: ScaleSmoke `cow` caught a " +
      "plain-parquet plan silently serving NULL partition values)") {
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-mchunk-fill").toString
    val catName = s"mc${uid()}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    try {
      val cat = new HadoopFsCatalog(catName, wh)
      spark.sql(s"CREATE NAMESPACE $catName.db")
      val tmp = java.nio.file.Files
        .createTempDirectory("chunk-fill").toString
      val base = (1 to 40).map(i => (i.toLong, (i % 4) + 1))
        .toDF("id", "p")
      base.write.partitionBy("p").parquet(s"$tmp/hv")
      val meta = IcebergExport.importHiveTable(spark, s"$tmp/hv",
        base.schema, Seq("p"))
      withChunking(inlineMax = 0, target = 4) {
        val ref = TableRef.parse("db.cf")
        CatalogIO.adoptIcebergTable(spark, cat, ref, meta)
        // the adopted metadata is CHUNKED and carries fills — the lazy
        // chunk index must refuse it (eager path serves the fills)
        assert(CatalogIO.readChunkIndex(
          cat.loadTableMetadataLocation(ref),
          cat.fileSystem.getConf).isEmpty,
          "a fills-bearing chunked layout must take the eager path")
        assert(CatalogIO.readLayout(cat.loadTableMetadataLocation(ref),
          cat.fileSystem.getConf).hasFills)
        // the SQL face serves the fill values, never NULL
        assert(spark.sql(
          s"SELECT COUNT(*) FROM $catName.db.cf WHERE p IS NULL")
          .head.getLong(0) == 0L)
        assert(spark.sql(
          s"SELECT COUNT(*) FROM $catName.db.cf WHERE p = 2")
          .head.getLong(0) == (1 to 40).count(_ % 4 + 1 == 2).toLong)
        assert(spark.sql(s"SELECT SUM(p) FROM $catName.db.cf")
          .head.getLong(0) == (1 to 40).map(i => (i % 4) + 1).sum.toLong)
      }
    } finally spark.conf.unset(s"spark.sql.catalog.$catName")
  }

  test("chunked ADOPTED RELOCATED tables take the eager path (round 19 — " +
      "the lazy face's basePath-rooted plan cannot serve out-of-root " +
      "absolute spellings; the hasRelocated flag routes around it)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val wh = Files.createTempDirectory("graft-mchunk-reloc").toString
    val catName = s"mc${uid()}"
    spark.conf.set(s"spark.sql.catalog.$catName",
      classOf[graft.sources.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$catName.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$catName.warehouse", wh)
    try {
      val cat = new HadoopFsCatalog(catName, wh)
      spark.sql(s"CREATE NAMESPACE $catName.db")
      val tmp = java.nio.file.Files
        .createTempDirectory("chunk-reloc").toString
      val base = (1 to 40).map(i => (i.toLong, s"row-$i")).toDF("id", "name")
      val meta0 = IcebergExport.writeTable(spark,
        base.repartitionByRange(4, col("id")), s"$tmp/store")
      // re-home the metadata so every data file spells absolute
      val conf = cat.fileSystem.getConf
      val text = CatalogIO.readMetadataText(meta0, conf)
      val LocRe = """"location"\s*:\s*"([^"]+)"""".r
      val oldLoc = LocRe.findFirstMatchIn(text).get.group(1)
      val fs = new Path(meta0).getFileSystem(conf)
      val newLoc =
        if (oldLoc.contains(":/"))
          fs.makeQualified(new Path(s"$tmp/tbl")).toString
        else s"$tmp/tbl"
      val out0 = new Path(s"$tmp/tbl/metadata/v1.metadata.json")
      fs.mkdirs(out0.getParent)
      val os = fs.create(out0, true)
      try os.write(text.replace(s""""location": "$oldLoc"""",
        s""""location": "$newLoc"""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
      withChunking(inlineMax = 0, target = 4) {
        val ref = TableRef.parse("db.cr")
        CatalogIO.adoptIcebergTable(spark, cat, ref, out0.toString)
        val metaLoc = cat.loadTableMetadataLocation(ref)
        val mt = {
          val in = cat.fileSystem.open(new Path(metaLoc))
          try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        }
        assert(mt.contains("manifestChunkFiles"),
          "the adopted manifest must be chunked")
        assert(mt.contains("\"hasRelocated\": true"),
          "a chunked relocated manifest must carry the routing flag")
        assert(CatalogIO.readChunkIndex(metaLoc, conf).isEmpty,
          "a relocated chunked layout must take the eager path")
        val lay = CatalogIO.readLayout(metaLoc, conf)
        assert(lay.hasRelocated, "spellings must survive the chunk round-trip")
        // the SQL face serves the out-of-root files correctly
        assert(spark.sql(s"SELECT COUNT(*) FROM $catName.db.cr")
          .head.getLong(0) == 40L)
        assert(spark.sql(
          s"SELECT SUM(id) FROM $catName.db.cr WHERE id <= 10")
          .head.getLong(0) == (1L to 10L).sum)
      }
    } finally spark.conf.unset(s"spark.sql.catalog.$catName")
  }

}
