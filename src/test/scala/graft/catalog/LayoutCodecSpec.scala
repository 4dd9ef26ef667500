package graft.catalog

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import graft.TestSpark
import graft.catalog.CatalogIO.{DataFile, DeleteFile, DeleteKinds,
  ManifestChunk, RenameOp, TableLayout}
import graft.catalog.LayoutCodec.ManifestFieldTokens.{Ndv, Seqs, Sizes, Stats}
import graft.sources.GraftSparkCatalog
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** The engine's native version-metadata format, locked by golden files
  * under `src/test/resources/metadata/`: the writer must reproduce each
  * file byte for byte, and each file must decode to the layout it was
  * written from. Malformed inputs must refuse with
  * `IllegalStateException`, never decode to a smaller table. */
class LayoutCodecSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val TableLoc = "file:/golden/t"
  private val DataLoc = "file:/golden/t/data"
  private val ChunkRel = "manifests/mc-golden.json"

  private final case class Golden(name: String, layout: TableLayout,
      chunked: Option[(Seq[ManifestChunk], Seq[String])] = None)

  private val inlineStats = Seq("r,5;c,id,=1,=5,0", "",
    "r,3;c,id,=7,=9,1;c,name,=a%2cb,,3")
  private val relocatedFiles = Seq("s3://bucket/wh/data/a.parquet",
    "s3://bucket/wh/data/b.parquet")
  private val relocatedStats = Seq("r,2;c,id,=1,=2,0", "r,4;c,id,=3,=9,0")
  private val relocatedChunk =
    ManifestChunk(ChunkRel, 2, "r,6;c,id,=1,=9,0")

  private val goldens = Seq(
    Golden("pre_manifest", TableLayout(DataLoc)),
    Golden("inline_manifest", TableLayout(DataLoc,
      partitionColumns = Seq("p"), numBuckets = Some(4),
      bucketColumns = Seq("id"), sortColumns = Seq("id"),
      schemaDdl = Some("id BIGINT,name STRING,p INT,d DATE"),
      dataFiles = Some(Seq(
        DataFile("p=1/part-00000-a.parquet", 1, inlineStats(0), 100L, "id=AAAA"),
        DataFile("p=1/part \"q\" \\x\t\u00e9\u0001.parquet", 2,
          inlineStats(1), -1L, ""),
        DataFile("p=2/part-00002-c.parquet", 3, inlineStats(2), 300L,
          "name=BBBB"))),
      entryFields = Set(Seqs, Stats, Sizes, Ndv),
      commitOp = Some(CatalogIO.CommitOps.Append),
      clusterTransforms = Seq("days(d)"))),
    Golden("deletes", TableLayout(DataLoc,
      schemaDdl = Some("id BIGINT,name STRING"),
      dataFiles = Some(Seq(DataFile("a.parquet", 1), DataFile("b.parquet", 2))),
      entryFields = Set(Seqs),
      deleteFiles = Seq(
        DeleteFile("_deletes/eq-1.parquet", 2),
        DeleteFile("_deletes/eq-2.parquet", 3, DeleteKinds.Equality,
          targets = Seq("b.parquet")),
        DeleteFile("_deletes/pos-1.parquet", 3, DeleteKinds.Position,
          targets = Seq("a.parquet", "b.parquet")),
        DeleteFile("_deletes/dv-1.puffin", 4, DeleteKinds.Vector,
          targets = Seq("a.parquet"), blobOffset = Some(4L),
          blobLength = Some(52L))),
      commitOp = Some(CatalogIO.CommitOps.Delete))),
    Golden("renames", TableLayout(DataLoc,
      schemaDdl = Some("id BIGINT,label STRING"),
      dataFiles = Some(Seq(DataFile("a.parquet", 1), DataFile("b.parquet", 3))),
      entryFields = Set(Seqs),
      renameOps = Seq(RenameOp(2, "name", "title"),
        RenameOp(3, "title", "label")),
      droppedColumns = Seq("extra", "extra.x"),
      commitOp = Some(CatalogIO.CommitOps.Metadata))),
    Golden("properties", TableLayout(DataLoc,
      schemaDdl = Some("id BIGINT"),
      dataFiles = Some(Nil),
      properties = Map("graft.stream.fence" -> "q1:42",
        "note" -> "tab\there \"quoted\" back\\slash",
        "\u00fcn\u00ef" -> "\u0002"),
      commitOp = Some(CatalogIO.CommitOps.Create))),
    Golden("mixed_fills", TableLayout(DataLoc,
      schemaDdl = Some("id BIGINT,name STRING,p INT,d DATE"),
      dataFiles = Some(Seq(
        DataFile("p=1/a.orc", format = "orc",
          fills = Seq("p" -> 1, "d" -> LocalDate.of(2024, 1, 2))),
        DataFile("p=2/b.parquet", format = "parquet",
          fills = Seq("p" -> 2, "name" -> null)),
        DataFile("c.avro", format = "avro"))),
      dataFormat = "mixed",
      commitOp = Some(CatalogIO.CommitOps.Append))),
    Golden("uuid", TableLayout(DataLoc,
      schemaDdl = Some("id STRING,v BIGINT"),
      dataFiles = Some(Seq(DataFile("a.parquet"))),
      uuidColumns = Seq("id"),
      commitOp = Some(CatalogIO.CommitOps.Append))),
    Golden("chunked_relocated", TableLayout(DataLoc,
      schemaDdl = Some("id BIGINT,name STRING"),
      dataFiles = Some(relocatedFiles.indices.map(i =>
        DataFile(relocatedFiles(i), stats = relocatedStats(i),
          size = Seq(10L, 20L)(i)))),
      entryFields = Set(Stats, Sizes),
      commitOp = Some(CatalogIO.CommitOps.Append)),
      chunked = Some((Seq(relocatedChunk), Seq("stats", "sizes")))))

  private val chunkEntries = relocatedFiles.indices.map(i =>
    DataFile(relocatedFiles(i), 0, relocatedStats(i), Seq(10L, 20L)(i), "",
      "parquet"))

  private def written(g: Golden): String =
    LayoutCodec.metadataJson(TableLoc, g.layout.dataLocation, g.layout,
      g.chunked)

  private def goldenPath(name: String): String =
    Paths.get(getClass.getResource(s"/metadata/$name.json").toURI).toString

  private def golden(name: String): String =
    new String(Files.readAllBytes(Paths.get(goldenPath(name))), UTF_8)

  /** `text` with `from` replaced by `to`; `from` must occur, so a
    * malformed-input case can never silently test the intact file. */
  private def patch(text: String, from: String, to: String): String = {
    assert(text.contains(from), s"'$from' not in the golden text")
    text.replace(from, to)
  }

  /** Write a version document (its location re-homed at a temp table
    * dir) plus the golden chunk file; returns the version's location. */
  private def stage(version: String, chunk: String = golden("chunk")): String = {
    val dir = Files.createTempDirectory("graft-golden")
    val meta = dir.resolve("metadata")
    Files.createDirectories(meta.resolve("manifests"))
    Files.write(meta.resolve(ChunkRel), chunk.getBytes(UTF_8))
    val v = meta.resolve("v1.metadata.json")
    Files.write(v, version.replace(s""""location": "$TableLoc"""",
      s""""location": "$dir"""").getBytes(UTF_8))
    v.toString
  }

  private def refuses(version: String, chunk: String = golden("chunk")): Unit = {
    val loc = stage(version, chunk)
    val e = intercept[IllegalStateException](CatalogIO.readLayout(loc))
    assert(e.getMessage.nonEmpty)
  }

  test("the writer reproduces every golden file byte for byte") {
    goldens.foreach(g => assert(written(g) == golden(g.name), g.name))
    assert(LayoutCodec.chunkJson(chunkEntries) == golden("chunk"))
  }

  test("every golden file decodes to the layout it was written from") {
    goldens.filter(_.chunked.isEmpty).foreach { g =>
      assert(CatalogIO.readLayout(goldenPath(g.name)) == g.layout, g.name)
    }
    val loc = stage(golden("chunked_relocated"))
    val expected = goldens.find(_.name == "chunked_relocated").get.layout
      .copy(manifestChunks = Some(Seq(relocatedChunk)))
    assert(CatalogIO.readLayout(loc) == expected)
    assert(CatalogIO.readChunkIndex(loc).isEmpty,
      "a relocated chunked version must take the eager path")
  }

  test("malformed native metadata refuses with IllegalStateException") {
    val inline = golden("inline_manifest")
    val chunked = golden("chunked_relocated")
    // truncated file
    refuses(inline.take(inline.length / 2))
    // dataFileStats one entry short
    refuses(patch(inline, s""", "${inlineStats(2)}"]""", "]"))
    // dataFileSeqs, dataFileSizes, dataFileNdv one entry short
    refuses(patch(inline, "\"dataFileSeqs\": [\"1\", \"2\", \"3\"]",
      "\"dataFileSeqs\": [\"1\", \"2\"]"))
    refuses(patch(inline, "\"dataFileSizes\": [\"100\", \"-1\", \"300\"]",
      "\"dataFileSizes\": [\"100\", \"-1\"]"))
    refuses(patch(inline, ", \"name=BBBB\"]", "]"))
    // dataFileFormats, dataFileFills one entry short
    val mixed = golden("mixed_fills")
    refuses(patch(mixed, "\"dataFileFormats\": [\"orc\", \"parquet\", \"avro\"]",
      "\"dataFileFormats\": [\"orc\", \"parquet\"]"))
    refuses(patch(mixed, "null}\", \"\"]", "null}\"]"))
    // unknown delete kind
    refuses(patch(golden("deletes"), "\"deleteFileKinds\": [\"eq\", ",
      "\"deleteFileKinds\": [\"zz\", "))
    // unknown manifestFields token
    refuses(patch(chunked, "\"manifestFields\": [\"stats\", \"sizes\"]",
      "\"manifestFields\": [\"stats\", \"bogus\"]"))
    // non-integer dataFileSeqs entry
    refuses(patch(inline, "\"dataFileSeqs\": [\"1\", \"2\", \"3\"]",
      "\"dataFileSeqs\": [\"1\", \"two\", \"3\"]"))
    // a chunk whose entry count disagrees with manifestChunkCounts
    refuses(patch(chunked, "\"manifestChunkCounts\": [\"2\"]",
      "\"manifestChunkCounts\": [\"3\"]"))
    // inline dataFiles together with manifestChunkFiles
    refuses(patch(chunked, "  \"manifestChunkFiles\":",
      "  \"dataFiles\": [\"x.parquet\"],\n  \"manifestChunkFiles\":"))
    // a non-string array element
    refuses(patch(inline, "\"dataFiles\": [\"p=1/part-00000-a.parquet\"",
      "\"dataFiles\": [7"))
    // a truncated chunk file
    val chunk = golden("chunk")
    refuses(chunked, chunk.take(chunk.length / 2))
  }

  test("metadata is read by structure: duplicate keys and a mistyped " +
      "scalar refuse") {
    val inline = golden("inline_manifest")
    // a second top-level dataLocation would otherwise silently win or lose
    refuses(patch(inline, "  \"dataLocation\":",
      "  \"dataLocation\": \"file:/elsewhere\",\n  \"dataLocation\":"))
    // numBuckets is a JSON number
    refuses(patch(inline, "\"numBuckets\": 4", "\"numBuckets\": \"4\""))
  }

  private def withChunking[A](inlineMax: Int)(body: => A): A = {
    val (pm, pt) = (CatalogIO.manifestInlineMax, CatalogIO.manifestChunkTarget)
    CatalogIO.manifestInlineMax = inlineMax
    CatalogIO.manifestChunkTarget = 2
    try body
    finally { CatalogIO.manifestInlineMax = pm; CatalogIO.manifestChunkTarget = pt }
  }

  test("property keys are unrestricted: keys named like top-level fields " +
      "commit and read back on both faces") {
    val props = Map("dataLocation" -> "file:/nowhere", "numBuckets" -> "7",
      "dataFiles" -> "[]", "hasRelocated" -> "true")
    for (inlineMax <- Seq(512, 0)) withChunking(inlineMax) {
      val wh = Files.createTempDirectory("graft-props").toString
      val name = s"pk${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
      spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      val cat = new HadoopFsCatalog(name, wh)
      spark.sql(s"CREATE NAMESPACE $name.db")
      val ref = TableRef.parse("db.t")
      import spark.implicits._
      val first = (1 to 20).map(i => (i.toLong, s"r$i")).toDF("id", "name")
        .repartition(2)
      CatalogIO.createTable(spark, cat, ref, first, properties = props)
      spark.sql(s"INSERT INTO $name.db.t VALUES (100, 'x'), (101, 'y')")
      val meta = cat.loadTableMetadataLocation(ref)
      val layout = CatalogIO.readLayout(meta, cat.fileSystem.getConf)
      assert(layout.properties == props)
      assert(layout.dataLocation == new Path(cat.tableDir(ref), "data").toString)
      assert(layout.numBuckets.isEmpty)
      assert(!layout.hasRelocated)
      assert(layout.manifestChunks.isDefined == (inlineMax == 0))
      val expected = ((1 to 20).map(i => s"$i|r$i") ++ Seq("100|x", "101|y")).sorted
      def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.mkString("|")).toSeq.sorted
      assert(layout.dataFilePaths.exists(_.size >= 3))
      assert(rows(CatalogIO.readTable(spark, cat, ref)) == expected)
      assert(rows(spark.sql(s"SELECT id, name FROM $name.db.t")) == expected)
    }
  }

  test("an Iceberg metadata.json whose properties hold a dataLocation key " +
      "reads as Iceberg") {
    val dir = s"${Files.createTempDirectory("graft-ice-props").toString}/t"
    import spark.implicits._
    val df = (1 to 30).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .repartition(3)
    val meta0 = IcebergExport.writeTable(spark, df, dir)
    val conf = spark.sessionState.newHadoopConf()
    val text = CatalogIO.readMetadataText(meta0, conf)
    val meta = s"$dir/metadata/v9.metadata.json"
    Files.write(Paths.get(new Path(meta).toUri.getPath),
      patch(text, "\"properties\": {",
        "\"properties\": {\"dataLocation\": \"file:/nowhere\", ")
        .getBytes(UTF_8))
    assert(IcebergFormat.isIcebergMetadata(CatalogIO.readMetadataText(meta, conf)))
    val layout = CatalogIO.readLayout(meta, conf)
    assert(layout.dataFilePaths == CatalogIO.readLayout(meta0, conf).dataFilePaths)
    assert(layout.properties.get("dataLocation").contains("file:/nowhere"))
    assert(CatalogIO.scanMetadataLocation(spark, meta).count() == 30)
  }

  test("one JSON escaper: an exported column name with a tab reads back") {
    val dir = s"${Files.createTempDirectory("graft-ice-tab").toString}/t"
    import spark.implicits._
    val df = (1 to 10).map(i => (i.toLong, s"n$i")).toDF("id", "a\tb")
    val meta = IcebergExport.writeTable(spark, df, dir)
    val back = CatalogIO.scanMetadataLocation(spark, meta)
    assert(back.schema.fieldNames.toSeq == Seq("id", "a\tb"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq ==
      (1 to 10).map(i => (i.toLong, s"n$i")))
  }
}
