package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.LayoutColumns._

/** Edge-value round-trip of the native avro Iceberg writer + reader
  * (round 15): every primitive the export writer maps, driven through
  * extreme and adversarial values — integer min/max, ±0.0 / NaN /
  * infinities, pre-epoch dates and timestamps, negative decimals (the
  * sign-extension path of the minimal-fixed encoding), empty and
  * multi-byte unicode strings, empty/0xFF binary, and NULLs in every
  * column. The writer's write-pass stats must also stay sound: NaNs
  * never become bounds, all-null columns carry no bounds, and the
  * recorded envelopes never prune a file that holds matching rows. */
class AvroWriteSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("avro export round-trips edge values exactly (all primitive types)") {
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("i", IntegerType),
      StructField("l", LongType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("b", BooleanType),
      StructField("s", StringType),
      StructField("bin", BinaryType),
      StructField("dt", DateType),
      StructField("ts", TimestampType),
      StructField("dec", DecimalType(12, 2))))
    def date(s: String) = java.sql.Date.valueOf(s)
    def ts(epochSec: Long, nanos: Int = 0) =
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(epochSec, nanos))
    def dec(s: String) = new java.math.BigDecimal(s)
    val rnd = new scala.util.Random(42)
    val edge: Seq[Row] = Seq(
      Row(1L, Int.MinValue, Long.MinValue, Float.MinValue, Double.MinValue,
        true, "", Array.empty[Byte], date("1900-01-01"),
        ts(-62135596800L), dec("-9999999999.99")),
      Row(2L, Int.MaxValue, Long.MaxValue, Float.MaxValue, Double.MaxValue,
        false, "z" * 4000, Array.fill(64)(0xFF.toByte), date("9999-12-31"),
        ts(253402300799L, 999999000), dec("9999999999.99")),
      Row(3L, 0, 0L, -0.0f, 0.0, true, "héllo wörld é́ 😀",
        Array[Byte](0, 1, -1), date("1969-12-31"), ts(-1L, 999999000),
        dec("0.00")),
      Row(4L, -1, -1L, Float.NaN, Double.NaN, false, "a\nb\tc\"d\\e",
        Array[Byte](127), date("1970-01-01"), ts(0L), dec("-0.01")),
      Row(5L, 7, 7L, Float.PositiveInfinity, Double.NegativeInfinity, true,
        "\u0000nul-byte", Array[Byte](-128), date("2038-01-19"),
        ts(2147483647L), dec("123.45")),
      Row(6L, null, null, null, null, null, null, null, null, null, null))
    val random: Seq[Row] = (7L to 2006L).map { k =>
      Row(k, rnd.nextInt(), rnd.nextLong(),
        rnd.nextFloat() * 1e30f - 1e29f, rnd.nextDouble() * 1e200 - 1e199,
        rnd.nextBoolean(),
        rnd.alphanumeric.take(rnd.nextInt(39) + 1).mkString, // non-empty: '' is an edge-row probe
        Array.fill(rnd.nextInt(16))(rnd.nextInt().toByte),
        // post-epoch only: pre-1950 dates are an edge-row probe
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          rnd.nextInt(40000).toLong)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          rnd.nextLong() % 10000000000L, (rnd.nextInt(1000000) * 1000L))),
        new java.math.BigDecimal(
          java.math.BigInteger.valueOf(rnd.nextLong() % 999999999999L), 2))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(edge ++ random, 3), schema)
    val dir = s"${Files.createTempDirectory("graft-avrow").toString}/t"
    val meta = graft.catalog.IcebergExport.writeTable(spark, df, dir,
      fileFormat = "avro")
    // canonical row image: exact bit/byte-level renderings (unix_micros
    // for timestamps, unscaled string for decimals, base64 for binary,
    // explicit null markers)
    val canon = Seq("k", "coalesce(cast(i as string), '∅') i",
      "coalesce(cast(l as string), '∅') l",
      "coalesce(cast(f as string), '∅') f",
      "coalesce(cast(d as string), '∅') d",
      "coalesce(cast(b as string), '∅') b",
      "coalesce(s, '∅') s",
      "coalesce(base64(bin), '∅') bin",
      "coalesce(cast(dt as string), '∅') dt",
      "coalesce(cast(unix_micros(ts) as string), '∅') ts",
      "coalesce(cast(dec as string), '∅') dec")
    def imgs(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.selectExpr(canon: _*).collect().map(_.toString).sorted.toSeq
    val back = graft.catalog.CatalogIO.scanMetadataLocation(spark, meta)
    assert(back.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    assert(imgs(back) == imgs(df))
    // write-pass stats soundness: no envelope prunes a file that holds
    // matching rows — probe with predicates that hit exactly the edge
    // rows (NaN/null columns must stay conservatively unprunable)
    graft.sources.TempCatalog.withTempHandles(spark, "graft-avrow") { (cat, hc) =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      hc.registerTable(graft.catalog.TableRef.parse("db.t"), meta)
      val t = s"$cat.db.t"
      // NOT ${Long.MinValue}L: Spark parses that literal as unary minus
      // over an overflowing long, degrades it to double, and the
      // widened comparison matches every long in the rounding
      // neighborhood
      assert(spark.sql(
        s"SELECT COUNT(*) FROM $t WHERE l = CAST('${Long.MinValue}' AS BIGINT)")
        .head.getLong(0) == 1L)
      assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE isnan(d)")
        .head.getLong(0) == 1L)
      assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE s = ''")
        .head.getLong(0) == 1L)
      assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE i IS NULL")
        .head.getLong(0) == 1L)
      assert(spark.sql(
        s"SELECT COUNT(*) FROM $t WHERE dec = CAST(-9999999999.99 AS DECIMAL(12,2))")
        .head.getLong(0) == 1L)
      assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE dt < DATE '1950-01-01'")
        .head.getLong(0) == 1L)
    }
  }

  test("NESTED types export and round-trip through all three formats " +
    "and both faces (round 16 — the flat-only refusal lifted)") {
    import graft.catalog.{CatalogIO, IcebergExport, TableRef}
    import org.apache.spark.sql.functions._
    // struct, array (nullable elems), string-key map, NON-string-key
    // map (the spec's array-of-k/v-records avro encoding), nested
    // decimal/date inside the struct, nulls at every level
    val base = spark.sql(
      """SELECT id AS k,
        |  CASE WHEN id % 7 = 0 THEN NULL ELSE
        |    named_struct('a', id * 2, 'b', concat('s', id),
        |      'dec', CAST(id AS DECIMAL(10,2)) / 4,
        |      'dt', date_add(DATE'2024-01-01', CAST(id % 90 AS INT))) END AS st,
        |  CASE WHEN id % 5 = 0 THEN NULL ELSE
        |    array(id, NULL, id + 2) END AS ar,
        |  map(concat('m', id % 3), id * 3) AS sm,
        |  map(id % 4, concat('v', id)) AS im
        |FROM range(0, 200)""".stripMargin)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("k"), col("st.a"), col("st.b"), col("st.dec"),
        col("st.dt"), col("ar"), map_entries(col("sm")).as("sm"),
        map_entries(col("im")).as("im"))
        .collect().map(_.toString).sorted.toSeq
    val expected = canon(base)
    for (fmt <- Seq("parquet", "orc", "avro")) {
      val dir = s"${java.nio.file.Files.createTempDirectory(s"nested-$fmt")}/t"
      val meta = IcebergExport.writeTable(spark, base.coalesce(1), dir,
        fileFormat = fmt)
      // DataFrame face
      assert(canon(CatalogIO.scanMetadataLocation(spark, meta)) == expected,
        s"$fmt DataFrame-face round-trip")
      // SQL face via a registered pointer
      graft.sources.TempCatalog.withTempHandles(spark, s"nested-$fmt") { (cat, hc) =>
        spark.sql(s"CREATE NAMESPACE $cat.db")
        hc.registerTable(TableRef.parse("db.n"), meta)
        assert(canon(spark.table(s"$cat.db.n")) == expected,
          s"$fmt SQL-face round-trip")
        // nested field access through SQL
        assert(spark.sql(s"SELECT SUM(st.a) FROM $cat.db.n").head.getLong(0) ==
          (0 until 200).filter(_ % 7 != 0).map(_ * 2L).sum)
      }
      // the metadata schema declares unique nested ids and a matching
      // last-column-id (spec-validity for foreign readers)
      val text = CatalogIO.readMetadataText(meta,
        spark.sessionState.newHadoopConf())
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      def idsOf(n: com.fasterxml.jackson.databind.JsonNode): Seq[Int] = {
        val b = Seq.newBuilder[Int]
        def walk(x: com.fasterxml.jackson.databind.JsonNode): Unit = {
          if (x.isObject) {
            x.properties().forEach { e =>
              if (Set("id", "element-id", "key-id", "value-id")(e.getKey) &&
                  e.getValue.isInt) b += e.getValue.asInt
              walk(e.getValue)
            }
          } else if (x.isArray) x.elements().forEachRemaining(walk)
        }
        walk(n); b.result()
      }
      val ids = idsOf(root.get("schemas"))
      assert(ids.distinct.size == ids.size, s"$fmt: duplicate nested ids: $ids")
      assert(root.path("last-column-id").asInt(-1) == ids.max,
        s"$fmt: last-column-id must cover the nested ids")
    }
    // append keeps working on a nested table (schema round-trips
    // through loadState's nested parser)
    val dir2 = s"${java.nio.file.Files.createTempDirectory("nested-app")}/t"
    val meta1 = IcebergExport.writeTable(spark,
      base.filter(col("k") < 100).coalesce(1), dir2)
    val meta2 = IcebergExport.appendSnapshot(spark,
      base.filter(col("k") >= 100).coalesce(1), meta1)
    assert(canon(CatalogIO.scanMetadataLocation(spark, meta2)) == expected)
  }

  test("avro appendSnapshot: the native writer appends with write-pass " +
    "stats; avro-onto-parquet reads as a mixed layout") {
    import graft.catalog.{CatalogIO, IcebergExport, TableRef}
    import org.apache.spark.sql.functions._
    // a NESTED column locks the tree-override path: the append must
    // render the avro schema from the LOADED table's id tree, not a
    // re-derived one
    def slice(lo: Int, hi: Int) = spark.sql(
      s"""SELECT id AS k, CAST(id AS DOUBLE) / 2 AS v,
         |  named_struct('a', id * 2, 'b', concat('s', id)) AS st,
         |  map(concat('m', id % 3), id * 3) AS sm
         |FROM range($lo, $hi)""".stripMargin)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("k"), col("v"), col("st.a"), col("st.b"),
          map_entries(col("sm")).as("sm"))
        .collect().map(_.toString).sorted.toSeq
    val expected = canon(slice(0, 200))
    // avro-onto-avro stays homogeneous; stats come from the write pass
    val dir = s"${Files.createTempDirectory("avro-append")}/t"
    val m1 = IcebergExport.writeTable(spark, slice(0, 100).coalesce(1), dir,
      fileFormat = "avro")
    val m2 = IcebergExport.appendSnapshot(spark, slice(100, 200).coalesce(1),
      m1, fileFormat = "avro")
    val conf = spark.sessionState.newHadoopConf()
    val l2 = CatalogIO.readLayout(m2, conf)
    assert(l2.dataFormat == "avro" && l2.dataFilePaths.exists(_.size == 2))
    assert(l2.dataFileStats.exists(_.forall(_.nonEmpty)),
      "appended avro files must carry write-pass manifest stats")
    assert(canon(CatalogIO.scanMetadataLocation(spark, m2)) == expected)
    // the APPENDED file's string-key map keeps the avro MAP encoding
    // (round-16 review: a loaded tree's PrimName("string") key fell
    // through to the array-of-records branch, silently diverging from
    // the base file's on-disk encoding)
    val appended = l2.absoluteDataFiles.get
      .find(_.contains("/data/s2-")).getOrElse(
        fail(s"no s2 appended file in ${l2.dataFilePaths}"))
    val rdr = new org.apache.avro.file.DataFileReader(
      new org.apache.avro.mapred.FsInput(
        new org.apache.hadoop.fs.Path(appended), conf),
      new org.apache.avro.generic.GenericDatumReader[Any]())
    val fileSchema = try rdr.getSchema finally rdr.close()
    val smSchema = {
      val s = fileSchema.getField("sm").schema()
      if (s.getType == org.apache.avro.Schema.Type.UNION)
        s.getTypes.asScala.find(
          _.getType != org.apache.avro.Schema.Type.NULL).get
      else s
    }
    assert(smSchema.getType == org.apache.avro.Schema.Type.MAP,
      s"appended string-key map must use the avro MAP encoding, got $smSchema")
    graft.sources.TempCatalog.withTempHandles(spark, "avro-append") { (cat, hc) =>
      spark.sql(s"CREATE NAMESPACE $cat.db")
      hc.registerTable(TableRef.parse("db.aa"), m2)
      assert(canon(spark.table(s"$cat.db.aa")) == expected)
      // the appended file's write-pass bounds PRUNE: k >= 150 plans
      // only the second (appended) file
      graft.sources.StatsPruning.lastPlanned = None
      assert(spark.sql(s"SELECT count(*) FROM $cat.db.aa WHERE k >= 150")
        .head.getLong(0) == 50)
      assert(graft.sources.StatsPruning.lastPlanned.contains((1, 2)),
        s"expected 1/2 files skipped from the append's write-pass " +
          s"bounds, got ${graft.sources.StatsPruning.lastPlanned}")
    }
    // avro-onto-parquet: the Hive-migration mixed shape, avro flavored
    val dir2 = s"${Files.createTempDirectory("avro-append")}/t2"
    val p1 = IcebergExport.writeTable(spark, slice(0, 100).coalesce(1), dir2)
    val p2 = IcebergExport.appendSnapshot(spark, slice(100, 200).coalesce(1),
      p1, fileFormat = "avro")
    val lp = CatalogIO.readLayout(p2, conf)
    assert(lp.dataFormat == "mixed" &&
      lp.dataFileFormats.exists(_.toSet == Set("parquet", "avro")),
      s"expected a parquet+avro mixed layout, got ${lp.dataFormat}/" +
        s"${lp.dataFileFormats}")
    assert(canon(CatalogIO.scanMetadataLocation(spark, p2)) == expected)
  }

  test("commits carry FOREIGN nested field ids verbatim (round-16 " +
    "review: re-allocating would re-bind the name mapping away from " +
    "the ids the data files carry)") {
    import graft.catalog.{CatalogIO, IcebergExport}
    import org.apache.spark.sql.functions._
    val dir = s"${java.nio.file.Files.createTempDirectory("foreign-ids")}/t"
    val df = spark.sql(
      """SELECT named_struct('x', id * 2, 'y', id * 3) AS a, id AS b
        |FROM range(0, 20)""".stripMargin)
    val meta1 = IcebergExport.writeTable(spark, df.coalesce(1), dir)
    val conf = spark.sessionState.newHadoopConf()
    // our allocator assigns a=1, b=2, x=3, y=4; REAL Iceberg assigns
    // interleaved pre-order a=1, x=2, y=3, b=4 — patch the document to
    // the foreign shape (data files are name-addressed by this reader,
    // so the swap is metadata-only)
    val text = CatalogIO.readMetadataText(meta1, conf)
    val ours = """{"id": 1, "name": "a", "required": true, "type": """ +
      """{"type": "struct", "fields": [{"id": 3, "name": "x", "required": true, "type": "long"}, """ +
      """{"id": 4, "name": "y", "required": true, "type": "long"}]}}, """ +
      """{"id": 2, "name": "b", "required": true, "type": "long"}"""
    val foreign = """{"id": 1, "name": "a", "required": true, "type": """ +
      """{"type": "struct", "fields": [{"id": 2, "name": "x", "required": true, "type": "long"}, """ +
      """{"id": 3, "name": "y", "required": true, "type": "long"}]}}, """ +
      """{"id": 4, "name": "b", "required": true, "type": "long"}"""
    assert(text.contains(ours), "fixture: expected our allocation shape")
    val patched = text.replace(ours, foreign)
    val p = new org.apache.hadoop.fs.Path(meta1)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(patched.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // an append re-renders the schema: the FOREIGN ids must survive
    val meta2 = IcebergExport.appendSnapshot(spark,
      spark.sql("""SELECT named_struct('x', id, 'y', id) AS a, id AS b
                  |FROM range(100, 110)""".stripMargin).coalesce(1), meta1)
    val text2 = CatalogIO.readMetadataText(meta2, conf)
    assert(text2.contains(foreign),
      "append must carry the document's own nested ids verbatim")
    assert(!text2.contains("""{"id": 3, "name": "x""""),
      "nested ids must NOT be re-allocated")
    // the regenerated name mapping binds the foreign ids
    assert(text2.contains("""{\"field-id\": 2, \"names\": [\"x\"]"""),
      "name mapping must bind x to the foreign id 2")
    // a metadata-only commit (set-ref) carries them too
    val snap = graft.catalog.IcebergFormat.mainAncestry(text2).last.id
    val meta3 = IcebergExport.setRef(spark, meta2, "v1", snap)
    assert(CatalogIO.readMetadataText(meta3, conf).contains(foreign))
    // rows still serve (this reader is name-addressed)
    assert(CatalogIO.scanMetadataLocation(spark, meta3).count() == 30)
  }
  test("PARTITIONED avro export + appends (round 18): hive layout, files " +
      "KEEP the identity columns, both faces read; fill-table appends refuse") {
    import graft.catalog.{CatalogIO, IcebergExport, TableRef}
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val tmp = Files.createTempDirectory("avro-part").toString
    def df(lo: Int, hi: Int) = (lo to hi)
      .map(i => (i.toLong, s"n-$i", (i % 4) + 1)).toDF("id", "name", "g")
    val meta0 = IcebergExport.writeTable(spark, df(1, 40), s"$tmp/t",
      fileFormat = "avro", partitionBy = Seq("g"))
    val conf = spark.sessionState.newHadoopConf()
    val lay0 = CatalogIO.readLayout(meta0, conf)
    assert(lay0.dataFormat == "avro" && !lay0.hasFills,
      s"partitioned avro files keep their identity columns: $lay0")
    assert(lay0.dataFilePaths.get.forall(_.contains("g=")),
      s"hive col=value layout expected: ${lay0.dataFilePaths}")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    assert(rows(CatalogIO.scanMetadataLocation(spark, meta0)) ==
      rows(df(1, 40)))
    // avro append under the same spec: still homogeneous avro
    val meta1 = IcebergExport.appendSnapshot(spark, df(41, 60), meta0,
      fileFormat = "avro")
    assert(rows(CatalogIO.scanMetadataLocation(spark, meta1)) ==
      rows(df(1, 60)))
    // SQL face + a partition-column predicate
    graft.sources.TempCatalog.withTempHandles(spark, "graft-avro-part") {
      (cat, hc) =>
        spark.sql(s"CREATE NAMESPACE $cat.db")
        hc.registerTable(TableRef.parse("db.ap"), meta1)
        assert(spark.sql(s"SELECT COUNT(*) FROM $cat.db.ap WHERE g = 2")
          .head.getLong(0) == (1 to 60).count(i => (i % 4) + 1 == 2).toLong)
        assert(rows(spark.table(s"$cat.db.ap")) == rows(df(1, 60)))
    }
    // a parquet append onto the avro partitioned table SERVES since
    // round 19 (fills + avro coexist: the parquet files record fills,
    // the avro files keep their columns; GraftFillTable groups per
    // (fill set, format))
    val meta2 = IcebergExport.appendSnapshot(spark, df(61, 65), meta1)
    assert(rows(CatalogIO.scanMetadataLocation(spark, meta2)) ==
      rows(df(1, 65)))
    // ...and the symmetric direction: an avro append onto a
    // FILL-bearing partitioned parquet table serves too
    val metaPq = IcebergExport.writeTable(spark, df(1, 20), s"$tmp/pq",
      partitionBy = Seq("g"))
    assert(CatalogIO.readLayout(metaPq, conf).hasFills)
    val metaPq1 = IcebergExport.appendSnapshot(spark, df(21, 25), metaPq,
      fileFormat = "avro")
    assert(rows(CatalogIO.scanMetadataLocation(spark, metaPq1)) ==
      rows(df(1, 25)))
  }

}
