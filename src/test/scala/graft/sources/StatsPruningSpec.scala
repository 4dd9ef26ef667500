package graft.sources

import java.nio.file.Files

import graft.TestSpark
import graft.catalog.{CatalogIO, FileStats, HadoopFsCatalog, TableRef}
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.LayoutColumns._

/** Manifest file stats + scan-time file skipping (round 10;
  * FileStats.scala / StatsPruning.scala — the engine's face of Iceberg's
  * manifest min/max pruning, which the reference rides via its jars).
  *
  * The contract under test: every commit records per-file column
  * envelopes computed from parquet footers (carry-forward for surviving
  * files), and a DSv2 scan with pushed filters provably skips files
  * whose envelope excludes every conjunct — with IDENTICAL results to
  * the unpruned scan (the `spark.graft.stats.pruning=false`
  * kill-switch is the oracle for every predicate exercised here). */
class StatsPruningSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** A fresh catalog + a 3-file table: k-disjoint appends
    * [0,1000), [1000,2000), [2000,3000), each one data file, with
    * string / double / date / timestamp / decimal columns derived from
    * k, and nulls only in the third file's `s`. */
  private def fixture(): (String, HadoopFsCatalog) = {
    val wh = Files.createTempDirectory("stats-wh").toString
    val name = s"st${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $name.db")
    def slice(lo: Int, nullS: Boolean): String =
      s"""SELECT id AS k,
         |       ${if (nullS) "CAST(NULL AS STRING)" else "concat('x', lpad(cast(id AS string), 5, '0'))"} AS s,
         |       cast(id AS double) / 10 AS d,
         |       date_add(date'2024-01-01', cast(id % 900 AS int)) AS dt,
         |       timestamp_millis(1700000000000 + id * 1000) AS ts,
         |       cast(id AS decimal(12,2)) AS dc
         |FROM range($lo, ${lo + 1000})""".stripMargin
    spark.sql(
      s"""CREATE TABLE $name.db.t USING parquet AS
         |SELECT /*+ COALESCE(1) */ * FROM (${slice(0, nullS = false)})""".stripMargin)
    spark.sql(s"INSERT INTO $name.db.t SELECT /*+ COALESCE(1) */ * FROM (${slice(1000, nullS = false)})")
    spark.sql(s"INSERT INTO $name.db.t SELECT /*+ COALESCE(1) */ * FROM (${slice(2000, nullS = true)})")
    (name, new HadoopFsCatalog(name, wh))
  }

  private def layoutOf(hc: HadoopFsCatalog): CatalogIO.TableLayout =
    CatalogIO.readLayout(hc.loadTableMetadataLocation(TableRef.parse("db.t")))

  /** Run `where` pruned and unpruned; assert identical rows and return
    * (files skipped, files total) of the pruned plan. */
  private def checkAgainstUnpruned(cat: String, where: String): (Int, Int) = {
    val q = s"SELECT k, s, d, dt, ts, dc FROM $cat.db.t WHERE $where"
    spark.conf.set("spark.graft.stats.pruning", "false")
    val expected = spark.sql(q).collect().map(_.mkString("|")).sorted.toSeq
    spark.conf.set("spark.graft.stats.pruning", "true")
    StatsPruning.lastPlanned = None
    val got = spark.sql(q).collect().map(_.mkString("|")).sorted.toSeq
    assert(got == expected, s"pruned result diverged for WHERE $where")
    val planned = StatsPruning.lastPlanned
    assert(planned.isDefined, s"no pruned plan recorded for WHERE $where")
    planned.get
  }

  test("every commit records per-file stats; appends carry prior files' stats forward") {
    val (_, hc) = fixture()
    val layout = layoutOf(hc)
    val files = layout.dataFilePaths.get
    assert(files.size == 3)
    val stats = layout.dataFileStats.get
    assert(stats.size == 3 && stats.forall(_.nonEmpty))
    // decoded envelopes are per-file and k-disjoint
    val schema = org.apache.spark.sql.types.StructType.fromDDL(layout.schemaDdl.get)
    val ks = stats.map { s =>
      val d = FileStats.decode(s, schema).get
      assert(d.rowCount == 1000)
      val c = d.cols("k")
      (c.min.get.asInstanceOf[Long], c.max.get.asInstanceOf[Long])
    }.sorted
    assert(ks == Seq((0L, 999L), (1000L, 1999L), (2000L, 2999L)))
    // the third file's s is all null; the first two have zero nulls
    val sNulls = stats.map(s => FileStats.decode(s, schema).get.cols("s").nullCount.get).sorted
    assert(sNulls == Seq(0L, 0L, 1000L))
    // carry-forward: the v3 append re-recorded v2's file stats verbatim
    val v2 = CatalogIO.readLayout(hc.metadataLocationForVersion(TableRef.parse("db.t"), 3))
    val byFile = layout.dataFilePaths.get.zip(stats).toMap
    v2.dataFilePaths.get.zip(v2.dataFileStats.get).foreach { case (f, s) =>
      assert(byFile(f) == s, s"stats for $f changed across the append")
    }
  }

  test("range and equality predicates skip exactly the provably-excluded files") {
    val (cat, _) = fixture()
    assert(checkAgainstUnpruned(cat, "k > 2500") == (2, 3))
    assert(checkAgainstUnpruned(cat, "k < 500") == (2, 3))
    assert(checkAgainstUnpruned(cat, "k >= 1000 AND k < 2000") == (2, 3))
    assert(checkAgainstUnpruned(cat, "k = 1500") == (2, 3))
    assert(checkAgainstUnpruned(cat, "k IN (100, 2900)") == (1, 3))
    assert(checkAgainstUnpruned(cat, "k = 5000") == (3, 3)) // nothing matches
    assert(checkAgainstUnpruned(cat, "k >= 0") == (0, 3)) // nothing prunable
    // disjunctions prune only when BOTH sides exclude a file
    assert(checkAgainstUnpruned(cat, "k < 500 OR k > 2500") == (1, 3))
  }

  test("string, date, timestamp, decimal and double envelopes all prune") {
    val (cat, _) = fixture()
    assert(checkAgainstUnpruned(cat, "s = 'x01500'") == (2, 3))
    assert(checkAgainstUnpruned(cat, "s LIKE 'x019%'") == (2, 3))
    assert(checkAgainstUnpruned(cat, "s < 'x00100'") == (2, 3))
    assert(checkAgainstUnpruned(cat, "d > 250.0") == (2, 3))
    assert(checkAgainstUnpruned(cat, "dc >= 2000.00") == (2, 3))
    assert(checkAgainstUnpruned(cat,
      "ts > timestamp_millis(1700002500000)") == (2, 3))
    // dt cycles mod 900 so files overlap on it — overlapping envelopes
    // must NOT prune, and results must still match
    assert(checkAgainstUnpruned(cat, "dt = date'2024-01-05'")._2 == 3)
  }

  test("null-count envelopes prune IS NULL / IS NOT NULL") {
    val (cat, _) = fixture()
    // only the third file has null s
    assert(checkAgainstUnpruned(cat, "s IS NULL") == (2, 3))
    // the all-null file still holds k values — IS NOT NULL on s keeps it out
    assert(checkAgainstUnpruned(cat, "s IS NOT NULL") == (1, 3))
    // k is never null anywhere
    assert(checkAgainstUnpruned(cat, "k IS NULL") == (3, 3))
  }

  test("a full-table predicate sweep never changes results (soundness)") {
    val (cat, _) = fixture()
    val predicates = Seq(
      "k > 999", "k >= 999", "k < 1000", "k <= 1000", "k = 999", "k = 1000",
      "NOT (k > 1500)", "k % 7 = 0", "k > 100 AND s < 'x02000'",
      "s IS NULL OR k < 10", "d BETWEEN 99.9 AND 100.1",
      "dc = 250.00", "dc = 250.25", "s LIKE 'x%'", "s LIKE 'y%'",
      "upper(s) = 'X00042'", "k IN (0, 999, 1000, 1999, 2000, 2999)",
      "ts < timestamp'2023-11-14 22:13:20Z'", "dt >= date'2026-01-01'")
    predicates.foreach(p => checkAgainstUnpruned(cat, p))
  }

  test("compaction rewrites files and re-derives their stats") {
    val (cat, hc) = fixture()
    CatalogIO.compactTable(spark, hc, TableRef.parse("db.t"))
    val layout = layoutOf(hc)
    assert(layout.dataFileStats.get.size == layout.dataFilePaths.get.size)
    assert(layout.dataFileStats.get.exists(_.nonEmpty))
    // the rewritten file spans the full k range — a mid-range filter
    // stays correct whether or not anything is prunable now
    checkAgainstUnpruned(cat, "k = 1500")
  }

  test("clusterTable range-clusters an interleaved table so envelopes prune") {
    val wh = Files.createTempDirectory("cluster-wh").toString
    val name = s"cl${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $name.db")
    // three appends of INTERLEAVED keys: every file spans ~the full key
    // domain, so the envelopes exclude nothing
    def slice(m: Int): String =
      s"""SELECT id AS k, concat('p', cast(id AS string)) AS s
         |FROM range(0, 30000) WHERE id % 3 = $m""".stripMargin
    spark.sql(s"CREATE TABLE $name.db.t USING parquet AS " +
      s"SELECT /*+ COALESCE(1) */ * FROM (${slice(0)})")
    spark.sql(s"INSERT INTO $name.db.t SELECT /*+ COALESCE(1) */ * FROM (${slice(1)})")
    spark.sql(s"INSERT INTO $name.db.t SELECT /*+ COALESCE(1) */ * FROM (${slice(2)})")
    val hc = new HadoopFsCatalog(name, wh)
    val ref = TableRef.parse("db.t")
    val q = s"SELECT count(*) FROM $name.db.t WHERE k BETWEEN 1000 AND 1999"
    spark.conf.set("spark.graft.stats.pruning", "true")
    StatsPruning.lastPlanned = None
    assert(spark.sql(q).collect()(0).getLong(0) == 1000)
    assert(StatsPruning.lastPlanned.contains((0, 3))) // interleaved: nothing prunable
    // cluster on k: small target bytes force several range-band files
    val res = CatalogIO.clusterTable(spark, hc, ref, Seq("k"),
      targetFileBytes = 64L << 10)
    assert(res.compacted && res.toFiles > 1)
    val layout = layoutOf(hc)
    assert(layout.properties("graft.clustered-by") == "k")
    assert(layout.dataFileStats.get.forall(_.nonEmpty))
    StatsPruning.lastPlanned = None
    assert(spark.sql(q).collect()(0).getLong(0) == 1000)
    val Some((skipped, total)) = StatsPruning.lastPlanned
    assert(total == res.toFiles && skipped >= total - 2,
      s"clustered table should prune to the matching band, got $skipped/$total")

    // bucketed layouts refuse: bucket hashing owns file membership
    CatalogIO.createTable(spark, hc, TableRef.parse("db.b"),
      spark.sql("SELECT id AS k FROM range(100)"), bucketBy = Some((4, Seq("k"))))
    val refusal = intercept[UnsupportedOperationException](
      CatalogIO.clusterTable(spark, hc, TableRef.parse("db.b"), Seq("k")))
    assert(refusal.getMessage.contains("bucket"))
  }

  test("pruned size estimate promotes the join above the scan to broadcast") {
    val wh = Files.createTempDirectory("bcast-wh").toString
    val name = s"bc${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $name.db")
    spark.sql(
      s"""CREATE TABLE $name.db.t USING parquet AS
         |SELECT /*+ REPARTITION_BY_RANGE(20, id) */ id AS k,
         |       repeat(cast(id AS string), 20) AS pad
         |FROM range(0, 100000)""".stripMargin)
    val probe = spark.range(0, 200000).selectExpr("id AS k")
    // threshold between the pruned (1-file band) and unpruned estimates
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 << 10).toString)
    try {
      def planOf(): String = {
        val filtered = spark.table(s"$name.db.t")
          .where("k BETWEEN 41000 AND 42000")
        probe.join(filtered, "k").queryExecution.sparkPlan.toString
      }
      spark.conf.set("spark.graft.stats.pruning", "true")
      val pruned = planOf()
      assert(pruned.contains("BroadcastHashJoin"),
        s"pruned scan should broadcast, got:\n$pruned")
      spark.conf.set("spark.graft.stats.pruning", "false")
      val unpruned = planOf()
      assert(!unpruned.contains("BroadcastHashJoin"),
        s"unpruned estimate should exceed the threshold, got:\n$unpruned")
    } finally {
      spark.conf.set("spark.graft.stats.pruning", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }
  }

  test("whole-table COUNT/MIN/MAX answer from manifest stats without reading files") {
    val (cat, _) = fixture()
    spark.conf.set("spark.graft.stats.pruning", "true")
    // count(*) / count(col) and min/max over EVERY stats-supported type
    // (integers, dates, strings, timestamps, decimals) are fully
    // determined by the per-file envelopes (the all-null third-file s
    // contributes 0 to count(s) and nothing to extrema)
    val q = s"SELECT count(*) AS c, count(s) AS cs, min(k) AS mn, " +
      s"max(k) AS mx, min(dt) AS mdt, max(dt) AS xdt, min(s) AS ms, " +
      s"max(ts) AS xts, min(dc) AS mdc FROM $cat.db.t"
    spark.conf.set("spark.graft.stats.pruning", "false")
    val expected = spark.sql(q).collect()(0).toSeq
    spark.conf.set("spark.graft.stats.pruning", "true")
    StatsPruning.lastManifestAgg = None
    val df = spark.sql(q)
    assert(df.collect()(0).toSeq == expected)
    assert(StatsPruning.lastManifestAgg.isDefined, "manifest agg did not fire")
    assert(df.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      "manifest-answered aggregate should plan as a local scan")

    // refusals fall back to a real scan with identical results:
    // a filtered aggregate, and a float extremum (widened zero bounds)
    for (fq <- Seq(s"SELECT count(*) AS c FROM $cat.db.t WHERE k > 100",
        s"SELECT min(d) AS m FROM $cat.db.t")) {
      StatsPruning.lastManifestAgg = None
      spark.conf.set("spark.graft.stats.pruning", "false")
      val want = spark.sql(fq).collect()(0).toSeq
      spark.conf.set("spark.graft.stats.pruning", "true")
      assert(spark.sql(fq).collect()(0).toSeq == want)
      assert(StatsPruning.lastManifestAgg.isEmpty, s"$fq must not answer from manifest")
    }
  }

  test("bucketed tables skip stats-excluded files before bucket grouping") {
    val wh = Files.createTempDirectory("bstats-wh").toString
    val name = s"bs${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    val hc = new HadoopFsCatalog(name, wh)
    hc.createNamespace(graft.catalog.Namespace.of("db"))
    val ref = TableRef.parse("db.t")
    // two commits bucketed on k; w is append-ordered (the clustered
    // secondary column stats pruning works on — k itself is
    // hash-scattered across every file, so its envelopes never prune)
    def batch(wLo: Int): org.apache.spark.sql.DataFrame =
      spark.sql(s"SELECT id % 1000 AS k, id + $wLo AS w FROM range(0, 1000)")
    CatalogIO.createTable(spark, hc, ref, batch(0), bucketBy = Some((4, Seq("k"))))
    CatalogIO.commitAppend(spark, hc, ref, batch(1000))
    val layout = layoutOf(hc)
    val files = layout.dataFilePaths.get.size
    assert(files >= 8 && layout.dataFileStats.get.forall(_.nonEmpty))
    val q = s"SELECT count(*), sum(k) FROM $name.db.t WHERE w >= 1500"
    spark.conf.set("spark.graft.stats.pruning", "false")
    val expected = spark.sql(q).collect()(0).toSeq
    spark.conf.set("spark.graft.stats.pruning", "true")
    StatsPruning.lastPlanned = None
    assert(spark.sql(q).collect()(0).toSeq == expected)
    val Some((skipped, total)) = StatsPruning.lastPlanned
    // the whole first commit (w in [0,1000)) is provably excluded
    assert(total == files && skipped >= files / 2,
      s"expected the first commit's files skipped, got $skipped/$total")
    // SPJ survives: the bucketed join face still reports its grouping
    assert(spark.table(s"$name.db.t").queryExecution.executedPlan.toString
      .contains("KeyGroupedBuckets"))
  }

  test("streaming-ingested tables carry stats and prune like any other") {
    val wh = Files.createTempDirectory("sstats-wh").toString
    val name = s"ss${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    val hc = new HadoopFsCatalog(name, wh)
    hc.createNamespace(graft.catalog.Namespace.of("db"))
    val ref = TableRef.parse("db.t")
    // the streaming writer's batch body: replay-fenced manifest appends
    (0 until 3).foreach { i =>
      graft.streaming.StreamMaterialize.commitIngestBatch(spark, hc, ref,
        spark.sql(s"SELECT /*+ COALESCE(1) */ id AS k FROM " +
          s"range(${i * 1000}, ${i * 1000 + 1000})"),
        i.toLong, "graft.stream.lastBatch.statsSpec", dedupeReplays = true)
    }
    val layout = layoutOf(hc)
    assert(layout.dataFileStats.get.size == layout.dataFilePaths.get.size)
    assert(layout.dataFileStats.get.forall(_.nonEmpty))
    spark.conf.set("spark.graft.stats.pruning", "true")
    StatsPruning.lastPlanned = None
    assert(spark.sql(s"SELECT count(*) FROM $name.db.t WHERE k >= 2500")
      .collect()(0).getLong(0) == 500)
    assert(StatsPruning.lastPlanned.exists(_._1 >= 2),
      s"micro-batch files should prune: ${StatsPruning.lastPlanned}")
  }

  test("runtime DPP IN-list prunes fact files via manifest stats (dynamic file pruning)") {
    // Spark 4.1.2's own DSv2 ParquetScan implements NO runtime
    // filtering; StatsPrunedScan's SupportsRuntimeV2Filtering face turns
    // the DPP broadcast keys into manifest-envelope file skipping: the
    // dim side names only keys < 500, so fact files [1000,2000) and
    // [2000,3000) are dropped AT EXECUTION with no literal fact filter.
    val (cat, _) = fixture()
    spark.range(0, 50).selectExpr("id * 10 AS k", "id AS v")
      .createOrReplaceTempView("dppdim")
    spark.conf.set("spark.graft.stats.pruning", "true")
    val prevUseStats =
      spark.conf.getOption("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      StatsPruning.lastPlanned = None
      val rows = spark.sql(
        s"""SELECT f.k, d.v FROM $cat.db.t f
           |JOIN dppdim d ON f.k = d.k WHERE d.v < 50""".stripMargin).collect()
      assert(rows.length == 50)
      assert(StatsPruning.lastPlanned.contains((2, 3)),
        s"runtime filter should skip 2 of 3 fact files: ${StatsPruning.lastPlanned}")
    } finally prevUseStats match {
      case Some(v) =>
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", v)
      case None =>
        spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    }
  }

  test("time travel prunes with the traveled version's own stats") {
    val (cat, _) = fixture()
    spark.conf.set("spark.graft.stats.pruning", "true")
    StatsPruning.lastPlanned = None
    // version 2 = the CTAS snapshot: one file, [0,1000)
    val rows = spark.sql(
      s"SELECT count(*) FROM $cat.db.t VERSION AS OF 2 WHERE k > 500")
      .collect()(0).getLong(0)
    assert(rows == 499)
    val hit = spark.sql(
      s"SELECT count(*) FROM $cat.db.t VERSION AS OF 2 WHERE k > 5000")
    StatsPruning.lastPlanned = None
    assert(hit.collect()(0).getLong(0) == 0)
    assert(StatsPruning.lastPlanned.contains((1, 1)))
  }
}
