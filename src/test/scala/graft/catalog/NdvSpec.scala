package graft.catalog

import java.nio.file.Files

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.LayoutColumns._

/** Per-file NDV sketches (round 11; Ndv.scala + CatalogIO.analyzeTable
  * + StatsPrunedScan.columnStats): the manifest carries mergeable HLL
  * registers per (file, column), recorded by an explicit ANALYZE pass
  * and served to the optimizer as DSv2 column statistics — real
  * distinct counts behind CBO's join sizing. */
class NdvSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("HLL estimates within sketch error; merges are register-wise exact") {
    def sketchOf(vs: Iterator[Any]): Array[Byte] = {
      val r = Ndv.emptySketch(); vs.foreach(Ndv.add(r, _)); r
    }
    for (n <- Seq(100, 10000, 200000)) {
      val est = Ndv.estimate(sketchOf((0 until n).iterator.map(_.toLong)))
      assert(math.abs(est - n) <= math.max(3, n * 0.15),
        s"long NDV $n estimated $est")
    }
    val strings = sketchOf((0 until 50000).iterator.map(i => s"doc-$i"))
    val se = Ndv.estimate(strings)
    assert(math.abs(se - 50000) <= 50000 * 0.15, s"string NDV estimated $se")
    // merge of disjoint halves == sketch of the union
    val a = sketchOf((0 until 30000).iterator.map(_.toLong))
    val b = sketchOf((30000 until 60000).iterator.map(_.toLong))
    val m = Ndv.estimate(Ndv.merge(a, b))
    assert(math.abs(m - 60000) <= 60000 * 0.15, s"merged NDV estimated $m")
    // duplicates collapse: same values twice = same estimate
    val dup = sketchOf(((0 until 1000) ++ (0 until 1000)).iterator.map(_.toLong))
    assert(math.abs(Ndv.estimate(dup) - 1000) <= 1000 * 0.15)
    // codec round-trip
    val enc = Ndv.encode(Map("k" -> a, "weird;name=" -> b))
    val dec = Ndv.decode(enc).get
    assert(dec("k").sameElements(a) && dec("weird;name=").sameElements(b))
    assert(Ndv.decode("").isEmpty)
  }

  private def freshCatalog(): (String, HadoopFsCatalog) = {
    val wh = Files.createTempDirectory("ndv-wh").toString
    val name = s"nv${java.util.UUID.randomUUID().toString.take(8).replace("-", "")}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sources.GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $name.db")
    (name, new HadoopFsCatalog(name, wh))
  }

  test("analyzeTable records sketches; appends carry them; scans report NDV to the optimizer") {
    val (cat, hc) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.db.t USING parquet AS " +
      "SELECT /*+ COALESCE(2) */ id AS k, CAST(id % 50 AS STRING) AS g FROM range(0, 20000)")
    val ref = TableRef.parse("db.t")
    val res = CatalogIO.analyzeTable(spark, hc, ref)
    assert(res.analyzedFiles == 2 && res.columns == Seq("k", "g"))
    val layout = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
    assert(layout.dataFileNdv.get.size == 2 && layout.dataFileNdv.get.forall(_.nonEmpty))
    // optimizer-visible: distinctCount lands in the plan's attribute stats
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table(s"$cat.db.t").queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.toSeq.map { case (a, s) => a.name -> s }.toMap
      val kNdv = byName("k").distinctCount.get.toLong
      val gNdv = byName("g").distinctCount.get.toLong
      assert(math.abs(kNdv - 20000) <= 20000 * 0.15, s"k NDV reported $kNdv")
      assert(math.abs(gNdv - 50) <= 15, s"g NDV reported $gNdv")
      // the kill-switch drops the report
      spark.conf.set("spark.graft.ndv.enabled", "false")
      assert(spark.table(s"$cat.db.t").queryExecution.optimizedPlan
        .stats.attributeStats.isEmpty)
      spark.conf.unset("spark.graft.ndv.enabled")
      // an append carries prior sketches; the new file has none, so the
      // scan stops reporting (partial coverage never guesses)
      spark.sql(s"INSERT INTO $cat.db.t SELECT /*+ COALESCE(1) */ id, '50' FROM range(20000, 20100)")
      val l2 = CatalogIO.readLayout(hc.loadTableMetadataLocation(ref))
      assert(l2.dataFileNdv.get.count(_.nonEmpty) == 2 &&
        l2.dataFileNdv.get.count(_.isEmpty) == 1)
      assert(spark.table(s"$cat.db.t").queryExecution.optimizedPlan
        .stats.attributeStats.isEmpty)
      // re-analyze restores full coverage
      CatalogIO.analyzeTable(spark, hc, ref)
      val k2 = spark.table(s"$cat.db.t").queryExecution.optimizedPlan
        .stats.attributeStats.toSeq.map { case (a, s) => a.name -> s }.toMap
      assert(k2("k").distinctCount.isDefined)
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("pruned scans report the SURVIVING files' NDV, not the whole table's") {
    val (cat, hc) = freshCatalog()
    // two k-disjoint files: [0,1000) and [1000,11000) — NDV 1000 vs 10000
    spark.sql(s"CREATE TABLE $cat.db.p USING parquet AS " +
      "SELECT /*+ COALESCE(1) */ id AS k FROM range(0, 1000)")
    spark.sql(s"INSERT INTO $cat.db.p SELECT /*+ COALESCE(1) */ id FROM range(1000, 11000)")
    CatalogIO.analyzeTable(spark, hc, TableRef.parse("db.p"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.graft.stats.pruning", "true")
    try {
      val pruned = spark.table(s"$cat.db.p").where("k < 500")
        .queryExecution.optimizedPlan.stats
      val kStat = pruned.attributeStats.toSeq
        .collectFirst { case (a, s) if a.name == "k" => s }.get
      val ndv = kStat.distinctCount.get.toLong
      assert(ndv <= 1500, s"post-pruning NDV should be ~1000, got $ndv")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("a real NDV flips a downstream join to broadcast (CBO join sizing)") {
    val (cat, hc) = freshCatalog()
    // t1: 200k rows, k fully distinct -> a join with the 50-key dim
    // yields ~50 rows. Without NDV the join output inherits a huge
    // estimate and the second join stays sort-merge.
    spark.sql(s"CREATE TABLE $cat.db.t1 USING parquet AS " +
      "SELECT id AS k, concat('payload-', id, '-', repeat('x', 64)) AS pay " +
      "FROM range(0, 200000)")
    spark.sql(s"CREATE TABLE $cat.db.dim USING parquet AS " +
      "SELECT id * 4000 AS k FROM range(0, 50)")
    spark.sql(s"CREATE TABLE $cat.db.t3 USING parquet AS " +
      "SELECT id AS k, concat('other-', id, '-', repeat('y', 64)) AS o " +
      "FROM range(0, 200000)")
    for (t <- Seq("t1", "dim", "t3"))
      CatalogIO.analyzeTable(spark, hc, TableRef.parse(s"db.$t"))
    val q =
      s"""SELECT j.k, t3.o FROM
         |  (SELECT t1.k FROM $cat.db.t1 t1 JOIN $cat.db.dim d ON t1.k = d.k) j
         |JOIN $cat.db.t3 t3 ON j.k = t3.k""".stripMargin
    def planOf(ndvOn: Boolean): String = {
      spark.conf.set("spark.graft.ndv.enabled", ndvOn.toString)
      try spark.sql(q).queryExecution.executedPlan.toString
      finally spark.conf.unset("spark.graft.ndv.enabled")
    }
    spark.conf.set("spark.sql.cbo.enabled", "true")
    // tight threshold: big sides must never broadcast, the ~50-row join
    // output must (once its cardinality is actually known)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (256 * 1024).toString)
    try {
      def broadcasts(plan: String): Int =
        "BroadcastHashJoin".r.findAllIn(plan).length
      val withNdv = planOf(ndvOn = true)
      val withoutNdv = planOf(ndvOn = false)
      // the tiny dim broadcasts in BOTH plans; only the NDV-informed one
      // knows the first join's output is ~50 rows and broadcasts IT too
      assert(broadcasts(withNdv) == 2,
        s"NDV-informed plan should broadcast the 50-row join output:\n$withNdv")
      assert(broadcasts(withoutNdv) == 1,
        s"without NDV the join output estimate must stay big:\n$withoutNdv")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
