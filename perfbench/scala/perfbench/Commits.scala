package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.catalog.{HadoopFsCatalog, TableRef}
import graft.sources.{GraftSparkCatalog, MergeOps}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Writes beside reads on one engine table: a seeded lineitem-shaped base
  * table, then many small `INSERT INTO` appends (one file per core each);
  * every tenth step also a merge-on-read delete of ~100 keys and a
  * selective shipdate-range aggregate; one SQL `MERGE INTO` closes the
  * loop. Expected results are computed independently on the driver from
  * the generated rows. A traced run also measures the analytics queries
  * ([[Analytics]]). */
final class Commits(ctx: Ctx, res: Result, obs: SparkObserver) {
  import Commits._
  private val BaseOrders = 12000
  private val Appends = 100
  private val BatchOrders = 60
  private val Every = 10
  private val DeleteKeys = 100
  private val MergeKeys = 200
  private val Day = 86400000L
  private val Epoch = 694224000000L // 1992-01-01

  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private def rows(rnd: Random, firstKey: Long, orders: Int, day0: Long, days: Int): Seq[Row] =
    (0 until orders).flatMap { o =>
      val key = firstKey + o
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        val ship = Epoch + (day0 + rnd.nextInt(days)) * Day
        Row(key, 1L + rnd.nextInt(20000), 1L + rnd.nextInt(1000), ln, qty,
          qty * (900 + rnd.nextInt(100000)) / 100.0, rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, "RAN".charAt(rnd.nextInt(3)).toString,
          "OF".charAt(rnd.nextInt(2)).toString, new Timestamp(ship))
      }
    }

  private def line(r: Row) = Line(r.getLong(0), r.getDouble(4), r.getTimestamp(10).getTime)

  private def ts(ms: Long) = new Timestamp(ms).toInstant.toString.replace("T", " ").stripSuffix("Z")

  /** Build a fresh table (set-up), then run the timed loop and check it. */
  private def loop(id: String, traced: Boolean): Option[Loop] = {
    val spark = ctx.spark
    val setupStart = System.nanoTime()
    val rnd = new Random(ctx.seed * 7919L + id.hashCode)
    val wh = ctx.dir(s"$id-wh")
    val cat = s"pb_$id"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSparkCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.type", "hadoop")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh.toString)
    val hc = new HadoopFsCatalog(cat, wh.toString)
    val ref = TableRef.parse("db.li")
    val table = s"$cat.db.li"
    val base = rows(rnd, 1L, BaseOrders, 0, 2500)
    val live = mutable.ArrayBuffer.empty[Line]
    live ++= base.map(line)
    spark.sql(s"CREATE NAMESPACE $cat.db")
    spark.createDataFrame(base.asJava, schema).repartition(ctx.cores)
      .createOrReplaceTempView("pb_base")
    spark.sql(s"CREATE TABLE $table USING parquet AS SELECT * FROM pb_base")
    res.setupSamples += (System.nanoTime() - setupStart) / 1e9

    val appendMs = mutable.ArrayBuffer.empty[Double]
    val scanMs = mutable.ArrayBuffer.empty[Double]
    val deleteMs = mutable.ArrayBuffer.empty[Double]
    val layoutMs = mutable.ArrayBuffer.empty[Double]
    val pruned = mutable.ArrayBuffer.empty[(Int, Int)]
    var bad = 0
    var statements = 0
    var peakFiles = 0
    if (traced) { obs.attach(spark); Spans.enabled = true }
    def timed(kind: String, step: Int)(f: => Unit): Double = {
      val run = s"$id-$kind$step"
      Spans.enter(spark, run, s"st-$run")
      val t0 = Clock.now()
      var ok = false
      try { f; ok = true }
      catch { case e: Exception => bad += 1; res.notes += s"$run failed: ${e.getMessage}" }
      val t1 = Clock.now()
      Spans.record(Span(Spans.root, s"statement.$kind", t0, t1, "", run, ok))
      statements += 1
      (t1 - t0) / 1e6
    }

    var nextKey = BaseOrders + 1L
    (1 to Appends).foreach { step =>
      val batch = rows(rnd, nextKey, BatchOrders, 2500 + step * 2, 2)
      nextKey += BatchOrders
      live ++= batch.map(line)
      spark.createDataFrame(batch.asJava, schema).repartition(ctx.cores)
        .createOrReplaceTempView("pb_batch")
      appendMs += timed("append", step)(spark.sql(s"INSERT INTO $table SELECT * FROM pb_batch"))
      if (step % Every == 0) {
        val keys = rnd.shuffle(live.map(_.key).distinct).take(DeleteKeys).toSet
        val kept = live.filterNot(l => keys(l.key))
        live.clear()
        live ++= kept
        spark.createDataFrame(keys.toSeq.map(k => Row(k)).asJava,
          StructType(Seq(StructField("l_orderkey", LongType)))).createOrReplaceTempView("pb_keys")
        deleteMs += timed("delete", step)(MergeOps.deleteMatchedMergeOnRead(spark, hc, ref,
          spark.table("pb_keys"), Seq("l_orderkey")))
        val lo = Epoch + (2500 + rnd.nextInt(step * 2 + 1)) * Day
        val hi = lo + 6 * Day
        val want = live.filter(l => l.ship >= lo && l.ship <= hi)
        var got: Row = null
        scanMs += timed("scan", step) {
          got = spark.sql(s"SELECT count(*) AS n, coalesce(sum(l_quantity), 0D) AS q FROM $table " +
            s"WHERE l_shipdate BETWEEN TIMESTAMP '${ts(lo)}' AND TIMESTAMP '${ts(hi)}'").head()
        }
        Internals.lastPlanned().foreach(pruned += _)
        if (got == null || got.getLong(0) != want.size || got.getDouble(1) != want.map(_.qty).sum) {
          bad += 1
          res.notes += s"$id scan $step: got $got, want ${want.size} rows / ${want.map(_.qty).sum}"
        }
        if (traced) {
          val t0 = System.nanoTime()
          val files = Internals.dataFiles(hc.loadTableMetadataLocation(ref))
          layoutMs += (System.nanoTime() - t0) / 1e6
          peakFiles = math.max(peakFiles, files)
        }
      }
    }
    val mergeKeys = rnd.shuffle(live.map(_.key).distinct).take(MergeKeys)
      .map(k => k -> (1 + rnd.nextInt(5)).toDouble).toMap
    spark.createDataFrame(mergeKeys.toSeq.map { case (k, q) => Row(k, q) }.asJava,
      StructType(Seq(StructField("l_orderkey", LongType), StructField("addq", DoubleType))))
      .createOrReplaceTempView("pb_merge")
    val mergeMs = timed("merge", 0)(spark.sql(
      s"""MERGE INTO $table t USING pb_merge s ON t.l_orderkey = s.l_orderkey
         |WHEN MATCHED THEN UPDATE SET t.l_quantity = t.l_quantity + s.addq""".stripMargin))
    val finalLive = live.map(l => l.copy(qty = l.qty + mergeKeys.getOrElse(l.key, 0.0)))
    if (traced) { obs.detach(spark); Spans.enabled = false }
    Spans.root = ""

    val fin = spark.sql(s"SELECT count(*), coalesce(sum(l_quantity), 0D) FROM $table").head()
    if (fin.getLong(0) != finalLive.size || fin.getDouble(1) != finalLive.map(_.qty).sum) {
      bad += 1
      res.notes += s"$id final: got $fin, want ${finalLive.size} rows / ${finalLive.map(_.qty).sum}"
    }
    res.attempted += statements
    if (bad > 0) res.fail(bad, s"$id: $bad of $statements statements failed or read wrong")
    val wall = (appendMs.sum + scanMs.sum + deleteMs.sum + mergeMs) / 1e3
    if (traced) {
      res.perLayer("catalog_io.data_files") = peakFiles
      layerMetrics(id, wh, statements, layoutMs.toSeq, pruned.toSeq, wall)
    }
    Seq("", ".type", ".warehouse").foreach(s => spark.conf.unset(s"spark.sql.catalog.$cat$s"))
    Main.deleteTree(wh)
    if (bad == 0) Some(Loop(wall, appendMs.toSeq, scanMs.toSeq, deleteMs.toSeq, mergeMs)) else None
  }

  private def treeBytes(p: Path, keep: Path => Boolean): Long = {
    val st = Files.walk(p)
    try st.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f)).map(Files.size).sum
    finally st.close()
  }

  private def layerMetrics(id: String, wh: Path, statements: Int, layoutMs: Seq[Double],
      pruned: Seq[(Int, Int)], wallS: Double): Unit = {
    val m = res.perLayer
    m("catalog_io.metadata_bytes_per_commit") =
      treeBytes(wh, f => !f.toString.endsWith(".parquet") && !f.toString.endsWith(".crc")) /
        math.max(1.0, statements)
    val mine: String => Boolean = _.startsWith(id + "-")
    val spans = Spans.all.filter(s => mine(s.run))
    val jobsByRun = Stats.groupBy(spans.filter(_.name == "spark.job"))(_.run)
    val tails = spans.filter(_.name == "statement.append").flatMap { s =>
      jobsByRun.get(s.run).map(js => (s.end - js.map(_.end).max) / 1e6)
    }
    m("catalog_io.commit_tail_ms") = Stats.median(tails)
    m("catalog_io.layout_read_p50_ms") = Stats.median(layoutMs)
    val scans = obs.sqlsIn(Stats.spanIv(spans.filter(_.name == "statement.scan")))
    m("sources.plan_p50_ms") = Stats.median(scans.map(_.planMs))
    m("sources.exec_p50_ms") = Stats.median(scans.map(_.execMs))
    m("sources.files_skipped") = Stats.median(pruned.map(_._1.toDouble))
    m("sources.files_total") = Stats.median(pruned.map(_._2.toDouble))
    m ++= SparkMetrics.of(obs, mine, wallS * 1e3, ctx.cores)
    val roots = Stats.spanIv(spans.filter(_.name.startsWith("statement.")))
    val jobs = Stats.spanIv(spans.filter(_.name == "spark.job"))
    m("self.statements_s") = Stats.selfTime(roots, jobs) / 1e9
    m("self.spark_s") = Stats.covered(jobs) / 1e9
  }

  def run(): Unit = {
    val loops = mutable.ArrayBuffer.empty[Loop]
    var measured = 0.0
    var i = 0
    while (measured < ctx.seconds) {
      loop(s"loop$i", traced = false).foreach { l => loops += l; measured += l.wallS }
      i += 1
      if (i > 20) throw new IllegalStateException("no loop succeeded")
    }
    loops.foreach { l =>
      res.notes += f"loop: appends ${l.appendMs.sum / 1e3}%.2f s, deletes ${l.deleteMs.sum / 1e3}%.2f s, " +
        f"scans ${l.scanMs.sum / 1e3}%.2f s, merge ${l.mergeMs / 1e3}%.2f s"
    }
    val stmts = Appends + 2 * (Appends / Every) + 1
    res.timing(loops.map(_.wallS).toSeq, stmts, loops.flatMap(_.appendMs).toSeq)
    if (ctx.trace) {
      // one traced loop between two untraced ones: the overhead compares it
      // with their mean
      val traced = loop(s"loop$i", traced = true)
      val after = loop(s"loop${i + 1}", traced = false)
      val m = res.perLayer
      m("sources.scan_p50_ms") = Stats.median(traced.toSeq.flatMap(_.scanMs))
      m("sources.delete_p50_ms") = Stats.median(traced.toSeq.flatMap(_.deleteMs))
      m("sources.merge_ms") = traced.map(_.mergeMs).getOrElse(0.0)
      m("trace.overhead_s") = traced.map(_.wallS).getOrElse(0.0) -
        (loops.last.wallS + after.map(_.wallS).getOrElse(loops.last.wallS)) / 2
      new Analytics(ctx, res, obs).traced()
    }
  }
}

object Commits {
  /** A live row as the driver-side model keeps it. */
  private final case class Line(key: Long, qty: Double, ship: Long)
  private final case class Loop(wallS: Double, appendMs: Seq[Double], scanMs: Seq[Double],
      deleteMs: Seq[Double], mergeMs: Double)
}
