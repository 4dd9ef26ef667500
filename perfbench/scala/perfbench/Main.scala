package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one benchmark run measured: operation counts, end-to-end metrics
  * (untraced repetitions only) and per-layer metrics (traced run). */
final class Result {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Double]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  /** Seconds of each repetition's set-up (fresh catalogs / table). */
  val setupSamples = mutable.ArrayBuffer.empty[Double]
  /** One-off set-up inside the JVM: warm-up, data staging. */
  var warmupS = 0.0

  def fail(n: Long, why: String): Unit = { failed += n; notes += why }

  /** End-to-end timings of the untraced repetitions: median repetition
    * wall, operations per second, and the median per-operation latency.
    * The operation latencies' p90 goes to the per-layer metrics: at this
    * run length not every workload has ten samples beyond it. */
  def timing(walls: Seq[Double], opsPerRep: Int, opMs: Seq[Double]): Unit = {
    endToEnd("wall_s") = Stats.median(walls)
    endToEnd("ops_per_s") = opsPerRep / Stats.median(walls)
    endToEnd("op_p50_ms") = Stats.band(opMs, 0.5)
    perLayer("ops.p90_ms") = Stats.band(opMs, 0.9)
    perLayer("ops.samples") = opMs.size
  }
}

/** Settings shared by every workload. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: Path, data: Path, cores: Int) {
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

/** Harness entry: `--workload W --seed N --seconds S --trace 0|1
  * --work DIR --data DIR --out FILE`. Writes one JSON result file. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() -
      ProcessHandle.current().info().startInstant().get().toEpochMilli) / 1e3
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", work, Paths.get(opts("data")).toAbsolutePath, cores)
    val res = new Result
    val observer = new SparkObserver
    try workload match {
      case "migrate_rest" => new Migrate(ctx, res, observer).run()
      case "table_commits" => new Commits(ctx, res, observer).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(math.max(1L, res.attempted - res.failed), s"workload aborted: $e")
        res.attempted = math.max(res.attempted, 1L)
    }
    res.endToEnd("setup_s") = sessionS + res.warmupS + Stats.median(res.setupSamples.toSeq)
    res.notes += f"set-up: session $sessionS%.2f s, warm-up ${res.warmupS}%.2f s, " +
      f"per-repetition median ${Stats.median(res.setupSamples.toSeq)}%.2f s of ${res.setupSamples.size}"
    res.endToEnd("peak_rss_mb") = peakRssMb()
    if (ctx.trace) Spans.writeJsonl(work.resolve("spans.jsonl"))
    Files.writeString(Paths.get(opts("out")), toJson(res))
    spark.stop()
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The JVM's peak resident set (VmHWM), MiB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => 0.0 }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    } + "\""

  def toJson(r: Result): String = {
    def obj(m: mutable.LinkedHashMap[String, Double]) =
      m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""end_to_end":${obj(r.endToEnd)},"per_layer":${obj(r.perLayer)},""" +
      s""""notes":${r.notes.take(50).map(str).mkString("[", ",", "]")}}"""
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try {
        val it = st.iterator()
        val all = mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) all += it.next()
        all.reverseIterator.foreach(x => Files.deleteIfExists(x))
      } finally st.close()
    }
}
