package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.catalog.{Catalog, CatalogConfig, CatalogFactory, Namespace, TableRef}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock nanoseconds on one time base for spans taken on any thread
  * and for Spark listener events (which carry epoch milliseconds). */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
  def ofEpochMs(ms: Long): Long = ms * 1000000L
}

/** One timed interval at a layer boundary: name, start, end, the span that
  * caused it, and the run (repetition) it belongs to. */
final case class Span(id: String, name: String, start: Long, end: Long,
    parent: String, run: String, ok: Boolean = true) {
  def durNs: Long = end - start
}

/** In-memory span store. Recording is a lock-free append; nothing is
  * written until the benchmark ends. */
object Spans {
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  @volatile var enabled = false
  /** Current run id and root span id, set by the running workload. */
  @volatile var run = ""
  @volatile var root = ""

  def nextId(prefix: String): String = s"$prefix${ids.incrementAndGet()}"

  /** Enter a run: Spark jobs submitted from this thread carry its ids as
    * local properties, because listener events arrive asynchronously. */
  def enter(spark: SparkSession, r: String, rt: String): Unit = {
    run = r
    root = rt
    if (enabled) {
      spark.sparkContext.setLocalProperty("perfbench.run", r)
      spark.sparkContext.setLocalProperty("perfbench.root", rt)
    }
  }
  def record(s: Span): Unit = if (enabled) buf.add(s)
  def all: Seq[Span] = buf.asScala.toVector
  def ofRun(r: String): Seq[Span] = all.filter(_.run == r)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(s"""{"id":"${s.id}","name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":"${s.parent}","run":"${s.run}","ok":${s.ok}}""")
      sb.append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object SparkObserver {
  final case class TaskRow(stage: Int, durMs: Long, runMs: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long)
  /** One SQL execution; `startNs` (on the [[Clock]] base) places it in a run. */
  final case class SqlRow(startNs: Long, planMs: Double, execMs: Double, ok: Boolean)
}

/** Spark-side observations from outside the program: a SparkListener for
  * jobs, stages and tasks, and a QueryExecutionListener for SQL executions
  * (planning phases, durations and `graft_*` observed metrics). Jobs are
  * recorded as spans under the current root; everything else as rows. */
final class SparkObserver extends SparkListener with QueryExecutionListener {
  import SparkObserver._

  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
  private val stageRun = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()
  val tasks = new ConcurrentLinkedQueue[(String, TaskRow)]()
  val sqls = new ConcurrentLinkedQueue[SqlRow]()
  /** name → numeric fields of the latest `graft_*` observation. */
  val observations = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Double]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    def prop(k: String, orElse: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse(orElse)
    val run = prop("perfbench.run", Spans.run)
    e.stageIds.foreach(stageRun.put(_, run))
    jobStart.put(e.jobId, (Clock.ofEpochMs(e.time), prop("perfbench.root", Spans.root), run))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStart.remove(e.jobId)).foreach { case (s, root, run) =>
      Spans.record(Span(s"job${e.jobId}", "spark.job", s, Clock.ofEpochMs(e.time),
        root, run, e.jobResult == JobSucceeded))
    }
    ended.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(stageRun.getOrDefault(e.stageId, Spans.run) -> TaskRow(
      e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    sqls.add(SqlRow(startNs(qe), planMs(qe), durationNs / 1e6, ok = true))
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("graft_")) {
        val kv = row.schema.fieldNames.zip(row.toSeq).collect {
          case (k, v: java.lang.Number) => k -> v.doubleValue()
        }.toMap
        observations.put(name, kv)
      }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    sqls.add(SqlRow(startNs(qe), planMs(qe), 0.0, ok = false))

  private def startNs(qe: QueryExecution): Long =
    Clock.ofEpochMs(qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L))

  private def planMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble

  /** The listener bus is asynchronous: block until every job that started
    * has ended, so the last statement's events are in. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (ended.get < started.get && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(20)
  }

  /** JVM-wide GC milliseconds over the attached windows, and their count. */
  @volatile var gcMs = 0L
  @volatile var windows = 0
  private var gc0 = 0L
  private def gcNow(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def attach(spark: SparkSession): Unit = {
    gc0 = gcNow()
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    gcMs += gcNow() - gc0
    windows += 1
  }

  def tasksOf(runs: String => Boolean): Seq[TaskRow] =
    tasks.asScala.collect { case (r, t) if runs(r) => t }.toVector
  /** SQL executions that started inside one of the intervals. */
  def sqlsIn(iv: Seq[(Long, Long)]): Seq[SqlRow] =
    sqls.asScala.filter(s => iv.exists { case (a, b) => s.startNs >= a && s.startNs <= b }).toVector
}

/** The `spark` layer's counters over a set of runs (repetition ids). */
object SparkMetrics {
  def of(obs: SparkObserver, runs: String => Boolean, wallMs: Double,
      cores: Int): Map[String, Double] = {
    val jobs = Spans.all.filter(s => runs(s.run) && s.name == "spark.job")
    val ts = obs.tasksOf(runs)
    val byStage = Stats.groupBy(ts)(_.stage)
    val skew = byStage.values.filter(_.size >= 2).map { st =>
      val d = st.map(_.durMs.toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }
    val cpuS = ts.map(_.cpuNs).sum / 1e9
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> byStage.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_cpu_s" -> cpuS,
      "spark.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "spark.cpu_share" -> (if (wallMs > 0) cpuS / (wallMs / 1e3 * cores) else 0.0),
      "spark.gc_s" -> obs.gcMs / 1e3 / math.max(1, obs.windows),
      "spark.shuffle_read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.skew_max_over_median" -> (if (skew.isEmpty) 0.0 else skew.max))
  }
}

/** A [[Catalog]] that times every call into the real backend. Registered
  * through the program's `custom` catalog type: properties
  * `perfbench.type` / `perfbench.name` build the delegate with the same
  * factory, and `perfbench.role` names the side (src, tgt, backing). */
final class TimedCatalog(cfg: CatalogConfig) extends Catalog {
  private val role = cfg.properties.getOrElse("perfbench.role", "cat")
  private val inner: Catalog = {
    val props = cfg.properties.filter { case (k, _) =>
      !k.startsWith("perfbench.") && k != "impl" }
    val delegate = CatalogConfig(cfg.properties("perfbench.type"),
      cfg.properties.getOrElse("perfbench.name", cfg.name), props, cfg.hadoopConf)
    TimedCatalog.timed(s"catalog.$role.build")(CatalogFactory.build(delegate))
  }

  private def call[T](op: String)(f: => T): T = TimedCatalog.timed(s"catalog.$role.$op")(f)

  override def name: String = inner.name
  override def listNamespaces(parent: Namespace): Seq[Namespace] =
    call("list_namespaces")(inner.listNamespaces(parent))
  override def namespaceExists(ns: Namespace): Boolean =
    call("namespace_exists")(inner.namespaceExists(ns))
  override def createNamespace(ns: Namespace): Unit =
    call("create_namespace")(inner.createNamespace(ns))
  override def listTables(ns: Namespace): Seq[TableRef] =
    call("list_tables")(inner.listTables(ns))
  override def tableExists(ref: TableRef): Boolean =
    call("table_exists")(inner.tableExists(ref))
  override def loadTableMetadataLocation(ref: TableRef): String =
    call("load")(inner.loadTableMetadataLocation(ref))
  override def registerTable(ref: TableRef, metadataLocation: String): Unit =
    call("register")(inner.registerTable(ref, metadataLocation))
  override def dropTable(ref: TableRef): Boolean = call("drop")(inner.dropTable(ref))
  override def dropDestroysData: Boolean = inner.dropDestroysData
  override def close(): Unit = inner.close()
}

object TimedCatalog {
  /** Task-side calls hang under their stage; driver-side ones under the
    * current root span. */
  def timed[T](name: String)(f: => T): T = {
    val s = Clock.now()
    var ok = false
    try { val r = f; ok = true; r }
    finally {
      val tc = TaskContext.get()
      val parent = if (tc != null) s"stage${tc.stageId()}" else Spans.root
      Spans.record(Span(Spans.nextId("c"), name, s, Clock.now(), parent, Spans.run, ok))
    }
  }

  /** CatalogConfig for the CLI's `custom` type that wraps `tpe`. */
  def props(tpe: String, name: String, role: String,
      props: Map[String, String]): Map[String, String] =
    props ++ Map("perfbench.type" -> tpe, "perfbench.name" -> name, "perfbench.role" -> role)
}

/** Small statistics over samples. */
object Stats {
  /** Nearest-rank percentile, q in [0, 1]; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  /** Percentile q estimated as the mean of the samples ranked within
    * q ± 0.05: steadier than one order statistic, and not stuck on the
    * sample grid when samples are whole milliseconds. */
  def band(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val lo = math.max(0, math.floor((q - 0.05) * s.size).toInt)
      val hi = math.min(s.size, math.max(lo + 1, math.ceil((q + 0.05) * s.size).toInt))
      s.slice(lo, hi).sum / (hi - lo)
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Length of the union of [start, end) intervals, ns. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of `outer` spans: their covered time minus the part their
    * `inner` spans cover (clipped to the outer intervals), ns. */
  def selfTime(outer: Seq[(Long, Long)], inner: Seq[(Long, Long)]): Long = {
    val o = covered(outer)
    val clipped = inner.flatMap { case (s, e) =>
      outer.collect { case (os, oe) if s < oe && e > os =>
        (math.max(s, os), math.min(e, oe)) }
    }
    o - covered(clipped)
  }

  def spanIv(ss: Seq[Span]): Seq[(Long, Long)] = ss.map(s => (s.start, s.end))

  /** count / p50 / p99 / failed of one span name, per run. */
  def callStats(spans: Seq[Span], name: String, runs: Int): Map[String, Double] = {
    val xs = spans.filter(_.name == name)
    val d = xs.map(_.durNs / 1e6)
    Map("count" -> xs.size.toDouble / math.max(1, runs),
      "p50_ms" -> pct(d, 0.5), "p99_ms" -> pct(d, 0.99),
      "failed" -> xs.count(!_.ok).toDouble / math.max(1, runs))
  }

  def groupBy[K, V](xs: Iterable[V])(k: V => K): Map[K, Seq[V]] = {
    val m = mutable.LinkedHashMap.empty[K, mutable.ArrayBuffer[V]]
    xs.foreach(x => m.getOrElseUpdate(k(x), mutable.ArrayBuffer.empty) += x)
    m.map { case (a, b) => a -> b.toSeq }.toMap
  }
}
