package perfbench

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable
import scala.util.Random

import graft.catalog._
import graft.cli.CatalogMigrationCLI

/** The migration workload: `migrate` of a generated two-level namespace
  * tree from a JDBC (Derby) catalog to the in-process REST catalog server
  * (over a second Derby catalog). Each repetition starts from fresh
  * catalogs; the CLI runs in-process with the Spark session already
  * active, one invocation at a time.
  *
  * A traced run also migrates the tree into a Nessie store, for the
  * `catalog.nessie` layer's metrics. Nessie is not an end-to-end workload:
  * its migrations spread 20-40% from run to run on a shared 4-core VM
  * (lock-file heads follow the disk's unlink latency; in-memory heads make
  * a repetition so short that JIT and scheduling noise dominate). */
final class Migrate(ctx: Ctx, res: Result, obs: SparkObserver) {
  import Migrate._
  private val Tops = 4
  private val Children = 5
  private val TablesPerRep = 100
  private val WarmupReps = 1
  /** At least this many timed repetitions; the median is reported. */
  private val MinReps = 3
  /** Consecutive tables of one task averaged into one latency sample. */
  private val Window = 5

  private val Registered = """^(\S+) \[(.*)\] INFO .* - Successfully registered the table .*""".r

  /** Per-table latency from the CLI's own migration log: each task logs
    * one line per registered table, so the gap between a task's
    * consecutive lines is one table's load + register + drop. The log has
    * millisecond stamps; each sample is the mean over a window of
    * consecutive tables of one task. */
  private def tableLatencies(log: Path): Seq[Double] =
    if (!Files.exists(log)) Nil
    else {
      val byTask = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
      Files.readAllLines(log).forEach {
        case Registered(at, thread) =>
          byTask.getOrElseUpdate(thread, mutable.ArrayBuffer.empty) +=
            java.time.Instant.parse(at).toEpochMilli
        case _ => ()
      }
      byTask.values.toSeq.flatMap { ts =>
        ts.indices.by(Window).drop(1).map(i => (ts(i) - ts(i - Window)).toDouble / Window)
      }
    }

  /** Seeded namespace/table names and one small Iceberg metadata JSON per
    * table (the REST server reads it when it answers a register). */
  private def generate(rnd: Random, dir: Path, n: Int): Tree = {
    def word(prefix: String, used: mutable.Set[String]): String = {
      var w = ""
      while (w.isEmpty || used.contains(w))
        w = prefix + Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(6).mkString
      used += w
      w
    }
    val used = mutable.Set.empty[String]
    val tops = Seq.fill(Tops)(word("ns_", used))
    val leaves = tops.flatMap(t => Seq.fill(Children)(Namespace.of(t, word("sub_", used))))
    val tables = (0 until n).map { i =>
      val ns = leaves(i % leaves.size)
      val ref = TableRef(ns, word(s"t${i}_", used))
      val uuid = new java.util.UUID(rnd.nextLong(), rnd.nextLong())
      val loc = dir.resolve(s"tables/$ns/${ref.name}")
      val meta = loc.resolve(s"metadata/00000-$uuid.metadata.json")
      Files.createDirectories(meta.getParent)
      Files.writeString(meta,
        s"""{"format-version":2,"table-uuid":"$uuid","location":"$loc",""" +
          s""""last-sequence-number":0,"last-updated-ms":${1700000000000L + rnd.nextInt(1 << 30)},""" +
          """"last-column-id":2,"current-schema-id":0,"schemas":[{"type":"struct",""" +
          """"schema-id":0,"fields":[{"id":1,"name":"id","required":true,"type":"long"},""" +
          """{"id":2,"name":"v","required":false,"type":"string"}]}],"default-spec-id":0,""" +
          """"partition-specs":[{"spec-id":0,"fields":[]}],"last-partition-id":999,""" +
          """"default-sort-order-id":0,"sort-orders":[{"order-id":0,"fields":[]}],""" +
          """"properties":{},"current-snapshot-id":-1,"snapshots":[],""" +
          """"snapshot-log":[],"metadata-log":[]}""")
      ref -> meta.toString
    }
    Tree(tops.map(Namespace.of(_)) ++ leaves, tables)
  }

  /** In-memory Derby: catalog rows never touch the disk. */
  private def derbyUri(db: String) = s"jdbc:derby:memory:$db"

  private def dropDerby(db: String): Unit =
    try DriverManager.getConnection(s"${derbyUri(db)};drop=true")
    catch { case _: SQLException => () }

  private def props(m: Map[String, String]): String =
    m.map { case (k, v) => s"$k=$v" }.mkString(",")

  private def side(flag: String, tpe: String, name: String, role: String,
      p: Map[String, String], traced: Boolean): Seq[String] =
    if (!traced) Seq(s"--$flag-catalog-type", tpe, s"--$flag-catalog-properties", props(p))
    else Seq(s"--$flag-catalog-type", "custom",
      s"--$flag-custom-catalog-impl", classOf[TimedCatalog].getName,
      s"--$flag-catalog-properties", props(TimedCatalog.props(tpe, name, role, p)))

  /** Nessie target: the default store, commit objects and branch heads as
    * files in a directory of the repetition. */
  private def nessieProps(store: String): Map[String, String] = Map("store" -> store)

  private def countFiles(p: Path): Int =
    if (!Files.isDirectory(p)) 0
    else { val s = Files.list(p); try s.count().toInt finally s.close() }

  /** Set up fresh catalogs, run one timed `migrate`, check the outcome and
    * tear down. Returns None for a failed invocation. */
  private def rep(id: String, tree: Tree, traced: Boolean,
      target: String = "rest"): Option[Rep] = {
    val n = tree.tables.size
    val dir = ctx.dir(id)
    val setupStart = System.nanoTime()
    val srcDb = s"$id-src"
    val seeder = new JdbcCatalog("source-jdbc", s"${derbyUri(srcDb)};create=true")
    try {
      tree.namespaces.foreach(seeder.createNamespace)
      tree.tables.foreach { case (ref, loc) => seeder.registerTable(ref, loc) }
    } finally seeder.close()

    val tgtDb = s"$id-tgt"
    val store = dir.resolve("nessie").toString
    var server: RestCatalogServer = null
    var backing: Catalog = null
    val tgtArgs = target match {
      case "nessie" =>
        CatalogFactory.build(CatalogConfig("nessie", "init", nessieProps(store))).close()
        side("target", "nessie", "target-nessie", "tgt", nessieProps(store), traced)
      case _ =>
        val backingCfg = CatalogConfig("jdbc", "target-backing",
          Map("uri" -> s"${derbyUri(tgtDb)};create=true"))
        backing =
          if (traced) new TimedCatalog(backingCfg.copy(catalogType = "custom",
            properties = TimedCatalog.props("jdbc", "target-backing", "backing",
              backingCfg.properties)))
          else CatalogFactory.build(backingCfg)
        server = new RestCatalogServer(backing)
        side("target", "rest", "target-rest", "tgt", Map("uri" -> server.uri), traced)
    }
    val outDir = dir.resolve("out")
    val args = Seq("migrate") ++
      side("source", "jdbc", "source-jdbc", "src", Map("uri" -> derbyUri(srcDb)), traced) ++
      tgtArgs ++ Seq("--output-dir", outDir.toString, "--disable-safety-prompts")
    val commitsBefore = countFiles(Path.of(store, "commits"))
    val landedBefore = if (target == "nessie") nessieLog(store) else 0
    res.setupSamples += (System.nanoTime() - setupStart) / 1e9

    if (traced) { obs.attach(ctx.spark); Spans.enabled = true }
    Spans.enter(ctx.spark, id, s"cli-$id")
    val t0 = Clock.now()
    val rc = CatalogMigrationCLI.run(args, () => "no", _ => ())
    val t1 = Clock.now()
    if (traced) {
      obs.detach(ctx.spark)
      Spans.record(Span(Spans.root, "cli.run", t0, t1, "", id, rc == 0))
      Spans.enabled = false
    }
    Spans.root = ""

    try {
      val bad = check(tree, rc, srcDb, tgtDb, store, outDir, target)
      res.attempted += n
      if (bad > 0) res.fail(bad, s"$id: $bad of $n tables failed the migration check (exit $rc)")
      if (traced && target == "nessie") nessieMetrics(id, t0, t1, store, commitsBefore, landedBefore)
      else if (traced) layerMetrics(id, t0, t1)
      val perTable = tableLatencies(outDir.resolve("catalog_migration.log"))
      res.notes += f"$id: set-up ${res.setupSamples.last}%.2f s, migrate ${(t1 - t0) / 1e9}%.2f s"
      if (bad == 0) Some(Rep((t1 - t0) / 1e9, perTable)) else None
    } finally {
      if (server != null) server.close()
      if (backing != null) backing.close()
      dropDerby(srcDb)
      dropDerby(tgtDb)
      Main.deleteTree(dir)
    }
  }

  private def nessieLog(store: String): Int = {
    val c = CatalogFactory.build(CatalogConfig("nessie", "probe", nessieProps(store)))
    try c.asInstanceOf[NessieCatalog].commitLog().size finally c.close()
  }

  /** Output check: exit code 0, empty failure files, every table resolves
    * in the target to its source metadata location, none remain at the
    * source. Returns the number of tables that failed. */
  private def check(tree: Tree, rc: Int, srcDb: String, tgtDb: String, store: String,
      outDir: Path, target: String): Int = {
    if (rc != 0) return tree.tables.size
    val failedFiles = Seq(MigrationReport.FailedIdentifiersFile,
      MigrationReport.FailedToDeleteFile).map(outDir.resolve)
    val listed = failedFiles.flatMap { f =>
      if (Files.exists(f)) Files.readString(f).split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("<missing report file>")
    }.toSet
    val src = new JdbcCatalog("source-jdbc", derbyUri(srcDb))
    val tgt: Catalog = target match {
      case "nessie" => CatalogFactory.build(CatalogConfig("nessie", "verify", nessieProps(store)))
      case _ => new JdbcCatalog("target-backing", derbyUri(tgtDb))
    }
    try tree.tables.count { case (ref, loc) =>
      val there = try tgt.loadTableMetadataLocation(ref) == loc catch { case _: Exception => false }
      !there || src.tableExists(ref) || listed.contains(ref.toString)
    } + (if (listed.contains("<missing report file>")) 1 else 0)
    finally { src.close(); tgt.close() }
  }

  private val traced = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def layerMetrics(id: String, t0: Long, t1: Long): Unit = {
    val spans = Spans.ofRun(id)
    val jobs = spans.filter(_.name == "spark.job")
    val calls = spans.filter(s => s.name.startsWith("catalog.") && !s.name.endsWith(".build"))
    val builds = spans.filter(_.name.endsWith(".build"))
    val firstJob = if (jobs.isEmpty) t1 else jobs.map(_.start).min
    val lastJob = if (jobs.isEmpty) t1 else jobs.map(_.end).max
    val wallMs = (t1 - t0) / 1e6
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("cli.wall_s") = wallMs / 1e3
    m("cli.phase.list_s") = (firstJob - t0) / 1e9
    m("cli.phase.register_s") = (lastJob - firstJob) / 1e9
    m("cli.phase.report_s") = (t1 - lastJob) / 1e9
    m("cli.phase.unaccounted_share") = math.abs(wallMs / 1e3 -
      (m("cli.phase.list_s") + m("cli.phase.register_s") + m("cli.phase.report_s"))) / (wallMs / 1e3)
    val sqls = obs.sqlsIn(Seq((t0, t1)))
    val taskMs = obs.tasksOf(_ == id).map(_.durMs.toDouble).sum
    m("migrator.jobs") = jobs.size
    m("migrator.chunk_p50_s") = Stats.median(sqls.map(_.execMs / 1e3).toSeq)
    m("migrator.chunk_max_s") = if (sqls.isEmpty) 0.0 else sqls.map(_.execMs / 1e3).max
    m("migrator.task_busy_share") =
      if (lastJob > firstJob) taskMs / ((lastJob - firstJob) / 1e6 * ctx.cores) else 0.0
    m("migrator.clients_built") = builds.size
    m("migrator.client_build_ms") = builds.map(_.durNs / 1e6).sum
    for (op <- Seq("list_tables", "load", "drop"); (k, v) <- Stats.callStats(calls, s"catalog.src.$op", 1))
      m(s"catalog.src.$op.$k") = v
    for (op <- Seq("create_namespace", "register"); (k, v) <- Stats.callStats(calls, s"catalog.tgt.$op", 1))
      m(s"catalog.tgt.$op.$k") = v
    val client = Stats.pct(calls.filter(_.name == "catalog.tgt.register").map(_.durNs / 1e6), 0.5)
    val server = Stats.pct(calls.filter(_.name == "catalog.backing.register").map(_.durNs / 1e6), 0.5)
    m("rest.client_call_p50_ms") = client
    m("rest.server_backing_p50_ms") = server
    m("rest.wire_p50_ms") = client - server
    val root = Seq((t0, t1))
    val driverCalls = calls.filterNot(_.parent.startsWith("stage"))
    m("self.cli_s") = Stats.selfTime(root, Stats.spanIv(jobs ++ driverCalls)) / 1e9
    m("self.migrator_s") = Stats.selfTime(Stats.spanIv(jobs), Stats.spanIv(calls)) / 1e9
    m("self.catalog_s") = Stats.covered(Stats.spanIv(calls)) / 1e9
    m ++= SparkMetrics.of(obs, _ == id, wallMs, ctx.cores)
    traced += m.toMap
  }

  /** The `catalog.nessie` layer from one traced migration into a Nessie
    * store: commit objects written, commits landed on the branch, and the
    * register calls' latency. */
  private def nessieMetrics(id: String, t0: Long, t1: Long, store: String,
      commitsBefore: Int, landedBefore: Int): Unit = {
    val objects = countFiles(Path.of(store, "commits")) - commitsBefore
    val landed = nessieLog(store) - landedBefore
    val register = Spans.ofRun(id).filter(_.name == "catalog.tgt.register").map(_.durNs / 1e6)
    val m = res.perLayer
    m("nessie.cli_wall_s") = (t1 - t0) / 1e9
    m("nessie.register_p50_ms") = Stats.pct(register, 0.5)
    m("nessie.register_p99_ms") = Stats.pct(register, 0.99)
    m("nessie.commit_objects") = objects
    m("nessie.commits_landed") = landed
    m("nessie.cas_useful_ratio") = if (objects > 0) landed.toDouble / objects else 0.0
  }

  def run(): Unit = {
    val w0 = System.nanoTime()
    // the inputs: one seeded tree and its metadata files, migrated afresh
    // by every repetition
    val tree = generate(new Random(ctx.seed), ctx.dir("tree"), TablesPerRep)
    (1 to WarmupReps).foreach(w => rep(s"warmup$w", tree, traced = false))
    res.warmupS = (System.nanoTime() - w0) / 1e9
    res.setupSamples.clear()

    val plain = mutable.ArrayBuffer.empty[Rep]
    val tracedReps = mutable.ArrayBuffer.empty[Rep]
    var measured = 0.0
    var i = 0
    while (measured < ctx.seconds || plain.size < MinReps ||
        (ctx.trace && tracedReps.isEmpty)) {
      val tr = ctx.trace && i % 2 == 1
      rep(s"rep$i", tree, tr).foreach { r =>
        (if (tr) tracedReps else plain) += r
        measured += r.wallS
      }
      i += 1
      if (i > 200) throw new IllegalStateException("no repetition succeeded")
    }
    val walls = plain.map(_.wallS).toSeq
    val perTable = plain.flatMap(_.tableMs).toSeq
    res.timing(walls, TablesPerRep, perTable)
    res.notes += s"${plain.size} untraced repetitions of $TablesPerRep tables, " +
      s"${perTable.size} per-table latency samples"
    if (ctx.trace) {
      traced.head.keys.foreach { k => res.perLayer(k) = Stats.median(traced.map(_(k)).toSeq) }
      res.perLayer("trace.overhead_s") =
        Stats.median(tracedReps.map(_.wallS).toSeq) - Stats.median(walls)
      rep("nessie-warmup", tree, traced = false, target = "nessie")
      rep("nessie", tree, traced = true, target = "nessie")
    }
  }
}

object Migrate {
  private final case class Tree(namespaces: Seq[Namespace], tables: Seq[(TableRef, String)])
  private final case class Rep(wallS: Double, tableMs: Seq[Double])
}
