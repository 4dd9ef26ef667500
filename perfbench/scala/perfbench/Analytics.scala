package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkEntry
import org.apache.spark.sql.Row

/** The `queries` and `operators` layers, measured in the traced run of
  * `table_commits`: one pass over a fixed list of `SparkEntry.queries`
  * (training-data operators and relational queries) on raw parquet, each
  * written to parquet like the program's own bench. An untimed pass warms
  * the JIT and Spark's code cache first. Data set, query list and order are
  * fixed, so every output is checked against a digest recorded from an
  * oracle-verified run.
  *
  * This is not an end-to-end workload: a warm pass's wall spread 22%
  * across seeds on a shared 4-core machine, with the machine's load. */
final class Analytics(ctx: Ctx, res: Result, obs: SparkObserver) {
  import Analytics._

  private val all = SparkEntry.queries
  private val queries: Seq[(String, String)] = Names.map { p =>
    p -> all.keys.find(_.startsWith(p + "_")).getOrElse(
      throw new IllegalStateException(s"no SparkEntry query named ${p}_*"))
  }
  private val out = ctx.dir("out")

  /** One pass in list order; returns (prefix, seconds) per successful
    * query. */
  private def pass(id: String, traced: Boolean): Seq[(String, Double)] = {
    if (traced) { obs.attach(ctx.spark); Spans.enabled = true }
    val times = queries.flatMap { case (p, name) =>
      val run = s"$id-$p"
      Spans.enter(ctx.spark, run, s"q-$run")
      val t0 = Clock.now()
      val ok =
        try {
          all(name)(ctx.spark, ctx.data.toString).write.mode("overwrite")
            .parquet(out.resolve(name).toString)
          true
        } catch {
          case e: Exception =>
            res.fail(1, s"$id: $name failed: ${e.getMessage}")
            false
        }
      val t1 = Clock.now()
      Spans.record(Span(Spans.root, s"query.$p", t0, t1, "", run, ok))
      res.attempted += 1
      if (ok) Some(p -> (t1 - t0) / 1e9) else None
    }
    if (traced) { obs.detach(ctx.spark); Spans.enabled = false }
    Spans.root = ""
    times
  }

  /** Row count and an order-insensitive digest of each output against
    * `expected.tsv`; a wrong output fails both passes' run of it. */
  private def check(): Unit = {
    // the oracle SQL beside the outputs lets scripts/check.py verify a run
    // before its digests are recorded
    Files.writeString(out.resolve("oracle_sql.json"), queries.flatMap { case (_, n) =>
      SparkEntry.oracleSql.get(n).map(sql => s"${Main.str(n)}:${Main.str(sql)}") }
      .mkString("{", ",", "}"))
    val expected = readExpected(ctx.data.resolve("expected.tsv"))
    val got = queries.map { case (_, name) =>
      val rows = ctx.spark.read.parquet(out.resolve(name).toString).collect()
      name -> (rows.length.toLong, digest(rows))
    }
    val lines = got.map { case (n, (c, d)) => s"$n\t$c\t$d" }
    Files.writeString(ctx.work.resolve("digests.tsv"), lines.mkString("", "\n", "\n"))
    val wrong = got.filter { case (n, v) => !expected.get(n).contains(v) }.map(_._1)
    if (wrong.nonEmpty) res.fail(2L * wrong.size,
      s"outputs differ from the recorded digests: ${wrong.mkString(", ")}")
  }

  def traced(): Unit = {
    pass("q-warmup", traced = false)
    val id = "q-traced"
    val times = pass(id, traced = true)
    check()
    val m = res.perLayer
    m("query.pass_s") = times.map(_._2).sum
    times.foreach { case (p, s) => m(s"query.${p}_s") = s }
    val spans = Spans.all.filter(_.run.startsWith(id + "-"))
    m("self.queries_s") = Stats.selfTime(Stats.spanIv(spans.filter(_.name.startsWith("query."))),
      Stats.spanIv(spans.filter(_.name == "spark.job"))) / 1e9
    Observations.foreach { name =>
      val o = Option(obs.observations.get(s"graft_$name")).getOrElse(Map.empty)
      Fields.foreach(f => m(s"operators.$name.$f") = o.getOrElse(f, 0.0))
    }
  }
}

object Analytics {
  /** Query prefixes of the pass (SparkEntry keys are `<prefix>_<label>`). */
  val Names: Seq[String] = Seq(
    "p01", "d01", "d02", "d03", "d05", "d06", "d08", "s02", "t04", "t09", "m01",
    "q04", "q08", "q15", "q45", "q46", "q48", "q51", "q59", "q62", "q63", "q64", "q70")

  /** `graft_*` observations the listed operators attach, and their fields. */
  val Observations: Seq[String] = Seq("lsh_d02", "lsh_srp")
  val Fields: Seq[String] = Seq("candidates", "buckets", "max_bucket")

  def readExpected(p: java.nio.file.Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).toArray.map(_.toString).filter(_.nonEmpty).map { l =>
      val a = l.split('\t')
      a(0) -> (a(1).toLong, a(2))
    }.toMap

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN) "NaN" else f"$d%.10g"
    case f: Float => if (f.isNaN) "NaN" else f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** SHA-256 over the sorted rendered rows, columns in name order. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    if (rows.nonEmpty) {
      val names = rows.head.schema.fieldNames
      val order = names.indices.sortBy(names(_))
      md.update(order.map(names(_)).mkString(",").getBytes(StandardCharsets.UTF_8))
      rows.map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted.foreach { s =>
        md.update(s.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
      }
    }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}
