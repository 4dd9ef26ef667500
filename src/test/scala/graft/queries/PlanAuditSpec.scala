package graft.queries

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the properties that matter at 100 TB —
  * pushdown, column pruning, dimension broadcasts, join strategies, and
  * shuffle counts. Guards against regressions that stay correct but stop
  * scaling (a dropped broadcast hint, a filter that no longer reaches
  * the scan). */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q02: comparison filters are pushed to the parquet scan") {
    val p = plan("q02_filter")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThan(l_quantity,45"), p)
    // PushedFilters renders truncated; the equality shows untruncated in
    // DataFilters as (l_returnflag#N = R)
    assert("""l_returnflag#\d+ = R\)""".r.findFirstIn(p).isDefined, p)
  }

  test("q01: scan reads only the two projected columns") {
    val p = plan("q01_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:"), p)
  }

  test("q08: star join broadcasts its dimension sides") {
    val p = plan("q08_join_star")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q09/q10: semi and anti joins keep their join types") {
    assert(plan("q09_join_semi").contains("LeftSemi"))
    assert(plan("q10_join_anti").contains("LeftAnti"))
  }

  test("q33: as-of join shuffles the data at most once on the join key") {
    // the union+window shape needs one hash exchange on the key (plus a
    // presentation orderBy range exchange); match the key exchange
    // specifically so an AQE/planner change adding an unrelated or
    // reused exchange can't fail the suite while the operator is sound
    val p = plan("q33_asof_join")
    val keyExchanges = """Exchange hashpartitioning\(__key""".r.findAllIn(p).size
    assert(keyExchanges == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    // and the window shape itself survives (no pair-blowup range join)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q45: selective filters reach the scans on all three tables") {
    val p = plan("q45_tpch3")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate,"), p)
  }

  test("q04: aggregation is partial+final (map-side combine present)") {
    val p = plan("q04_agg_tpch1")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q51: six-way join broadcasts dims and pushes the date window to the scan") {
    val p = plan("q51_tpch5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q54: the lateral subquery decorrelates to a rank-limited window join") {
    // per-outer-row re-execution would be a scale disaster; Catalyst must
    // plan the correlated ORDER/LIMIT as WindowGroupLimit + equi-join
    val p = plan("q54_lateral")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q57: EXISTS/NOT EXISTS decorrelate to semi+anti hash joins") {
    // the Q21 shape: both correlated subqueries must rewrite to joins on
    // the correlation key — a per-outer-row inner scan or a nested-loop
    // fallback would re-read lineitem |l1| times at scale
    val p = plan("q57_exists_agg")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q58: scalar subquery runs once; NOT EXISTS is an anti hash join") {
    val p = plan("q58_scalar_pred")
    // the threshold is a Subquery node evaluated once (scalar-subquery
    // execution), not a rewritten per-row join
    assert(p.contains("Subquery subquery") || p.contains("ReusedSubquery"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("s02: IVF probe is a single label-pruned scan, nothing cached") {
    // the round-3 scale-killers: annIvf cached the full embedding table
    // and trained centroids on the whole corpus. The probe predicate must
    // reach the scan (label IN (probed lists) ⇒ directory pruning on a
    // label-partitioned layout) and no full-table cache may reappear.
    // Audited on the ANN operator itself — the registered s02 query is
    // the recall GATE around it, whose brute-force arm adds a second
    // (deliberate, query-sized) scan
    val p = graft.operators.Similarity.annIvf(spark, dir)
      .queryExecution.executedPlan.toString
    assert("""PushedFilters: \[[^\]]*In\(label""".r.findFirstIn(p).isDefined, p)
    assert(!p.contains("InMemoryTableScan"), p)
    // exactly one parquet scan of the store feeds the probe join (probe
    // planning is collected driver-side, not re-derived in-plan)
    assert("""Scan parquet""".r.findAllIn(p).size == 1, p)
  }

  // executedPlan.toString truncates long PushedFilters lists; the
  // formatted explain prints them whole
  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q61: all three range predicates reach the parquet scan") {
    val p = formatted("q61_tpch6")
    assert(p.contains("GreaterThanOrEqual(l_shipdate,"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), p)
    assert(p.contains("LessThan(l_quantity,24"), p)
  }

  test("q59/q69: per-group extremum/average shapes stay aggregate+window, never per-row probes") {
    // the Q2/Q17 shapes: a per-outer-row re-execution of the MIN/AVG
    // would be the classic correlated-subquery scale disaster; these are
    // now written as single-derivation window forms (see Relational) and
    // must keep aggregate/equi-join plans
    for (q <- Seq("q59_tpch2", "q69_tpch17")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("HashAggregate"), s"$q:\n$p")
    }
  }

  test("q70/q72: IN-subqueries plan as semi joins on aggregated key sets") {
    for (q <- Seq("q70_tpch18", "q72_tpch20")) {
      val p = plan(q)
      assert(p.contains("LeftSemi"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("q59/q65/q67: twice-referenced aggregates are derived once (single lineitem scan)") {
    // the SQL CTE + scalar-subquery formulations scan lineitem twice
    // (no exchange reuse across the subquery boundary). q59/q69 keep one
    // lexical scan (window forms); q65/q67 reference the grouped frame
    // twice (detail rows + broadcast 1-row total), where the dedup is
    // AQE's runtime stage reuse — so the assertion runs the query and
    // reads the FINAL adaptive plan, in which the second reference must
    // collapse to a ReusedExchange over the first one's shuffle
    for (q <- Seq("q59_tpch2", "q65_tpch11", "q67_tpch15", "q69_tpch17")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert("""lineitem\.parquet""".r.findAllIn(p).size == 1, s"$q:\n$p")
    }
  }

  test("q71: disjunctive bracket predicate stays sargable on both scans") {
    val p = formatted("q71_tpch19")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // Catalyst cross-distributes the DNF: the brand/size brackets land
    // on the part scan and the quantity brackets on the lineitem scan
    assert(p.contains("EqualTo(p_brand,Brand#12)"), p)
    assert(p.contains("LessThanOrEqual(p_size,15)"), p)
    assert(p.contains("LessThanOrEqual(l_quantity,30.0)"), p)
  }

  test("d07: corpus joins the benchmark gram set map-side (broadcast, no corpus shuffle on gram)") {
    // the 100 TB contract: the benchmark n-gram set is eval-suite-sized,
    // so it must broadcast — a shuffle join on the gram column would
    // move the whole exploded corpus
    val p = plan("d07_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t06: packing's only wide operations are the per-shard window and output sort") {
    // concat-and-chunk packing must stay shard-parallel: one exchange on
    // the shard hash for the running-count window, one range exchange
    // for the presentation sort — nothing corpus-wide beyond those
    val p = plan("t06_pack_sequences")
    assert("Exchange hashpartitioning\\(shard".r.findAllIn(p).size == 1, p)
    assert("Exchange (hash|range)partitioning".r.findAllIn(p).size == 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("no registered query plans a cartesian product; nested-loop joins only where declared") {
    // blanket sweep: at 100 TB an accidental cartesian is fatal, and a
    // BNLJ is acceptable only where the operator is BY DESIGN non-equi
    // over a bounded side. Declared: q11 theta join (broadcast bounded
    // side), q38 broadcast of a 1-row aggregate, s01 broadcast of the
    // single query vector against the corpus (brute-force top-k).
    // s03 adds the broadcast of the bounded query SET (batch kNN)
    // q65/q67 cross-join a broadcast 1-ROW aggregate (the global
    // threshold/max) — the empty-partition-window replacement; s02's
    // recall gate broadcasts the bounded query set (brute-force arm)
    // and cross-joins two 1-row aggregates; t09 cross-joins the
    // broadcast 1-row vocabulary size into the smoothing denominator
    val bnljAllowed = Set("q11_join_theta", "q38_scalar_subquery",
      "s01_cosine_topk", "s03_knn_join", "q65_tpch11", "q67_tpch15",
      "s02_ann_ivf", "t09_lm_score")
    // collect per-query failures instead of dying on the first one: a
    // single broken query must report as ITSELF, not mask the plan audit
    // of the other hundred (the round-9 failure mode)
    val failures = Seq.newBuilder[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      try {
        val p = plan(name)
        if (p.contains("CartesianProduct"))
          failures += s"$name plans a CartesianProduct"
        if (!bnljAllowed(name) && p.contains("BroadcastNestedLoopJoin"))
          failures += s"$name plans an undeclared BroadcastNestedLoopJoin"
      } catch {
        case e: Throwable =>
          failures += s"$name failed to plan: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"
      }
    }
    val bad = failures.result()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("no registered query plans a window over an empty partition spec") {
    // a Window with no PARTITION BY funnels its whole input through ONE
    // task's sort — invisible at sf0.1, fatal when the frame is
    // fact-table-derived at 100×. Global aggregates must instead be
    // two-stage aggregates broadcast back (see q65/q67). Sweep the whole
    // registered set so the pattern can't reappear.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val failures = Seq.newBuilder[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      try {
        val lp = SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan
        val empties = lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
        if (empties.nonEmpty)
          failures += s"$name plans a global (empty-partition-spec) window"
      } catch {
        case e: Throwable =>
          failures += s"$name failed to plan: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")}"
      }
    }
    val bad = failures.result()
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("s03: per-query top-k is pruned partition-locally before the shuffle") {
    // the batch-kNN scale contract: WindowGroupLimit pushes the rank<=3
    // filter below the exchange, so the shuffle carries per-partition
    // top-3 candidates per query, never the corpus×queries cross product
    val p = plan("s03_knn_join")
    assert(p.contains("WindowGroupLimit"), p)
    assert("""WindowGroupLimit.*Partial""".r.findFirstIn(p).isDefined, p)
  }

  test("p01's pair generation over the composed survivor input stays equi-join shaped") {
    // the blanket sweep cannot see behind p01's localCheckpoint
    // boundaries (executedPlan truncates there), so the pipeline's
    // quadratic-risk stage — pair generation over the FILTERED/JOINED
    // survivor set, not the bare table — is audited pre-checkpoint here
    graft.functions.VectorFunctions.register(spark)
    val docs = graft.Tables(spark, dir, "documents")
    val p = graft.operators.Dedup
      .ngramJaccardOf(graft.operators.Pipeline.survivorsOf(docs))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup pair generation never plans a nested-loop/cartesian join") {
    // the round-2 scale-killer was an all-pairs BNLJ; every candidate
    // generator must stay on equi-join shapes (blocked exact path
    // included) so this locks the contract for all of them
    for (q <- Seq("d01_dedup_jaccard", "d02_dedup_minhash_lsh",
        "d03_dedup_simhash", "d04_dedup_embed", "d05_dedup_embed_lsh")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // d05's banding tail pins the pair explode's parallelism: a
    // round-robin exchange over the bucket rows, between the bucket
    // aggregation and the explode (Banding.bucketedPairs) — without it
    // AQE coalesces the whole n·(n−1)/2 explode onto one task
    val d05 = plan("d05_dedup_embed_lsh")
    val explode = d05.indexOf("posexplode")
    val pin = d05.indexOf("Exchange RoundRobinPartitioning", explode)
    assert(explode >= 0 && pin > explode &&
      d05.indexOf("collect_list", pin) > pin, d05)
  }
}
