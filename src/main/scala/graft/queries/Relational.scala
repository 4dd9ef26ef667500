package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The declared relational query set (SURVEY.md §2B, FIXTURES.md §C).
  *
  * Every query follows the determinism contract so results hash-match the
  * DuckDB oracle:
  *   - total ORDER BY over output columns;
  *   - floating aggregates made order-independent by casting inputs to
  *     DECIMAL(38,4) *before* SUM (decimal addition is exact/associative,
  *     so parallel partial aggregation cannot perturb the result);
  *   - AVG computed as exact-decimal SUM cast to double / COUNT, so both
  *     engines divide bit-identical numerator/denominator;
  *   - output types aligned with DuckDB naturals (COUNT→BIGINT etc).
  *
  * Plans are Spark-first: declarative DataFrame ops so Catalyst pushes
  * filters/pruning into the parquet scan, broadcasts dimension tables,
  * and keeps everything inside whole-stage codegen. No UDFs here.
  */
object Relational {
  /** `$"name"` → Column without needing a SparkSession's implicits. */
  implicit class ColInterp(private val sc: StringContext) extends AnyVal {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }

  private val Dec = DecimalType(38, 4)
  private def dec(c: Column): Column = c.cast(Dec)
  /** Order-independent SUM: exact decimal addition, rounded to 4dp.
    * The final cast to DOUBLE makes the output representation-proof
    * against the oracle (DECIMAL '0.2800' vs DOUBLE '0.28' hash-differ
    * even when numerically equal; round-then-cast is exact at 4dp). */
  private def dsum(c: Column): Column =
    round(sum(dec(c)), 4).cast(DoubleType)
  /** Order-independent AVG: exact decimal SUM → double / count. */
  private def davg(c: Column): Column =
    round((sum(dec(c)).cast(DoubleType) / count(lit(1))).cast(Dec), 4)
      .cast(DoubleType)

  // E1/E4 — scan + projection
  def q01(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber")
      .orderBy($"l_orderkey", $"l_linenumber")

  // E5 — comparison + boolean filter
  def q02(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter($"l_quantity" > 45 && $"l_returnflag" === "R")
      .select($"l_orderkey", $"l_quantity")
      .orderBy($"l_orderkey", $"l_quantity")

  // E5/E16 — LIKE + BETWEEN
  def q03(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .filter($"o_orderpriority".like("1-%") &&
        $"o_totalprice".between(1000, 5000))
      .select($"o_orderkey")
      .orderBy($"o_orderkey")

  // E9 — hash aggregate (TPC-H Q1 skeleton)
  def q04(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        dsum($"l_quantity").as("s_qty"),
        davg($"l_extendedprice").as("a_price"))
      .orderBy($"l_returnflag", $"l_linestatus")

  // E9 — exact distinct aggregate
  def q05(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .agg(count_distinct($"l_suppkey").as("d"))

  // E6 — inner equi-join; nation is a dimension → broadcast
  def q06(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(broadcast(Tables(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name").agg(count(lit(1)).as("c"))
      .orderBy($"n_name")

  // E6 — left outer join against pre-aggregated orders
  def q07(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables(s, dir, "orders")
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
    Tables(s, dir, "customer")
      .join(cnt, $"c_custkey" === $"o_custkey", "left")
      .select($"c_custkey", coalesce($"cnt", lit(0L)).as("cnt"))
      .orderBy($"c_custkey")
  }

  // E6 — 5-way star join; dimensions broadcast, fact joins shuffle on keys
  def q08(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables(s, dir, "region")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"))
      .orderBy($"r_name")

  // E7 — left-semi (EXISTS)
  def q09(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders").filter($"o_orderstatus" === "F"),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey").orderBy($"c_custkey")

  // E7 — left-anti (NOT IN, null-free key)
  def q10(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey").orderBy($"c_custkey")

  // E8 — theta join (broadcast nested loop over the 5-row region table)
  def q11(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .join(broadcast(Tables(s, dir, "region")),
        $"p_size" > $"r_regionkey" + 45)
      .select($"p_partkey", $"p_size").distinct()
      .orderBy($"p_partkey", $"p_size")

  // E10 — ROLLUP grouping sets
  def q12(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("c"))
      .orderBy($"l_returnflag".asc_nulls_first,
        $"l_linestatus".asc_nulls_first, $"c")

  // E12/E14 — top-k per group via ranking window
  def q13(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"c_acctbal".desc, $"c_custkey")
    Tables(s, dir, "customer")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"c_mktsegment", $"c_custkey", $"rn".cast(LongType).as("rn"))
      .orderBy($"c_mktsegment", $"rn")
  }

  // E13 — LAG analytic window
  def q14(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", lag($"o_orderkey", 1).over(w).as("prev"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  // E13 — moving frame aggregate (decimal input → exact, order-free).
  // (l_orderkey, l_linenumber) is NOT unique in this data, so l_quantity
  // joins the window order: tied rows are then identical in every
  // frame-relevant column, making the output multiset deterministic.
  def q15(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity").rowsBetween(-2, 0)
    // Rolling sum in SCALED-LONG arithmetic (round 21 — the q04b
    // fast-exact recipe applied to the window family): l_quantity is a
    // 4dp fixed-point value, so summing round(qty·10⁴) as LONG is exact
    // and keeps the window's aggregate buffer primitive instead of boxed
    // decimal(38,4) — the window stage measured 3.9 s of CPU at sf0.1
    // with the decimal buffer. The output is unchanged: a ≤3-row frame
    // sum n/10⁴ rendered as a double is the same correctly-rounded IEEE
    // value whether produced by `round(sum(decimal), 4) CAST DOUBLE` or
    // by `sum(long) / 10000.0` (both are the nearest double of the same
    // exact rational) — oracle-verified identical at sf0.001/0.01/0.1.
    // Headroom: the LONG sum wraps silently (non-ANSI) unless
    // |frame sum| × 10⁴ < 2⁶³, i.e. |frame sum| < ~9.2·10¹⁴; and the
    // `/ 10000.0` is exact only while |frame sum| × 10⁴ ≤ 2⁵³ (~9·10¹⁵),
    // i.e. |frame sum| ≤ ~9·10¹¹ — past that the scaled long no longer
    // fits a double exactly. This ≤3-row frame of l_quantity (TPC-H:
    // 1..50) sums to at most 150, i.e. 1.5·10⁶ scaled — over 10⁹ times
    // inside the 2⁵³ bound at any scale factor. A copy of this recipe
    // with an unbounded frame or a wider column must re-check both.
    Tables(s, dir, "lineitem")
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_quantity",
        round($"l_quantity" * 10000).cast(LongType).as("q10k"))
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        (sum($"q10k").over(w) / 10000.0).as("roll"))
      .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber", $"roll")
  }

  // E14 — global sort + deterministic LIMIT (ties broken by key)
  def q16(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select($"o_orderkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)

  // E15 — INTERSECT
  def q17(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select($"c_nationkey".as("x"))
      .intersect(Tables(s, dir, "supplier").select($"s_nationkey".as("x")))
      .orderBy($"x")

  // E15 — EXCEPT
  def q17b(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select($"c_nationkey".as("x"))
      .except(Tables(s, dir, "supplier").select($"s_nationkey".as("x")))
      .orderBy($"x")

  // E16 — string + date scalar functions
  def q18(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select($"o_orderkey",
        upper(expr("substring(o_orderpriority, 3)")).as("u"),
        year($"o_orderdate").cast(LongType).as("y"),
        date_trunc("month", $"o_orderdate").cast(DateType).as("m"))
      .orderBy($"o_orderkey")

  // E16 — CASE WHEN + arithmetic
  def q19(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber",
        when($"l_discount" > 0.05, "HI").otherwise("LO").as("b"),
        round(dec($"l_extendedprice" * (lit(1.0) + $"l_tax")), 4)
          .cast(DoubleType).as("g"))
      .orderBy($"l_orderkey", $"l_linenumber")

  // E17 — explode / array ops (token frequencies)
  def q20(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select($"lang", explode(split(lower($"text"), " ")).as("tok"))
      .filter(length($"tok") >= 8)
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"lang", $"tok")
      .limit(50)

  // E18 — JSON extraction over events.props
  def q21(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        round(avg(get_json_object($"props", "$.k").cast(LongType)).cast(Dec), 4)
          .cast(DoubleType).as("avg_k"),
        count(lit(1)).as("c"))
      .orderBy($"event_type")

  // E19 — exact dedup (distinct pair count)
  def q22(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey").distinct()
      .agg(count(lit(1)).as("c"))

  // E19 — keep-first key dedup (first order per customer)
  def q22b(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables(s, dir, "orders")
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey".as("first_order"))
      .orderBy($"o_custkey")
  }

  // E11 — HLL approx distinct, self-checked within 5% of exact
  def q23(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .agg(approx_count_distinct($"l_partkey").as("a"),
        count_distinct($"l_partkey").as("d"))
      .select((abs($"a" - $"d") <= $"d" * 0.05).cast(IntegerType).as("ok"))

  // E22 (batch face) — tumbling event-time window aggregation; the
  // streaming equivalence test lives in streaming/EventStreamsSpec.
  def q26(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("c"), dsum($"value").as("sv"))
      .select(unix_timestamp($"window.start").as("ws"), $"event_type", $"c", $"sv")
      .orderBy($"ws", $"event_type")

  // E15 — UNION ALL (bag semantics preserved through the aggregate)
  def q24(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select($"c_nationkey".as("x"))
      .unionAll(Tables(s, dir, "supplier").select($"s_nationkey".as("x")))
      .groupBy($"x").agg(count(lit(1)).as("c"))
      .orderBy($"x")

  // E15 — UNION (distinct)
  def q24b(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").select($"c_nationkey".as("x"))
      .union(Tables(s, dir, "supplier").select($"s_nationkey".as("x")))
      .distinct()
      .orderBy($"x")

  // E12 — full ranking set: rank / dense_rank / ntile / percent_rank.
  // o_orderkey joins the window order so ntile (row-order-dependent) is
  // deterministic under o_totalprice ties.
  def q25(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables(s, dir, "orders")
      .select($"o_orderpriority", $"o_orderkey",
        rank().over(w).cast(LongType).as("rk"),
        dense_rank().over(w).cast(LongType).as("drk"),
        ntile(4).over(w).cast(LongType).as("nt"),
        round(percent_rank().over(w), 4).as("pr"))
      .orderBy($"o_orderpriority", $"o_orderkey")
  }

  // E13 — lead / first_value / last_value with explicit frames
  def q27(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey",
        lead($"o_totalprice", 1).over(w).as("nxt"),
        first($"o_totalprice").over(w).as("fst"),
        last($"o_totalprice").over(wAll).as("lst"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  // E13 — RANGE frame (30 preceding days by value). The frame is defined
  // by the day *value*, so equal-day ties share identical frames and the
  // output is deterministic without a tiebreaker in the window order.
  def q27b(s: SparkSession, dir: String): DataFrame = {
    val day = datediff($"o_orderdate".cast(DateType), lit("2020-01-01").cast(DateType))
    val w = Window.partitionBy($"o_custkey").orderBy($"d").rangeBetween(-30, 0)
    // scaled-long window sum (round 21, same recipe and equivalence
    // argument as q15): o_totalprice is fixed-point, so the range-frame
    // sum runs over a primitive LONG buffer instead of boxed
    // decimal(38,4); sum·10⁻⁴ is the same correctly-rounded double as
    // round(sum(decimal), 4) CAST DOUBLE — oracle-verified at all SFs.
    // Headroom (q15's two bounds): the LONG sum wraps silently unless
    // |frame sum| × 10⁴ < 2⁶³, and `/ 10000.0` is exact only while
    // |frame sum| × 10⁴ ≤ 2⁵³ (~9·10¹⁵). Measured with DuckDB over the
    // sf0.1 orders: a 31-day frame holds at most 5 rows of one
    // o_custkey, and max o_totalprice is ~5.0·10⁵, so a frame sum is at
    // most 5 × 5.0·10⁵ × 10⁴ ≈ 2.5·10¹⁰ scaled — ~3.6·10⁵ times inside
    // 2⁵³. The frame does not grow with the scale factor: customers
    // scale with orders (~10 orders per customer at sf0.01 and sf0.1
    // alike), over the same fixed 1995–2001 date range.
    Tables(s, dir, "orders")
      .withColumn("d", day.cast(LongType))
      .select($"o_custkey", $"o_orderkey", $"d",
        (sum(round($"o_totalprice" * 10000).cast(LongType)).over(w) / 10000.0)
          .as("rsum"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  // E10 — CUBE grouping sets + grouping_id
  def q28(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("c"), grouping_id().cast(LongType).as("gid"))
      .orderBy($"l_returnflag".asc_nulls_first,
        $"l_linestatus".asc_nulls_first, $"c")

  // E16 — scalar function zoo: math, string, regex, conditional
  def q29(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select($"p_partkey",
        round(sqrt($"p_retailprice"), 4).as("sq"),
        ($"p_partkey" % 7).as("md"),
        coalesce(nullif($"p_size", lit(25)), lit(-1)).cast(LongType).as("nz"),
        concat_ws("|", $"p_brand", upper($"p_type")).as("cw"),
        lpad($"p_brand", 12, "*").as("lp"),
        reverse($"p_brand").as("rv"),
        regexp_replace($"p_type", "[AEIOU]", "").as("rr"),
        substring($"p_name", 1, 5).as("sb"),
        length($"p_name").cast(LongType).as("ln"))
      .orderBy($"p_partkey")

  // E17 — collect_list aggregation, made deterministic by sorting and
  // serializing to a string
  def q30(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "supplier")
      .join(broadcast(Tables(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(array_join(array_sort(collect_list($"s_name")), ",").as("names"),
        count(lit(1)).as("c"))
      .orderBy($"n_name")

  // E22 (batch face) — sliding event-time windows (1 hour every 30 min:
  // each event lands in exactly 2 windows)
  def q31(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
      .agg(count(lit(1)).as("c"))
      .select(unix_timestamp($"window.start").as("ws"), $"event_type", $"c")
      .orderBy($"ws", $"event_type")

  // E22 (batch face) — session windows (15-minute inactivity gap) per
  // event type; session bounds in exact microseconds
  def q32(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(session_window($"ts", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("c"), dsum($"value").as("sv"))
      .select(unix_micros($"session_window.start").as("ss"),
        unix_micros($"session_window.end").as("se"), $"event_type", $"c", $"sv")
      .orderBy($"ss", $"event_type")

  // E6 (pivot) — status×priority contingency table via pivot
  def q34(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select($"o_orderpriority",
        coalesce($"F", lit(0L)).as("f"),
        coalesce($"O", lit(0L)).as("o"),
        coalesce($"P", lit(0L)).as("p"))
      .orderBy($"o_orderpriority")

  // E23 — typed Aggregator through the UDAF API: quantity-weighted mean
  // discount with exact decimal partial sums (shuffle-order-proof; see
  // graft.functions.WeightedAvg)
  def q36(s: SparkSession, dir: String): DataFrame = {
    val wavg = udaf(new graft.functions.WeightedAvg())
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(wavg($"l_discount", $"l_quantity").as("wd"))
      .orderBy($"l_returnflag")
  }

  // E9 — exact interpolated percentiles (both engines sort-and-interpolate
  // with index p·(n−1))
  def q37(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"))
      .orderBy($"l_returnflag")

  // E5/E9 — scalar subquery: rows above the global average, with the
  // average made shuffle-order-proof (decimal sum → double division)
  def q38(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val th = o.agg(
      round((sum(dec($"o_totalprice")).cast(DoubleType) / count(lit(1))).cast(Dec), 4)
        .cast(DoubleType).as("th"))
    o.crossJoin(broadcast(th))
      .filter($"o_totalprice" > $"th")
      .select($"o_orderkey")
      .orderBy($"o_orderkey")
  }

  // E5 — null-safe equality join (<=>): keys nulled via NULLIF still match
  def q39(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
      .select(nullif($"c_nationkey", lit(3)).as("k"))
    val su = Tables(s, dir, "supplier")
      .select(nullif($"s_nationkey", lit(3)).as("k2"))
    c.join(su, $"k" <=> $"k2")
      .groupBy($"k").agg(count(lit(1)).as("c"))
      .select($"k".cast(LongType).as("k"), $"c")
      .orderBy($"k".asc_nulls_first)
  }

  // E16 — date/time arithmetic: add_months, date_add, last_day, parts
  def q40(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select($"o_orderkey",
        add_months($"o_orderdate".cast(DateType), 3).as("m3"),
        date_add($"o_orderdate".cast(DateType), 45).as("d45"),
        last_day($"o_orderdate".cast(DateType)).as("eom"),
        quarter($"o_orderdate").cast(LongType).as("q"),
        dayofweek($"o_orderdate").cast(LongType).as("dow"),
        datediff(lit("2025-01-01").cast(DateType), $"o_orderdate".cast(DateType))
          .cast(LongType).as("dd"))
      .orderBy($"o_orderkey")

  // E16 — string function extras: split_part, instr, translate, repeat,
  // ascii, chr
  def q41(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .select($"p_partkey",
        expr("split_part(p_name, ' ', 2)").as("w2"),
        instr($"p_name", "e").cast(LongType).as("ix"),
        translate($"p_brand", "Brand#", "brnd-").as("tr"),
        expr("repeat(p_brand, 2)").as("rp"),
        ascii($"p_name").cast(LongType).as("ac"),
        chr(lit(65) + ($"p_size" % 26)).as("ch"))
      .orderBy($"p_partkey")

  // E16 — bitwise operators over integer keys
  def q42(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber",
        ($"l_orderkey".bitwiseAND(255)).as("ba"),
        ($"l_orderkey".bitwiseOR($"l_linenumber")).as("bo"),
        ($"l_orderkey".bitwiseXOR($"l_suppkey")).as("bx"),
        shiftleft($"l_linenumber", 3).cast(LongType).as("sl"),
        shiftright($"l_orderkey", 2).as("sr"))
      .orderBy($"l_orderkey", $"l_linenumber", $"bx")

  // E17 — array scalar ops over tokenized text: size, contains, element
  // access, slice + join
  def q43(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("t", split(lower($"text"), " "))
      .select($"doc_id",
        size($"t").cast(LongType).as("n"),
        array_contains($"t", "the").cast(IntegerType).as("has_the"),
        element_at($"t", 1).as("first_tok"),
        array_join(slice($"t", 1, 3), " ").as("head3"))
      .orderBy($"doc_id")

  // E18 — JSON as a map: key count + typed value extraction
  def q44(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .withColumn("m", from_json($"props", MapType(StringType, LongType)))
      .select($"event_id",
        size(map_keys($"m")).cast(LongType).as("nk"),
        element_at($"m", "k").as("kv"))
      .orderBy($"event_id")

  // TPC-H Q3 shape — shipping-priority top-10: selective filters on three
  // tables, two shuffle joins, revenue aggregate, ordered limit. The
  // filters reach the parquet scans; customer is small enough that AQE
  // broadcasts it at bench scale.
  def q45(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
      .join(Tables(s, dir, "orders")
        .filter($"o_orderdate" < lit("1998-01-01").cast(DateType)),
        $"c_custkey" === $"o_custkey")
      .join(Tables(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
      .select($"l_orderkey", $"o_orderdate".cast(DateType).as("odate"),
        $"o_orderpriority", $"revenue")

  // TPC-H Q10 shape — returned-item customer ranking: fact filter, three
  // joins (nation broadcast), revenue per customer, top 20.
  def q46(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").filter($"l_returnflag" === "R")
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
      .select($"c_custkey", $"n_name", $"revenue")

  // E9 — argmin/argmax aggregates; the "by" value is made unique
  // (price·1e6 + key, exact in doubles) so ties cannot make the result
  // nondeterministic
  def q47(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .withColumn("u", $"o_totalprice" * 1000000d + $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(max_by($"o_orderkey", $"u").as("top_order"),
        min_by($"o_orderkey", $"u").as("bottom_order"))
      .orderBy($"o_orderpriority")

  // E9 — Pearson correlation from exact decimal partial sums, identical
  // IEEE arithmetic on both engines (same recipe as q35)
  def q48(s: SparkSession, dir: String): DataFrame =
    // six decimal(38,4) sums per row: spread a single-row-group scan so
    // the decimal math runs cluster-wide (guide §2.5)
    graft.Spread.ifNarrow(Tables(s, dir, "lineitem"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec($"l_quantity")).cast(DoubleType).as("sx"),
        sum(dec($"l_extendedprice")).cast(DoubleType).as("sy"),
        sum(dec($"l_quantity" * $"l_quantity")).cast(DoubleType).as("sxx"),
        sum(dec($"l_extendedprice" * $"l_extendedprice")).cast(DoubleType).as("syy"),
        sum(dec($"l_quantity" * $"l_extendedprice")).cast(DoubleType).as("sxy"))
      .select($"l_returnflag", $"n",
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          sqrt(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")), 4)
          .as("corr"))
      .orderBy($"l_returnflag")

  // E10 — explicit GROUPING SETS (SQL face; DataFrame API only exposes
  // rollup/cube)
  def q49(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS c
        |FROM graft_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST, c
        |""".stripMargin)
  }

  // E13/E16 — window extras (nth_value, cume_dist) + regexp capture group
  def q50(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice", $"p_partkey")
    Tables(s, dir, "part")
      .select($"p_partkey", $"p_brand",
        nth_value($"p_partkey", 2).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("second_part"),
        round(cume_dist().over(w), 4).as("cd"),
        regexp_extract($"p_name", "([a-z]+)$", 1).as("last_word"))
      .orderBy($"p_partkey")
  }

  // E9 — the scaled-fixed-point fast path for exact aggregation: when a
  // column's decimal scale is known (quantity 4dp, price 2dp), summing
  // `round(x·10^s)` as LONG is exact, shuffle-order-proof, AND stays in
  // whole-stage codegen's primitive path — the q04 DECIMAL(38,4) sums
  // cost ~13 s at sf0.1 (boxed 128-bit decimal adds) where this shape is
  // a vectorizable long sum. This is how production engines aggregate
  // fixed-point at 100 TB; overflow headroom: 1.5e9 rows × 5e5 ≪ 2^63.
  def q04b(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"),
        sum(round($"l_quantity" * 10000).cast(LongType)).as("s_qty10k"),
        sum(round($"l_extendedprice" * 100).cast(LongType)).as("s_price_c"))
      .select($"l_returnflag", $"l_linestatus", $"cnt", $"s_qty10k",
        round(($"s_price_c" / 100.0) / $"cnt", 4).as("a_price_f"))
      .orderBy($"l_returnflag", $"l_linestatus")

  // TPC-H Q5 shape — local-supplier revenue by nation: six-way join where
  // the supplier must be in the customer's nation (two join keys on the
  // supplier side), region+date filters pushed to the scans, dims
  // broadcast, one revenue aggregation. The FACT table (lineitem) is the
  // left/streaming side of every join and the fact⋈orders join is
  // SHUFFLE-HASH with the year-windowed orders⋈customer slice as the
  // build (round 19 plan audit — the r18 shape started from customer
  // and Spark's size-only estimator, blind to the date filter's
  // selectivity, put a BroadcastExchange on ALL OF LINEITEM: the one
  // build that can never survive a 100x scale-up, and the trend behind
  // the 1.5-1.8x floor readings — the 600k-row driver-side hash build.
  // shuffle_hash shuffles both sides on the order key and builds the
  // small windowed slice per partition: the same plan holds at any SF,
  // and it reads 0.68-0.77 s warm vs the 0.902 floor). Only the
  // fixed-cardinality dims (nation 25, region 5) get broadcast hints;
  // supplier broadcasts by size estimate locally and AQE re-plans it
  // at scale.
  def q51(s: SparkSession, dir: String): DataFrame = {
    val custOrders = Tables(s, dir, "orders")
      .filter($"o_orderdate" >= lit("1996-01-01").cast(DateType) &&
        $"o_orderdate" < lit("1997-01-01").cast(DateType))
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey", $"c_nationkey")
    Tables(s, dir, "lineitem")
      .join(custOrders.hint("shuffle_hash"), $"l_orderkey" === $"o_orderkey")
      .join(Tables(s, dir, "supplier"),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables(s, dir, "region")).filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  // TPC-H Q12 shape — conditional line counts over a date-windowed join
  // (shipmode is not in this schema; returnflag takes its grouping role).
  def q52(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast(DateType) &&
        $"l_shipdate" < lit("1997-01-01").cast(DateType))
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1).otherwise(0))
          .as("high_line_count"),
        sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 0).otherwise(1))
          .as("low_line_count"))
      .orderBy($"l_returnflag")

  // TPC-H Q14 shape — promo revenue share: date-windowed fact ⋈ part,
  // two exact-decimal sums, ratio computed from the rounded doubles with
  // identical arithmetic on both engines.
  def q53(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-03-01").cast(DateType) &&
        $"l_shipdate" < lit("1996-06-01").cast(DateType))
      .join(Tables(s, dir, "part"), $"l_partkey" === $"p_partkey")
      .agg(
        dsum(when($"p_type".startsWith("PROMO"),
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(lit(0.0)))
          .as("promo_rev"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("total_rev"))
      .select($"promo_rev", $"total_rev",
        round(lit(100.0) * $"promo_rev" / $"total_rev", 4).as("promo_pct"))

  // E6 — right outer join (the mirrored formulation of q07, exercising
  // the RightOuter plan path explicitly)
  def q07b(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy($"o_custkey").agg(count(lit(1)).as("cnt"))
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey", "right")
      .select($"c_custkey", coalesce($"cnt", lit(0L)).as("cnt"))
      .orderBy($"c_custkey")

  // E6 — full outer join with null-producing rows on BOTH sides: the
  // customer side is key-restricted, so high-key orders have no customer
  // row and order-less low-key customers have no order row.
  def q55(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer").filter($"c_custkey" <= 500)
      .select($"c_custkey")
      .join(Tables(s, dir, "orders").groupBy($"o_custkey")
          .agg(count(lit(1)).as("cnt")),
        $"c_custkey" === $"o_custkey", "full")
      .select(coalesce($"c_custkey", $"o_custkey").as("k"),
        $"c_custkey".isNull.cast("int").as("no_cust"),
        coalesce($"cnt", lit(0L)).as("cnt"))
      .orderBy($"k")

  // E17 — unpivot/melt via the stack generator: wide columns to
  // (metric, value) rows, the long-format reshape analytics pipelines
  // feed to per-metric aggregation
  def q56(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "part")
      .selectExpr("p_partkey",
        """stack(2, 'retail', p_retailprice,
          |         'size', CAST(p_size AS DOUBLE)) AS (metric, value)""".stripMargin)
      .orderBy($"p_partkey", $"metric")

  // Correlated LATERAL join — per-outer-row subquery with its own
  // ORDER/LIMIT (top-2 customers per nation). Catalyst decorrelates the
  // lateral subquery into a ranked window join, so no per-row re-execution
  // happens at scale.
  def q54(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "nation").createOrReplaceTempView("lat_nation")
    Tables(s, dir, "customer").createOrReplaceTempView("lat_customer")
    s.sql(
      """SELECT n_name, c_custkey, c_acctbal
        |FROM lat_nation,
        | LATERAL (SELECT c_custkey, c_acctbal FROM lat_customer
        |          WHERE c_nationkey = n_nationkey
        |          ORDER BY c_acctbal DESC, c_custkey LIMIT 2)
        |ORDER BY n_name, c_custkey""".stripMargin)
  }

  // Correlated EXISTS + NOT EXISTS with multi-predicate correlation (the
  // TPC-H Q21 "waiting suppliers" shape adapted to this schema: returnflag
  // 'R' stands in for the late-delivery predicate). Catalyst rewrites both
  // subqueries into LEFT SEMI / LEFT ANTI hash joins on the correlation
  // key — per-outer-row re-execution of the inner scans would be a scale
  // disaster — locked in PlanAuditSpec.
  def q57(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "supplier").createOrReplaceTempView("q57_supplier")
    Tables(s, dir, "orders").createOrReplaceTempView("q57_orders")
    Tables(s, dir, "lineitem").createOrReplaceTempView("q57_lineitem")
    s.sql(
      """SELECT s_name, COUNT(*) AS numwait
        |FROM q57_supplier, q57_lineitem l1, q57_orders
        |WHERE s_suppkey = l1.l_suppkey
        |  AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM q57_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM q57_lineitem l3
        |              WHERE l3.l_orderkey = l1.l_orderkey
        |                AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin)
  }

  // Uncorrelated scalar subquery in a predicate + correlated NOT EXISTS
  // (the TPC-H Q22 "global sales opportunity" shape): customers above the
  // positive-balance average with no FINALIZED order (every customer in
  // this corpus has some order, so the status predicate keeps the anti
  // side non-vacuous), aggregated per segment. The
  // scalar subquery must execute ONCE (subquery plan, not a per-row
  // rewrite) and the NOT EXISTS must decorrelate to a LEFT ANTI hash
  // join — locked in PlanAuditSpec. Exact decimal sums keep the threshold
  // shuffle-order-proof (the q04/q38 pattern).
  def q58(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "customer").createOrReplaceTempView("q58_customer")
    Tables(s, dir, "orders").createOrReplaceTempView("q58_orders")
    s.sql(
      """SELECT c_mktsegment, COUNT(*) AS numcust,
        | CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,4))), 4) AS DOUBLE) AS totacctbal
        |FROM q58_customer c
        |WHERE c_acctbal > (
        |    SELECT CAST(ROUND(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE)
        |                            / COUNT(*) AS DECIMAL(38,4)), 4) AS DOUBLE)
        |    FROM q58_customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM q58_orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  // E9 — numerically-stable distributed stats: exact decimal sums of x
  // and x², then identical IEEE double arithmetic on both engines.
  // Shuffle-safe: the decimal partial sums are associative, so partial
  // aggregation order cannot perturb the result.
  def q35(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec($"l_quantity")).cast(DoubleType).as("s1"),
        sum(dec($"l_quantity" * $"l_quantity")).cast(DoubleType).as("s2"))
      .select($"l_returnflag", $"n",
        round(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1), 4).as("vr"),
        round(sqrt(($"s2" - $"s1" * $"s1" / $"n") / ($"n" - 1)), 4).as("sd"))
      .orderBy($"l_returnflag")

  // ---------------------------------------------------------------------
  // TPC-H completion set (q59–q72): the remaining Q-shapes the suite did
  // not yet exercise, adapted to this schema (no partsupp — per-part
  // supply facts derive from lineitem (l_partkey, l_suppkey); no
  // commitdate/receiptdate/shipmode/container — equivalent predicates
  // substitute). Decorrelation-heavy shapes are written in SQL so
  // Catalyst's subquery paths are what executes; join/agg shapes use the
  // DataFrame API with explicit broadcasts. Same determinism contract as
  // the rest of the file.
  // ---------------------------------------------------------------------

  private def views(s: SparkSession, dir: String, prefix: String,
      tables: String*): Unit =
    tables.foreach(t =>
      Tables(s, dir, t).createOrReplaceTempView(s"${prefix}_$t"))

  // TPC-H Q2 shape — min-cost supplier per part: a correlated scalar MIN
  // over an aggregated supply view (unit price per (part, supplier) from
  // lineitem). Catalyst decorrelates the scalar subquery into an
  // aggregate + join — never a per-outer-row re-execution.
  /** TPC-H Q2 shape. The SQL formulation's correlated MIN subquery
    * re-derives the whole supply-side join (lineitem agg × supplier ×
    * nation × region) a second time — Spark does not reuse exchanges
    * across the subquery boundary (see q67). Here the EUROPE supply
    * frame is derived ONCE and the per-part minimum is a window over it;
    * at scale that halves the dominant lineitem aggregation. Dimension
    * joins broadcast; the window partitions by part key (no global
    * sort). */
  def q59(s: SparkSession, dir: String): DataFrame = {
    // ONE exchange for the agg AND the window (round 21, guide §2.4):
    // hash-repartition by part key alone — hashpartitioning(partkey)
    // clusters every (partkey, suppkey) group, so the groupBy needs no
    // second exchange, and the per-part window below reuses the same
    // partitioning (the dimension joins between them are broadcasts,
    // which preserve it). Before: Exchange(pk, sk) for the agg plus
    // Exchange(pk) for the window — two full shuffles of the supply set.
    val supply = Tables(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey", $"l_extendedprice", $"l_quantity")
      .repartition($"l_partkey")
      .groupBy($"l_partkey".as("ps_partkey"), $"l_suppkey".as("ps_suppkey"))
      .agg(round(min(($"l_extendedprice" / $"l_quantity").cast("decimal(38,4)")), 4)
        .cast("double").as("ps_supplycost"))
    val euro = supply
      .join(Tables(s, dir, "supplier"), $"ps_suppkey" === $"s_suppkey")
      .join(broadcast(Tables(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables(s, dir, "region").filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
    val best = euro
      .withColumn("mn", min($"ps_supplycost").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"ps_partkey")))
      .filter($"ps_supplycost" === $"mn")
    Tables(s, dir, "part").filter($"p_size" === 15)
      .join(best, $"p_partkey" === $"ps_partkey")
      .select($"s_acctbal", $"s_name", $"n_name", $"p_partkey", $"p_name")
      .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"p_partkey")
  }

  // TPC-H Q4 shape — order-priority checking: date-windowed orders with a
  // correlated EXISTS (a line shipped after the order date), which plans
  // as a semi join, never a per-row probe.
  def q60(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "q60", "orders", "lineitem")
    s.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM q60_orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM q60_lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  // TPC-H Q6 shape — forecasting revenue change: a pure scan-aggregate
  // whose THREE range predicates all reach the parquet scan (plan-locked
  // in PlanAuditSpec) — the canonical pushdown probe.
  def q61(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast(DateType) &&
        $"l_shipdate" < lit("1997-01-01").cast(DateType) &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"))

  // TPC-H Q7 shape — volume shipping between two nations: the symmetric
  // nation-pair filter over a four-table join, grouped by shipping year.
  // Both nation sides broadcast.
  def q62(s: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(Tables(s, dir, "nation"))
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    val n2 = broadcast(Tables(s, dir, "nation"))
      .select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
    Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1996-01-01").cast(DateType) &&
        $"l_shipdate" < lit("1998-01-01").cast(DateType))
      .join(Tables(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(n1, $"s_nationkey" === $"s_nk")
      .join(n2, $"c_nationkey" === $"c_nk")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_2") ||
        ($"supp_nation" === "NATION_2" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").as("l_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  // TPC-H Q8 shape — national market share: one nation's slice of
  // regional revenue per order year, computed as two exact-decimal sums
  // and one double division performed identically on both engines.
  def q63(s: SparkSession, dir: String): DataFrame = {
    val vol = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part").filter($"p_type" === "PROMO"),
        $"l_partkey" === $"p_partkey")
      .join(Tables(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .join(Tables(s, dir, "orders")
        .filter($"o_orderdate" >= lit("1996-01-01").cast(DateType) &&
          $"o_orderdate" < lit("1998-01-01").cast(DateType)),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables(s, dir, "nation"))
        .select($"n_nationkey".as("c_nk"), $"n_regionkey"),
        $"c_nationkey" === $"c_nk")
      .join(broadcast(Tables(s, dir, "region")).filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .join(broadcast(Tables(s, dir, "nation"))
        .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation")),
        $"s_nationkey" === $"s_nk")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(
        dsum(when($"supp_nation" === "NATION_5", vol).otherwise(lit(0.0)))
          .as("nation_rev"),
        dsum(vol).as("total_rev"))
      .select($"o_year", $"nation_rev", $"total_rev",
        round($"nation_rev" / $"total_rev", 4).as("mkt_share"))
      .orderBy($"o_year")
  }

  // TPC-H Q9 shape — product-type profit by supplier nation and year;
  // supply cost proxied deterministically from p_retailprice (the schema
  // carries no partsupp.ps_supplycost).
  def q64(s: SparkSession, dir: String): DataFrame = {
    val profit = $"l_extendedprice" * (lit(1.0) - $"l_discount") -
      $"p_retailprice" * $"l_quantity" * lit(0.1)
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part").filter($"p_name".contains("widget")),
        $"l_partkey" === $"p_partkey")
      .join(Tables(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .join(Tables(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"), year($"o_orderdate").as("o_year"))
      .agg(dsum(profit).as("sum_profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  // TPC-H Q11 shape — important-stock scan: per-part supply value for one
  // region's suppliers, kept when above a scalar-subquery threshold
  // (0.1% of the region total) — the HAVING-against-global-aggregate
  // decorrelation path.
  /** TPC-H Q11 shape. Single-derivation form (see q59/q67): the EUROPE
    * join+aggregation runs ONCE — the per-part frame feeds both the
    * output rows and a 1-row two-stage total (ReuseExchange shares the
    * partkey shuffle, so lineitem is still scanned once; PlanAuditSpec
    * locks it). The total is broadcast back with a 1-row cross join —
    * NOT a `Window.partitionBy()` sum, which would funnel every per-part
    * row (part-table cardinality: tens of millions at 100×) through a
    * single task's window sort. Per-part sums stay exact unrounded
    * DECIMAL so the total equals the oracle's whole-table sum exactly
    * (decimal addition is associative; rounding happens only at the
    * output and threshold, as in the SQL). */
  def q65(s: SparkSession, dir: String): DataFrame = {
    val byPart = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables(s, dir, "region").filter($"r_name" === "EUROPE")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"l_partkey")
      .agg(sum($"l_extendedprice".cast("decimal(38,4)")).as("dsum"))
    val total = byPart.agg(sum($"dsum").as("grand_total"))
    byPart
      .crossJoin(broadcast(total))
      .withColumn("threshold", round($"grand_total".cast("double") * 0.001, 4))
      .withColumn("value", round($"dsum", 4).cast("double"))
      .filter($"value" > $"threshold")
      .select($"l_partkey", $"value")
      .orderBy($"value".desc, $"l_partkey")
  }

  // TPC-H Q13 shape — customer order-count distribution: conditional
  // LEFT OUTER join (the join predicate filters the right side, not the
  // rows), then a two-level aggregation into a histogram.
  def q66(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders").filter($"o_orderpriority" =!= "1-URGENT"),
        $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)

  // TPC-H Q15 shape — top supplier: a revenue view consumed twice, once
  // as the join input and once under a scalar MAX — Catalyst plans the
  // equality against the subquery without re-running the view per row.
  /** TPC-H Q15 shape. The SQL formulation (`total_revenue = (SELECT MAX
    * ... FROM revenue)`) references the revenue CTE twice, and Spark does
    * NOT reuse the exchange across the scalar-subquery boundary (probed:
    * no ReusedExchange in the finalized plan) — at scale that is two full
    * lineitem scans+aggregations. This formulation computes the heavy
    * aggregate ONCE: the per-supplier frame feeds both the output and a
    * 1-row two-stage MAX, broadcast back via a 1-row cross join.
    * ReuseExchange shares the supplier shuffle, so lineitem is still
    * scanned once (PlanAuditSpec locks it). A `Window.partitionBy()` max
    * would instead sort the whole per-supplier frame in ONE task — fine
    * at sf0.1, a single-task bottleneck at 100×. */
  def q67(s: SparkSession, dir: String): DataFrame = {
    // the explicit isNotNull matches the join's inferred null filter, so
    // the two references to `rev` canonicalize identically and AQE's
    // stage cache collapses the second into a ReusedExchange (without
    // it, only the supplier-join branch gets the inferred filter and the
    // shuffles differ)
    val rev = Tables(s, dir, "lineitem")
      .filter($"l_shipdate" >= "1996-01-01" && $"l_shipdate" < "1996-04-01" &&
        $"l_suppkey".isNotNull)
      .groupBy($"l_suppkey".as("supplier_no"))
      .agg(round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .cast("decimal(38,4)")), 4).cast("double").as("total_revenue"))
    val top = rev
      .crossJoin(broadcast(rev.agg(max($"total_revenue").as("mx"))))
      .filter($"total_revenue" === $"mx")
      .drop("mx")
    Tables(s, dir, "supplier")
      .join(top, $"s_suppkey" === $"supplier_no")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  // TPC-H Q16 shape — supplier diversity per (brand, type, size): an
  // exclusion anti join standing in for NOT IN (equivalent here — the
  // subquery's key set is non-null), then COUNT(DISTINCT supplier).
  def q68(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part")
        .filter($"p_brand" =!= "Brand#1" &&
          $"p_size".isin(1, 5, 9, 14, 19, 23, 36, 45)),
        $"l_partkey" === $"p_partkey")
      .join(Tables(s, dir, "supplier").filter($"s_acctbal" < 0)
        .select($"s_suppkey"),
        $"l_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")

  // TPC-H Q17 shape — small-quantity-order revenue: the correlated
  // scalar AVG per part (decorrelated to an aggregate join; quantities
  // are integral so the double mean is exact and order-independent).
  /** TPC-H Q17 shape, single-scan form (see q59/q65/q67). The correlated
    * AVG decorrelates to a SECOND lineitem aggregation; but p_partkey is
    * the part table's key, so every lineitem row of a partkey shares its
    * brand — the per-part average over the brand-filtered join equals
    * the subquery's average over all lineitem rows of those parts. One
    * scan, and the window's partkey partitioning rides the join's
    * existing shuffle. Quantities are integral doubles (exact sums well
    * under 2^53), so the window average is order-independent and matches
    * the oracle bit-for-bit. */
  def q69(s: SparkSession, dir: String): DataFrame = {
    val j = Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part").filter($"p_brand" === "Brand#5"),
        $"l_partkey" === $"p_partkey")
    j.withColumn("avg_qty", avg($"l_quantity").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"p_partkey")))
      .filter($"l_quantity" < $"avg_qty" * 0.2)
      .agg(round(sum($"l_extendedprice".cast("decimal(38,4)")).cast("double") / 7.0, 4)
        .cast("double").as("avg_yearly"))
  }

  // TPC-H Q18 shape — large-volume customers: IN over a grouped HAVING
  // subquery (plans as a semi join on the aggregated key set).
  def q70(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "q70", "customer", "orders", "lineitem")
    s.sql(
      """SELECT c_name, c_custkey, o_orderkey,
        |  CAST(o_orderdate AS DATE) AS odate, o_totalprice,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM q70_customer, q70_orders, q70_lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM q70_lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 250)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin)
  }

  // TPC-H Q19 shape — disjunctive bracket predicate over a part join:
  // three OR'd conjunct brackets that Catalyst must keep sargable enough
  // to avoid a nested-loop plan (locked in PlanAuditSpec).
  def q71(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part"), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#24" && $"p_size".between(1, 15) &&
          $"l_quantity".between(20, 30)))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))

  // TPC-H Q20 shape — nested IN subqueries: suppliers who moved real
  // volume of a named part family in a year, resolved through two
  // semi-join levels (part-key set inside supplier-key set).
  def q72(s: SparkSession, dir: String): DataFrame = {
    views(s, dir, "q72", "supplier", "nation", "lineitem", "part")
    s.sql(
      """SELECT s_name, s_acctbal
        |FROM q72_supplier, q72_nation
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM q72_lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM q72_part
        |                        WHERE p_name LIKE 'small%')
        |      AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |    GROUP BY l_suppkey HAVING SUM(l_quantity) > 100)
        |  AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |ORDER BY s_name""".stripMargin)
  }

}
