package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational operator coverage (SURVEY.md §2.9: joins, windows, sorts,
  * set ops, rollup/cube, distinct) over the TPC-H-ish tables, each with a
  * DuckDB oracle.
  *
  * Float discipline for cross-engine hash parity: money aggregates are
  * summed as DECIMAL (exact, order-independent) and only the final value
  * is cast to DOUBLE; averages divide two exact aggregates in one double
  * op. Whole-valued doubles (quantities) sum exactly in IEEE and need no
  * cast. Every query carries a total ORDER BY.
  */
object RelationalQueries {

  /** Exact money sum: Σ DECIMAL(18,2) → double at the very end. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** extendedprice * (1 - discount) in exact decimal arithmetic. */
  private def revenue: Column =
    (col("l_extendedprice").cast("decimal(12,2)") *
      (lit(1) - col("l_discount")).cast("decimal(12,2)"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // hash aggregate with partial (map-side) combine; filter pushed to scan
    "rel_q1_pricing" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(revenue).cast("double").as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // 3-way join: broadcast dim (customer filter) into fact-fact join,
    // then top-k by aggregated revenue
    "rel_q3_top_orders" -> ((s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(revenue).cast("double").as("revenue_d"))
        .orderBy(col("revenue_d").desc, col("o_orderkey"))
        .limit(10)}),

    // star join through two broadcast dims + group on dim attribute
    "rel_q5_nation_revenue" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r.filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(col("o_totalprice")).as("revenue_d"),
          count(lit(1)).as("n_orders"))
        .orderBy("n_name")}),

    // left-semi (EXISTS) and left-anti (NOT EXISTS) as one tagged result
    "rel_semi_anti" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(lit("has_orders").as("tag"), col("c_custkey"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(lit("no_orders").as("tag"), col("c_custkey"))
      semi.unionByName(anti).orderBy("tag", "c_custkey")}),

    // window function: rank within partition, top-3 per customer
    "rel_window_topk" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rk")}),

    // the same top-3-per-customer via the NATIVE bounded-heap aggregate
    // (algebraic partial top-k: shuffles k rows per group per partition
    // instead of whole groups; identical output to rel_window_topk).
    // graft.plans.TopKPairsAgg updates primitive arrays straight from
    // InternalRow — no Encoder ser/de per input row like a typed
    // Aggregator
    "rel_topk_aggregator" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(graft.plans.TopKPairs(
          col("o_totalprice"), col("o_orderkey"), 3).as("topk"))
        .select(col("o_custkey"), posexplode(col("topk")).as(Seq("i", "p")))
        .select(col("o_custkey"), (col("i") + 1).as("rk"),
          col("p.id").as("o_orderkey"), col("p.score").as("o_totalprice"))
        .orderBy("o_custkey", "rk")),

    // running aggregate over the default RANGE frame: peers (tied order
    // keys) share one running value, so the result is deterministic even
    // though (l_orderkey, l_linenumber) is NOT unique in the testdata —
    // a ROWS frame here would be tie-order-dependent and flake the
    // oracle hash (observed: DuckDB's parallel sort varies run to run)
    "rel_window_running" -> ((s, d) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, d)
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "running_qty")
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")}),

    // set operators: INTERSECT / EXCEPT over key sets
    "rel_setops" -> ((s, d) => {
      val building = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ordered = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey")).distinct()
      val both = building.intersect(ordered)
        .select(lit("building_with_orders").as("tag"), col("c_custkey"))
      val only = building.except(ordered)
        .select(lit("building_no_orders").as("tag"), col("c_custkey"))
      both.unionByName(only).orderBy("tag", "c_custkey")}),

    // hierarchical aggregate: ROLLUP with grouping indicators
    "rel_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .orderBy("flag", "status")),

    // full CUBE over two dims
    "rel_cube" -> ((s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total_d"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total_d"))
        .orderBy("status", "priority")),

    // global sort + limit (top-k by price, total tie order)
    "rel_topk_price" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)),

    // distinct projection
    "rel_distinct_pairs" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // order-count distribution (left outer join + two-level aggregate):
    // how many customers placed exactly N orders, including zero
    "rel_q13_order_dist" -> ((s, d) => {
      val c = Tables.customer(s, d).select("c_custkey")
      val o = Tables.orders(s, d).select("o_custkey", "o_orderkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy(col("n_orders"))}),

    // TPC-H Q18 shape (large-order customers): the big-shuffle pattern —
    // a full lineitem aggregation keyed by orderkey, HAVING-filtered to
    // a tiny survivor set that then drives two cheap joins. At 100 TB
    // the aggregate combines map-side (partial sums per partition) and
    // the joins see only the survivors; quantities sum as exact decimal
    "rel_q18_big_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("sq"))
        .filter(col("sq") > 150)
      big.join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_orderdate"), col("sq").cast("double").as("sum_qty"))
        .orderBy(col("sum_qty").desc, col("o_orderkey"))
        .limit(100)}),

    // TPC-H Q7 shape (two-nation volume shipping): the dual-alias dim
    // pattern — nation joins twice under different roles, pre-filtered
    // to the pair so the selectivity lands in the supplier/customer
    // joins instead of post-join; cross-pairs drop in the final OR.
    // Volume sums as exact decimal, grouped by shipment year
    "rel_q7_nation_volume" -> ((s, d) => {
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d).filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        (col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(12,2)") -
            col("l_discount").cast("decimal(12,2)"))).as("vol"))
      li.join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sum(col("vol")).cast("double").as("volume"),
          count(lit(1)).as("n"))
        .orderBy("supp_nation", "cust_nation", "l_year")}),

    // TPC-H Q10 shape (returned-item revenue): quarter-filtered orders ⋈
    // R-flagged lineitems ⋈ customer ⋈ nation, revenue as exact decimal,
    // top-20 accounts. Date + flag predicates push to the scans; the
    // two dimension joins broadcast
    "rel_q10_returns" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          (col("l_extendedprice").cast("decimal(12,2)") *
            (lit(BigDecimal(1)).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)"))).as("rev"))
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(col("rev")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)}),

    // EXISTS with event-time arithmetic: orders having a lineitem
    // shipped more than 90 days after the order date, per priority
    "rel_q4_late_ships" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"))
      val late = o.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      late.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")}),

    // scan-dominated single aggregate: every predicate pushes to parquet
    "rel_q6_revenue" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          col("l_discount").cast("decimal(12,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n"))),

    // TPC-H Q14 shape (promo revenue share): month-filtered lineitem ⋈
    // part, CASE-gated numerator over the same exact-decimal revenue —
    // one pass, no self-join. The date predicate pushes to the lineitem
    // scan; AQE broadcasts the part side while it's small and switches
    // to a shuffle join when it isn't (no forced hint — part grows with
    // the catalog, unlike nation/region)
    "rel_q14_promo_share" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .select(col("l_partkey"),
          (col("l_extendedprice").cast("decimal(12,2)") *
            (lit(BigDecimal(1)).cast("decimal(12,2)") -
              col("l_discount").cast("decimal(12,2)"))).as("rev"))
      li.join(Tables.part(s, d).select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg(
          (lit(100.0) *
            sum(when(col("p_type").startsWith("PROMO"), col("rev"))
              .otherwise(lit(BigDecimal(0)).cast("decimal(12,2)"))).cast("double") /
            sum(col("rev")).cast("double")).as("promo_share"))}),

    // TPC-H Q19 shape (disjunctive join predicates): three OR'd
    // (brand, size-band, quantity-band) conjunct blocks — Catalyst
    // extracts l_partkey = p_partkey as the equi-key and the
    // disjunction becomes a post-join filter, never a nested loop
    "rel_q19_disjunctive" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val p = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
      val blocks =
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 40) &&
          col("l_quantity").between(20, 30))
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(blocks)
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(BigDecimal(1)).cast("decimal(12,2)") -
            col("l_discount").cast("decimal(12,2)"))).cast("double")
          .as("revenue"),
          count(lit(1)).as("n"))}),

    // TPC-H Q22 shape (idle rich customers): scalar-subquery threshold,
    // anti-join against orders, per-nation census. The threshold is the
    // positive-balance mean computed as exact-decimal sum over count
    // (a double avg would be shuffle-order-dependent and could flip a
    // boundary customer between engines), broadcast as a 1-row cross;
    // the anti-join is the only real shuffle. "Idle" = no order since
    // 1999 — the synthetic data gives every customer ~10 orders over
    // 1995–2001, so TPC-H's unconditional no-orders predicate would be
    // vacuously empty; the window keeps the anti-join doing real work
    "rel_q22_idle_customers" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val posAvg = c.filter(col("c_acctbal") > 0)
        .agg((sum(col("c_acctbal").cast("decimal(12,2)")).cast("double") /
          count(lit(1)).cast("double")).as("avg_bal"))
      val recentOrders = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      val idle = c.join(posAvg)
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recentOrders,
          col("c_custkey") === col("o_custkey"), "left_anti")
      idle.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
            .as("total_bal"))
        .orderBy("c_nationkey")}),

    // post-aggregation filter (HAVING)
    "rel_having" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("total_d"))
        .filter(col("n_orders") >= 15)
        .orderBy("o_custkey")),

    // correlated scalar subquery: customers above their nation's average
    // balance (decorrelated by Catalyst into an aggregate + join)
    "rel_above_nation_avg" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_cs")
      s.sql(
        """SELECT c_custkey, c_nationkey
          |FROM customer_cs c
          |WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
          |                          / count(*) FROM customer_cs c2
          |                   WHERE c2.c_nationkey = c.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)}),

    // GROUPING SETS with grouping-id disambiguation (SQL surface —
    // the DataFrame API exposes only rollup/cube)
    "rel_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
          |       coalesce(o_orderpriority, 'ALL') AS priority,
          |       count(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY status, priority""".stripMargin)}),

    // exact interpolated percentiles (sort-based aggregate)
    "rel_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          percentile(col("l_quantity"), lit(0.5)).as("med_qty"),
          percentile(col("l_extendedprice"), lit(0.25)).as("price_p25"),
          percentile(col("l_extendedprice"), lit(0.75)).as("price_p75"))
        .orderBy("l_returnflag")),

    // approx distinct (HLL): rows-only check (not bit-replayable in the
    // oracle); accuracy asserted against exact count in scalatest
    "rel_approx_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .orderBy("l_returnflag")),

    // ORACLE COMPANION for rel_approx_distinct: per group, the exact
    // distinct count (DuckDB recomputes it — engine-independent) plus a
    // within_bound flag that must be uniformly TRUE: HLL++ at rsd 0.05
    // must land within 3·rsd of exact. A sketch regression flips the
    // flag and the hash goes red; stronger than an empty violation set
    // because every group row is value-checked, not just counted
    "rel_approx_distinct_bound" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), rsd = 0.05).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) <=
            col("exact_parts") * 0.15).as("within_bound"))
        .orderBy("l_returnflag")),

    // MERGEABLE sketch-as-column (DataSketches HLL, built into Spark 4):
    // per-month sketches of distinct customers are persisted-size binary
    // state that later UNIONS without the raw data — the incremental
    // rollup move: at fleet scale, updating a year-to-date distinct
    // count touches 12 kilobyte-sized sketches, never the order
    // history. Checked two ways: the merged estimate lands within the
    // documented HLL error of the exact count (lgK=12 → rse ≈ 0.8%; 5%
    // bound), and merging monthly sketches agrees with one direct
    // global sketch to 1% (union consistency). DuckDB recomputes the
    // exact count and asserts both flags TRUE
    "rel_hll_sketch_merge" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .withColumn("month", date_format(col("o_orderdate"), "yyyyMM"))
      val monthly = o.groupBy("month")
        .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("sk"))
      val merged = monthly.agg(
        count(lit(1)).as("n_months"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("est_merged"))
      val global = o.agg(
        hll_sketch_estimate(hll_sketch_agg(col("o_custkey"), lit(12)))
          .as("est_direct"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      merged.crossJoin(global).select(
        col("n_months"), col("exact_customers"),
        (abs(col("est_merged") - col("exact_customers")) <=
          col("exact_customers") * 0.05).as("merged_within_bound"),
        (abs(col("est_merged") - col("est_direct")) <=
          greatest(col("est_direct") * 0.01, lit(1.0))).as("merge_consistent"))
    }),

    // ORACLE COMPANION for rel_approx_quantiles: percentile_approx with
    // accuracy 1000 guarantees rank error <= n/1000. For each requested
    // percentile the approx value's TRUE rank interval
    // [count(x < v), count(x <= v)] must intersect [(p-eps)n, (p+eps)n]
    // (one row of slack each side for rank-convention boundaries).
    // Output: group size + four must-be-TRUE flags; DuckDB recomputes n
    // and asserts the constants — any sketch drift flips a flag
    "rel_approx_quantiles_bound" -> ((s, d) => {
      val eps = 1.0 / 1000
      val aq = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95)), lit(1000)).as("aq"))
      val joined = Tables.lineitem(s, d)
        .join(aq, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          (0 until 4).flatMap { i =>
            Seq(sum(when(col("l_extendedprice") < col("aq")(i), 1L)
                .otherwise(0L)).as(s"lo$i"),
              sum(when(col("l_extendedprice") <= col("aq")(i), 1L)
                .otherwise(0L)).as(s"hi$i"))
          }: _*)
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      joined.select(col("l_returnflag") +: col("n") +:
          ps.zipWithIndex.map { case (p, i) =>
            ((col(s"lo$i") <= (lit(p) + eps) * col("n") + 1) &&
              (col(s"hi$i") >= (lit(p) - eps) * col("n") - 1))
              .as(s"within_q${(p * 100).toInt}")
          }: _*)
        .orderBy("l_returnflag")}),

    // mergeable quantile sketch per group (rows-only: sketch internals
    // are engine-specific; error vs exact percentiles bounded in
    // SparkEntrySpec) — the single-pass path for percentile dashboards
    // at corpus scale, where exact percentile would sort per group.
    // One scalar column per requested quantile: the sketch is evaluated
    // once (single agg), then indexed — array-typed outputs would defeat
    // downstream columnar consumers (and the driver's row hasher).
    "rel_approx_quantiles" -> ((s, d) => {
      val qs = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95)), lit(1000))
          .as("aq"))
      qs.select(col("l_returnflag"),
          col("aq")(0).as("q25"), col("aq")(1).as("q50"),
          col("aq")(2).as("q75"), col("aq")(3).as("q95"))
        .orderBy("l_returnflag")}),

    // pivot (wide aggregation): explicit value list keeps it a single
    // pass (no values-discovery job) — mandatory at scale, where the
    // implicit collect-distinct pivot is a full extra scan
    "rel_pivot" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
        .orderBy("o_orderpriority")),

    // lag/lead/first_value window frames per customer order history;
    // (o_orderdate, o_orderkey) is a total order within each partition,
    // so every offset function is tie-deterministic
    "rel_window_lag" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        lag("o_totalprice", 1).over(w).as("prev_price"),
        lead("o_totalprice", 1).over(w).as("next_price"),
        first("o_totalprice").over(w).as("first_price"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("long").as("days_since_prev"))
        .orderBy("o_custkey", "o_orderkey")}),

    // bivariate statistics from EXACT decimal partial sums: Σx, Σy, Σx²,
    // Σy², Σxy aggregate order-independently (decimal), then corr/covar/
    // stddev are assembled in one fixed double-op sequence — bit-identical
    // at any parallelism, unlike the built-in streaming co-moment
    // aggregates whose merge order varies run to run (fine numerically,
    // fatal for a hash-compare gate and for reproducible pipelines)
    "rel_corr_stats" -> ((s, d) => {
      def d2(c: Column) = c.cast("decimal(18,2)")
      val sums = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(d2(col("l_quantity"))).cast("double").as("sx"),
          sum(d2(col("l_extendedprice"))).cast("double").as("sy"),
          sum(d2(col("l_quantity")) * d2(col("l_quantity"))).cast("double").as("sxx"),
          sum(d2(col("l_extendedprice")) * d2(col("l_extendedprice"))).cast("double").as("syy"),
          sum(d2(col("l_quantity")) * d2(col("l_extendedprice"))).cast("double").as("sxy"))
      sums.select(
          col("l_returnflag"),
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
            .as("corr_qty_price"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - lit(1.0)))
            .as("covar_qty_price"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - lit(1.0)))
            .as("sd_qty"))
        .orderBy("l_returnflag")})
  )

  def oracleSql: Map[String, String] = Map(
    "rel_q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
        |  sum(l_quantity) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "rel_q3_top_orders" ->
      """SELECT o_orderkey, o_orderdate,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue_d
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_d DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "rel_q5_nation_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue_d,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "rel_semi_anti" ->
      """SELECT 'has_orders' AS tag, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'no_orders' AS tag, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin,
    "rel_window_topk" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,
    "rel_topk_aggregator" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,
    "rel_window_running" ->
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin,
    "rel_setops" ->
      """SELECT 'building_with_orders' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'building_no_orders' AS tag, c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY tag, c_custkey""".stripMargin,
    "rel_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status,
        |       sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "rel_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_d
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "rel_q13_order_dist" ->
      """SELECT n_orders, count(*) AS n_customers FROM (
        |  SELECT c_custkey, count(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY n_orders ORDER BY n_orders""".stripMargin,
    "rel_q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 150)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  CAST(sq AS DOUBLE) AS sum_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |         JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey LIMIT 100""".stripMargin,
    "rel_q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(vol) AS DOUBLE) AS volume, count(*) AS n
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    year(l_shipdate) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (CAST(1 AS DECIMAL(12,2))
        |         - CAST(l_discount AS DECIMAL(12,2))) AS vol
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,
    "rel_q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |           * (CAST(1 AS DECIMAL(12,2))
        |              - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey AND l_returnflag = 'R'
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "rel_q4_late_ships" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "rel_q6_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
        |               * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "rel_q14_promo_share" ->
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) *
        |         (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
        |    ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |         (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |  AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin,
    "rel_q19_disjunctive" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 40
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "rel_q22_idle_customers" ->
      """SELECT c_nationkey, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |                     / count(*)
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_orderdate >= TIMESTAMP '1999-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "rel_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_d
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) >= 15 ORDER BY o_custkey""".stripMargin,
    "rel_above_nation_avg" ->
      """SELECT c_custkey, c_nationkey
        |FROM customer c
        |WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |                          / count(*) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
    "rel_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    "rel_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS price_p25,
        |  quantile_cont(l_extendedprice, 0.75) AS price_p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the oracle recomputes the EXACT distinct count; within_bound is the
    // asserted constant TRUE (the engine-side HLL must stay in bound)
    "rel_approx_distinct_bound" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  true AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // month count + exact distinct recomputed; both sketch flags are
    // asserted constants TRUE
    "rel_hll_sketch_merge" ->
      """SELECT CAST(count(DISTINCT strftime(o_orderdate, '%Y%m')) AS BIGINT) AS n_months,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
        |  true AS merged_within_bound, true AS merge_consistent
        |FROM orders""".stripMargin,
    // group sizes recomputed exactly; the four rank-containment flags are
    // asserted constants TRUE
    "rel_approx_quantiles_bound" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  true AS within_q25, true AS within_q50,
        |  true AS within_q75, true AS within_q95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rel_topk_price" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin,
    "rel_distinct_pairs" ->
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "rel_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "rel_window_lag" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  date_diff('day',
        |    CAST(lag(o_orderdate, 1) OVER w AS DATE),
        |    CAST(o_orderdate AS DATE)) AS days_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "rel_corr_stats" ->
      """WITH sums AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
        |           * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  (n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr_qty_price,
        |  (sxy - sx * sy / n) / (n - 1.0) AS covar_qty_price,
        |  sqrt((sxx - sx * sx / n) / (n - 1.0)) AS sd_qty
        |FROM sums ORDER BY l_returnflag""".stripMargin
  )
}
