package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables
import graft.functions.Decimals.{dsum, rsum2}

/** Relational operator surface (SURVEY.md §2.1 / §7.2 step 4): scans with
  * pushdown, joins of every flavor, aggregation (plain / distinct /
  * rollup / cube), window functions, sort/limit/top-k, set ops, and
  * scalar string/date/json/array functions — all Spark built-ins so
  * Catalyst plans pushdown, partial aggregation, and join strategy.
  *
  * Scale notes (100 TB posture):
  *  - only GENUINELY BOUNDED sides carry an explicit broadcast() hint:
  *    nation (25 rows), region (5), and scalar (grouping-free)
  *    aggregates. customer/supplier/part GROW with scale factor — at
  *    sf ≈ 100 000 customer is 15 B rows, and a forced hint overrides
  *    autoBroadcastJoinThreshold unconditionally and kills the job —
  *    so those joins are left unhinted and the threshold + AQE pick
  *    broadcast when (and only when) the build side actually fits;
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key once;
  *    AQE handles skew;
  *  - every aggregate is a map-side-combined hash agg; no collect().
  */
object Relational {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- scans -----------------------------------------------------------
    // Projection+filter that must reach the parquet scan (PushedFilters /
    // 2-column ReadSchema at explain-time); at 100 TB this is the
    // difference between reading 2 columns and reading 11.
    "scan_pushdown" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45.0)
        .select(col("l_orderkey"), col("l_quantity"))
        .orderBy("l_orderkey", "l_quantity")),

    // --- aggregation -----------------------------------------------------
    "q1_pricing_summary" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          rsum2(col("l_quantity")).as("sum_qty"),
          rsum2(col("l_extendedprice")).as("sum_base_price"),
          rsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          round(dsum(col("l_discount")) / count(lit(1)), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q6-style forecast revenue: pure filter+agg, fully pushed to
    // the scan — the canonical "reads 3 columns of 100 TB" query.
    "q6_forecast_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(rsum2(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_items"))),

    "agg_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // ROLLUP: hierarchical subtotals; group keys coalesced to '(all)' so
    // both engines serialize subtotal rows identically.
    "agg_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), rsum2(col("o_totalprice")).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("o_orderstatus"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("o_orderpriority"),
          col("n"), col("total"))
        .orderBy("o_orderstatus", "o_orderpriority")),

    "agg_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), rsum2(col("l_quantity")).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("l_linestatus"),
          col("n"), col("qty"))
        .orderBy("l_returnflag", "l_linestatus")),

    // --- joins -----------------------------------------------------------
    // Star join where the dimension side is broadcast BY THE PLANNER
    // (threshold/AQE), not by a forced hint: part grows with sf, so the
    // 100 TB plan must be allowed to fall back to a shuffle join when
    // the build side no longer fits executor memory.
    "join_broadcast_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          rsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")),

    // TPC-H Q3-style: customer ⋈ orders ⋈ lineitem, top 10 orders by
    // revenue. orders⋈lineitem shuffles on orderkey (both huge at scale);
    // customer scales with sf too, so no forced hint — AQE broadcasts it
    // while it fits and shuffles it when it doesn't.
    "q3_top_orders" -> ((s, dir) => {
      val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val ord = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"), col("revenue"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5-style 6-way star join: only nation⋈region (bounded) is
    // hinted; customer/supplier joins are threshold/AQE-decided, and
    // orders⋈lineitem is the one unavoidable fact shuffle at scale.
    "q5_region_revenue" -> ((s, dir) => {
      val dims = Tables.nation(s, dir)
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      val cust = Tables.customer(s, dir)
      val sup = Tables.supplier(s, dir)
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup,
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(dims), col("s_nationkey") === col("n_nationkey"))
        .groupBy("r_name", "n_name")
        .agg(rsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // TPC-H Q9-style product profit by nation × order year, adapted to
    // this schema (no partsupp table, so no supply-cost term): revenue
    // for parts matching a name substring. Plan shape preserved — the
    // 5-way join with a selective dimension filter that must reach the
    // part scan, one fact-fact shuffle on orderkey, year extraction in
    // the aggregate key.
    "q9_profit_proxy" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
        .filter(col("p_name").contains("red"))
        .select("p_partkey")
      Tables.lineitem(s, dir)
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(rsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }),

    // TPC-H Q20-style potential-promotion suppliers, adapted (no
    // partsupp availqty): suppliers that shipped more than 100 units of
    // name-matched parts in 1996 — the semi-join-chain shape (part →
    // lineitem aggregate → HAVING → supplier semi-join) that Q20's
    // nested IN subqueries plan into.
    "q20_promo_suppliers" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
        .filter(col("p_name").startsWith("red"))
        .select("p_partkey")
      val shippers = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(dsum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 100)
        .select("l_suppkey")
      Tables.supplier(s, dir)
        .join(shippers, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    }),

    // TPC-H Q10-style: revenue lost to returned items per customer.
    // Fact-fact join shuffles once on orderkey; nation is hinted
    // (bounded), customer is planner-decided (grows with sf).
    "q10_returned_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(rsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(desc("revenue"), col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q2-style: the cheapest observed supplier per Brand#12 part
    // (min unit price from lineitems; no partsupp in this schema).
    // Window arg-min with a deterministic tiebreak instead of a
    // correlated min subquery — one shuffle on partkey; part/supplier
    // joins planner-decided (both scale with sf), nation hinted.
    "q2_min_cost_supplier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val unit = (col("l_extendedprice") / col("l_quantity")).as("unit_price")
      val w = Window.partitionBy("p_partkey").orderBy(col("unit_price"), col("l_suppkey"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_brand") === "Brand#12"),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("l_suppkey"), unit)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        // raw double quotient, NOT rounded: one IEEE division is
        // bit-identical in both engines, while round() on a quotient
        // that terminates exactly at 7 decimals (quantity = 32 does)
        // hits the HALF_UP-vs-nearbyint .xx5 divergence
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
          col("unit_price"))
        .orderBy("p_partkey")
    }),

    // TPC-H Q4-style: orders with any lineitem shipped 60+ days after
    // the order date, counted by priority. EXISTS as a LEFT SEMI join —
    // equi key + date residual, one shuffle, no row multiplication.
    "q4_priority_late" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")),

    // TPC-H Q8-style: NATION_3 suppliers' share of revenue to ASIA
    // customers, by order year. Two nation lookups broadcast twice;
    // share = ratio of two DECIMAL-exact sums (deterministic division).
    "q8_market_share" -> ((s, dir) => {
      val asiaNations = Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      // suppNation/customer scale with sf → no forced hint on either;
      // asiaNations is nation⋈region (≤25 rows), hinted.
      val suppNation = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("c_nk"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          dsum(when(col("supp_nation") === "NATION_3", rev).otherwise(lit(0.0))) /
            dsum(rev), 6).as("mkt_share"))
        .orderBy("o_year")
    }),

    // TPC-H Q12-style (shipmode → ship year): high- vs low-priority
    // lineitem counts per year shipped — conditional aggregation over
    // the one fact-fact shuffle.
    "q12_priority_by_shipyear" -> ((s, dir) =>
      Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("l_shipdate")).as("ship_year"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("ship_year")),

    // TPC-H Q15-style: the top-revenue supplier(s) of 1997. The scalar
    // max joins back as a broadcast — revenue compared on the ROUNDED
    // decimal sum so the equality is exact in both engines.
    "q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1997)
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(rsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
      rev.crossJoin(broadcast(rev.agg(max(col("total_revenue")).as("mx"))))
        .filter(col("total_revenue") === col("mx"))
        .join(Tables.supplier(s, dir), col("supplier_no") === col("s_suppkey"))
        .select(col("supplier_no"), col("s_name"), col("total_revenue"))
        .orderBy("supplier_no")
    }),

    // TPC-H Q16-style: supplier variety per (brand, type, size) for
    // non-PROMO parts, with the part-supplier relation derived from
    // observed lineitems (no partsupp table in this schema).
    "q16_part_supplier_variety" -> ((s, dir) => {
      // The pre-join distinct looks redundant (countDistinct dedups per
      // group anyway) but is a measured WIN, not an accident: it hash-
      // aggregates two LONG columns map-side before anything widens,
      // where dropping it pushes a 4-key aggregate with three STRING
      // group columns onto every joined fact row. r12 A/B at 10×
      // (FloorProbe, min of 3 steady passes): with distinct 5.0-5.8 s,
      // without 6.2-6.9 s — the "saved" exchange cost more than it
      // freed (guide §1.1's switch-back case; plans/r12/q16_*).
      val ps = Tables.lineitem(s, dir).select("l_partkey", "l_suppkey").distinct()
      ps.join(Tables.part(s, dir).filter(col("p_type") =!= "PROMO"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
    }),

    // TPC-H Q21-style: suppliers who were the SOLE latest shipper in
    // multi-supplier orders (the "kept everyone waiting" analogue
    // without receipt/commit dates). Two aggregates over the fact, an
    // equi join back with a max-date residual — no window over the
    // whole fact, no nested loop.
    "q21_slowest_supplier" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
      // ">= 2 distinct" ≡ min != max and "exactly 1 distinct" ≡ min = max:
      // min/max are single-pass primitive aggregates where countDistinct
      // plans an Expand + second shuffle
      val perOrder = li.groupBy("l_orderkey")
        .agg(max(col("l_shipdate")).as("max_ship"),
          min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"))
        .filter(col("s_min") =!= col("s_max"))
        .select(col("l_orderkey").as("ok"), col("max_ship"))
      val soleLatest = li
        .join(perOrder, col("l_orderkey") === col("ok") && col("l_shipdate") === col("max_ship"))
        .groupBy("l_orderkey")
        .agg(min(col("l_suppkey")).as("lmin"), max(col("l_suppkey")).as("the_supp"))
        .filter(col("lmin") === col("the_supp"))
      soleLatest
        .groupBy(col("the_supp").as("s_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"), "s_suppkey")
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    }),

    // Exact percentiles (sort-based aggregate; the exact twin of the
    // approx_percentile scale path). Interpolation formula
    // lower + (upper-lower)*frac matches DuckDB quantile_cont bitwise.
    // NOT rebalanced: percentile is holistic — a partial buffer carries
    // its whole value multiset, so a pre-aggregate exchange ships the
    // column twice for no parallel win (measured: 1.9 s either way at
    // sf0.1); the bootstrap-style rebalance only pays off when per-row
    // compute dwarfs row width.
    // One ARRAY-percentage aggregate for the three l_quantity cuts
    // (r13): as three scalar percentile() calls they were three
    // INDEPENDENT TypedImperativeAggregates, each building, shuffling
    // and merging its own full value->count buffer of the same column —
    // 3x the buffer work and 3x the exchange bytes for one histogram.
    // percentile(col, array(..)) keeps a single buffer and evaluates
    // each percentage with the identical getPercentile formula, so the
    // values are bit-identical (oracle-confirmed).
    "agg_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").as("qs"),
          expr("percentile(l_extendedprice, 0.5)").as("median_price"))
        .select(col("l_returnflag"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("median"),
          element_at(col("qs"), 3).as("q75"),
          col("median_price"))
        .orderBy("l_returnflag")),

    // TPC-H Q18-style: orders whose total quantity across items exceeds
    // a threshold (HAVING on a fact-side aggregate, then join back to
    // the order header). Aggregate-before-join: the shuffle carries one
    // row per qualifying order, not every lineitem.
    "q18_large_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250.0)
      big.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("total_qty"))
        .orderBy("o_orderkey")
    }),

    // TPC-H Q7-style: shipping revenue between a supplier nation and a
    // customer nation, by ship year. Both nation lookups broadcast
    // (bounded); supplier/customer joins planner-decided; the only
    // unavoidable shuffles are lineitem⋈orders and the final group-by.
    "q7_nation_trade" -> ((s, dir) => {
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter(col("supp_nation") < col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        // round the exact DECIMAL sum BEFORE casting to double: both
        // engines round decimals HALF_UP exactly, where rounding the
        // double hits .xx5 representation boundaries (observed here)
        .agg(round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 4))), 2).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q13-style: distribution of per-customer order counts (left
    // join keeps zero-order customers; two exact integer aggregations).
    "q13_order_distribution" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q17-style: revenue that would be lost by refusing orders
    // below 20% of a part's average quantity — correlated average via
    // aggregate-then-join (never a per-row subquery at scale).
    "q17_small_quantity_revenue" -> ((s, dir) => {
      val avgQty = Tables.lineitem(s, dir)
        .groupBy(col("l_partkey").as("ap_key"))
        .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_brand") === "Brand#23"),
          col("l_partkey") === col("p_partkey"))
        .join(avgQty, col("l_partkey") === col("ap_key"))
        .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
        .agg(round(dsum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"))
    }),

    // TPC-H Q22-style: above-average-balance customers split by whether
    // they ever ordered (scalar aggregate + existence flag via a
    // distinct-key left join), per segment. A flag instead of an anti
    // join keeps the result nonempty at any scale factor.
    "q22_idle_balances" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
      val buyers = Tables.orders(s, dir).select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(buyers, col("c_custkey") === col("o_custkey"), "left")
        .withColumn("has_orders", col("o_custkey").isNotNull)
        .groupBy("c_mktsegment", "has_orders")
        .agg(count(lit(1)).as("numcust"),
          rsum2(col("c_acctbal")).as("totacctbal"))
        .orderBy("c_mktsegment", "has_orders")
    }),

    // TPC-H Q14-style: promo revenue share — conditional aggregation
    // over a planner-decided dimension join; single scalar out.
    "q14_promo_revenue" -> ((s, dir) => {
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) *
          dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          dsum(rev), 6).as("promo_revenue_pct"))
    }),

    // TPC-H Q19-style: disjunctive brand/size/quantity predicate across
    // both join sides — the join stays an equi hash join on partkey, the
    // OR-of-ANDs is a post-join filter Catalyst can't (and shouldn't)
    // split.
    "q19_disjunctive_revenue" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 15)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 25)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(20, 50) &&
            col("l_quantity").between(20, 35)))
        .agg(count(lit(1)).as("n_items"),
          rsum2(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }),

    // GROUPING SETS (beyond rollup/cube): two independent one-column
    // groupings plus the grand total in one pass over orders.
    "agg_grouping_sets" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
      s.sql("""SELECT coalesce(o_orderstatus, '(all)') AS status,
              |       coalesce(o_orderpriority, '(all)') AS priority,
              |       count(*) AS n,
              |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY status, priority""".stripMargin)
    }),

    // Correlated scalar subquery (Catalyst decorrelates it to a join):
    // per high-value order, the number of its lineitems.
    "subquery_scalar" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_sq")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_sq")
      s.sql("""SELECT o_orderkey,
              |       (SELECT count(*) FROM lineitem_sq WHERE l_orderkey = o_orderkey) AS n_items
              |FROM orders_sq
              |WHERE o_totalprice > 400000
              |ORDER BY o_orderkey""".stripMargin)
    }),

    // SALTED REPLICATE JOIN — the static hot-key join cure (AQE's
    // skew-join split is the runtime one, SkewSpec covers it; this is
    // the technique for when skew is KNOWN up front and the build side
    // can't broadcast): the probe side salts its join key S=8 ways
    // (deterministic crc32 of the row key, so results replay), the
    // build side replicates once per salt, and the join runs on
    // (key, salt) — a hot key's rows now land on 8 partitions instead
    // of one straggler. hint("merge") pins the sort-merge path so the
    // salted exchange is the plan being demonstrated (and audited:
    // PlanAuditSpec asserts the join keys include the salt), rather
    // than a broadcast that would make salting moot at test scale.
    // Same oracle as the plain join+agg — salting must be invisible in
    // the result.
    "join_salted_replicate" -> ((s, dir) => {
      val S = 8
      // salt hashes a row-UNIQUE key (o_orderkey): salting on a value
      // column (totalprice) would collapse a hot custkey's duplicate
      // values onto one salt partition — exactly the duplicate-heavy
      // case salting exists to spread
      val orders = Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("salt",
          pmod(crc32(col("o_orderkey").cast("string")), lit(S.toLong)))
        .drop("o_orderkey")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"),
          explode(sequence(lit(0L), lit(S - 1L))).as("salt"))
      orders.hint("merge")
        .join(cust, col("o_custkey") === col("c_custkey") &&
          orders("salt") === cust("salt"))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_orders"), rsum2(col("o_totalprice")).as("total"))
        .orderBy(desc("n_orders"), col("c_custkey"))
        .limit(10)
    }),

    // EXISTS → left-semi: orders with at least one high-quantity item.
    "join_semi" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir).filter(col("l_quantity") >= 48.0)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    }),

    // NOT EXISTS → left-anti: customers with no high-value order.
    "join_anti" -> ((s, dir) => {
      val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 450000.0)
      Tables.customer(s, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // FULL OUTER: per-nation deep-debt customers vs the full supplier
    // roster — unequal key coverage on both sides, so null extensions
    // appear in both directions (at sf0.001: supplier-only nations AND
    // customer-only nations). Both inputs are grouped to one row per
    // nation BEFORE the join, so the full-outer shuffle moves ≤50 rows
    // at any scale factor; no broadcast hint — full outer cannot
    // broadcast (both sides must see all keys), and Spark plans the
    // correct SortMergeJoin on its own.
    "join_full_outer" -> ((s, dir) => {
      val debt = Tables.customer(s, dir).filter(col("c_acctbal") < -500.0)
        .groupBy(col("c_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_debt_cust"))
      val sup = Tables.supplier(s, dir)
        .groupBy(col("s_nationkey").as("nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          graft.functions.Decimals.rsum2(col("s_acctbal")).as("supp_bal"))
      debt.join(sup, Seq("nationkey"), "full_outer")
        .select(col("nationkey").cast("long").as("nationkey"),
          col("n_debt_cust"), col("n_supp"), col("supp_bal"))
        .orderBy("nationkey")
    }),

    // Equi key + range residual: items shipped within 90 days of order
    // date. The equi key keeps this a hash join (range-only joins
    // degenerate to BNLJ — avoided by construction).
    "join_range" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_fast"), rsum2(col("l_extendedprice")).as("value"))
        .orderBy("o_orderstatus")),

    // --- windows ---------------------------------------------------------
    "window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"), col("rn"))
        .orderBy("o_custkey", "rn", "o_orderkey")
    }),

    "window_running" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("running_sum",
          sum(col("value").cast(DecimalType(18, 4))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("double"))
        .withColumn("moving_avg",
          avg(col("value")).over(w.rowsBetween(-3, Window.currentRow)))
        .select(col("user_id"), col("event_id"),
          round(col("running_sum"), 2).as("running_sum"),
          round(col("moving_avg"), 4).as("moving_avg"))
        .orderBy("user_id", "event_id")
    }),

    "window_lag" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .withColumn("delta", round(col("value") - coalesce(col("prev_value"), lit(0.0)), 2))
        .select(col("user_id"), col("event_id"),
          round(coalesce(col("prev_value"), lit(0.0)), 2).as("prev_value"), col("delta"))
        .orderBy("user_id", "event_id")
    }),

    // Distribution windows: ntile / percent_rank / cume_dist. All are
    // exact integer ratios (k/(n-1), rows<=/n) → bit-identical across
    // engines without rounding.
    "window_distribution" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("bucket", ntile(4).over(w))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("bucket"), col("pr"), col("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    }),

    // Wide→long reshape (melt): each lineitem's numeric measures become
    // (measure, value) rows via the native unpivot operator — a
    // projection-only transform, no shuffle.
    "unpivot_measures" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") <= 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "value")
        .select(col("l_orderkey"), col("l_linenumber"), col("measure"),
          round(col("value"), 2).as("value"))
        .orderBy("l_orderkey", "l_linenumber", "measure")),

    // RANGE frame keyed on event time (not row counts): each event's
    // value sum over the user's trailing hour. Epoch-second ordering so
    // both engines agree on frame membership exactly.
    "window_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("hr_sum",
          sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double"))
        .select(col("user_id"), col("event_id"), round(col("hr_sum"), 2).as("hr_sum"))
        .orderBy("user_id", "event_id")
    }),

    // first/last/nth over the whole partition (explicit unbounded frame:
    // last_value defaults to current-row otherwise).
    "window_value_funcs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(w).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // --- sort / limit / top-k -------------------------------------------
    // Global top-k: Spark plans TakeOrderedAndProject — each partition
    // keeps k rows, driver merges k*partitions, no full sort at scale.
    "topk_orders" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(100)),

    // Skew-safe two-stage aggregation: pre-aggregate on (key, salt) to
    // spread a hot key over the cluster, then merge partials. Same
    // result as a direct groupBy (same oracle as wordcount) — the
    // pattern a 100 TB corpus needs when one token dominates.
    "wordcount_salted" -> ((s, dir) => {
      val salted = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ", -1)).as("word"))
        .withColumn("salt", pmod(crc32(monotonically_increasing_id().cast("string")), lit(16)))
        .groupBy("word", "salt")
        .agg(count(lit(1)).as("partial"))
      salted.groupBy("word").agg(sum("partial").as("cnt")).orderBy("word")
    }),

    // HLL sketch distinct. Under Verify (graft.approx.exactGate=true,
    // the default) the sketch estimate is checked IN-PLAN against the
    // exact distinct (within 15% = 3σ of the default 5% rsd —
    // raise_error on violation) and the emitted row carries the exact
    // count, so DuckDB replays the full result with zero exemptions.
    // Under Bench/Soak (gate=false) the plan is the SKETCH ALONE — the
    // fixed-memory partial-agg shape a 100 TB run would use; the gate's
    // exact twin is a verification harness, not the scale path (see
    // graft.core.ApproxGate).
    "agg_approx_distinct" -> ((s, dir) =>
      if (!graft.core.ApproxGate.exactGate(s))
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey")).as("n_parts"))
          .orderBy("l_returnflag")
      else Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          approx_count_distinct(col("l_partkey")).as("approx"))
        .select(col("l_returnflag"), col("n_parts"),
          when(abs(col("approx") - col("n_parts")).cast("double") <=
            col("n_parts").cast("double") * 0.15, lit(true))
            .otherwise(raise_error(concat(
              lit("approx_count_distinct outside 15% of exact: "),
              col("approx").cast("string"), lit(" vs "),
              col("n_parts").cast("string"))).cast("boolean"))
            .as("within_3rsd"))
        .orderBy("l_returnflag")),

    // Approximate percentiles (Spark's GK sketch — the fixed-memory
    // scale twin of agg_percentiles, the form a 100 TB latency/price
    // distribution question actually runs). Gated under Verify the same
    // way as agg_approx_distinct: the estimate must land within 2% of
    // the exact interpolated percentile in-plan (accuracy 10000 ⇒ rank
    // error ≤ 1e-4·n, far tighter than 2% in value on this
    // distribution), and the emitted row carries the exact percentiles
    // for DuckDB to replay. Bench/Soak run the sketch alone (see
    // graft.core.ApproxGate) so the measured cost is the bounded-memory
    // scale shape, not exact+sketch doubled up.
    "agg_approx_percentile" -> ((s, dir) => {
      def ok(a: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =
        abs(a - e) <= abs(e) * 0.02
      if (!graft.core.ApproxGate.exactGate(s))
        Tables.lineitem(s, dir)
          .groupBy("l_returnflag")
          .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)").as("apcts"))
          .select(col("l_returnflag"),
            round(element_at(col("apcts"), 1), 2).as("p50"),
            round(element_at(col("apcts"), 2), 2).as("p95"))
          .orderBy("l_returnflag")
      else Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)").as("apcts"),
          expr("percentile(l_extendedprice, array(0.5, 0.95))").as("epcts"))
        .select(col("l_returnflag"),
          round(element_at(col("epcts"), 1), 2).as("p50"),
          round(element_at(col("epcts"), 2), 2).as("p95"),
          when(ok(element_at(col("apcts"), 1), element_at(col("epcts"), 1)) &&
            ok(element_at(col("apcts"), 2), element_at(col("epcts"), 2)), lit(true))
            .otherwise(raise_error(concat(
              lit("approx_percentile outside 2% of exact: "),
              col("apcts").cast("string"), lit(" vs "),
              col("epcts").cast("string"))).cast("boolean"))
            .as("within_eps"))
        .orderBy("l_returnflag")
    }),

    // --- set ops ---------------------------------------------------------
    // INTERSECT: buyers who are also high-balance customers.
    "set_intersect" -> ((s, dir) => {
      val buyers = Tables.orders(s, dir).select(col("o_custkey").as("custkey")).distinct()
      val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 7500.0)
        .select(col("c_custkey").as("custkey"))
      buyers.intersect(rich).orderBy("custkey")
    }),

    // (buyers ∪ rich) ∖ (BUILDING-segment customers)
    "set_ops" -> ((s, dir) => {
      val buyers = Tables.orders(s, dir).select(col("o_custkey").as("custkey")).distinct()
      val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey").as("custkey"))
      val building = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      buyers.union(rich).distinct().except(building).orderBy("custkey")
    }),

    // PIVOT: per-user event counts spread across one column per type.
    // Explicit value list keeps the plan a single pass (no distinct scan)
    // and the output schema static — required at scale.
    "pivot_events" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("user_id")),

    // Typed Dataset API surface: same wordcount semantics via
    // Dataset[String] flatMap + groupByKey (same oracle as wordcount).
    "wordcount_typed" -> ((s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("text")).as[String]
        .flatMap(_.split(" ", -1))
        .groupByKey(identity)
        .count()
        .toDF("word", "cnt")
        .orderBy("word")
    }),

    // --- scalar functions ------------------------------------------------
    "scalar_string_date" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(
          col("o_orderkey"),
          upper(col("o_orderstatus")).as("status_u"),
          substring(col("o_orderpriority"), 1, 1).as("prio_code"),
          length(col("o_orderpriority")).as("prio_len"),
          concat_ws("#", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
          year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"),
          dayofmonth(col("o_orderdate")).as("o_day"),
          // NB ×2 is exact in binary floating point; ×0.1 is not, and its
          // result lands ~1e-9 from a .xx5 boundary where Spark (exact
          // BigDecimal HALF_UP) and DuckDB (scaled-double nearbyint)
          // round() disagree. Keep rounded outputs off clean-decimal ×10^k
          // paths.
          round(col("o_totalprice") * 2, 2).as("double_price"),
          round(sqrt(abs(col("o_totalprice"))), 4).as("root"))
        .orderBy("o_orderkey")),

    // Nested types end to end: build struct/map/array values, then
    // navigate back out (getField / element_at / array algebra). The
    // oracle checks the flattened outputs; the point here is that the
    // nested construction round-trips losslessly through the engine.
    "complex_types" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr")).as("meta"),
          map(lit("status"), col("o_orderstatus"), lit("prio"), col("o_orderpriority")).as("m"),
          array(col("o_orderkey"), col("o_custkey")).as("keys"))
        .select(col("o_orderkey"),
          col("meta.st").as("status_from_struct"),
          element_at(col("m"), "prio").as("prio_from_map"),
          size(col("keys")).as("n_keys"),
          element_at(col("keys"), 2).as("custkey_from_array"),
          array_contains(col("keys"), col("o_orderkey")).as("has_orderkey"))
        .orderBy("o_orderkey")),

    // Outer generator: explode_outer keeps rows whose generated array is
    // empty (as a null element) — the LEFT JOIN LATERAL shape. Open
    // orders fan out to two tags; everything else survives with null.
    "generators_outer" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          explode_outer(when(col("o_orderstatus") === "O",
            array(lit("open"), lit("active"))).otherwise(array())).as("tag"))
        .orderBy("o_orderkey", "tag")),

    // JSON extraction from the events.props string column.
    "json_props" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")),

    // Array (embedding) math with built-in higher-order functions —
    // codegen-friendly, no UDF.
    "array_ops" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 6).as("first_elem"),
          round(sqrt(aggregate(col("embedding"), lit(0.0d),
            (acc, x) => acc + x.cast("double") * x.cast("double"))), 4).as("l2_norm"))
        .orderBy("vec_id"))
  )

  def oracles: Map[String, String] = Map(
    "scan_pushdown" ->
      """SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_quantity""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
        |       round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
        |       coalesce(o_orderpriority, '(all)') AS o_orderpriority,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "agg_cube" ->
      """SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
        |       coalesce(l_linestatus, '(all)') AS l_linestatus,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "join_broadcast_agg" ->
      """SELECT p_brand,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q3_top_orders" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT r_name, n_name,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q9_profit_proxy" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    "q20_promo_suppliers" ->
      """WITH shippers AS (
        |  SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |    AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 100)
        |SELECT s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM shippers)
        |ORDER BY s_name""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q18_large_orders" ->
      """SELECT o_orderkey, o_custkey,
        |       round(o_totalprice, 2) AS o_totalprice,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_custkey, o_totalprice
        |HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 250.0
        |ORDER BY o_orderkey""".stripMargin,

    "q7_nation_trade" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name < n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH priced AS (
        |  SELECT p_partkey, p_name, l_suppkey,
        |         l_extendedprice / l_quantity AS unit_price,
        |         row_number() OVER (PARTITION BY p_partkey
        |           ORDER BY l_extendedprice / l_quantity, l_suppkey) AS rn
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12')
        |SELECT p_partkey, p_name, s_name, n_name, unit_price
        |FROM priced
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE rn = 1 ORDER BY p_partkey""".stripMargin,

    "q4_priority_late" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       round(CAST(sum(CAST(CASE WHEN n1.n_name = 'NATION_3'
        |                                THEN l_extendedprice * (1 - l_discount)
        |                                ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
        |             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
        |             6) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |JOIN region ON n2.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q12_priority_by_shipyear" ->
      """SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY ship_year""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
        |  FROM lineitem WHERE year(l_shipdate) = 1997
        |  GROUP BY 1)
        |SELECT supplier_no, s_name, total_revenue
        |FROM rev JOIN supplier ON supplier_no = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY supplier_no""".stripMargin,

    "q16_part_supplier_variety" ->
      """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO'
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q21_slowest_supplier" ->
      """WITH per_order AS (
        |  SELECT l_orderkey AS ok, max(l_shipdate) AS max_ship
        |  FROM lineitem GROUP BY 1
        |  HAVING count(DISTINCT l_suppkey) >= 2),
        |sole AS (
        |  SELECT l.l_orderkey, max(l.l_suppkey) AS the_supp
        |  FROM lineitem l JOIN per_order
        |    ON l.l_orderkey = ok AND l.l_shipdate = max_ship
        |  GROUP BY 1 HAVING count(DISTINCT l.l_suppkey) = 1)
        |-- group by the KEY, not the name: the Spark plan counts waits per
        |-- supplier and attaches the name afterwards; grouping by s_name
        |-- here silently MERGED same-named suppliers on any corpus where
        |-- names repeat (caught by the round-11 10x cross-engine verify —
        |-- SoakGen copies share s_name, DuckDB reported ~10x numwait)
        |SELECT s_name, count(*) AS numwait
        |FROM sole JOIN supplier ON the_supp = s_suppkey
        |GROUP BY s_suppkey, s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q17_small_quantity_revenue" ->
      """WITH avg_qty AS (
        |  SELECT l_partkey AS ap_key,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS aq
        |  FROM lineitem GROUP BY 1)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 2) AS avg_yearly
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
        |JOIN avg_qty ON l_partkey = ap_key
        |WHERE l_quantity < 0.2 * aq""".stripMargin,

    "q22_idle_balances" ->
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_mktsegment,
        |       EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_orders,
        |       count(*) AS numcust,
        |       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > ab.avg_bal
        |GROUP BY 1, 2 ORDER BY c_mktsegment, has_orders""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT round(100.0 *
        |  CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
        |       THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(18,4))) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE),
        |  6) AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q19_disjunctive_revenue" ->
      """SELECT count(*) AS n_items,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 15)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 25)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 35)""".stripMargin,

    "agg_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,

    "subquery_scalar" ->
      """SELECT o_orderkey,
        |       (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items
        |FROM orders
        |WHERE o_totalprice > 400000
        |ORDER BY o_orderkey""".stripMargin,

    "agg_percentiles" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.25) AS q25,
        |       quantile_cont(l_quantity, 0.5) AS median,
        |       quantile_cont(l_quantity, 0.75) AS q75,
        |       quantile_cont(l_extendedprice, 0.5) AS median_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the approx twins replay their EXACT columns; the within-ε flag is
    // TRUE by construction (the Spark side raise_errors on violation,
    // so a sketch drifting out of bounds fails the whole gate loudly)
    "agg_approx_distinct" ->
      """SELECT l_returnflag,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       TRUE AS within_3rsd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_approx_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
        |       TRUE AS within_eps
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "window_distribution" ->
      """SELECT o_orderpriority, o_orderkey,
        |       ntile(4) OVER w AS bucket,
        |       percent_rank() OVER w AS pr,
        |       cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "unpivot_measures" ->
      """SELECT l_orderkey, l_linenumber, measure, round(value, 2) AS value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value
        |  FROM lineitem WHERE l_orderkey <= 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey <= 1000
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |  FROM lineitem WHERE l_orderkey <= 1000)
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    "window_range_frame" ->
      """SELECT user_id, event_id,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (
        |         PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS hr_sum
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "window_value_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       first_value(o_orderkey) OVER w AS first_ok,
        |       last_value(o_orderkey) OVER w AS last_ok,
        |       nth_value(o_orderkey, 2) OVER w AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "join_salted_replicate" ->
      """SELECT c_custkey, count(*) AS n_orders,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY n_orders DESC, c_custkey LIMIT 10""".stripMargin,

    "join_semi" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "join_full_outer" ->
      """WITH debt AS (
        |  SELECT c_nationkey AS nationkey, count(*) AS n_debt_cust
        |  FROM customer WHERE c_acctbal < -500 GROUP BY 1),
        |sup AS (
        |  SELECT s_nationkey AS nationkey, count(*) AS n_supp,
        |         CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS supp_bal
        |  FROM supplier GROUP BY 1)
        |SELECT CAST(nationkey AS BIGINT) AS nationkey, n_debt_cust, n_supp, supp_bal
        |FROM debt FULL JOIN sup USING (nationkey)
        |ORDER BY nationkey""".stripMargin,

    "join_range" ->
      """SELECT o_orderstatus, count(*) AS n_fast,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS value
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "window_rank" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn, o_orderkey""".stripMargin,

    "window_running" ->
      """SELECT user_id, event_id,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,4)))
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_sum,
        |       round(avg(value)
        |             OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "window_lag" ->
      """SELECT user_id, event_id,
        |       round(coalesce(prev_value, 0.0), 2) AS prev_value,
        |       round(value - coalesce(prev_value, 0.0), 2) AS delta
        |FROM (SELECT user_id, event_id, value,
        |             lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |      FROM events)
        |ORDER BY user_id, event_id""".stripMargin,

    "topk_orders" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "wordcount_salted" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,

    "set_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 7500
        |ORDER BY custkey""".stripMargin,

    "set_ops" ->
      """SELECT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  UNION
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
        |) EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY custkey""".stripMargin,

    "pivot_events" ->
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS click,
        |       count(*) FILTER (event_type = 'error') AS error,
        |       count(*) FILTER (event_type = 'purchase') AS purchase,
        |       count(*) FILTER (event_type = 'signup') AS signup,
        |       count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "wordcount_typed" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,

    "scalar_string_date" ->
      """SELECT o_orderkey,
        |       upper(o_orderstatus) AS status_u,
        |       substring(o_orderpriority, 1, 1) AS prio_code,
        |       length(o_orderpriority) AS prio_len,
        |       concat_ws('#', o_orderstatus, o_orderpriority) AS tag,
        |       CAST(year(o_orderdate) AS INT) AS o_year,
        |       CAST(month(o_orderdate) AS INT) AS o_month,
        |       CAST(day(o_orderdate) AS INT) AS o_day,
        |       round(o_totalprice * 2, 2) AS double_price,
        |       round(sqrt(abs(o_totalprice)), 4) AS root
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "complex_types" ->
      """SELECT o_orderkey,
        |       o_orderstatus AS status_from_struct,
        |       o_orderpriority AS prio_from_map,
        |       2 AS n_keys,
        |       o_custkey AS custkey_from_array,
        |       true AS has_orderkey
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "generators_outer" ->
      """SELECT o_orderkey, unnest(['open', 'active']) AS tag
        |FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey, NULL AS tag
        |FROM orders WHERE o_orderstatus IS DISTINCT FROM 'O'
        |ORDER BY o_orderkey, tag""".stripMargin,

    "json_props" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "array_ops" ->
      """SELECT vec_id, len(embedding) AS dim,
        |       round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
        |       round(sqrt(list_sum(list_transform(embedding,
        |             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin
  )
}
