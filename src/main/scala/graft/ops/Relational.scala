package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** The routed-SQL verb surface (SURVEY §2B): Mallard forwards any
  * DuckDB SQL verbatim (`_is_sql_query`, reference
  * `flight_server.py:320-331`), so the Spark engine demonstrates one
  * representative per verb class over the driver testdata, built with
  * the declarative DataFrame API so Catalyst plans pushdown, pruning,
  * join strategy and whole-stage codegen.
  *
  * Scale notes (100 TB):
  *  - fixed-cardinality dims (`nation` 25 rows, `region` 5 rows) are
  *    explicitly `broadcast()` — no shuffle of the fact side; tables
  *    that grow with scale factor (customer, supplier) carry NO hint,
  *    because a forced hint is never demoted by AQE — unhinted, AQE
  *    broadcasts them while small and shuffles them at scale;
  *  - every aggregate is a map-side-combinable hash aggregate on the
  *    group keys — partial aggregation happens before the exchange;
  *  - top-k goes through `ORDER BY … LIMIT k` which Spark plans as
  *    `TakeOrderedAndProject` (per-partition heaps, no global sort).
  */
object Relational {

  import QueryDef.sql

  /** Q3/Q5 revenue in EXACT decimal arithmetic. A double `sum` is
    * addition-order-dependent, and join/exchange order shifts whenever
    * AQE re-plans — at sf0.001 the q5 NATION_18 sum lands exactly on a
    * .575 rounding boundary and Spark/DuckDB disagree by 1 cent. Both
    * source columns are 2-decimal quantities stored as double, so the
    * DECIMAL(18,2) cast is value-exact, the 4-scale product/sum is
    * exact integer arithmetic (order-independent, plan-stable), and
    * HALF_UP on positive decimals agrees across engines. Final cast
    * back to double keeps the output schema the oracle's `CAST(… AS
    * DOUBLE)` produces.
    */
  private def revenueExact: Column =
    round(sum(col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2).cast("double")

  private val revenueExactSql: String =
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)"

  /** Per-row revenue in exact 1e-4-currency BIGINT units (the DECIMAL
    * product's own scale ×10000 — integral by construction, so the
    * cast is value-exact in both engines). Shared by q8/q14/q15 so the
    * Spark expression and its oracle text cannot drift apart.
    */
  private[graft] def unitsExact: Column =
    (col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount").cast("decimal(18,2)")) * 10000).cast("long")

  private val unitsExactSql: String =
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)"

  /** Floor-divided micro-share num*1e6 div den, overflow-safe: the
    * numerator is widened to DECIMAL(38,0) BEFORE the ×1e6 (a BIGINT
    * multiply wraps silently under Spark's non-ANSI default once the
    * unit sum passes ~9.2e12 — reachable for q8's two-year slice at
    * sf10+ — while the DuckDB oracle's HUGEINT stays exact). `div` on
    * decimals returns the integral quotient as BIGINT, and both sides
    * are non-negative so floor and truncate agree.
    */
  private def shareMicro(num: String, den: String): Column =
    expr(s"(CAST($num AS DECIMAL(38,0)) * 1000000) div $den").cast("long")

  /** Derived part-supplier bridge: the testdata ships no `partsupp`
    * table (the gap PLANS.md records against TPC-H Q2/Q9/Q11/Q16/Q20),
    * so those five shapes run over the relationship lineitem itself
    * proves — one row per observed (partkey, suppkey) pair, with
    * `ps_cost_cents` = the pair's minimum observed line price in exact
    * cents (the deterministic integer "supplycost" proxy) and
    * `ps_availqty` = the pair's total shipped quantity (the "availqty"
    * proxy). One (partkey, suppkey) hash aggregate, map-side combined;
    * at 100 TB the bridge is |distinct pairs|, not |lineitem|, and a
    * caller whose part/supplier predicate restricts a GROUP KEY may
    * filter `lineitem` BEFORE aggregating (same result, smaller
    * shuffle) — `lineitem` defaults to the full table.
    */
  private def partsuppBridge(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .agg(min((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
          .as("ps_cost_cents"),
        sum(col("l_quantity").cast("bigint")).as("ps_availqty"))

  private val psBridgeSql: String =
    """ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST(min(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS ps_cost_cents,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty
      |  FROM lineitem GROUP BY l_partkey, l_suppkey)""".stripMargin

  /** The rfm_segments pipeline over an arbitrary events frame. */
  private[graft] def rfmSegments(events: DataFrame): DataFrame = {
    val ev = events.filter(col("event_type") === "purchase")
    // recency anchors at the corpus-wide latest event (the analysis
    // date), NOT the latest purchase — a trailing burst of non-purchase
    // activity must age every user's recency (round-13 review: the
    // purchase-filtered anchor silently diverged from the oracle's)
    val mx = events.agg(max(col("ts")).as("m"))
    val u = ev.groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("freq"),
        sum(floor(col("value") * 100 + 0.5)).cast("bigint").as("cents"))
      .crossJoin(broadcast(mx))
      .select(col("user_id"),
        datediff(col("m"), col("last_ts")).cast("bigint").as("rec"),
        col("freq"), col("cents"), expr("cents div 1000").as("mc")).cache()
    // tercile thresholds for one metric — the shared quantize-then-rank
    // helper (graft.ops.tercileCuts, also quality_buckets' path)
    def th(vcol: String, alias: String): DataFrame =
      tercileCuts(u.select(col(vcol)), vcol, alias + "1", alias + "2")
    u.crossJoin(broadcast(th("rec", "tr")))
      .crossJoin(broadcast(th("freq", "tf")))
      .crossJoin(broadcast(th("mc", "tm")))
      .select(col("cents"),
        when(col("rec") <= col("tr1"), 3L).when(col("rec") <= col("tr2"), 2L)
          .otherwise(1L).as("r_score"),
        when(col("freq") <= col("tf1"), 1L).when(col("freq") <= col("tf2"), 2L)
          .otherwise(3L).as("f_score"),
        when(col("mc") <= col("tm1"), 1L).when(col("mc") <= col("tm2"), 2L)
          .otherwise(3L).as("m_score"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"),
        expr("sum(cents) div count(1)").as("avg_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val defs: Seq[QueryDef] = Seq(

    // --- projection / filter / aggregation (TPC-H Q1 shape) ----------
    sql("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        | round(avg(l_quantity), 6) AS avg_qty,
        | round(avg(l_extendedprice), 6) AS avg_price,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          r2(sum(col("l_quantity"))).as("sum_qty"),
          r2(sum(col("l_extendedprice"))).as("sum_base"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc"),
          r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
          r6(avg(col("l_quantity"))).as("avg_qty"),
          r6(avg(col("l_extendedprice"))).as("avg_price"),
          r6(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    sql("filter_project",
      s"""SELECT l_orderkey, l_linenumber,
         | ${sqlPr("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 100)} AS net
         |FROM lineitem
         |WHERE l_quantity > 45 AND l_discount < 0.05
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          pr2(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("net"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // full outer join: both sides keep their unmatched keys with NULL
    // padding — the one join type the inner/left/semi/anti keys don't
    // cover. Both inputs are pre-aggregated (map-side combinable), so
    // the outer join runs key-to-key, not row-to-row.
    sql("join_outer",
      """WITH c AS (SELECT c_nationkey AS k, count(*) AS n_cust
        |           FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
        |     s AS (SELECT s_nationkey AS k, count(*) AS n_supp
        |           FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
        |SELECT coalesce(c.k, s.k) AS nationkey, n_cust, n_supp
        |FROM c FULL OUTER JOIN s ON c.k = s.k
        |ORDER BY nationkey""".stripMargin) { (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_acctbal") > 9000)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
        .select(col("c_nationkey").as("ck"), col("n_cust"))
      val sp = Tables.supplier(s, d).filter(col("s_acctbal") > 9000)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
        .select(col("s_nationkey").as("sk"), col("n_supp"))
      c.join(sp, col("ck") === col("sk"), "full_outer")
        .select(coalesce(col("ck"), col("sk")).as("nationkey"),
          col("n_cust"), col("n_supp"))
        .orderBy(col("nationkey"))
    },

    // --- TPC-H Q3 shape: 3-table multi-join flagship ------------------
    // customer grows with scale factor, so it carries NO broadcast
    // hint — a forced hint is honored regardless of size and would
    // prevent AQE from demoting it at true customer scale. At sf0.1
    // the filtered customer side is well under the AQE broadcast
    // threshold so AQE still plans a broadcast join (plan in
    // PLANS.md); at 100 TB the same code degrades to a shuffle join.
    // Then ONE shuffle of the lineitem fact on the join key,
    // partial-aggregated before the group-key exchange,
    // TakeOrderedAndProject for the top-10 (per-partition heaps, no
    // global sort).
    sql("q3_shipping_priority",
      s"""SELECT l_orderkey,
        | $revenueExactSql AS revenue,
        | o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin) { (s, d) =>
      val cut = lit("1998-06-01 00:00:00").cast("timestamp")
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < cut)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > cut)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      cust.join(ord, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(revenueExact.as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // --- TPC-H Q5 shape: 6-table join with a join-graph cycle ---------
    // Only nation and region carry broadcast hints — their cardinality
    // is fixed (25 / 5 rows) at every scale factor. Supplier and
    // customer grow linearly with SF, so they carry NO hint: a forced
    // broadcast is honored regardless of size, which would pin an
    // SF-growing table in executor memory at 100 TB. Unhinted, AQE
    // picks broadcast for both at sf0.1 (they're tiny — plan in
    // PLANS.md) and flips to shuffle joins at true scale with no code
    // change. The "local supplier" condition (c_nationkey =
    // s_nationkey) closes a cycle in the join graph, which exercises
    // join-order planning in a way tree-shaped queries can't. The
    // lineitem fact takes the large shuffle (on orderkey); partial
    // aggregation precedes the final group-key exchange.
    sql("q5_local_supplier",
      s"""SELECT r_name, n_name,
        | $revenueExactSql AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY r_name, n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, d) =>
      val lo = lit("1996-01-01 00:00:00").cast("timestamp")
      val hi = lit("1999-01-01 00:00:00").cast("timestamp")
      val natReg = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))
      // natReg is nation⋈region = ≤25 rows at any SF → hint is safe.
      val sup = Tables.supplier(s, d)
        .join(broadcast(natReg), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"), col("r_name"))
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust,
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey")) // the Q5 cycle
        .groupBy(col("r_name"), col("n_name"))
        .agg(revenueExact.as("revenue"))
        .select(col("r_name"), col("n_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // TPC-H Q18 shape (large-volume orders): the HAVING subquery is
    // computed ONCE as an aggregate over lineitem and reused as the
    // driving side of the join — Spark-first, no second lineitem scan
    // (the SQL IN-subquery form rescans the fact). One shuffle agg on
    // orderkey, the qualifying-orders frame is tiny (rare qty>250) so
    // AQE broadcasts the downstream joins at scale; TakeOrderedAndProject
    // caps the output.
    sql("q18_large_orders",
      """SELECT c_name, c_custkey, o_orderkey,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        | round(o_totalprice, 2) AS total_price,
        | CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_date, total_price
        |ORDER BY total_price DESC, o_orderkey LIMIT 100""".stripMargin) { (s, d) =>
      val big = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty"))
        .filter(col("qty") > 250) // the HAVING subquery, computed once
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          r2(col("o_totalprice")).as("total_price"),
          col("qty").cast("bigint").as("total_qty"))
        .orderBy(col("total_price").desc, col("o_orderkey"))
        .limit(100)
    },

    // TPC-H Q7 shape (volume shipping): bilateral trade between two
    // nations by ship year. Spark-first: the 25-row nation table
    // broadcasts onto supplier AND (through orders) onto customer, the
    // symmetric nation-pair predicate collapses to a post-join filter
    // on two broadcast-joined columns, and the only corpus-sized
    // shuffles are lineitem⋈orders on orderkey and the final 4-group
    // aggregate (map-side combined). Revenue in exact DECIMAL(18,2).
    sql("q7_volume_shipping",
      s"""SELECT supp_nation, cust_nation, l_year,
        | $revenueExactSql AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |             CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |             l_extendedprice, l_discount
        |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |        AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, d) =>
      val lo = lit("1996-01-01 00:00:00").cast("timestamp")
      val hi = lit("1998-01-01 00:00:00").cast("timestamp")
      val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
        .filter(col("n_name").isin("NATION_18", "NATION_19"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.customer(s, d)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_extendedprice"), col("l_discount"),
          year(col("l_shipdate")).cast("bigint").as("l_year"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(revenueExact.as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },

    // TPC-H Q10 shape (returned-item reporting): which customers
    // returned the most revenue in a quarter. The returnflag filter
    // prunes lineitem at the scan, the quarter filter prunes orders,
    // nation broadcasts, and the top 20 is a TakeOrderedAndProject
    // (per-partition heaps — no global sort of the customer aggregate).
    sql("q10_returned_items",
      s"""SELECT c_custkey, c_name,
        | $revenueExactSql AS revenue,
        | round(c_acctbal, 2) AS acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin) { (s, d) =>
      val lo = lit("1996-10-01 00:00:00").cast("timestamp")
      val hi = lit("1997-01-01 00:00:00").cast("timestamp")
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(revenueExact.as("revenue"))
        .select(col("c_custkey"), col("c_name"), col("revenue"),
          r2(col("c_acctbal")).as("acctbal"), col("n_name"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // TPC-H Q6 shape (forecasting revenue change): the pure
    // scan-and-aggregate flagship — every predicate (date window,
    // discount band, quantity cap) pushes into the parquet scan, the
    // aggregate is a 1-row partial-combined sum, and nothing shuffles
    // but the single scalar. Revenue = Σ extendedprice·discount in
    // exact DECIMAL(18,2). The 100 TB story is the ReadSchema: 4 of
    // 11 lineitem columns leave the files.
    sql("q6_forecast_revenue",
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04
        |  AND l_quantity < 24""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")), 2).cast("double").as("revenue"))
    },

    // TPC-H Q14 shape (promotion effect): the promo share of one
    // month's revenue. The part side carries NO hint (part grows with
    // SF — AQE broadcasts it while small, shuffles at scale, per the
    // header rule); the share is EXACT integer arithmetic — revenue in
    // 1e-4-currency units (the DECIMAL product's own scale, no
    // rounding anywhere) and the fraction in floor-divided micro-units,
    // so the conditional-aggregate ratio that Q14 exists to test has
    // no float-parity surface at all.
    sql("q14_promo_effect",
      s"""WITH t AS (
        |  SELECT p.p_type,
        |         $unitsExactSql AS units
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00')
        |SELECT CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN units ELSE 0 END) AS BIGINT)
        |         AS promo_units,
        |       CAST(sum(units) AS BIGINT) AS total_units,
        |       CAST((1000000 * sum(CASE WHEN p_type = 'ECONOMY' THEN units ELSE 0 END))
        |              // sum(units) AS BIGINT) AS promo_frac_micro
        |FROM t""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-06-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
        .join(Tables.part(s, d).select(col("p_partkey"), col("p_type")),
          col("p_partkey") === col("l_partkey"))
        .select(col("p_type"), unitsExact.as("units"))
        .agg(sum(when(col("p_type") === "ECONOMY", col("units")).otherwise(0L))
            .as("promo_units"),
          sum(col("units")).as("total_units"))
        .select(col("promo_units"), col("total_units"),
          shareMicro("promo_units", "total_units").as("promo_frac_micro"))
    },

    // TPC-H Q19 shape (discounted revenue, disjunctive predicate): the
    // planner stress Q19 exists for — an OR of conjunct bundles across
    // two tables. Spark-first: part joins unhinted (AQE broadcasts it
    // while small — part grows with SF), the disjunction runs as
    // one post-join filter (each bundle references both sides, so
    // nothing fully pushes — exactly Q19's point), and the output
    // attributes revenue per bundle so the oracle checks the branch
    // split, not just the total.
    sql("q19_branded_revenue",
      s"""SELECT branch, CAST(count(*) AS BIGINT) AS n_items,
        | $revenueExactSql AS revenue
        |FROM (
        |  SELECT CASE WHEN p_brand = 'Brand#2' THEN 'b1' ELSE 'b2' END AS branch,
        |         l_extendedprice, l_discount
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |  WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
        |           AND l_quantity BETWEEN 1 AND 20)
        |     OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30
        |           AND l_quantity BETWEEN 5 AND 25)) t
        |GROUP BY branch ORDER BY branch""".stripMargin) { (s, d) =>
      val b1 = col("p_brand") === "Brand#2" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 20)
      val b2 = col("p_brand") === "Brand#17" && col("p_size").between(10, 30) &&
        col("l_quantity").between(5, 25)
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .join(Tables.part(s, d)
            .select(col("p_partkey"), col("p_brand"), col("p_size")),
          col("p_partkey") === col("l_partkey"))
        .filter(b1 || b2)
        .select(when(col("p_brand") === "Brand#2", "b1").otherwise("b2").as("branch"),
          col("l_extendedprice"), col("l_discount"))
        .groupBy(col("branch"))
        .agg(count(lit(1)).as("n_items"), revenueExact.as("revenue"))
        .orderBy(col("branch"))
    },

    // TPC-H Q4 shape (order-priority checking): the EXISTS flagship —
    // orders in a quarter with at least one late lineitem, counted per
    // priority. The driver testdata has no l_commitdate/l_receiptdate,
    // so "late" is adapted to shipped >120 days after the order date
    // (same two-table correlated predicate, same semi-join shape).
    // Spark-first: LEFT SEMI join — the lineitem side is projected to
    // (orderkey, shipdate) before the exchange and each order emits at
    // most once regardless of how many lines are late; the final
    // aggregate is 5 groups.
    sql("q4_priority_check",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 120 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-07-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01 00:00:00").cast("timestamp"))
        .join(li,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // TPC-H Q8 shape (national market share): of the revenue ASIA-region
    // customers spent on ECONOMY parts over two years, the share
    // supplied by one nation, per order year. Spark-first: only the
    // fixed-cardinality dims (nation, region) broadcast by hint; the
    // type-filtered part slice and the supplier/customer chains grow
    // with SF so they carry NO hint — AQE broadcasts them while they
    // fit and falls back to a keyed shuffle at scale. The corpus-sized
    // shuffle is lineitem⋈orders on orderkey. The share is exact
    // integer arithmetic — revenue in 1e-4-currency units and the
    // ratio in floor-divided micro-units (the q14 convention), so the
    // conditional-aggregate ratio has no float surface.
    sql("q8_market_share",
      s"""WITH t AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         n2.n_name AS supp_nation,
        |         $unitsExactSql AS units
        |  FROM part, lineitem, supplier, orders, customer,
        |       nation n1, region, nation n2
        |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND p_type = 'ECONOMY')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_18' THEN units ELSE 0 END) AS BIGINT)
        |    AS nation_units,
        |  CAST(sum(units) AS BIGINT) AS total_units,
        |  CAST((1000000 * sum(CASE WHEN supp_nation = 'NATION_18' THEN units ELSE 0 END))
        |         // sum(units) AS BIGINT) AS share_micro
        |FROM t GROUP BY o_year ORDER BY o_year""".stripMargin) { (s, d) =>
      val econPart = Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      val supNat = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("supp_nation"))
      val asiaCust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
            .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("bigint").as("o_year"))
      val natUnits = sum(when(col("supp_nation") === "NATION_18", col("units"))
        .otherwise(0L))
      Tables.lineitem(s, d)
        .join(econPart, col("p_partkey") === col("l_partkey"))
        .join(supNat, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_orderkey"), col("supp_nation"), unitsExact.as("units"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_year"))
        .agg(natUnits.as("nation_units"), sum(col("units")).as("total_units"))
        .select(col("o_year"), col("nation_units"), col("total_units"),
          shareMicro("nation_units", "total_units").as("share_micro"))
        .orderBy(col("o_year"))
    },

    // TPC-H Q12 shape (shipping priority classes): conditional
    // priority counts over a fact⋈fact join. The testdata has no
    // l_shipmode, so the grouping attribute is l_returnflag and "late"
    // is the Q4 adaptation (shipped >120 days after ordering). The
    // CASE-sum split of urgent-vs-other priorities — the conditional
    // aggregation Q12 exists to test — is unchanged. One orderkey
    // shuffle; the aggregate is 3 groups, map-side combined.
    sql("q12_ship_priority",
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 120 DAY
        |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        .select(col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority")),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(urgent, 1).otherwise(0)).cast("bigint").as("high_line_count"),
          sum(when(urgent, 0).otherwise(1)).cast("bigint").as("low_line_count"))
        .orderBy(col("l_returnflag"))
    },

    // TPC-H Q13 shape (customer order-count distribution): the LEFT
    // JOIN + double aggregate — customers with ZERO qualifying orders
    // must appear in the c_count=0 bucket, which an inner join would
    // silently drop. The priority filter lives on the orders side
    // BEFORE the join (equivalent to the spec's ON-clause filter).
    // Spark-first: one custkey shuffle for the left join + count, then
    // a tiny histogram aggregate over ≤ |distinct counts| groups.
    sql("q13_customer_distribution",
      """WITH c_orders AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, d) =>
      val ord = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      Tables.customer(s, d).select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },

    // TPC-H Q15 shape (top supplier): a quarter's revenue per supplier,
    // keep the max. Revenue is summed in exact 1e-4-currency BIGINT
    // units so the `= max` tie surface is exact integer equality —
    // the one comparison Q15 lives on, and the one a double sum can
    // flip. Spark-first: one suppkey aggregate (map-side combined),
    // the scalar max is a 1-row broadcast crossJoin (never a second
    // scan of lineitem), supplier joins after the max filter when the
    // frame is down to the winners.
    sql("q15_top_supplier",
      s"""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum($unitsExactSql) AS BIGINT) AS total_units
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_units
        |FROM supplier JOIN revenue ON s_suppkey = supplier_no
        |WHERE total_units = (SELECT max(total_units) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin) { (s, d) =>
      val rev = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        .select(col("l_suppkey").as("supplier_no"), unitsExact.as("units"))
        .groupBy(col("supplier_no"))
        .agg(sum(col("units")).as("total_units"))
      val top = rev.agg(max(col("total_units")).as("max_units"))
      rev.join(broadcast(top), col("total_units") === col("max_units"))
        .join(Tables.supplier(s, d), col("s_suppkey") === col("supplier_no"))
        .select(col("s_suppkey"), col("s_name"), col("total_units"))
        .orderBy(col("s_suppkey"))
    },

    // TPC-H Q17 shape (small-quantity-order revenue): the correlated
    // aggregate subquery — lines of one brand whose quantity is below
    // 20% of that part's average. De-correlated Spark-first: the brand
    // filter broadcasts onto lineitem BEFORE the per-part aggregate,
    // so both partkey shuffles carry only the brand's rows; the
    // 0.2·avg comparison is cleared of division entirely
    // (qty < sum/cnt/5  ⇔  5·qty·cnt < sum, quantities are
    // integer-valued so the BIGINT forms are exact in both engines).
    sql("q17_small_quantity",
      """WITH br AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#2'),
        |pa AS (
        |  SELECT l_partkey AS pk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
        |    CAST(count(*) AS BIGINT) AS cq
        |  FROM br GROUP BY l_partkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 10000 AS BIGINT))
        |       AS BIGINT) AS price_units
        |FROM br JOIN pa ON l_partkey = pk
        |WHERE 5 * CAST(l_quantity AS BIGINT) * cq < sq""".stripMargin) { (s, d) =>
      val brandParts = Tables.part(s, d).filter(col("p_brand") === "Brand#2")
        .select(col("p_partkey"))
      val br = Tables.lineitem(s, d)
        .join(brandParts, col("p_partkey") === col("l_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val pa = br.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("bigint")).as("sq"),
          count(lit(1)).as("cq"))
      br.join(pa, col("l_partkey") === col("pk"))
        .filter(lit(5) * col("l_quantity").cast("bigint") * col("cq") < col("sq"))
        .agg(count(lit(1)).as("n_items"),
          sum((col("l_extendedprice").cast("decimal(18,2)") * 10000).cast("long"))
            .as("price_units"))
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting): the
    // EXISTS/NOT-EXISTS pair — on finished multi-supplier orders, the
    // supplier who was the ONLY late one. De-correlated Spark-first:
    // one (orderkey, suppkey) aggregate marks each supplier's
    // lateness, one orderkey aggregate counts suppliers and late
    // suppliers, and the pair of correlated subqueries collapses to
    // `n_supp > 1 AND n_late = 1 AND late = 1` on the join-back —
    // three orderkey-partitioned exchanges total, no per-order
    // re-scan. "Late" is the Q4 adaptation (no l_receiptdate in the
    // testdata).
    sql("q21_waiting_supplier",
      """WITH ol AS (
        |  SELECT l_orderkey AS ok, l_suppkey AS sk,
        |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY
        |             THEN 1 ELSE 0 END) AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |  GROUP BY l_orderkey, l_suppkey),
        |ag AS (
        |  SELECT ok, count(*) AS n_supp, sum(late) AS n_late
        |  FROM ol GROUP BY ok)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM ol JOIN ag ON ol.ok = ag.ok
        |JOIN supplier ON s_suppkey = ol.sk
        |WHERE ol.late = 1 AND ag.n_supp > 1 AND ag.n_late = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin) { (s, d) =>
      val ol = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
            .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .agg(max(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 120 DAYS"), 1).otherwise(0))
          .as("late"))
      val ag = ol.groupBy(col("ok").as("agg_ok"))
        .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
      ol.join(ag, col("ok") === col("agg_ok"))
        .filter(col("late") === 1 && col("n_supp") > 1 && col("n_late") === 1)
        .join(Tables.supplier(s, d), col("s_suppkey") === col("sk"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },

    // TPC-H Q22 shape (global sales opportunity): rich-but-inactive
    // customers per country — the scalar-average subquery plus
    // NOT EXISTS anti-join. Adapted to the testdata (no c_phone):
    // "country" is c_nationkey over a fixed 7-nation list, "inactive"
    // is no order since 1999 (no-orders-ever is empty below sf0.1).
    // The average comparison is cleared of division —
    // bal > sum/cnt ⇔ bal·cnt > sum in exact DECIMAL/BIGINT — so the
    // boundary customer can't flip on a float. Spark-first: the
    // 1-row exact scalar broadcasts via crossJoin, the anti-join
    // shuffles only (custkey) pairs, the final aggregate is 7 groups.
    sql("q22_global_sales",
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT) AS bal_cents,
        |         CAST(count(*) AS BIGINT) AS n_pos
        |  FROM customer
        |  WHERE c_acctbal > 0
        |    AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
        |SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
        |  CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS totacctbal
        |FROM customer, ab
        |WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
        |  AND CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * n_pos > bal_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY c_nationkey ORDER BY cntrycode""".stripMargin) { (s, d) =>
      val nations = Seq(1, 3, 5, 7, 9, 11, 13)
      val balCents = (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
      val cust = Tables.customer(s, d).filter(col("c_nationkey").isin(nations: _*))
      val ab = cust.filter(col("c_acctbal") > 0)
        .agg(sum(balCents).as("bal_cents"), count(lit(1)).as("n_pos"))
      val recent = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1999-01-01 00:00:00").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(ab))
        .filter(balCents * col("n_pos") > col("bal_cents"))
        .join(recent, col("o_custkey") === col("c_custkey"), "left_anti")
        .groupBy(col("c_nationkey").cast("bigint").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")), 2).cast("double")
            .as("totacctbal"))
        .orderBy(col("cntrycode"))
    },

    // TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    // the regional supplier(s) whose cost equals the part's regional
    // minimum — the correlated min subquery, de-correlated into a
    // per-part min aggregate + exact-integer join-back (cost is already
    // whole cents). Runs over the derived partsupp bridge (no partsupp
    // table in the testdata — see partsuppBridge). Spark-first: the
    // part predicate restricts the bridge's GROUP KEY, so lineitem is
    // semi-joined to the filtered parts BEFORE the bridge aggregate
    // (identical result, the pair shuffle carries only qualifying
    // parts); nation/region broadcast onto supplier; the final sort is
    // total (s_name is unique per supplier) so the LIMIT cutoff is
    // deterministic, and ORDER BY + LIMIT plans as
    // TakeOrderedAndProject — per-partition heaps, no global sort.
    sql("q2_min_cost_supplier",
      s"""WITH $psBridgeSql,
        |cand AS (
        |  SELECT p_partkey, p_name, s_name, s_acctbal, n_name, ps_cost_cents
        |  FROM ps
        |  JOIN part ON p_partkey = ps_partkey
        |  JOIN supplier ON s_suppkey = ps_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  JOIN region ON r_regionkey = n_regionkey
        |  WHERE p_size <= 15 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'),
        |mn AS (SELECT p_partkey AS mpk, min(ps_cost_cents) AS min_cents
        |       FROM cand GROUP BY p_partkey)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, ps_cost_cents
        |FROM cand JOIN mn ON p_partkey = mpk AND ps_cost_cents = min_cents
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_size") <= 15 && col("p_type") === "ECONOMY")
        .select(col("p_partkey"), col("p_name"))
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "EUROPE")),
          col("r_regionkey") === col("n_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val bridge = partsuppBridge(Tables.lineitem(s, d)
        .join(parts.select(col("p_partkey")),
          col("p_partkey") === col("l_partkey"), "left_semi"))
      val cand = bridge
        .join(parts, col("p_partkey") === col("ps_partkey"))
        .join(sup, col("s_suppkey") === col("ps_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_name"), col("s_acctbal"),
          col("n_name"), col("ps_cost_cents")).cache()
      val mn = cand.groupBy(col("p_partkey").as("mpk"))
        .agg(min(col("ps_cost_cents")).as("min_cents"))
      cand.join(mn,
          col("p_partkey") === col("mpk") && col("ps_cost_cents") === col("min_cents"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("p_name"), col("ps_cost_cents"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("p_partkey"))
        .limit(100)
    },

    // TPC-H Q9 shape (product-type profit): per supplier nation and
    // order year, the profit on a part family — revenue in exact
    // 1e-4-currency units minus the bridge's cost proxy for the line's
    // (part, supplier) pair (cents × 100 → the same 1e-4 scale, so the
    // sum is exact integer arithmetic; a discounted line below the
    // pair's minimum un-discounted price legitimately books a negative
    // profit). Spark-first: the part-family semi-join lands on
    // lineitem BEFORE both the bridge aggregate and the orders join
    // (the filter is on the bridge's group key), nation broadcasts,
    // and the only corpus-sized shuffles are the pair aggregate, the
    // pair join-back, and lineitem⋈orders.
    sql("q9_product_profit",
      s"""WITH $psBridgeSql
        |SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum($unitsExactSql - ps_cost_cents * 100) AS BIGINT) AS profit_units
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_name LIKE '%bolt%'
        |JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY 1, 2 DESC""".stripMargin) { (s, d) =>
      val bolt = Tables.part(s, d).filter(col("p_name").like("%bolt%"))
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .join(bolt, col("p_partkey") === col("l_partkey"), "left_semi").cache()
      li.join(partsuppBridge(li),
          col("ps_partkey") === col("l_partkey") &&
            col("ps_suppkey") === col("l_suppkey"))
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
          col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("bigint").as("o_year"))
        .agg(sum(unitsExact - col("ps_cost_cents") * 100).as("profit_units"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // TPC-H Q11 shape (important stock): per part, the value a
    // supplier group holds (cost × availqty over the bridge), keeping
    // parts above a threshold from a scalar subquery. The spec's
    // fraction is SF-dependent (0.0001/SF) precisely so the cut stays
    // meaningful as data grows — here the threshold is intrinsically
    // scale-invariant: keep parts whose value exceeds 2× the MEAN part
    // value, as the exact cross-multiply value·n_parts > total·2 in
    // DECIMAL(38,0) (a BIGINT ×n product would wrap silently under
    // Spark's non-ANSI default while DuckDB's HUGEINT stays exact).
    // Spark-first: the supplier-group semi-join lands on lineitem
    // before the bridge aggregate (suppkey is a group key), the 1-row
    // (total, count) scalar broadcasts via crossJoin, and the output
    // is one partkey aggregate.
    sql("q11_important_stock",
      s"""WITH $psBridgeSql,
        |sup AS (SELECT s_suppkey FROM supplier
        |        JOIN nation ON n_nationkey = s_nationkey
        |        JOIN region ON r_regionkey = n_regionkey
        |        WHERE r_name = 'ASIA'),
        |pv AS (SELECT ps_partkey, CAST(sum(ps_cost_cents * ps_availqty) AS BIGINT) AS value_cents
        |       FROM ps JOIN sup ON s_suppkey = ps_suppkey GROUP BY ps_partkey),
        |tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents,
        |               CAST(count(*) AS BIGINT) AS n_parts FROM pv)
        |SELECT ps_partkey, value_cents
        |FROM pv, tot
        |WHERE CAST(value_cents AS DECIMAL(38,0)) * n_parts
        |    > CAST(total_cents AS DECIMAL(38,0)) * 2
        |ORDER BY value_cents DESC, ps_partkey""".stripMargin) { (s, d) =>
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("r_regionkey") === col("n_regionkey"))
        .select(col("s_suppkey"))
      val pv = partsuppBridge(Tables.lineitem(s, d)
          .join(sup, col("s_suppkey") === col("l_suppkey"), "left_semi"))
        .groupBy(col("ps_partkey"))
        .agg(sum(col("ps_cost_cents") * col("ps_availqty")).as("value_cents")).cache()
      val tot = pv.agg(sum(col("value_cents")).as("total_cents"),
        count(lit(1)).as("n_parts"))
      pv.crossJoin(broadcast(tot))
        .filter(expr("CAST(value_cents AS DECIMAL(38,0)) * n_parts") >
          expr("CAST(total_cents AS DECIMAL(38,0)) * 2"))
        .select(col("ps_partkey"), col("value_cents"))
        .orderBy(col("value_cents").desc, col("ps_partkey"))
    },

    // TPC-H Q16 shape (parts/supplier relationship): how many distinct
    // suppliers stock each qualifying (brand, type, size) — with the
    // NOT IN supplier exclusion (the spec's complaint-comment
    // predicate, adapted to negative account balance: the testdata
    // ships no comments). Only the bridge's KEY SET matters here, so
    // the pair relation is a DISTINCT over a 2-column pruned parquet
    // scan, not the full cost/qty aggregate. Spark-first: part
    // predicate joins BELOW the distinct (partkey is a group key of
    // it, so the distinct shuffles only the qualifying slice),
    // exclusion as a left_anti join (supplier grows with SF —
    // unhinted, AQE broadcasts while small).
    sql("q16_supplier_relation",
      """WITH pr AS (SELECT DISTINCT l_partkey AS ps_partkey,
        |                            l_suppkey AS ps_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM pr JOIN part ON p_partkey = ps_partkey
        |WHERE p_brand <> 'Brand#13' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin) { (s, d) =>
      val parts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#13" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
      val excluded = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_suppkey"))
      // the part predicate restricts a GROUP KEY of the distinct, so
      // joining the filtered parts BELOW it is identity-preserving and
      // the distinct shuffles only the qualifying slice (≈7 sizes of
      // one non-PROMO family), never the corpus-wide pair set; after
      // the join the distinct runs directly on (suppkey, brand, type,
      // size), making the final count a plain per-group count — no
      // count(DISTINCT) expand (round-13 review)
      Tables.lineitem(s, d)
        .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .join(parts, col("p_partkey") === col("ps_partkey"))
        .select(col("ps_suppkey"), col("p_brand"), col("p_type"), col("p_size"))
        .distinct()
        .join(excluded, col("s_suppkey") === col("ps_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(count(lit(1)).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
    },

    // TPC-H Q20 shape (excess availability): suppliers in a region
    // who, for some part of a name family, concentrated their shipping
    // in one year — the nested semi-join chain (part filter → pair
    // threshold → supplier) with the spec's correlated half-of-sum
    // comparison. Adapted to the derived bridge: availqty is
    // total-history quantity, so the spec's `availqty > ½ · year` is
    // trivially true and the meaningful form is the mirror
    // `2 · year > availqty` ("more than half of this pair's history
    // shipped in 1998") — same correlated threshold shape, selective
    // on the testdata's 7-year span. Spark-first: the name-family
    // semi-join lands on lineitem before BOTH per-pair aggregates
    // (partkey is a group key for each), the two aggregates
    // co-partition on the same pair key so the threshold join adds no
    // exchange, and the supplier side is reached via one DISTINCT
    // suppkey semi-join with broadcast nation/region.
    sql("q20_excess_availability",
      s"""WITH $psBridgeSql,
        |q98 AS (
        |  SELECT l_partkey AS qpk, l_suppkey AS qsk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty98
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
        |  GROUP BY l_partkey, l_suppkey),
        |sm AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small %'),
        |excess AS (
        |  SELECT DISTINCT ps_suppkey
        |  FROM ps
        |  JOIN sm ON p_partkey = ps_partkey
        |  JOIN q98 ON qpk = ps_partkey AND qsk = ps_suppkey
        |  WHERE 2 * qty98 > ps_availqty)
        |SELECT s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey
        |FROM supplier JOIN excess ON s_suppkey = ps_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |WHERE r_name = 'AMERICA'
        |ORDER BY s_name""".stripMargin) { (s, d) =>
      val sm = Tables.part(s, d).filter(col("p_name").like("small %"))
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .join(sm, col("p_partkey") === col("l_partkey"), "left_semi").cache()
      val q98 = li
        .filter(col("l_shipdate") >= lit("1998-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1999-01-01 00:00:00").cast("timestamp"))
        .groupBy(col("l_partkey").as("qpk"), col("l_suppkey").as("qsk"))
        .agg(sum(col("l_quantity").cast("bigint")).as("qty98"))
      val excess = partsuppBridge(li)
        .join(q98, col("qpk") === col("ps_partkey") && col("qsk") === col("ps_suppkey"))
        .filter(lit(2) * col("qty98") > col("ps_availqty"))
        .select(col("ps_suppkey")).distinct()
      Tables.supplier(s, d)
        .join(excess, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
          col("r_regionkey") === col("n_regionkey"))
        .select(col("s_name"), col("s_nationkey").cast("bigint").as("s_nationkey"))
        .orderBy(col("s_name"))
    },

    // --- time-series resample with gap filling -----------------------
    // The densification every monitoring / feature pipeline needs:
    // per-user hourly buckets over the user's OWN active span, with
    // silent hours emitted as explicit zero rows (gap = true) — a
    // LEFT JOIN against a generated per-user calendar, not a window
    // trick, because downstream models need the absence rows to
    // exist. Spark-first: one keyed aggregate (map-side combined),
    // one span aggregate, a bounded `sequence()` explode (span-sized
    // per user, never corpus-sized), one (user, hour)-keyed join.
    // Value sums in exact DECIMAL(18,2); hours as formatted strings so
    // the hash has no timestamp-encoding surface. At 100 TB the grid
    // side stays proportional to users × span — the explicit output
    // contract — and the join co-partitions on the same (user, hour)
    // key the aggregate already shuffled on.
    sql("resample_gapfill",
      """WITH src AS (
        |  SELECT user_id, date_trunc('hour', ts::TIMESTAMP) AS h,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id < 50),
        |agg AS (
        |  SELECT user_id, h, count(*)::BIGINT AS n_events,
        |         CAST(round(sum(v), 2) AS DOUBLE) AS total
        |  FROM src GROUP BY user_id, h),
        |span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM src GROUP BY user_id),
        |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |         FROM span)
        |SELECT g.user_id, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |       coalesce(a.n_events, 0)::BIGINT AS n_events,
        |       coalesce(a.total, 0.0) AS total,
        |       (a.n_events IS NULL) AS gap
        |FROM grid g LEFT JOIN agg a ON a.user_id = g.user_id AND a.h = g.h
        |ORDER BY g.user_id, g.h""".stripMargin) { (s, d) =>
      val src = Tables.events(s, d).filter(col("user_id") < 50)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("h"),
          col("value").cast("decimal(18,2)").as("v"))
      val agg = src.groupBy(col("user_id"), col("h"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("v")), 2).cast("double").as("total"))
      val grid = src.groupBy(col("user_id"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
      grid.join(agg, Seq("user_id", "h"), "left")
        .select(col("user_id"),
          date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("total"), lit(0.0)).as("total"),
          col("n_events").isNull.as("gap"))
        .orderBy(col("user_id"), col("hour"))
    },

    // --- ordered funnel analysis --------------------------------------
    // The product-analytics staple: how many users progressed
    // signup → view → click → purchase IN ORDER (each step strictly
    // after the previous step's first occurrence). Spark-first: one
    // min-aggregate per step over the type-pruned slice, each joined
    // user-keyed to the previous step's survivors — the candidate set
    // only shrinks, every aggregate is map-side combined, and at scale
    // all four joins reuse ONE user_id partitioning (no re-shuffle
    // between steps). Output is counts + exact floor-divided micro
    // conversion rates — no float surface, no timestamp in the output.
    sql("funnel_steps",
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY e.user_id),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 ON s3.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY e.user_id),
        |c AS (SELECT 1 AS step, 'signup' AS name, count(*) AS n FROM s1
        |      UNION ALL SELECT 2, 'view', count(*) FROM s2
        |      UNION ALL SELECT 3, 'click', count(*) FROM s3
        |      UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
        |SELECT step, name, CAST(n AS BIGINT) AS n_users,
        |       CAST((1000000 * n) // (SELECT n FROM c WHERE step = 1) AS BIGINT)
        |         AS conv_micro
        |FROM c ORDER BY step""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d).select(col("user_id"), col("event_type"), col("ts"))
      def first(tpe: String): DataFrame =
        ev.filter(col("event_type") === tpe)
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      def after(prev: DataFrame, tpe: String): DataFrame =
        ev.filter(col("event_type") === tpe)
          .join(prev.select(col("user_id"), col("t").as("pt")), "user_id")
          .filter(col("ts") > col("pt"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t"))
      val s1 = first("signup")
      val s2 = after(s1, "view")
      val s3 = after(s2, "click")
      val s4 = after(s3, "purchase")
      def cnt(df: DataFrame, step: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n"))
          .select(lit(step).as("step"), lit(name).as("name"), col("n"))
      val c = cnt(s1, 1, "signup").unionByName(cnt(s2, 2, "view"))
        .unionByName(cnt(s3, 3, "click")).unionByName(cnt(s4, 4, "purchase"))
      val n1 = c.filter(col("step") === 1).select(col("n").as("n1"))
      c.crossJoin(broadcast(n1)) // 1-row scalar, the established topology
        .select(col("step"), col("name"), col("n").cast("bigint").as("n_users"),
          expr("(1000000 * n) div n1").as("conv_micro"))
        .orderBy(col("step"))
    },

    // --- cohort retention analysis -----------------------------------
    // The product-analytics staple next to funnels and sessions: users
    // cohorted by first-seen day, retention = the fraction of each
    // cohort with PURCHASE activity at day offset k. Spark-first: one
    // user-keyed aggregate for first-seen, one distinct over (user,
    // active day) — both partition on user_id, so the cohort join-back
    // reuses the partitioning without a new exchange shape — then a
    // (cohort, offset)-keyed aggregate that is calendar-sized, and the
    // cohort-size join (days × 1 row) broadcasts. Rates in exact
    // floor-divided micro-units; dates compared day-truncated so both
    // engines count identical offsets.
    sql("cohort_retention",
      """WITH first AS (
        |  SELECT user_id, date_trunc('day', min(ts)) AS c
        |  FROM events GROUP BY user_id),
        |coh AS (SELECT c, count(*) AS n_cohort FROM first GROUP BY c),
        |act AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
        |        FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT f.c, date_diff('day', f.c, a.d) AS day_offset,
        |             count(*) AS n_active
        |      FROM act a JOIN first f ON a.user_id = f.user_id
        |      GROUP BY f.c, day_offset)
        |SELECT strftime(r.c, '%Y-%m-%d') AS cohort_day,
        |  CAST(day_offset AS BIGINT) AS day_offset,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(n_cohort AS BIGINT) AS n_cohort,
        |  CAST((1000000 * n_active) // n_cohort AS BIGINT) AS retention_micro
        |FROM r JOIN coh ON r.c = coh.c
        |ORDER BY cohort_day, day_offset""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val firstSeen = ev.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("c"))
      val cohortSize = firstSeen.groupBy(col("c")).agg(count(lit(1)).as("n_cohort"))
      val active = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
      active.join(firstSeen, "user_id")
        // act is distinct (user, day) and c is functional on user, so
        // count(*) per (c, offset) IS the distinct active-user count
        .groupBy(col("c"), datediff(col("d"), col("c")).cast("bigint").as("day_offset"))
        .agg(count(lit(1)).as("n_active"))
        .join(cohortSize, "c")
        .select(date_format(col("c"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_active"), col("n_cohort"),
          expr("(1000000 * n_active) div n_cohort").as("retention_micro"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },

    // --- first-order event transition matrix --------------------------
    // The Markov view of user behavior: for consecutive events of the
    // SAME user, how often does type a lead to type b, and with what
    // probability. Spark-first: one user-keyed window (lead over
    // (ts, event_id) — event_id breaks any equal-timestamp tie, so the
    // sequence is total and both engines see the identical successor),
    // then two tiny type-keyed aggregates; the transition matrix is
    // |types|² rows, so everything after the window is broadcast-sized.
    // Probabilities are exact floor-divided micro-units.
    sql("markov_transitions",
      """WITH seq AS (
        |  SELECT event_type,
        |         lead(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |t AS (SELECT event_type AS from_type, next_type AS to_type,
        |             count(*) AS n
        |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS n_from FROM t GROUP BY 1)
        |SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n_trans,
        |       CAST(tot.n_from AS BIGINT) AS n_from,
        |       CAST((1000000 * t.n) // tot.n_from AS BIGINT) AS p_micro
        |FROM t JOIN tot USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val seq = Tables.events(s, d)
        .select(col("event_type"), lead(col("event_type"), 1).over(w).as("next_type"))
      val t = seq.filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n_trans"))
      val tot = t.groupBy(col("from_type")).agg(sum(col("n_trans")).as("n_from"))
      t.join(broadcast(tot), Seq("from_type"))
        .select(col("from_type"), col("to_type"), col("n_trans"), col("n_from"),
          expr("(1000000 * n_trans) div n_from").as("p_micro"))
        .orderBy(col("from_type"), col("to_type"))
    },

    // --- exact-integer rate anomaly detection --------------------------
    // Hourly event-rate z-score flags without ever leaving integers:
    // a count x in (type, hour) is anomalous when |z| > 2, i.e.
    // (x − S/n)² > 4·σ² with population variance σ² = (n·Σx² − S²)/n².
    // Multiplying through by n² gives (n·x − S)² > 4·(n·Σx² − S²) —
    // pure integer arithmetic, so the flag frontier cannot drift
    // between engines (no sqrt, no division). The cross-multiplies run
    // in decimal(38,0) (Spark) / HUGEINT (DuckDB): at web scale an
    // hourly count can pass ~3e6, where the BIGINT square overflows.
    // Stats are computed over OBSERVED hours (empty hours don't emit a
    // zero row — the groupBy can't see them); that is the documented
    // semantics, not an accident. Shape: one (type, hour) aggregate
    // (map-side combined), one |types|-row stats aggregate broadcast
    // back — nothing here grows beyond the calendar.
    sql("anomaly_zscore",
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hr,
        |                  count(*) AS x
        |           FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n, sum(x) AS s,
        |              sum(x * x) AS ss
        |       FROM h GROUP BY 1)
        |SELECT h.event_type, strftime(hr, '%Y-%m-%d %H') AS hour,
        |       CAST(x AS BIGINT) AS n_events,
        |       (CAST(n AS HUGEINT) * x - s) * (CAST(n AS HUGEINT) * x - s)
        |         > 4 * (CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s)
        |         AS is_anomaly
        |FROM h JOIN st USING (event_type)
        |ORDER BY event_type, hour""".stripMargin) { (s, d) =>
      val h = Tables.events(s, d)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("x"))
      val st = h.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(col("x") * col("x")).as("ss"))
      h.join(broadcast(st), Seq("event_type"))
        .select(col("event_type"),
          date_format(col("hr"), "yyyy-MM-dd HH").as("hour"),
          col("x").cast("bigint").as("n_events"),
          expr("""(cast(n as decimal(38,0)) * x - s) * (cast(n as decimal(38,0)) * x - s)
                 | > 4 * (cast(n as decimal(38,0)) * ss - cast(s as decimal(38,0)) * s)"""
            .stripMargin.replace("\n", "")).as("is_anomaly"))
        .orderBy(col("event_type"), col("hour"))
    },

    // --- inter-arrival time statistics ---------------------------------
    // Per-stream cadence: the gap between consecutive events of the
    // same (user, type), aggregated per type. The lag window partitions
    // on (user_id, event_type) — the same user-keyed boundary
    // sessionize uses, so no per-type global sort ever forms (a
    // PARTITION BY event_type alone would funnel each type through one
    // reducer at 100 TB). Gaps are exact integer microseconds
    // (epoch_us both engines), the average an exact floor division.
    sql("interarrival_stats",
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |       CAST(min(gap_us) AS BIGINT) AS min_gap_us,
        |       CAST(max(gap_us) AS BIGINT) AS max_gap_us,
        |       CAST(sum(gap_us) // count(*) AS BIGINT) AS avg_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts"))
      Tables.events(s, d)
        .select(col("event_type"), (us - lag(us, 1).over(w)).as("gap_us"))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"),
          expr("sum(gap_us) div count(1)").as("avg_gap_us"))
        .orderBy(col("event_type"))
    },

    // --- time-of-day load profile --------------------------------------
    // Seasonality per event type: event share by hour-of-day — the
    // capacity-planning staple. Two tiny aggregates (|types|·24 rows,
    // then |types|), the totals broadcast back; exact floor-divided
    // micro shares.
    sql("seasonal_profile",
      """WITH h AS (SELECT event_type, hour(ts) AS hod, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(n) AS nt FROM h GROUP BY 1)
        |SELECT h.event_type, CAST(hod AS BIGINT) AS hod,
        |       CAST(n AS BIGINT) AS n_events,
        |       CAST((1000000 * n) // nt AS BIGINT) AS share_micro
        |FROM h JOIN tot USING (event_type)
        |ORDER BY event_type, hod""".stripMargin) { (s, d) =>
      val h = Tables.events(s, d)
        .groupBy(col("event_type"), hour(col("ts")).cast("bigint").as("hod"))
        .agg(count(lit(1)).as("n_events"))
      val tot = h.groupBy(col("event_type")).agg(sum(col("n_events")).as("nt"))
      h.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("hod"), col("n_events"),
          expr("(1000000 * n_events) div nt").as("share_micro"))
        .orderBy(col("event_type"), col("hod"))
    },

    // --- churn flagging -------------------------------------------------
    // Per-user inactivity against the corpus frontier: last activity,
    // event volume, days inactive, and a churn flag at the 24-hour
    // boundary (timestamp interval arithmetic — exact microseconds, no
    // calendar rounding in the flag; the day count is the calendar
    // datediff both engines share). The boundary is a deployment dial
    // (a subscription product would set 30 days); 24 h is the regime
    // the one-month, always-on fixture can actually demonstrate — its
    // maximum observed inactivity is 2 days, so any multi-day boundary
    // would flag nothing and prove nothing. One user-keyed aggregate +
    // the 1-row frontier broadcast.
    sql("churn_flags",
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |u AS (SELECT user_id, max(ts) AS last_ts, count(*) AS n_events
        |      FROM events GROUP BY user_id)
        |SELECT user_id,
        |       strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_seen,
        |       CAST(n_events AS BIGINT) AS n_events,
        |       CAST(date_diff('day', last_ts, m) AS BIGINT) AS inactive_days,
        |       last_ts < m - INTERVAL 24 HOUR AS churned
        |FROM u, mx ORDER BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val mx = ev.agg(max(col("ts")).as("m"))
      ev.groupBy(col("user_id"))
        .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
        .crossJoin(broadcast(mx)) // 1-row frontier
        .select(col("user_id"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_seen"),
          col("n_events"),
          datediff(col("m"), col("last_ts")).cast("bigint").as("inactive_days"),
          (col("last_ts") < col("m") - expr("INTERVAL 24 HOUR")).as("churned"))
        .orderBy(col("user_id"))
    },

    // --- RFM segmentation ----------------------------------------------
    // The classic recency/frequency/monetary customer segmentation
    // over purchase events, each dimension scored 1–3 by EXACT tercile
    // thresholds computed with the quantize-then-rank move
    // quality_buckets establishes: per metric, a value histogram
    // (recency is already integer days, frequency integer counts,
    // monetary quantized to $10 cells — all bounded far below the user
    // count), a cumulative window over that bounded histogram, and the
    // ⌈N/3⌉/⌈2N/3⌉ thresholds broadcast back as 1-row scalars.
    // Monetary is exact integer cents (per-row floor(value·100+0.5) —
    // the pr2 doubles both engines share — then BIGINT sums). Recency
    // scores invert (fewer days = better); output is the 3×3×3 segment
    // grid with exact floor-divided average spend.
    sql("rfm_segments", {
      def th(hist: String, alias: String) =
        tercileCutsSql(hist, "t" + alias, alias + "1", alias + "2")
      s"""WITH mx AS (SELECT max(ts) AS m FROM events),
         |u AS (SELECT user_id,
         |             CAST(date_diff('day', max(ts), (SELECT m FROM mx)) AS BIGINT) AS rec,
         |             CAST(count(*) AS BIGINT) AS freq,
         |             CAST(sum(floor(value * 100 + 0.5)) AS BIGINT) AS cents
         |      FROM events WHERE event_type = 'purchase' GROUP BY user_id),
         |n AS (SELECT count(*) AS nn FROM u),
         |hr AS (SELECT rec AS v, count(*) AS c FROM u GROUP BY 1),
         |${th("hr", "tr")},
         |hf AS (SELECT freq AS v, count(*) AS c FROM u GROUP BY 1),
         |${th("hf", "tf")},
         |hm AS (SELECT cents // 1000 AS v, count(*) AS c FROM u GROUP BY 1),
         |${th("hm", "tm")},
         |sc AS (SELECT cents,
         |         CASE WHEN rec <= tr1 THEN 3 WHEN rec <= tr2 THEN 2 ELSE 1 END AS r_score,
         |         CASE WHEN freq <= tf1 THEN 1 WHEN freq <= tf2 THEN 2 ELSE 3 END AS f_score,
         |         CASE WHEN cents // 1000 <= tm1 THEN 1 WHEN cents // 1000 <= tm2 THEN 2 ELSE 3 END AS m_score
         |       FROM u, ttr, ttf, ttm)
         |SELECT CAST(r_score AS BIGINT) AS r_score,
         |       CAST(f_score AS BIGINT) AS f_score,
         |       CAST(m_score AS BIGINT) AS m_score,
         |       count(*) AS n_users,
         |       CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents
         |FROM sc GROUP BY 1, 2, 3
         |ORDER BY r_score, f_score, m_score""".stripMargin
    }) { (s, d) =>
      rfmSegments(Tables.events(s, d))
    },

    // --- joins --------------------------------------------------------
    sql("join_inner",
      """SELECT c_custkey, c_name, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS total
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("total"))
        .orderBy(col("c_custkey"))
    },

    sql("join_broadcast",
      """SELECT r_name, n_name, count(*) AS n_cust,
        | round(avg(c_acctbal), 4) AS avg_bal
        |FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |JOIN region ON r_regionkey = n_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
      // dims broadcast: the 100 TB fact side never shuffles for these
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("n_nationkey") === col("c_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), r4(avg(col("c_acctbal"))).as("avg_bal"))
        .orderBy(col("r_name"), col("n_name"))
    },

    sql("join_left",
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))
    },

    sql("join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderstatus") === "F"),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    sql("join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("o_custkey") === col("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },

    // Non-equi (range) join: event pairs within one minute, same user.
    // The join key is (user_id, minute-bucket): the left side explodes
    // to its bucket and bucket+1, so any b within [ts_a, ts_a+1min]
    // shares a key with exactly one exploded a-row. This bounds each
    // task's pair space by bucket width — a hot user no longer
    // produces O(n²) pairs in one task (that user's events spread over
    // time buckets), which is the shape that survives skew at 100 TB.
    // The range predicate then verifies exactly, as a post-key filter.
    sql("join_range",
      """SELECT a.user_id AS user_id, count(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_id < b.event_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 MINUTE
        |GROUP BY a.user_id
        |ORDER BY a.user_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          expr("unix_timestamp(ts) div 60").as("bkt"))
      val a = e.select(col("user_id"), col("event_id").as("id_a"), col("ts").as("ts_a"),
        explode(array(col("bkt"), col("bkt") + 1)).as("jbkt"))
      val b = e.select(col("user_id"), col("event_id").as("id_b"), col("ts").as("ts_b"),
        col("bkt").as("jbkt"))
      a.join(b, Seq("user_id", "jbkt"))
        .filter(col("id_a") < col("id_b") &&
          col("ts_b") >= col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr("INTERVAL 1 MINUTE"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    },

    // AQE skew join: 90% of the left rows share one hot key, so a
    // plain hash-partitioned join would put 90% of the work in one
    // task — the straggler shape that kills 100 TB joins. With AQE
    // skew handling on (thresholds scaled to testdata), the runtime
    // splits the hot partition across tasks and duplicates the
    // matching right rows; the spec asserts `skew=true` appears in the
    // executed plan. The salted two-phase agg (`agg_salted_twophase`)
    // covers aggregation skew; this key covers join skew.
    sql("join_skewed",
      """WITH l AS (
        |  SELECT CASE WHEN event_id % 10 <> 7 THEN 0 ELSE event_id END AS k, value
        |  FROM events),
        |r AS (
        |  SELECT 0 AS k, 'hub' AS tag
        |  UNION ALL
        |  SELECT event_id AS k, event_type AS tag FROM events WHERE event_id % 10 = 7)
        |SELECT tag, count(*) AS n, round(sum(value), 2) AS total
        |FROM l JOIN r ON l.k = r.k
        |GROUP BY tag ORDER BY tag""".stripMargin) { (s, d) =>
      skewedJoin(s, d)
    },

    // --- aggregation variants ----------------------------------------
    sql("agg_having",
      """SELECT o_orderpriority, count(*) AS n,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY o_orderpriority
        |HAVING count(*) > 100
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
        .filter(col("n") > 100)
        .orderBy(col("o_orderpriority"))
    },

    sql("agg_distinct",
      """SELECT l_returnflag,
        | count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_part,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // ROLLUP with grouping keys coalesced to 'ALL' — sidesteps the
    // Spark-vs-DuckDB NULL-ordering divergence entirely.
    sql("agg_rollup",
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        | coalesce(l_linestatus, 'ALL') AS lstatus,
        | round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(r2(sum(col("l_quantity"))).as("sum_qty"), count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("sum_qty"), col("cnt"))
        .orderBy(col("rflag"), col("lstatus"))
    },

    sql("agg_cube",
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        | coalesce(l_linestatus, 'ALL') AS lstatus,
        | round(sum(l_extendedprice), 2) AS sum_price, count(*) AS cnt
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(r2(sum(col("l_extendedprice"))).as("sum_price"), count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("sum_price"), col("cnt"))
        .orderBy(col("rflag"), col("lstatus"))
    },

    // As-of join (time-series: each purchase matched to the user's
    // most recent prior signup). Implemented the scalable way — a
    // single union + one window pass (sort-merge within user
    // partitions), NOT a range self-join: no pair explosion, state is
    // one running "last signup" per user. The oracle uses DuckDB's
    // native ASOF JOIN, so the two formulations check each other.
    sql("join_asof",
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id,
        |       s.event_id AS signup_id,
        |       epoch_us(p.ts::TIMESTAMP) - epoch_us(s.ts::TIMESTAMP) AS lag_us
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY purchase_id""".stripMargin) { (s, d) =>
      val tagged = Tables.events(s, d)
        .filter(col("event_type").isin("signup", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "signup", 0).otherwise(1).as("kind"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("s_id", last(when(col("kind") === 0, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("s_ts", last(when(col("kind") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("kind") === 1 && col("s_id").isNotNull)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("s_id").as("signup_id"),
          (unix_micros(col("ts")) - unix_micros(col("s_ts"))).as("lag_us"))
        .orderBy(col("purchase_id"))
    },

    // PIVOT: row values become columns (missing combos 0-filled to
    // match the oracle's FILTER counts).
    sql("pivot_status",
      """SELECT o_orderpriority,
        | count(*) FILTER (o_orderstatus = 'F') AS F,
        | count(*) FILTER (o_orderstatus = 'O') AS O,
        | count(*) FILTER (o_orderstatus = 'P') AS P
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0, Seq("F", "O", "P"))
        .orderBy(col("o_orderpriority"))
    },

    // Exact interpolated percentiles (both engines implement the
    // standard linear-interpolation definition).
    sql("agg_percentiles",
      """SELECT l_returnflag,
        | floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
        | floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5) / 10000 AS p90,
        | floor(quantile_cont(l_extendedprice, 0.99) * 10000 + 0.5) / 10000 AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(pr4(expr("percentile(l_extendedprice, 0.5)")).as("p50"),
          pr4(expr("percentile(l_extendedprice, 0.9)")).as("p90"),
          pr4(expr("percentile(l_extendedprice, 0.99)")).as("p99"))
        .orderBy(col("l_returnflag"))
    },

    // Salted two-phase aggregation: the skew-mitigation shape. Phase 1
    // aggregates on (key, salt) — a hot key's rows split across 8
    // reducers; phase 2 merges the partials. Result is identical to
    // the direct groupBy (the oracle is exactly that), cost is one
    // extra small shuffle. At 100 TB this is what you do when one user
    // owns 1% of all events; here the salt is a portable md5 hash so
    // the oracle needs no salt at all.
    sql("agg_salted_twophase",
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("salt", h32(col("event_id")) % 8)
        .groupBy(col("user_id"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(col("value")).as("pt"))
        .groupBy(col("user_id"))
        .agg(sum(col("pn")).as("n"), r2(sum(col("pt"))).as("total"))
        .orderBy(col("user_id"))
    },

    // GROUPING SETS — the same ANSI text runs on Spark SQL and DuckDB.
    sql("agg_grouping_sets", Sql.groupingSets) { (s, d) =>
      Tables.register(s, d, "lineitem")
      s.sql(Sql.groupingSets)
    },

    // HLL sketch — engines' sketches differ, so the raw estimate can't
    // hash-match. The oracled contract is the ERROR BOUND: Spark emits
    // its exact NDV (which DuckDB verifies exactly) plus a boolean
    // |approx − exact| ≤ 5%·exact, which the oracle pins to TRUE — a
    // drifting HLL implementation now fails the hash gate instead of
    // hiding behind rows-only.
    sql("agg_approx_distinct",
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS exact_parts,
        | TRUE AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * lit(0.05)).as("within_5pct"))
        .orderBy(col("l_returnflag"))
    },

    // Portable cardinality sketch (Flajolet–Martin / PCSA over the md5
    // hash): 16 buckets, per-bucket max of the lowest-set-bit position,
    // estimate = 16·2^(mean rho)/0.77351. Unlike the engine-native HLL
    // above, every step is deterministic arithmetic both engines
    // reproduce bit-for-bit — an approximate-distinct that still gets
    // a full hash-match oracle. Map-side combinable (max per bucket).
    sql("agg_sketch_distinct",
      s"""WITH h AS (
         |  SELECT l_returnflag,
         |         ${"('0x' || substr(md5(l_partkey::VARCHAR), 1, 8))::BIGINT"} AS hv
         |  FROM lineitem),
         |r AS (
         |  SELECT l_returnflag, hv % 16 AS bkt,
         |         CAST(floor(log2(((hv // 16) & -(hv // 16))
         |                         + ((hv // 16) = 0)::INT * 2147483648) + 0.5) AS BIGINT) AS rho
         |  FROM h),
         |m AS (SELECT l_returnflag, bkt, max(rho) AS mx FROM r GROUP BY 1, 2)
         |SELECT l_returnflag,
         |       CAST(floor(16 * pow(2.0, avg(mx::DOUBLE)) / 0.77351) AS BIGINT) AS est_ndv
         |FROM m GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val hv = h32(col("l_partkey"))
      val hi = (col("hv") / 16).cast("long") // integer division via long cast
      val lowbit = hi.bitwiseAND(-hi)
      // floor(log2 + 0.5): CAST(double AS BIGINT) rounds in DuckDB but
      // truncates in Spark — floor on both sides removes the ambiguity
      val rho = floor(log2(when(hi === 0, 2147483648L).otherwise(lowbit)) + 0.5).cast("long")
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), hv.as("hv"))
        .select(col("l_returnflag"), (col("hv") % 16).as("bkt"), rho.as("rho"))
        .groupBy(col("l_returnflag"), col("bkt"))
        .agg(max(col("rho")).as("mx"))
        .groupBy(col("l_returnflag"))
        .agg(floor(lit(16) * pow(lit(2.0), avg(col("mx").cast("double"))) / 0.77351)
          .cast("bigint").as("est_ndv"))
        .orderBy(col("l_returnflag"))
    },

    // --- window functions --------------------------------------------
    sql("window_rank",
      """SELECT o_orderkey,
        | row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn,
        | rank() OVER (PARTITION BY o_custkey ORDER BY round(o_totalprice, 2) DESC, o_orderkey) AS rnk,
        | round(lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 2) AS prev_total
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val byDate = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val byPrice = Window.partitionBy(col("o_custkey")).orderBy(r2(col("o_totalprice")).desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          row_number().over(byDate).as("rn"),
          rank().over(byPrice).as("rnk"),
          r2(lag(col("o_totalprice"), 1).over(byDate)).as("prev_total"))
        .orderBy(col("o_orderkey"))
    },

    sql("window_moving_avg",
      s"""SELECT event_id,
         | ${sqlPr("avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
           "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 10000)} AS mavg
         |FROM events
         |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), pr4(avg(col("value")).over(w)).as("mavg"))
        .orderBy(col("event_id"))
    },

    // --- sort / limit / top-k (TakeOrderedAndProject) ----------------
    sql("topk",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
    },

    // --- set operations ----------------------------------------------
    sql("set_union",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .union(o.filter(col("o_totalprice") > 200000).select(col("o_custkey")))
        .distinct()
        .orderBy(col("o_custkey"))
    },

    // UNION ALL (bag union — no dedup shuffle, unlike UNION above)
    sql("set_union_all",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_custkey FROM orders WHERE o_totalprice > 200000
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .union(o.filter(col("o_totalprice") > 200000).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },

    sql("set_intersect",
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    },

    sql("set_except",
      """SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"))
        .except(Tables.orders(s, d).select(col("o_custkey")))
        .orderBy(col("c_custkey"))
    },

    // --- CTE: the same ANSI text runs on Spark SQL and DuckDB --------
    sql("cte_query", Sql.cte) { (s, d) =>
      Tables.register(s, d, "orders", "customer")
      s.sql(Sql.cte)
    },

    // --- functional UPDATE / DELETE (view-replacement semantics) -----
    sql("update_view",
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 300000 THEN '1-URGENT' ELSE o_orderpriority END AS o_orderpriority,
        | round(o_totalprice, 2) AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .withColumn("o_orderpriority",
          when(col("o_totalprice") > 300000, lit("1-URGENT")).otherwise(col("o_orderpriority")))
        .select(col("o_orderkey"), col("o_orderpriority"), r2(col("o_totalprice")).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },

    sql("delete_view",
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE NOT (l_discount > 0.05 AND l_quantity < 10)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .filter(!(col("l_discount") > 0.05 && col("l_quantity") < 10))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    },

    // --- scalar function families ------------------------------------
    sql("scalar_string",
      """SELECT p_partkey,
        | upper(p_brand) AS brand_u,
        | substr(p_name, 1, 12) AS name12,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | replace(p_type, ' ', '_') AS type_u,
        | lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
        | reverse(p_brand) AS brand_rev
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          substring(col("p_name"), 1, 12).as("name12"),
          length(col("p_name")).cast("bigint").as("name_len"),
          translate(col("p_type"), " ", "_").as("type_u"), // literal replace, no regex engine
          lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
          reverse(col("p_brand")).as("brand_rev"))
        .orderBy(col("p_partkey"))
    },

    sql("scalar_date",
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS BIGINT) AS yr,
        | CAST(month(o_orderdate) AS BIGINT) AS mo,
        | CAST(day(o_orderdate) AS BIGINT) AS dy,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS mstart,
        | strftime(o_orderdate, '%Y-%m-%d') AS ymd
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("bigint").as("yr"),
          month(col("o_orderdate")).cast("bigint").as("mo"),
          dayofmonth(col("o_orderdate")).cast("bigint").as("dy"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mstart"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("ymd"))
        .orderBy(col("o_orderkey"))
    },

    sql("scalar_math",
      s"""SELECT l_orderkey, l_linenumber,
         | l_orderkey % 7 AS mod7,
         | ${sqlPr("abs(l_discount - 0.05)", 1000000)} AS absd,
         | ${sqlPr("sqrt(l_quantity)", 1000000)} AS sqrtq,
         | ${sqlPr("ln(l_extendedprice)", 1000000)} AS lnp,
         | CAST(ceil(l_quantity) AS BIGINT) AS ceilq,
         | CAST(floor(l_tax * 100) AS BIGINT) AS taxpct,
         | greatest(l_discount, l_tax) AS gdt
         |FROM lineitem
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_orderkey"), lit(7)).as("mod7"),
          pr6(abs(col("l_discount") - 0.05)).as("absd"),
          pr6(sqrt(col("l_quantity"))).as("sqrtq"),
          pr6(log(col("l_extendedprice"))).as("lnp"),
          ceil(col("l_quantity")).cast("bigint").as("ceilq"),
          floor(col("l_tax") * 100).cast("bigint").as("taxpct"),
          greatest(col("l_discount"), col("l_tax")).as("gdt"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },

    // regex family: extraction with groups + pattern filter (same
    // regexp_extract(str, pattern, group) signature on both engines)
    sql("scalar_regex",
      """SELECT p_partkey,
        | regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        | regexp_extract(p_type, '([A-Z]+)$', 1) AS type_tail,
        | CAST(length(regexp_replace(p_name, '[aeiou]', '', 'g')) AS BIGINT) AS consonants
        |FROM part
        |WHERE regexp_matches(p_name, '^[a-n]')
        |ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").rlike("^[a-n]"))
        .select(col("p_partkey"),
          regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
          regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("type_tail"),
          length(regexp_replace(col("p_name"), "[aeiou]", "")).cast("bigint").as("consonants"))
        .orderBy(col("p_partkey"))
    },

    sql("scalar_json",
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        | count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"), col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total"))
        .orderBy(col("k"))
    },

    sql("scalar_array",
      """SELECT vec_id,
        | CAST(len(embedding) AS BIGINT) AS dim,
        | floor(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) * 10000 + 0.5) / 10000 AS norm,
        | floor(CAST(list_max(embedding) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS vmax,
        | floor(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum') / len(embedding) * 1000000 + 0.5) / 1000000 AS vmean
        |FROM embeddings ORDER BY vec_id""".stripMargin) { (s, d) =>
      val sq = expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
      val sm = expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          size(col("embedding")).cast("bigint").as("dim"),
          pr4(sqrt(sq)).as("norm"),
          pr6(array_max(col("embedding")).cast("double")).as("vmax"),
          pr6(sm / size(col("embedding"))).as("vmean"))
        .orderBy(col("vec_id"))
    },

    // Statistical aggregates (corr/covar/stddev/var): definitionally
    // identical in both engines; results floored at 1e-4 (aggregate
    // merge order differs ulps-deep between engines). Map-side
    // combinable like any algebraic aggregate — one shuffle on the
    // group key at any scale.
    sql("agg_stats",
      """SELECT l_returnflag,
        | floor(corr(l_quantity, l_extendedprice) * 10000 + 0.5) / 10000 AS qp_corr,
        | floor(covar_pop(l_quantity, l_discount) * 10000 + 0.5) / 10000 AS qd_covar,
        | floor(stddev_pop(l_quantity) * 10000 + 0.5) / 10000 AS q_sd,
        | floor(var_pop(l_quantity) * 10000 + 0.5) / 10000 AS q_var
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(pr4(corr(col("l_quantity"), col("l_extendedprice"))).as("qp_corr"),
          pr4(covar_pop(col("l_quantity"), col("l_discount"))).as("qd_covar"),
          pr4(stddev_pop(col("l_quantity"))).as("q_sd"),
          pr4(var_pop(col("l_quantity"))).as("q_var"))
        .orderBy(col("l_returnflag"))
    },

    // MAP-typed scalars: build per-row maps, extract / inspect. DuckDB
    // MAP extraction `m['k']` returns a LIST (1.0 semantics) — the
    // oracle appends `[1]`; Spark's element_at returns the scalar
    // directly. Key order is insertion order in both engines.
    sql("scalar_map",
      """SELECT doc_id,
        | m['toks'][1] AS toks,
        | m['chars'][1] AS chars,
        | CAST(cardinality(m) AS BIGINT) AS n_entries,
        | array_to_string(map_keys(m), ',') AS keys
        |FROM (SELECT doc_id,
        |        MAP(['toks', 'chars'],
        |            [CAST(len(string_split(text, ' ')) AS BIGINT), n_chars]) AS m
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val m = map(lit("toks"), size(split(col("text"), " ")).cast("bigint"),
        lit("chars"), col("n_chars"))
      Tables.documents(s, d)
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"),
          element_at(col("m"), "toks").as("toks"),
          element_at(col("m"), "chars").as("chars"),
          size(col("m")).cast("bigint").as("n_entries"),
          array_join(map_keys(col("m")), ",").as("keys"))
        .orderBy(col("doc_id"))
    },

    // --- correlated scalar subquery (Catalyst decorrelates it into a
    //     join — RewriteCorrelatedScalarSubquery, SURVEY §4.2) --------
    sql("subquery_scalar", Sql.scalarSubquery) { (s, d) =>
      Tables.register(s, d, "orders", "customer")
      s.sql(Sql.scalarSubquery)
    },

    // --- RANGE window frame: value-based peers, not row counts ------
    sql("window_range_frame",
      """SELECT o_orderkey,
        | count(*) OVER (PARTITION BY o_custkey ORDER BY round(o_totalprice, 2)
        |                RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_near
        |FROM orders ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(r2(col("o_totalprice")))
        .rangeBetween(-10000, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_orderkey"), count(lit(1)).over(w).as("n_near"))
        .orderBy(col("o_orderkey"))
    },

    // FILTER-clause aggregation: per-group conditional aggregates in
    // one pass (no self-join, no pivot) — issued through Spark's SQL
    // parser via expr() to exercise the verb itself. Still a single
    // map-side-combinable hash aggregate.
    sql("agg_filtered",
      """SELECT l_returnflag,
        | count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        | round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS disc_base
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("count(*) FILTER (WHERE l_quantity > 25)").as("n_big"),
          r2(expr("sum(l_extendedprice) FILTER (WHERE l_discount > 0.05)")).as("disc_base"))
        .orderBy(col("l_returnflag"))
    },

    // collection aggregate: collect_list is ordering-nondeterministic
    // under parallel aggregation, so the deterministic contract is the
    // SORTED collection — emitted as a joined string because the
    // oracle compare is row-text-based. The aggregate remains one
    // shuffle of (key, name) pairs.
    sql("agg_collect",
      """SELECT n_regionkey,
        | array_to_string(list_sort(list(n_name)), ',') AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, d) =>
      Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("names"))
        .orderBy(col("n_regionkey"))
    },

    // distribution windows: ntile / percent_rank / cume_dist — the
    // ranking family the other window keys don't cover. The window
    // order (o_totalprice, o_orderkey) is a total order, so tile
    // boundaries and rank fractions are deterministic; the fractions
    // are exact rational arithmetic ((rank-1)/(n-1), rank/n) computed
    // identically by both engines, floored at 1e-6 anyway.
    sql("window_distribution",
      """SELECT o_orderkey,
        | ntile(4) OVER w AS quartile,
        | floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
        | floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          pr6(percent_rank().over(w)).as("pct_rank"),
          pr6(cume_dist().over(w)).as("cume"))
        .orderBy(col("o_orderkey"))
    },

    // Navigation window functions (first/last/nth): last_value needs
    // the full-partition frame (the default frame ends at CURRENT ROW,
    // where last_value degenerates to the current row) — identical
    // framing rules in both engines; ordering is total (orderkey
    // tiebreak) so every navigated value is deterministic.
    sql("window_first_last",
      """SELECT o_orderkey,
        | first_value(o_orderkey) OVER w AS first_ok,
        | last_value(o_orderkey) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok,
        | nth_value(o_orderkey, 2) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_ok
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_ok"),
          last(col("o_orderkey")).over(full).as("last_ok"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_ok"))
        .orderBy(col("o_orderkey"))
    },

    // --- sessionization: gap-based event-time sessions --------------
    // Built-in session_window (works identically in batch and
    // Structured Streaming — the streaming twin is
    // EventStream.runSessions, parity-checked in StreamingSpec). The
    // oracle replicates Spark's semantics with lag + running sum:
    // a session ENDS at last_ts + gap exclusive, so a new event at
    // exactly the boundary starts a new session (diff >= gap breaks);
    // ts truncated to µs to mirror the Spark-side ns→µs load.
    sql("sessionize", Sql.sessionize) { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_seen"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_seen"))
        .select(col("user_id"), col("n_events"), col("first_seen"), col("last_seen"))
        .orderBy(col("user_id"), col("first_seen"))
    },

    // Same sessions through the typed API: KeyValueGroupedDataset +
    // flatMapGroups — the escape hatch for per-group logic Catalyst
    // can't express. Groups sort in executor memory (bounded by one
    // user's events; a pathological user would need re-chunking).
    sql("sessionize_typed", Sql.sessionize) { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups(Sessions.ofGroup _)
        .toDF("user_id", "n_events", "first_seen", "last_seen")
        .orderBy(col("user_id"), col("first_seen"))
    },

    // --- event-time windowed aggregation (batch twin of the
    //     Structured Streaming pipeline in graft.streaming) ----------
    sql("stream_window_hourly",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        | event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total"))
        .orderBy(col("hour"), col("event_type"))
    }
  )

  /** Executor-side sessionization kernel for the typed path. Lives in
    * an object so the flatMapGroups closure captures nothing
    * non-serializable (the formatter initializes per JVM).
    */
  object Sessions {
    private val gapUs = 30L * 60 * 1000000
    private lazy val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

    private def f(us: Long): String =
      fmt.format(java.time.Instant.ofEpochSecond(math.floorDiv(us, 1000000L), 0))

    /** (user_id, event_id, ts_us) events → (user, n, first, last) sessions. */
    def ofGroup(user: Long, it: Iterator[(Long, Long, Long)]): Iterator[(Long, Long, String, String)] = {
      val evs = it.toArray.sortBy(e => (e._3, e._2))
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, String)]
      var start = 0
      for (i <- 1 to evs.length) {
        if (i == evs.length || evs(i)._3 - evs(i - 1)._3 >= gapUs) {
          out += ((user, (i - start).toLong, f(evs(start)._3), f(evs(i - 1)._3)))
          start = i
        }
      }
      out.iterator
    }
  }

  /** The `join_skewed` builder (public so the spec can assert the
    * executed plan). Runs on a cloned session with the AQE skew-join
    * thresholds scaled down to testdata partition sizes — at
    * production scale the DEFAULT thresholds (256 MB) play the same
    * role; nothing about the query changes, which is the point: skew
    * handling is a runtime property, not a query rewrite. Broadcast is
    * disabled so the join actually shuffles (the right side is small
    * here only because testdata is; the modeled workload is
    * fact-to-fact). `spread` gives the single-file scan multiple map
    * blocks — AQE splits a skewed reduce partition at map-block
    * granularity, so a one-mapper shuffle cannot be split at all.
    */
  def skewedJoin(s: SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.adaptive.enabled", "true")
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    val ev = Tables.events(ss, d)
    val left = spread(ev.select(
      when(col("event_id") % 10 =!= 7, lit(0L)).otherwise(col("event_id")).as("k"),
      col("value")))
    val right = ss.range(1).select(lit(0L).as("k"), lit("hub").as("tag"))
      .unionByName(ev.filter(col("event_id") % 10 === 7)
        .select(col("event_id").as("k"), col("event_type").as("tag")))
    left.join(right, "k")
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total"))
      .orderBy(col("tag"))
  }

  /** SQL shared verbatim between Spark SQL and DuckDB. */
  object Sql {
    val scalarSubquery: String =
      """SELECT c_custkey, c_name,
        |       (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer ORDER BY c_custkey""".stripMargin

    /** Lag + running-sum sessionization, replicating Spark's
      * session_window semantics (end-exclusive: diff >= gap breaks)
      * over µs-truncated timestamps.
      */
    val sessionize: String =
      """WITH e AS (SELECT user_id, event_id, ts::TIMESTAMP AS ts FROM events),
        |o AS (SELECT user_id, event_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL
        |               OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM o)
        |SELECT user_id, count(*) AS n_events,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, first_seen""".stripMargin

    val groupingSets: String =
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_returnflag, l_linestatus), ())
        |ORDER BY rflag, lstatus""".stripMargin

    val cte: String =
      """WITH big_spenders AS (
        |  SELECT o_custkey, count(*) AS n_big, round(sum(o_totalprice), 2) AS spent
        |  FROM orders WHERE o_totalprice > 150000
        |  GROUP BY o_custkey
        |)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |       round(sum(spent), 2) AS segment_spend
        |FROM big_spenders JOIN customer ON c_custkey = o_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin
  }
}
