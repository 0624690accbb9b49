package graft.operators

import graft.{GateQuery, Tables}
import graft.Tables.DayUs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational core over the star schema — the scan/project/filter/join/
  * agg/window/set-op surface of SURVEY §2.1-2.7 expressed on the driver
  * tables.
  *
  * Scale notes (100 TB): every query here is a declarative DataFrame plan
  * — Catalyst pushes filters/projections into the parquet scan, picks
  * broadcast-hash for the dimension joins (region/nation/supplier are
  * tiny relative to the fact tables at any SF), and AQE handles skew.
  * Aggregations are hash-based with map-side partial aggregation, so the
  * only full shuffles are the groupBy exchanges on the (high-cardinality)
  * grouping keys.
  */
object Relational {

  /** Exact money arithmetic: cast the 2-dp-generated DOUBLE to DECIMAL
    * before summing so results are order-independent and hash-match the
    * DuckDB oracle bit-for-bit (see GateQuery scaladoc). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** q1: pricing-summary hash aggregation (SURVEY A1-shape; ref
    * youtube_api_handler.py:926-966 is the same sum/count/avg shape).
    * Partial agg map-side; one shuffle on the 6-value grouping key. */
  private def q1(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"))

  private val q1Sql =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** q2: fact ⋈ broadcast dimension chain (SURVEY J2 — the 83-row
    * language-dim lookup shape). supplier/nation/region are dimensions:
    * explicitly broadcast so the fact table never shuffles for the join;
    * the only exchange is the final groupBy on (region, nation). */
  private def q2(s: SparkSession, d: String): DataFrame = {
    val li  = Tables.lineitem(s, d)
    val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, d)
    val reg = Tables.region(s, d)
    li.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice")) * (lit(BigDecimal(1)) - dec(col("l_discount"))))
          .cast("double").as("revenue"))
  }

  private val q2Sql =
    """SELECT r_name AS region_name, n_name AS nation_name,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name""".stripMargin

  /** q3: fact ⋈ fact shuffle join (orders ⋈ customer on custkey; SURVEY
    * J3 driving-join shape) + rollup by market segment. customer is
    * broadcastable at test SFs but scales with the data — leave the
    * strategy to Catalyst/AQE rather than pinning broadcast. */
  private def q3(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_revenue"))

  private val q3Sql =
    """SELECT c_mktsegment AS segment,
      |  count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** q4: top-N per group via row_number (SURVEY W1 — top-`max_videos`
    * most-recent RSS entries per channel). Unique tie-break on
    * o_orderkey keeps the result deterministic (SURVEY §7.4 gotcha 9).
    * One shuffle (window partitioning); no global sort. */
  private def q4(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"), col("o_totalprice"))
  }

  private val q4Sql =
    """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      |  FROM orders) t WHERE rk <= 3""".stripMargin

  /** q5: UNION ALL of per-slice pipelines (SURVEY §2.7 — chunked API
    * results concatenated) then aggregated; duplicates preserved. */
  private def q5(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val a = li.filter(col("l_returnflag") === "A")
    val n = li.filter(col("l_returnflag") === "N")
    a.unionAll(n)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"))
  }

  private val q5Sql =
    """SELECT l_linestatus, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM (
      |  SELECT * FROM lineitem WHERE l_returnflag = 'A'
      |  UNION ALL
      |  SELECT * FROM lineitem WHERE l_returnflag = 'N') t
      |GROUP BY l_linestatus""".stripMargin

  /** q6: semi/anti join (SURVEY S3 "fetch only what's referenced" ≈
    * left-semi pushdown; anti = channels with no videos default path).
    * Emits one row per customer with a flag, via left_anti + left_semi
    * unioned — exercises both join types while keeping output
    * deterministic. */
  private def q6(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).select("c_custkey", "c_name")
    val ords = Tables.orders(s, d).select("o_custkey")
    val withO = cust.join(ords, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("has_orders", lit(true))
    val noO = cust.join(ords, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("has_orders", lit(false))
    withO.unionAll(noO)
  }

  private val q6Sql =
    """SELECT c_custkey, c_name, TRUE AS has_orders FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT c_custkey, c_name, FALSE AS has_orders FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** q7: left join with null-default (SURVEY J1 — RSS × detailed-video
    * enrichment, no match → 'unknown'). orders left-joined to a filtered
    * slice of lineitem; coalesce provides the default. */
  private def q7(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_returned"))
    Tables.orders(s, d)
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select(
        col("o_orderkey"),
        col("o_orderstatus"),
        coalesce(col("n_returned"), lit(0L)).as("n_returned"),
        when(col("n_returned").isNotNull, lit("returned")).otherwise(lit("unknown")).as("return_tag"))
  }

  private val q7Sql =
    """SELECT o_orderkey, o_orderstatus,
      |  COALESCE(n_returned, 0) AS n_returned,
      |  CASE WHEN n_returned IS NOT NULL THEN 'returned' ELSE 'unknown' END AS return_tag
      |FROM orders LEFT JOIN (
      |  SELECT l_orderkey, count(*) AS n_returned FROM lineitem
      |  WHERE l_returnflag = 'R' GROUP BY l_orderkey) li
      |ON o_orderkey = l_orderkey""".stripMargin

  /** q8: mixed-batch dispatch fan-out (J4,
    * youtube_api_handler.py:891-924): heterogeneous "request types"
    * each run their own pipeline; results are unioned with a
    * `type_<i>`-style key, per-request failure isolation becoming
    * per-branch null tolerance. The reference's ThreadPoolExecutor(5)
    * is Spark's job/stage parallelism — the three branches share scans
    * where possible and execute as one unioned plan. */
  private def q8(s: SparkSession, d: String): DataFrame = {
    val byStatus = Tables.orders(s, d)
      .groupBy(col("o_orderstatus").as("request_key"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("metric"))
      .select(concat(lit("orders_by_status_"), col("request_key")).as("request_id"),
        col("n"), col("metric"))
    val byPriority = Tables.orders(s, d)
      .groupBy(col("o_orderpriority").as("request_key"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).cast("double").as("metric"))
      .select(concat(lit("orders_by_priority_"), col("request_key")).as("request_id"),
        col("n"), col("metric"))
    val byFlag = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("request_key"))
      .agg(count(lit(1)).as("n"), sum(dec(col("l_quantity"))).cast("double").as("metric"))
      .select(concat(lit("lineitem_by_flag_"), col("request_key")).as("request_id"),
        col("n"), col("metric"))
    byStatus.unionAll(byPriority).unionAll(byFlag)
  }

  private val q8Sql =
    """SELECT 'orders_by_status_' || o_orderstatus AS request_id,
      |  count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS metric
      |FROM orders GROUP BY o_orderstatus
      |UNION ALL
      |SELECT 'orders_by_priority_' || o_orderpriority,
      |  count(*), CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |FROM orders GROUP BY o_orderpriority
      |UNION ALL
      |SELECT 'lineitem_by_flag_' || l_returnflag,
      |  count(*), CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q9: salted two-phase aggregation — the skew pattern for keys too
    * hot for one reducer (l_returnflag has 3 values; at 100 TB a plain
    * groupBy puts ~33 TB behind one key). Phase 1 groups by
    * (key, salt16) so each hot key spreads over 16 reducers; phase 2
    * merges the 16 partials. Result is IDENTICAL to the direct groupBy
    * (sums are decimal-exact, order-free) — the oracle computes it
    * unsalted. AQE's skew handling covers joins; explicit salting is
    * the aggregation-side counterpart. */
  private def q9(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(count(lit(1)).as("pn"),
        sum(dec(col("l_quantity"))).as("pq"),
        sum(dec(col("l_extendedprice"))).as("pp"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("pn")).as("n_rows"),
        sum(col("pq")).cast("double").as("sum_qty"),
        sum(col("pp")).cast("double").as("sum_price"))

  private val q9Sql =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q10

  /** q10: co-located (bucketed) fact⋈dim join — the 100 TB join answer
    * EXECUTED as an oracled gate instead of a test-only helper: both
    * sides are first written bucketed-and-sorted on the join key
    * ([[Bucketing.writeBucketed]], the once-per-ingest layout shuffle),
    * and the join then reads pre-shuffled, pre-sorted buckets — the
    * executed plan carries NO exchange and NO sort under the join
    * (asserted in PlanShapeSpec); the only exchange left is the final
    * 5-group rollup. This is the suite's ONE legitimate sort-merge
    * join: co-located SMJ over bucket-sorted data is exchange-free
    * and sort-free, which is precisely why a deployment buys the
    * layout. The write happens at gate time (la6's sink-gate
    * honesty); the oracle is layout-independent plain SQL. */
  private def q10(s: SparkSession, d: String): DataFrame = {
    val base = TmpDirs.reclaimAtExit(
      s"${Scratch.root}/graft_bucketed/${d.replace('/', '_')}")
    Bucketing.writeBucketed(
      Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
      "graft_q10_customer", s"$base/customer", 8, Seq("c_custkey"))
    Bucketing.writeBucketed(
      Tables.orders(s, d).select(col("o_custkey"),
        expr("cast(floor(o_totalprice * 100) as bigint)").as("price_cents")),
      "graft_q10_orders", s"$base/orders", 8, Seq("o_custkey"))
    // hint("merge"): at bench SFs the customer side fits the broadcast
    // threshold and Catalyst (correctly) prefers BroadcastHashJoin —
    // but the shape this gate exists to demonstrate is the 100 TB one,
    // where NEITHER side broadcasts and the bucketed layout is what
    // deletes the exchange. The hint pins that plan; the layout (not
    // the hint) is what makes it exchange- and sort-free.
    s.table("graft_q10_orders").hint("merge")
      .join(s.table("graft_q10_customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("price_cents")).as("revenue_cents"))
  }

  private val q10Sql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment""".stripMargin

  /** q11: INTERSECT / EXCEPT — the §2.7 set-op family beyond q5's
    * UNION ALL: big-purchase users who also errored, minus users with
    * a high-value signup (the "affected paying cohort, excluding the
    * premium-onboarded" pull of an incident review; value thresholds
    * discriminate because the synthetic corpus gives every user every
    * event type). Spark compiles INTERSECT to a distinct left-semi
    * join and EXCEPT to a distinct left-anti — hash joins on the user
    * key, no sort anywhere; the distinct collapses map-side first, so
    * each exchange carries unique ids, not events. Both engines bind
    * INTERSECT tighter than EXCEPT: (A ∩ B) − C. */
  private def q11(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def ids(t: String, minValue: Double = Double.NegativeInfinity) =
      ev.filter(col("event_type") === t && col("value") > minValue)
        .select(col("user_id"))
    ids("purchase", 150).intersect(ids("error")).except(ids("signup", 180))
  }

  private val q11Sql =
    """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
      |INTERSECT
      |SELECT user_id FROM events WHERE event_type = 'error'
      |EXCEPT
      |SELECT user_id FROM events WHERE event_type = 'signup' AND value > 180""".stripMargin

  // ---------------------------------------------------------------- q12

  /** q12: the SQL entry surface — the same engine addressed as ANSI
    * SQL text (`spark.sql` over temp views), the way a reference user
    * with existing SQL assets would drive it. One dialect-shared
    * string runs unmodified in BOTH engines: a correlated EXISTS
    * (TPC-H Q4's shape — "orders with a line item shipped >30 days
    * after ordering") that Catalyst decorrelates into a left-semi
    * hash join, plus exact cents aggregation (doubles floored to
    * BIGINT before SUM — the GateQuery numeric policy in its SQL
    * spelling). Nothing else in the registry exercises the SQL
    * parser/analyzer path or subquery decorrelation. */
  private val q12Sql =
    """SELECT o_orderpriority,
      |  count(*) AS late_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS late_cents
      |FROM orders o
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l
      |  WHERE l.l_orderkey = o.o_orderkey
      |    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q16

  /** q16: the LATERAL correlated subquery — the third and last
    * correlated-subquery class the SQL-text surface owes (q12 EXISTS
    * → semi join, q13 NOT EXISTS → anti join, q16 LATERAL-with-LIMIT
    * → per-group top-k): "for each order priority, its top-3 orders
    * by price", spelled as `, LATERAL (... ORDER BY ... LIMIT 3)` in
    * ONE dialect-shared string both engines parse. Catalyst
    * decorrelates the limited lateral into the rank-window plan W1
    * computes natively (DecorrelateInnerQuery turns the per-row LIMIT
    * into a partitioned row_number ≤ 3) — the point of the gate is
    * that the DECLARATIVE spelling lands on the same scalable
    * physical shape, not a per-driver-row re-execution. Exact cents,
    * unique (cents, orderkey) tie-break, 5×3 deterministic rows. */
  private def q16(s: SparkSession, d: String): DataFrame = {
    ensureSqlViews(s, d)
    s.sql(q16Sql)
  }

  private val q16Sql =
    """SELECT p.o_orderpriority, t.o_orderkey, t.cents
      |FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
      |LATERAL (
      |  SELECT o_orderkey,
      |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders o
      |  WHERE o.o_orderpriority = p.o_orderpriority
      |  ORDER BY cents DESC, o_orderkey ASC
      |  LIMIT 3) t""".stripMargin

  // ---------------------------------------------------------------- q13

  /** q13: the NEGATED correlated subquery — q12's missing half. One
    * dialect-shared NOT EXISTS string ("market segments by customers
    * with no large order", TPC-H Q22's shape) that Catalyst
    * decorrelates into a left-ANTI hash join (q12 covers the semi
    * side); the anti join runs BEFORE the segment rollup, so the
    * exchange after it carries only surviving customers. Same exact
    * cents policy as q12. At 100 TB: customer × orders is the
    * classic big-anti-big — a hash join on o_custkey, no sort, and
    * the probe side prunes to the subquery's filter first. */
  private val q13Sql =
    """SELECT c_mktsegment,
      |  count(*) AS n_inactive,
      |  CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |    AS acctbal_cents
      |FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND o.o_totalprice > 400000)
      |GROUP BY c_mktsegment""".stripMargin

  /** Temp-view registration memo for the SQL-text gates (q12/q13):
    * the view NAMES are fixed by the dialect-shared SQL strings, but
    * re-registering them on every invocation re-lists and re-resolves
    * the parquet tables each time (Bench runs each gate repeatedly per
    * process). One entry per live session, re-registered only when the
    * data dir changes; `compute` serializes concurrent first calls. */
  private val sqlViewDir =
    new java.util.concurrent.ConcurrentHashMap[Integer, String]()

  private def ensureSqlViews(s: SparkSession, d: String): Unit = {
    sqlViewDir.compute(Integer.valueOf(System.identityHashCode(s)), (_, prev) => {
      if (prev != d) {
        Tables.orders(s, d).createOrReplaceTempView("orders")
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
        Tables.customer(s, d).createOrReplaceTempView("customer")
        Tables.events(s, d).createOrReplaceTempView("events")
      }
      d
    })
    ()
  }

  private def q13(s: SparkSession, d: String): DataFrame = {
    ensureSqlViews(s, d)
    s.sql(q13Sql)
  }

  // ---------------------------------------------------------------- q14

  /** q14: BAG-semantics set ops — §2.7's other half: `INTERSECT ALL` /
    * `EXCEPT ALL` keep MULTIPLICITY (min / truncated difference of
    * per-row counts), the semantics dedup accounting actually needs
    * ("how many duplicate purchase events does the error cohort
    * share?") where q11's DISTINCT variants collapse to membership.
    * Spark compiles BOTH to tagged-union count-aggregates + `Generate
    * replicaterows` — no join anywhere (verified in the executed
    * plan) — which the oracle mirrors with DuckDB's native bag
    * operators.
    *
    * Scale shape: one hash agg per side on the value key (map-side
    * combined), then the replicate generator — exchanges carry
    * (key, count) rows, never the raw bags. */
  private def q14(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def vals(t: String) = ev.filter(col("event_type") === t)
      .select(col("user_id"))
    vals("purchase").intersectAll(vals("error"))
      .unionAll(vals("purchase").exceptAll(vals("signup")))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
  }

  private val q14Sql =
    """SELECT user_id, count(*) AS n FROM (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  INTERSECT ALL
      |  SELECT user_id FROM events WHERE event_type = 'error'
      |  UNION ALL
      |  (SELECT user_id FROM events WHERE event_type = 'purchase'
      |   EXCEPT ALL
      |   SELECT user_id FROM events WHERE event_type = 'signup')) t
      |GROUP BY user_id""".stripMargin

  private def q12(s: SparkSession, d: String): DataFrame = {
    ensureSqlViews(s, d)
    s.sql(q12Sql)
  }

  // ---------------------------------------------------------------- q15

  /** q15: SUMMARY-TABLE REWRITE — the optimizer answers a rollup query
    * WRITTEN against the fact table from a pre-aggregated summary,
    * via the injected [[graft.plans.SummaryRewrite]] Catalyst rule
    * (the repo's one `Rule[LogicalPlan]`, registered through
    * `SparkSessionExtensions.injectOptimizerRule`).
    *
    * The gate stages the once-per-ingest rollup (count + decimal
    * partial sums + extrema per (returnflag, linestatus)), registers
    * it, then runs a user query the rule must serve from it: filter
    * on one summary key, group by the other, count/sum/min/max — the
    * reference's dashboard-rollup shape (api_server.py analytics
    * endpoints re-aggregate the same cached stats on every request).
    * The query is materialized inside a register→checkpoint→unregister
    * bracket so the rewrite can never leak into another gate's plan;
    * SummaryRewriteSpec asserts the rewritten plan scans ONLY the
    * summary parquet (zero fact I/O) and matches the unrewritten
    * results column-for-column.
    *
    * Scale shape: this is the 100 TB dashboard answer — the fact scan
    * happens ONCE at summary build; every matching query afterwards
    * reads |groups| rows (here 6) instead of re-scanning the corpus.
    * The re-aggregation is exact: decimal partial sums re-sum
    * losslessly, count(*) becomes sum(cnt), extrema re-extremize. */
  private def q15(s: SparkSession, d: String): DataFrame = {
    import graft.plans.{SummaryDef, SummaryRegistry}
    val sumDir = TmpDirs.reclaimAtExit(
      s"${Scratch.root}/graft_summary/${d.replace('/', '_')}/lineitem_rf_ls")
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("l_quantity"))).as("sum_qty_dec"),
        sum(dec(col("l_extendedprice"))).as("sum_price_dec"),
        min(col("l_discount")).as("min_disc_p"),
        max(col("l_discount")).as("max_disc_p"))
      .write.mode("overwrite").parquet(sumDir)
    SummaryRegistry.register(SummaryDef(
      factPath = s"$d/lineitem.parquet",
      summaryPath = sumDir,
      keys = Seq("l_returnflag", "l_linestatus"),
      cntCol = "cnt",
      sums = Map(
        ("l_quantity", Some((18, 2))) -> "sum_qty_dec",
        ("l_extendedprice", Some((18, 2))) -> "sum_price_dec"),
      mins = Map("l_discount" -> "min_disc_p"),
      maxs = Map("l_discount" -> "max_disc_p"),
      // staleness token: the rewrite only serves while the fact's
      // listing still matches the one this summary was built from
      factFingerprint =
        Some(SummaryRegistry.factFingerprint(s, s"$d/lineitem.parquet"))))
    try {
      // written against the FACT table; the rule swaps in the summary
      Tables.lineitem(s, d)
        .filter(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
          min(col("l_discount")).as("min_disc"),
          max(col("l_discount")).as("max_disc"))
        .localCheckpoint() // materialize while the def is registered
    } finally SummaryRegistry.unregister(s"$d/lineitem.parquet")
  }

  private val q15Sql =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  min(l_discount) AS min_disc, max(l_discount) AS max_disc
      |FROM lineitem WHERE l_linestatus = 'F' GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q17

  /** q17: INCREMENTAL SUMMARY MAINTENANCE — the other half of q15's
    * summary-table story: q15 proves queries can be ANSWERED from the
    * rollup; this proves the rollup can be MAINTAINED without
    * re-scanning the fact table when a delta batch lands (the
    * materialized-view upkeep every 100 TB dashboard depends on —
    * Delta/BigQuery incremental MV refresh, Calcite's lattice
    * maintenance).
    *
    * The fact table splits deterministically (l_orderkey mod 10 = 0 is
    * the arriving delta; the rest is the already-summarized base —
    * both engines re-derive the split). The base summary S0 carries
    * q15's self-maintainable aggregate state: count, DECIMAL partial
    * sums, extrema — each mergeable (count re-sums, partial sums
    * re-sum losslessly, extrema re-extremize; AVG would ride the
    * (sum, cnt) pair, MEDIAN would not be self-maintainable and is
    * exactly what this shape excludes). The refresh job reads ONLY
    * the delta slice and S0: summarize the delta at the same grain,
    * union with S0, one |groups|-bounded hash agg. The gate
    * `require`s the refresh's fact-side input row count equals the
    * delta's row count (via an [[org.apache.spark.sql.Observation]]
    * riding the refresh job — the zero-base-I/O receipt the SQL
    * oracle cannot see), and the oracle checks the merged summary
    * against the full-table recompute: INCREMENTAL ≡ FULL.
    *
    * Scale shape: refresh cost ∝ |delta| + |groups| — at 100 TB the
    * base is never touched again; S0 is |groups| rows (6 here), the
    * union+agg is map-side-combinable, and the only scan is the
    * arriving batch. */
  private def q17(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val base = li.filter(col("l_orderkey") % 10 =!= 0)
    val s0 = base
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("l_quantity"))).as("sum_qty_dec"),
        sum(dec(col("l_extendedprice"))).as("sum_price_dec"),
        min(col("l_discount")).as("min_disc_p"),
        max(col("l_discount")).as("max_disc_p"))
      .localCheckpoint() // S0 IS the stored artifact; base scan happens once
    val obs = org.apache.spark.sql.Observation()
    val delta = li.filter(col("l_orderkey") % 10 === 0)
      .observe(obs, count(lit(1)).as("n_fact_rows"))
    val dSum = delta
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(dec(col("l_quantity"))).as("sum_qty_dec"),
        sum(dec(col("l_extendedprice"))).as("sum_price_dec"),
        min(col("l_discount")).as("min_disc_p"),
        max(col("l_discount")).as("max_disc_p"))
    val merged = s0.unionByName(dSum)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(col("sum_qty_dec")).cast("double").as("sum_qty"),
        sum(col("sum_price_dec")).cast("double").as("sum_price"),
        min(col("min_disc_p")).as("min_disc"),
        max(col("max_disc_p")).as("max_disc"))
      .localCheckpoint() // materialize so the observation is final
    val nDelta = li.filter(col("l_orderkey") % 10 === 0).count()
    val seen = obs.get("n_fact_rows").asInstanceOf[Long]
    require(seen == nDelta,
      s"refresh read $seen fact rows, delta is $nDelta — base was re-scanned")
    merged
  }

  private val q17Sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  min(l_discount) AS min_disc, max(l_discount) AS max_disc
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q18

  /** q18: UNPIVOT (melt) — la8's PIVOT inverted, closing the
    * reshaping pair: the per-day × per-metric WIDE rollup (the
    * dashboard export shape) melts back to the (day, metric, value)
    * LONG form a warehouse stores, via `Dataset.unpivot` (Spark's
    * melt operator, the `UNPIVOT ... FOR ... IN` SQL surface). Every
    * (day, metric) cell emits — including the zero cells the wide
    * table materializes — so the long form is the dense cross of the
    * day dim × 5 metrics, which is exactly what the oracle restates
    * with a VALUES metric dim (no UNPIVOT needed on the DuckDB side:
    * melt of a conditional-agg wide table ≡ the conditional agg at
    * the long grain).
    *
    * Scale shape: one hash agg to the |days|-row wide table
    * (map-side-combined), then unpivot is a NARROW 5-way Expand over
    * it — |days|×5 rows, no exchange after the rollup. */
  private def q18(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "view", "purchase", "error", "signup")
    val agged = Tables.events(s, d)
      .withColumn("day_us", expr(s"(unix_micros(ts) div ${DayUs}L) * ${DayUs}L"))
      .withColumn("cents",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(col("day_us"))
      .agg(
        sum(when(col("event_type") === types.head, col("cents")).otherwise(0L))
          .as(s"${types.head}_cents"),
        types.tail.map(t =>
          sum(when(col("event_type") === t, col("cents")).otherwise(0L))
            .as(s"${t}_cents")): _*)
    agged.unpivot(
      Array(col("day_us")),
      types.map(t => col(s"${t}_cents")).toArray,
      "metric", "cents")
  }

  private val q18Sql =
    """WITH e AS (
      |  SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
      |    event_type,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS cents
      |  FROM events),
      |m(metric, et) AS (VALUES
      |  ('click_cents', 'click'), ('view_cents', 'view'),
      |  ('purchase_cents', 'purchase'), ('error_cents', 'error'),
      |  ('signup_cents', 'signup'))
      |SELECT e.day_us, m.metric,
      |  CAST(sum(CASE WHEN e.event_type = m.et THEN e.cents ELSE 0 END)
      |    AS BIGINT) AS cents
      |FROM e, m GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q19

  /** q19: CORRELATED SCALAR SUBQUERY — the fourth decorrelation class
    * the SQL-text surface needs beside EXISTS (q12), NOT EXISTS (q13)
    * and LATERAL (q16): a per-row scalar lookup (`each customer's max
    * order value`) written as the textbook correlated subselect.
    * Catalyst decorrelates it to ONE grouped aggregate over orders
    * plus a left outer hash join — never a per-row re-execution —
    * and customers with no orders surface the scalar NULL, folded by
    * the outer COALESCE (the reference's defensive `.get(..., 0)`
    * discipline at the SQL layer). One dialect-shared ANSI string,
    * exact cents end-to-end.
    *
    * Scale shape: the subquery side collapses to |custkey| rows
    * before the join; the join is customer-keyed hash; the final
    * rollup is |segments| rows. At 100 TB this is the difference
    * between O(|customers|·|orders|) naive correlation and one
    * aggregate + one join. */
  private val q19Sql =
    """SELECT c_mktsegment, count(*) AS n_customers,
      |  CAST(sum(coalesce(mx, 0)) AS BIGINT) AS max_cents_sum
      |FROM (
      |  SELECT c.c_mktsegment,
      |    (SELECT CAST(max(floor(o.o_totalprice * 100)) AS BIGINT)
      |     FROM orders o WHERE o.o_custkey = c.c_custkey) AS mx
      |  FROM customer c) t
      |GROUP BY c_mktsegment""".stripMargin

  private def q19(s: SparkSession, d: String): DataFrame = {
    ensureSqlViews(s, d)
    s.sql(q19Sql)
  }

  // ---------------------------------------------------------------- q20

  /** q20: NULL-AWARE NOT IN — the SQL surface's classic trap, gated
    * deliberately: `k NOT IN (subquery)` is NOT an anti join when k
    * can be NULL — a NULL key compares UNKNOWN against every subquery
    * row and the predicate filters it, which a plain anti join would
    * KEEP. The outer key goes NULL deterministically (event_id ≡ 0
    * mod 7 — both engines synthesize the same nullable column); the
    * subquery side is non-null (so the other null trap — one NULL in
    * the subquery annihilating every row — stays out of the law being
    * gated, documented here); the subquery restricts the error cohort
    * to a user residue class (user_id ≡ 0 mod 3) so survivors exist
    * at EVERY SF (an activity-based sample covers all users once the
    * corpus is dense enough and the gate would go empty). Spark plans
    * the single-column case as a broadcast null-aware anti join
    * (NAAJ); DuckDB executes its own mark join — both must land on
    * identical SQL semantics, which is exactly what the gate hashes.
    * One dialect-shared string.
    *
    * Scale shape: the subquery side is a distinct key set (broadcast
    * at dim size); the null-aware probe is one pass over the fact —
    * same economics as q6's anti join plus the null check. */
  private val q20Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS cents
      |FROM (
      |  SELECT event_type, value,
      |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS k
      |  FROM events) t
      |WHERE k NOT IN (SELECT user_id FROM events
      |                WHERE event_type = 'error' AND user_id % 3 = 0)
      |GROUP BY event_type""".stripMargin

  private def q20(s: SparkSession, d: String): DataFrame = {
    ensureSqlViews(s, d)
    s.sql(q20Sql)
  }

  // ---------------------------------------------------------------- q21

  /** q21: RECURSIVE CTE — the iterative SQL surface (`WITH
    * RECURSIVE`), gated as the classic hierarchical rollup: walk
    * every node's ancestor chain up a tree (parent(k) = floor(k/2),
    * the dense-key binary hierarchy both engines derive from
    * c_custkey arithmetic alone — org charts / category trees / BOMs
    * are this shape with an explicit parent column) and aggregate
    * subtree totals (descendant count + exact acctbal cents) for the
    * top 4 levels. One dialect-shared string; the subtree totals are
    * path-dependent (a node's total sums its whole descendant cohort)
    * so the recursion is the computation, not decoration.
    *
    * Spark 4.x executes the recursion as an iterative UnionLoop:
    * each level is ONE narrow map of the previous level's
    * materialization (halve the key, keep the cents — no shuffle, no
    * join), the loop runs depth(tree) = ⌈log₂ max-key⌉ iterations
    * (17 at 100k keys, 47 at 100 TB's ~10¹⁴ — always under the
    * default `cteRecursionLevelLimit` of 100), and the single
    * exchange in the whole plan is the final ≤15-group hash agg.
    * Total rows are Σ depth(k) = n·log n EXACTLY — the tree's unique
    * parent means UNION ALL enumerates one row per (node, ancestor)
    * pair, no walk multiplicity; that choice is deliberate because
    * Spark 4.1.2 rejects UNION-DISTINCT recursion
    * ([UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE]), so cyclic-graph BFS
    * (frontier dedup per level) is not yet expressible — the tree is
    * the recursion class that is exact under UNION ALL. */
  private val q21Sql =
    """WITH RECURSIVE chain(anc, cents) AS (
      |  SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT)
      |  FROM customer
      |  UNION ALL
      |  SELECT CAST(floor(anc / 2) AS BIGINT), cents
      |  FROM chain WHERE anc > 1
      |)
      |SELECT anc AS node, count(*) AS n_desc,
      |  CAST(sum(cents) AS BIGINT) AS subtree_cents
      |FROM chain WHERE anc BETWEEN 1 AND 15 GROUP BY anc""".stripMargin

  private def q21(s: SparkSession, d: String): DataFrame = {
    ensureSqlViews(s, d)
    s.sql(q21Sql)
  }

  // ---------------------------------------------------------------- q22

  /** q22: SEMI-STRUCTURED JSON analytics — schema-on-read over the
    * `events.props` JSON column (the reference stores free-form dicts
    * in its `props`/response payloads; `api_server.py` echoes them as
    * JSON). The scalable spelling: `from_json` with an EXPLICIT
    * schema — a codegen'd single-pass Jackson parse per row, no
    * driver-side inference scan (schema inference at 100 TB reads the
    * corpus twice; a pinned schema is also what keeps a malformed
    * producer from silently widening a column to string). Malformed
    * payloads surface as NULL structs and are COUNTED, not dropped —
    * `n_malformed` is the data-quality meter a production parse
    * carries. The rollup buckets the extracted field (`k div 10`)
    * through a distinct-agg so the JSON value feeds integer
    * arithmetic end-to-end; the oracle re-extracts with DuckDB's
    * independent `->>` JSON path engine. */
  private def q22(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), col("props"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"),
        countDistinct(expr("k div 10")).as("n_buckets"),
        count(when(col("k").isNull && col("props").isNotNull, 1))
          .as("n_malformed"))

  private val q22Sql =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k,
      |  count(DISTINCT CAST(props->>'k' AS BIGINT) // 10) AS n_buckets,
      |  count(CASE WHEN props IS NOT NULL
      |    AND (props->>'k') IS NULL THEN 1 END) AS n_malformed
      |FROM events GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------- q23

  /** q23: RANGE-frame windows — the time-valued window frames the
    * ROWS-frame gates (tw3/tw9/cp16) can't express: per user and per
    * event, the TRAILING-hour spend (`RANGE BETWEEN 3599999999
    * PRECEDING AND CURRENT ROW` over epoch-µs — the half-open hour
    * (ts−1h, ts], the rate-limiter's admission view at every event)
    * and the LEADING 10-minute activity (`RANGE BETWEEN 1 FOLLOWING
    * AND 600000000 FOLLOWING` — strictly-after peers excluded, the
    * "what happens next" feature a churn model trains on). RANGE
    * frames are peer-inclusive: two events at the same µs see each
    * other in the trailing frame and neither in the leading frame, so
    * the result is deterministic without a tie-breaking key — that is
    * the semantic difference from ROWS being gated.
    *
    * Scale shape: ONE exchange on user_id + one in-partition sort
    * feeds both frames (same partition/order spec); Spark evaluates
    * each bounded RANGE frame with two sliding pointers over the
    * sorted run — O(n) amortized per partition, never the O(n·w)
    * self-range-join a naive spelling would pay (tw17's rewrite gates
    * that trap for joins; this gates the window form). Event-grain
    * output, so the gate also exercises the driver hash at full
    * |events| cardinality. */
  private def q23(s: SparkSession, d: String): DataFrame = {
    val HourM1 = 3599999999L // 1h − 1µs: the half-open (ts−1h, ts] frame
    val TenMinUs = 600L * 1000000
    val e = Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      unix_micros(col("ts")).as("ts_us"),
      Tables.valueCents.as("value_cents"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    e.withColumn("trail_cents",
        sum(col("value_cents")).over(byUser.rangeBetween(-HourM1, 0)))
      .withColumn("trail_n",
        count(lit(1)).over(byUser.rangeBetween(-HourM1, 0)))
      .withColumn("next10m_n",
        count(lit(1)).over(byUser.rangeBetween(1L, TenMinUs)))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("trail_cents"), col("trail_n"), col("next10m_n"))
  }

  private val q23Sql =
    """WITH evs AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS value_cents
      |  FROM events)
      |SELECT event_id, user_id, ts_us,
      |  CAST(sum(value_cents) OVER w1 AS BIGINT) AS trail_cents,
      |  count(*) OVER w1 AS trail_n,
      |  count(*) OVER w2 AS next10m_n
      |FROM evs
      |WINDOW
      |  w1 AS (PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW),
      |  w2 AS (PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 1 FOLLOWING AND 600000000 FOLLOWING)""".stripMargin

  // ---------------------------------------------------------------- q24

  /** q24: DYNAMIC PARTITION PRUNING — the star-schema scale feature
    * that makes fact ⋈ filtered-dim cheap at 100 TB: the fact table is
    * day-partitioned, the calendar dim is filtered to weekends, and
    * the fact scan must read ONLY the weekend day dirs — a predicate
    * that exists nowhere statically (it lives behind the join), so
    * Catalyst injects a `DynamicPruningExpression` that reuses the
    * dim's broadcast as the fact scan's runtime partition filter.
    *
    * The receipt is EMPIRICAL, not just plan-shaped: after the
    * partitioned write, every NON-weekend day dir's parquet file is
    * overwritten with garbage bytes (the serving read passes an
    * explicit schema, so no footer is touched at planning) — the
    * query can only complete if the pruned scan never opens a weekday
    * file. A `dynamicpruning` plan receipt is also `require`d, plus a
    * ≥1-poisoned-file check so the proof can't be vacuous.
    *
    * Scale shape: pruning happens in the driver's file index at µs
    * cost per partition — the scan cost is ∝ matching partitions
    * (8/30 days here), never the table; the dim broadcast is reused,
    * so DPP is free (`reuseBroadcastOnly`, the default). Mutating-
    * gate discipline: write → poison → serve → materialize → delete. */
  private def q24(s: SparkSession, d: String): DataFrame = {
    TmpDirs.withRoot(s, "q24") { dir =>
    val e = Tables.events(s, d).select(
      col("event_id"), col("event_type"),
      Tables.valueCents.as("value_cents"),
      expr(s"CAST(unix_micros(ts) div ${DayUs}L AS INT)").as("day"))
    e.repartition(col("day")).write.partitionBy("day").parquet(dir)
    val b = e.agg(min(col("day")), max(col("day"))).head()
    val (minDay, maxDay) = (b.getInt(0), b.getInt(1))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
    // poison every weekday dir: epoch day 0 is a Thursday, so
    // (day + 3) % 7 maps Monday→0 … Sunday→6; weekend = dow ≥ 5
    val weekday = Tables.files(s, dir).filter { f =>
      f.getPath.getName.endsWith(".parquet") &&
        (f.getPath.getParent.getName.stripPrefix("day=").toLong + 3) % 7 < 5
    }
    weekday.foreach { f =>
      val o = fs.create(f.getPath, true)
      o.write("not a parquet file".getBytes("UTF-8")); o.close()
    }
    require(weekday.nonEmpty, "no weekday files to poison — the proof is vacuous")
    val fact = s.read
      .schema("event_id BIGINT, event_type STRING, value_cents BIGINT, day INT")
      .parquet(dir)
    val dim = s.range(minDay.toLong, maxDay + 1L)
      .select(col("id").cast("int").as("cal_day"),
        ((col("id") + 3) % 7).as("dow"))
      .filter(col("dow") >= 5)
    val out = fact.join(broadcast(dim), col("day") === col("cal_day"))
      .groupBy(col("dow"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("value_cents"))
    val rows = out.collect() // would throw on any poisoned file read
    val plan = out.queryExecution.executedPlan.toString
    require(plan.toLowerCase.contains("dynamicpruning"),
      "fact scan carries no DynamicPruningExpression — DPP did not engage")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }}

  private val q24Sql =
    """WITH evs AS (
      |  SELECT event_type,
      |    epoch_us(ts) // 86400000000 AS day,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS value_cents
      |  FROM events)
      |SELECT CAST((day + 3) % 7 AS BIGINT) AS dow, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(value_cents) AS BIGINT) AS value_cents
      |FROM evs WHERE (day + 3) % 7 >= 5
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q25

  /** q25: AQE SKEW-JOIN SPLIT on a deliberately skewed equi-join — the
    * mega-channel shape (SURVEY §4's named skew case: one channel owns
    * most of the fact rows, so a plain shuffle join puts ~90% of the
    * probe side behind ONE reducer; at 100 TB that reducer never
    * finishes). q9 covers the aggregation-side answer (explicit
    * salting); this gate executes the JOIN-side answer — let AQE's
    * `OptimizeSkewedJoin` split the hot partition at runtime from
    * observed map-output sizes, duplicating the matching build-side
    * partition per split. Events are remapped so event_id%10≠0
    * collapses onto user 0 (the mega-channel), carrying an
    * incompressible 128-byte pad (4 distinct md5s — skew detection
    * sees lz4-compressed shuffle sizes, and repeated or constant
    * payloads compress below any threshold); the dim side is the
    * distinct remapped user set. The join is PINNED shuffle-hash
    * (broadcast would hide the skew; SMJ is banned repo-wide), and
    * the downstream re-aggregation on a different key (`tier`) is
    * what makes the split legal without forcing — the join's output
    * partitioning is reshuffled anyway.
    *
    * Engine receipt: the executed plan must carry the `skew=true`
    * marker (`require`d — the oracle can restate values, never the
    * runtime re-plan). Thresholds are scaled so the hot partition
    * trips detection at every SF (hot ≥ ~130 KB at sf0.001, split ≥ 2
    * ways at advisory 64 KB); values are oracle-checked — a split
    * join must be indistinguishable from the unsplit one. */
  private def q25(s: SparkSession, d: String): DataFrame = {
    val iso = s.newSession()
    Seq(
      // broadcast would absorb the dim and hide the skew path
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // scaled so sf0.001's ~130 KB hot partition still trips and
      // splits ≥ 2 ways; at sf0.1 the ~13 MB hot partition splits
      // ~200 ways — each split a bounded ~64 KB task
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      // coalescing first would average the skew away below threshold
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
    ).foreach { case (k, v) => iso.conf.set(k, v) }
    val ev = Tables.events(iso, d).select(
      when(pmod(col("event_id"), lit(10)) =!= 0, lit(0L))
        .otherwise(col("user_id")).as("uid"),
      Tables.valueCents
        .as("value_cents"),
      concat(
        md5(col("event_id").cast("string")),
        md5((col("event_id") + lit(1000003L)).cast("string")),
        md5((col("event_id") * lit(7L) + lit(13L)).cast("string")),
        md5((col("event_id") * lit(31L) + lit(5L)).cast("string")))
        .as("pad"))
      // AQE splits a skewed partition into MAP-INDEX ranges, so a
      // single-mapper side is unsplittable by construction — and the
      // sf parquet is one file, one mapper. At 100 TB the fact side
      // always has thousands of mappers; this pre-shuffle restores
      // that reality at gate scale (8 mappers ≫ the split count).
      .repartition(8, col("event_id"))
    // the dim must sit DIRECTLY on its shuffle under the join:
    // OptimizeSkewedJoin only matches join children that are bare
    // shuffle stages, so a distinct() (final agg above the shuffle)
    // would structurally disable the split. A range over the id
    // universe (1-row max anchor — the tw6/la4 pattern) gives the
    // same inner-join semantics: every remapped uid resolves, unused
    // ids drop out.
    val maxUser = Tables.events(iso, d).agg(max(col("user_id"))).head.getLong(0)
    val dim = iso.range(0, maxUser + 1).select(col("id").as("uid"),
      pmod(col("id"), lit(5)).as("tier"))
    val out = ev.join(dim.hint("shuffle_hash"), "uid")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value_cents")).as("value_cents"),
        // keeps the pad alive through the join shuffle (pruned
        // otherwise, and a 16-byte row never trips skew detection)
        sum(length(col("pad"))).as("pad_chars"))
    val rows = out.collect()
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("skew=true"),
      s"OptimizeSkewedJoin did not split the mega-channel partition\n$plan")
    // the decisive line of the EXECUTED inner plan (PlanShapeSpec's
    // plan-shape laws check it on the gate's live plan text)
    graft.Receipts.record("q25_skew_join",
      "executed isolated-session plan carries the skew split: " +
        plan.linesIterator.filter(_.contains("skew=true")).take(1).mkString.trim)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  private val q25Sql =
    """WITH m AS (
      |  SELECT CASE WHEN event_id % 10 <> 0 THEN 0 ELSE user_id END AS uid,
      |    (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT AS value_cents
      |  FROM events)
      |SELECT uid % 5 AS tier, count(*) AS n_events,
      |  CAST(sum(value_cents) AS BIGINT) AS value_cents,
      |  128 * count(*) AS pad_chars
      |FROM m GROUP BY 1""".stripMargin

  /** q26: full CUBE grouping sets — la7's ROLLUP covers the
    * hierarchical subtotal chain; CUBE is the other grouping-sets
    * surface a dashboard needs (every marginal: per-(flag,status)
    * detail, per-flag, per-status, and grand total) from ONE scan.
    * Plans as a single Expand (4 grouping sets) feeding one
    * map-side-combined hash agg — one shuffle on the expanded key,
    * vs four separate scans+aggs; at 100 TB the Expand multiplies
    * rows 4× BEFORE the partial agg collapses them to ≤4·|groups|,
    * so nothing corpus-sized crosses the exchange. `grouping_id`
    * disambiguates subtotal NULLs from genuine NULL keys (same
    * (l_returnflag, l_linestatus) bit order in both engines);
    * money stays DECIMAL until the final cast (q1's exactness law).
    * Ref: sqlite_logger.py:267-304 runs its marginals as separate
    * queries — this is the one-pass restatement. */
  private def q26(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_price"),
        grouping_id().cast("long").as("gid"))

  private val q26Sql =
    """SELECT l_returnflag, l_linestatus,
      |  count(*) AS n_rows,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  // ---------------------------------------------------------------- q27

  /** q27: JOIN-SIZE ESTIMATION from Count-Min sketches — the classic
    * planner application of the CM inner product (Cormode &
    * Muthukrishnan §4.2, and what Alon-Matias-Szegedy F₂ machinery
    * became in practice): |A ⋈ B| = Σ_k cnt_A(k)·cnt_B(k) estimated as
    * min over the d rows of Σ_b A_j[b]·B_j[b], WITHOUT touching the
    * join. Overflow ceiling: the inner product (both the estimate's
    * Σ ecnt·ccnt and the exact leg's Σ en·cn) is held in Long, so it
    * saturates correctness at Σ ≈ 9.2e18 pairs — ~1e12 events × 1e9
    * customers concentrated on shared keys exceeds that; a planner
    * running this at the 100 TB grain should widen the product to
    * DECIMAL(38,0) (one cast on each sum). Kept Long here because the
    * gate's hash-compare law needs bit-identical integers across
    * engines at every tested sf. Two properties make it gate-able
    * exactly:
    *
    *   - NEVER an underestimate, for ANY hash draw: each row's inner
    *     product is the true answer plus non-negative collision
    *     cross-terms — the deterministic one-sided law a planner can
    *     lean on (admit the join iff even the ESTIMATE fits the
    *     budget);
    *   - fully DETERMINISTIC given the data — CM is linear and
    *     order-free — so unlike the KLL/MG gates the estimate itself
    *     is hash-compared: both engines derive every cell from the
    *     same salted-md5 bucket formula and the oracle recomputes
    *     est_pairs exactly, not just a certificate.
    *
    * The probe: events.user_id ⋈ customer.c_custkey. Sketches are
    * d=4 × w=1024 per side; the exact comparator is the key-grain
    * count-count join (aggregate BEFORE joining — the slim spelling of
    * the exact answer). Scale shape: the estimate costs two narrow
    * scans map-side-combined to ≤ d·w cells each and a 4096-row
    * sketch-sketch join — corpus-independent state, the admission test
    * a 100 TB planner runs before committing to a shuffle; the exact
    * leg is the key-grain exchange the sketch replaces. */
  /** q27's CM sketch pass — exposed so `Replica.checks` can assert
    * the row-sum conservation law (every hash row accounts for the
    * whole corpus, in ≤ d·w cells) on the replica tables. */
  private[graft] val (cmD, cmW) = (4, 1024)
  private[graft] def cmSketch(df: DataFrame, key: Column,
      cname: String): DataFrame = {
    def bucket(j: Int, c: Column): Column =
      pmod(conv(substring(md5(concat(lit(s"js$j|"), c.cast("string"))), 1, 15),
        16, 10).cast("long"), lit(cmW))
    df.select(posexplode(array(
        (0 until cmD).map(j => bucket(j, key)): _*)).as(Seq("j", "b")))
      .groupBy(col("j"), col("b")).agg(count(lit(1)).as(cname))
  }

  private def q27(s: SparkSession, d: String): DataFrame = {
    val e = cmSketch(Tables.events(s, d), col("user_id"), "ecnt")
    val c = cmSketch(Tables.customer(s, d), col("c_custkey"), "ccnt")
    val est = e.join(c.hint("shuffle_hash"), Seq("j", "b"))
      .groupBy(col("j")).agg(sum(col("ecnt") * col("ccnt")).as("ip"))
      .agg(min(col("ip")).as("est_pairs"))
    val exact = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("en"))
      .join(Tables.customer(s, d).groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("cn")),
        col("user_id") === col("c_custkey"))
      .agg(coalesce(sum(col("en") * col("cn")), lit(0L)).as("exact_pairs"))
    exact.crossJoin(broadcast(est)) // two 1-row anchors
      .select(col("exact_pairs"), col("est_pairs"),
        (col("est_pairs") - col("exact_pairs")).as("overestimate"),
        (col("est_pairs") >= col("exact_pairs")).as("never_under"))
  }

  private val q27Sql =
    """WITH ec AS (
      |  SELECT j, b, count(*) AS ecnt FROM (
      |    SELECT j, ('0x' || substr(md5('js' || j || '|' ||
      |        CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 1024 AS b
      |    FROM events, (SELECT unnest(range(4)) AS j) js) q
      |  GROUP BY j, b),
      |cc AS (
      |  SELECT j, b, count(*) AS ccnt FROM (
      |    SELECT j, ('0x' || substr(md5('js' || j || '|' ||
      |        CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT % 1024 AS b
      |    FROM customer, (SELECT unnest(range(4)) AS j) js) q
      |  GROUP BY j, b),
      |est AS (
      |  SELECT CAST(min(ip) AS BIGINT) AS est_pairs FROM (
      |    SELECT ec.j, CAST(sum(ecnt * ccnt) AS BIGINT) AS ip
      |    FROM ec JOIN cc ON ec.j = cc.j AND ec.b = cc.b
      |    GROUP BY ec.j) p),
      |exact AS (
      |  SELECT coalesce(CAST(sum(en * cn) AS BIGINT), 0) AS exact_pairs
      |  FROM (SELECT user_id, count(*) AS en FROM events GROUP BY 1) e
      |  JOIN (SELECT c_custkey, count(*) AS cn FROM customer GROUP BY 1) c
      |    ON e.user_id = c.c_custkey)
      |SELECT exact_pairs, est_pairs,
      |  est_pairs - exact_pairs AS overestimate,
      |  est_pairs >= exact_pairs AS never_under
      |FROM exact, est""".stripMargin

  // ---------------------------------------------------------------- q28

  /** q28: SKETCH-DRIVEN JOIN-STRATEGY SELECTION, end-to-end — q27
    * proved the sketch ESTIMATE's admission law; this gate proves the
    * PLANNER DECISION built on one. The injected
    * [[graft.plans.SketchJoinHint]] optimizer rule consults a
    * registered sketch statistic (KMV NDV × schema row width) against
    * a byte budget and expresses its choice as a standard Catalyst
    * join-strategy hint; Spark's own JoinSelection then executes it.
    * Two connector-fed joins run inside the bracket, one per
    * direction:
    *
    *   - channels ⋈ nation  — est 25 × 28 B = 700 B ≤ 4096 → BROADCAST
    *   - channels ⋈ customer — est ≥ ~120 × 60 B > 4096    → SHUFFLE_HASH
    *
    * and the gate's `strategy` column is read FROM THE EXECUTED PLAN
    * (BroadcastHashJoin vs ShuffledHashJoin node presence), while the
    * oracle derives it from the same estimate arithmetic in SQL — so a
    * planner that ignores the sketch hash-mismatches. Spark's own
    * size-based broadcast is disabled in the bracket
    * (autoBroadcastJoinThreshold = −1, AQE's too): within it, a
    * broadcast can ONLY come from the sketch decision, and without the
    * SHUFFLE_HASH hint the big leg would sort-merge — both directions
    * are load-bearing. The estimate is bit-deterministic across
    * engines: KMV over the shared md5-prefix 60-bit hash, exact k_eff
    * when the sketch saw every distinct key (k_eff < k), else
    * floor((k−1)·2^60 / kth_min); widths are Catalyst defaultSize sums
    * (nation 4+20+4, customer 8+20+4+8+20).
    *
    * Scale shape: the statistic costs one O(k)-state sketch pass over
    * a single narrow column per dimension — the 100 TB planner's
    * admission test priced at a 256-byte answer — and the decision
    * itself is plan-time-free. Ref precedent: the reference sizes its
    * upstream requests before dispatching them
    * (config.py:38-39's MAX_CHANNEL_BATCH_SIZE chunk planning); here
    * the sizing consults a measured sketch instead of a constant. */
  private def q28(s: SparkSession, d: String): DataFrame = {
    import graft.plans.{SketchJoinRegistry, SketchStat}
    val k = 32
    // ISOLATED session (tw17's discipline): the bracket arms an
    // optimizer rule via conf; gates run concurrently on the shared
    // session, so the threshold lives in a private SQLConf.
    val iso = s.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.graft.sketchJoin.thresholdBytes", "4096")
    val (nPath, cPath) = (s"$d/nation.parquet", s"$d/customer.parquet")

    // the sketch pass: KMV NDV over the md5-prefix 60-bit key hash
    def kmvRows(df: DataFrame, key: Column): Long = {
      val h = conv(substring(md5(key.cast("string")), 1, 15), 16, 10)
        .cast("long")
      val r = df.select(h.as("h"))
        .agg(expr(s"kmv_kmin(h, $k)").as("km"))
        .select(size(col("km")).cast("long").as("k_eff"),
          expr("km[size(km) - 1]").as("kth"))
        .head()
      val kEff = r.getLong(0)
      if (kEff < k) kEff // sketch saw every distinct key: exact
      else math.floor((kEff - 1) * 1152921504606846976.0 /
        r.getLong(1)).toLong
    }
    def width(df: DataFrame): Long =
      df.schema.map(_.dataType.defaultSize.toLong).sum

    val (nation, customer) = (Tables.nation(iso, d), Tables.customer(iso, d))
    SketchJoinRegistry.clearDecisions()
    SketchJoinRegistry.register(SketchStat(
      nPath, kmvRows(nation, col("n_nationkey")), width(nation), s"kmv_kmin(k=$k)"))
    SketchJoinRegistry.register(SketchStat(
      cPath, kmvRows(customer, col("c_custkey")), width(customer), s"kmv_kmin(k=$k)"))
    try {
      val u = iso.read.format("graft.sources.YtApiSource")
        .option("maxId", 4999).load()
        .select(col("channel_id"), col("subscriber_count"))
      def leg(name: String, dim: DataFrame, cond: Column,
          dimPath: String): (String, Long, Long, Long, String, Long, Long) = {
        val j = u.join(dim, cond)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("subscriber_count")).as("sum_subs"))
        val Array(row) = j.collect()
        val p = j.queryExecution.executedPlan.toString
        val strategy = (p.contains("BroadcastHashJoin"),
            p.contains("ShuffledHashJoin")) match {
          case (true, false) => "broadcast"
          case (false, true) => "shuffle_hash"
          case other => s"unexpected:$other"
        }
        val dec = SketchJoinRegistry.decisionsFor(dimPath).lastOption
          .getOrElse(sys.error(s"sketch rule never fired for $dimPath"))
        (name, dec.estRows, dec.estBytes, dec.thresholdBytes, strategy,
          row.getLong(0), row.getLong(1))
      }
      val rows = Seq(
        leg("nation_dim", nation,
          col("channel_id") % 25 === col("n_nationkey").cast("long"), nPath),
        leg("customer_dim", customer,
          col("channel_id") === col("c_custkey"), cPath))
      graft.Receipts.record("q28_sketch_planner", rows.map { r =>
        s"${r._1}: est_rows=${r._2} est_bytes=${r._3} thr=${r._4} -> ${r._5}"
      }.mkString("; "))
      import iso.implicits._
      rows.toDF("leg", "est_rows", "est_bytes", "threshold", "strategy",
        "n_rows", "sum_subs")
    } finally {
      SketchJoinRegistry.unregister(nPath)
      SketchJoinRegistry.unregister(cPath)
      iso.conf.unset("spark.graft.sketchJoin.thresholdBytes")
    }
  }

  private val q28Sql =
    """WITH u AS (
      |  SELECT i AS channel_id,
      |    (i*1103515245 + 12345) % 10000000 AS subscriber_count
      |  FROM range(0, 5000) t(i)),
      |nk AS (
      |  SELECT count(*) AS k_eff, max(h) AS kth FROM (
      |    SELECT DISTINCT ('0x' || substr(md5(CAST(n_nationkey AS VARCHAR)),
      |      1, 15))::BIGINT AS h
      |    FROM nation ORDER BY h ASC LIMIT 32) q),
      |ck AS (
      |  SELECT count(*) AS k_eff, max(h) AS kth FROM (
      |    SELECT DISTINCT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
      |      1, 15))::BIGINT AS h
      |    FROM customer ORDER BY h ASC LIMIT 32) q),
      |ne AS (
      |  SELECT CASE WHEN k_eff < 32 THEN k_eff
      |    ELSE CAST(floor((k_eff - 1) * 1152921504606846976.0 / kth) AS BIGINT)
      |    END AS est_rows FROM nk),
      |ce AS (
      |  SELECT CASE WHEN k_eff < 32 THEN k_eff
      |    ELSE CAST(floor((k_eff - 1) * 1152921504606846976.0 / kth) AS BIGINT)
      |    END AS est_rows FROM ck),
      |na AS (
      |  SELECT count(*) AS n_rows, CAST(sum(subscriber_count) AS BIGINT) AS sum_subs
      |  FROM u JOIN nation ON channel_id % 25 = n_nationkey),
      |ca AS (
      |  SELECT count(*) AS n_rows, CAST(sum(subscriber_count) AS BIGINT) AS sum_subs
      |  FROM u JOIN customer ON channel_id = c_custkey)
      |SELECT 'nation_dim' AS leg, est_rows, est_rows * 28 AS est_bytes,
      |  4096 AS threshold,
      |  CASE WHEN est_rows * 28 <= 4096 THEN 'broadcast'
      |       ELSE 'shuffle_hash' END AS strategy,
      |  n_rows, sum_subs
      |FROM ne, na
      |UNION ALL
      |SELECT 'customer_dim' AS leg, est_rows, est_rows * 60 AS est_bytes,
      |  4096 AS threshold,
      |  CASE WHEN est_rows * 60 <= 4096 THEN 'broadcast'
      |       ELSE 'shuffle_hash' END AS strategy,
      |  n_rows, sum_subs
      |FROM ce, ca""".stripMargin

  // ---------------------------------------------------------------- q29

  /** q29: NATIVE RUNTIME BLOOM-FILTER JOIN PRUNING — Catalyst's
    * `InjectRuntimeFilter` (spark.sql.optimizer.runtime.bloomFilter.*),
    * the third runtime-pruning rung after q24's dynamic PARTITION
    * pruning (needs a partitioned table) and the connector's
    * `SupportsRuntimeFiltering` (needs a DSv2 source that cooperates):
    * for a plain shuffle join of an unpartitioned fact against a
    * SELECTIVELY FILTERED dim, the optimizer builds a Bloom filter of
    * the dim's surviving join keys as a scalar subquery
    * (`bloom_filter_agg`, an ObjectHashAggregate — the same
    * bounded-state sketch family as la25/tx29/q27) and injects
    * `might_contain` as a semi-join reduction ON THE FACT SIDE, so
    * non-joining fact rows die at the scan instead of crossing the
    * exchange. At 100 TB this is the difference between shuffling the
    * whole fact and shuffling the ~1/5 of it a filtered dim can
    * actually match — the row-grain complement of q24's
    * partition-grain pruning, with dd17 as the hand-rolled history
    * precedent (the reference's cache-hit short-circuit,
    * youtube_api_handler.py:95-118, is the same admission idea).
    *
    * Both directions pinned, q28's discipline: the ON leg runs with
    * the feature armed (size thresholds floored so bench-SF tables
    * qualify; broadcast disabled so the join genuinely shuffles) and
    * `require`s the bloom build + might_contain in the EXECUTED plan;
    * the OFF leg disables the feature, `require`s the plan clean, and
    * must produce IDENTICAL aggregates — the filter may only prune
    * rows the join would drop anyway. The oracle recomputes both legs
    * as the same plain SQL join; a leaked or over-pruning filter
    * hash-mismatches the ON leg. */
  private def q29(s: SparkSession, d: String): DataFrame = {
    def leg(on: Boolean): (String, Long, Long, Long) = {
      val iso = s.newSession()
      iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      iso.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled",
        on.toString)
      if (on) {
        // bench SFs sit far under the 10 GB/10 MB production
        // thresholds — floor them so the injection condition is the
        // JOIN SHAPE, not the corpus size
        iso.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
          "applicationSideScanSizeThreshold", "0")
        iso.conf.set(
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
          "128MB")
      }
      val dim = Tables.customer(iso, d)
        .where(col("c_mktsegment") === "BUILDING")
      val fact = Tables.events(iso, d).select(col("user_id"),
        Tables.valueCents
          .as("value_cents"))
      val j = fact.join(dim, col("user_id") === col("c_custkey"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value_cents")).as("value_cents"),
          countDistinct(col("c_custkey")).as("n_buyers"))
      val Array(row) = j.collect()
      val p = j.queryExecution.executedPlan.toString
      val hasBloom = p.contains("bloom_filter") || p.contains("might_contain")
      require(hasBloom == on,
        s"runtime bloom filter ${if (on) "did not inject" else "leaked"}:\n$p")
      (if (on) "bloom_on" else "bloom_off",
        row.getLong(0), row.getLong(1), row.getLong(2))
    }
    val rows = Seq(leg(true), leg(false))
    require(rows(0)._2 == rows(1)._2 && rows(0)._3 == rows(1)._3 &&
      rows(0)._4 == rows(1)._4,
      s"bloom filter changed RESULTS, not just the plan: $rows")
    graft.Receipts.record("q29_runtime_bloom",
      s"bloom_filter_agg + might_contain present in the ON leg's executed " +
        s"plan and absent in the OFF leg's; aggregates identical " +
        s"(n_rows=${rows(0)._2}, cents=${rows(0)._3}, buyers=${rows(0)._4})")
    import s.implicits._
    rows.toDF("leg", "n_rows", "value_cents", "n_buyers")
  }

  private val q29Sql =
    """WITH j AS (
      |  SELECT count(*) AS n_rows,
      |    CAST(sum((CAST(value AS DECIMAL(18,2)) * 100)::BIGINT) AS BIGINT)
      |      AS value_cents,
      |    count(DISTINCT c_custkey) AS n_buyers
      |  FROM events JOIN customer ON user_id = c_custkey
      |  WHERE c_mktsegment = 'BUILDING')
      |SELECT 'bloom_on' AS leg, n_rows, value_cents, n_buyers FROM j
      |UNION ALL
      |SELECT 'bloom_off' AS leg, n_rows, value_cents, n_buyers FROM j""".stripMargin

  def queries: Seq[GateQuery] = Seq(
    GateQuery("q1_agg", q1, Some(q1Sql), "hash agg w/ exact decimal sums (A1 shape)"),
    GateQuery("q2_dim_join", q2, Some(q2Sql), "broadcast dim chain join (J2)"),
    GateQuery("q3_fact_join", q3, Some(q3Sql), "shuffle join + distinct agg (J3)"),
    GateQuery("q4_topn_window", q4, Some(q4Sql), "top-N per group, deterministic (W1)"),
    GateQuery("q5_union", q5, Some(q5Sql), "UNION ALL of slices (§2.7)"),
    GateQuery("q6_semi_anti", q6, Some(q6Sql), "left_semi/left_anti (S3)"),
    GateQuery("q7_left_join_default", q7, Some(q7Sql), "left join w/ coalesce default (J1)"),
    GateQuery("q8_batch_dispatch", q8, Some(q8Sql), "mixed-type pipeline fan-out, keyed union (J4)"),
    GateQuery("q9_salted_agg", q9, Some(q9Sql), "salt16 two-phase agg for hot keys ≡ direct groupBy"),
    GateQuery("q10_bucketed_join", q10, Some(q10Sql),
      "co-located bucketed join: no exchange, no sort under the SMJ"),
    GateQuery("q11_intersect_except", q11, Some(q11Sql),
      "INTERSECT/EXCEPT as distinct semi/anti hash joins (§2.7)"),
    GateQuery("q12_sql_exists", q12, Some(q12Sql),
      "spark.sql surface: correlated EXISTS decorrelated to a semi join (one dialect-shared string)"),
    GateQuery("q13_sql_not_exists", q13, Some(q13Sql),
      "NOT EXISTS decorrelated to an anti join before the rollup (q12's negated half)"),
    GateQuery("q14_bag_setops", q14, Some(q14Sql),
      "INTERSECT ALL / EXCEPT ALL: multiplicity-preserving set ops (§2.7's bag half)"),
    GateQuery("q15_summary_rewrite", q15, Some(q15Sql),
      "Catalyst Rule answers a fact-table rollup from a registered summary (zero fact I/O)"),
    GateQuery("q16_sql_lateral", q16, Some(q16Sql),
      "LATERAL-with-LIMIT decorrelated to the per-group top-k window (the SQL surface's third correlated class)"),
    GateQuery("q17_incremental_summary", q17, Some(q17Sql),
      "incremental materialized-view refresh: delta-only scan merged into q15's summary ≡ full recompute"),
    GateQuery("q18_unpivot_melt", q18, Some(q18Sql),
      "UNPIVOT/melt of the per-day wide rollup back to the long (day, metric, cents) grain (la8's inverse)"),
    GateQuery("q19_sql_scalar_subq", q19, Some(q19Sql),
      "correlated scalar subquery decorrelated to one grouped agg + left outer join (the 4th decorrelation class)"),
    GateQuery("q20_null_aware_not_in", q20, Some(q20Sql),
      "NOT IN over a nullable key: null-aware anti join semantics, identical in both engines"),
    GateQuery("q21_recursive_cte", q21, Some(q21Sql),
      "WITH RECURSIVE hierarchical rollup: ancestor-chain walk to subtree totals via iterative UnionLoop"),
    GateQuery("q22_json_analytics", q22, Some(q22Sql),
      "schema-on-read JSON: explicit-schema from_json parse, malformed counted, vs DuckDB's ->> path engine"),
    GateQuery("q23_range_frame", q23, Some(q23Sql),
      "time-valued RANGE window frames: trailing-hour and leading-10-min per event, peer-inclusive semantics"),
    GateQuery("q24_dynamic_pruning", q24, Some(q24Sql),
      "dynamic partition pruning: filtered-dim join prunes the fact scan, poisoned-weekday-file proof"),
    GateQuery("q25_skew_join", q25, Some(q25Sql),
      "AQE skew-join split on the mega-channel join: skew=true required in the executed plan, values ≡ the unsplit join"),
    GateQuery("q26_cube", q26, Some(q26Sql),
      "full CUBE grouping sets: all four marginals from one Expand + one agg pass"),
    GateQuery("q27_cm_join_size", q27, Some(q27Sql),
      "CM-sketch join-size estimate (inner product, min over d rows): deterministic, never under the exact size"),
    GateQuery("q28_sketch_planner", q28, Some(q28Sql),
      "sketch-driven join strategy: KMV estimate x schema width vs byte budget picks broadcast/shuffle-hash, plan-observed"),
    GateQuery("q29_runtime_bloom", q29, Some(q29Sql),
      "native runtime bloom-filter join pruning: bloom build + might_contain in the ON plan, absent OFF, results identical"))
}
