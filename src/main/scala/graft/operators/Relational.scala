package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Exprs, Tables}

/** General relational capability over the star schema — the query surface a
  * user of the engine gets "for free" from the DataFrame API + Catalyst,
  * exercised as verifiable queries at every scale factor.
  *
  * The reference has no joins/sorts/set-ops at all (SURVEY.md §2.6); these
  * queries define the engine's generic analytics surface and are designed
  * scale-first:
  *  - dimension joins are explicit `broadcast()` (no shuffle of the fact),
  *  - aggregates are partial-aggregated map-side by Catalyst,
  *  - top-k is TakeOrderedAndProject (no global sort),
  *  - AQE re-plans skew at runtime.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: the canonical scan→filter→agg path.
    * Filter + column pruning must push into the parquet scan.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3-shaped: fact⋈fact join + broadcast dim filter + top-k.
    * customer is ~2.5% of lineitem → broadcast; orders⋈lineitem shuffles on
    * the join key once. Top-10 via limit ⇒ TakeOrderedAndProject.
    */
  def topRevenueOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-07-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped: star join through two broadcast dims, grouped rollup
    * byregion/nation. supplier+nation+region are tiny → broadcast chain;
    * the single shuffle is the final group-by.
    */
  def regionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    val dim = broadcast(
      sup.join(nat, col("s_nationkey") === col("n_nationkey"))
         .join(reg, col("n_regionkey") === col("r_regionkey"))
         .select(col("s_suppkey"), col("n_name"), col("r_name")))
    li.join(dim, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Semi join (EXISTS): customers that have at least one order, counted per
    * market segment. Broadcast the distinct key set when small; at scale the
    * left-semi hash join avoids materializing order payload columns.
    */
  def customersWithOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))

  /** TPC-H Q4-shaped: orders with at least one lineitem shipped > 60 days
    * after the order date ("late"), counted per priority — a fact⋈fact
    * LEFT SEMI join with a correlated non-equi predicate (both sides large
    * at scale, so this shuffles on the join key where
    * [[customersWithOrders]]'s dim-side semi broadcasts; the semi form
    * still prunes lineitem to two columns and stops probing a key after
    * the first match).
    */
  def latePriorityCount(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_shipdate"))
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1998-07-01").cast("timestamp"))
      .join(li,
        col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val latePriorityCountSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** Anti join (NOT EXISTS): customers with no orders, per nation. */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_nationkey"))

  /** Top-k per group via rank window: top-3 parts by retail price per brand
    * (ties broken by partkey → deterministic).
    */
  def topPartsPerBrand(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    Exprs.keepTop(Tables.part(spark, dir), Seq(col("p_brand")),
        Seq(col("p_retailprice").desc, col("p_partkey")), k, "rank_in_brand")
      .select("p_brand", "rank_in_brand", "p_partkey", "p_name", "p_retailprice")
      .orderBy(col("p_brand"), col("rank_in_brand"))
  }

  /** Distinct aggregation: exact distinct parts + suppliers per return flag.
    * (The HLL variant `approx_count_distinct` is registered as a rows-only
    * query — sketches aren't oracle-comparable across engines.)
    */
  def distinctParts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_suppliers"),
           count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Approximate distinct (HLL sketch) — the scale path for 100 TB distinct
    * counts. Sketch estimates aren't bit-comparable across engines, so the
    * check is self-asserting: emit the exact count plus a boolean that the
    * HLL estimate (rsd 1%) lands within 5% relative error; the DuckDB
    * oracle recomputes the exact count and asserts the literal TRUE. A
    * broken sketch (or a silently-exact fallback masking one) flips the
    * boolean and fails the hash compare.
    */
  def approxDistinctParts(spark: SparkSession, dir: String): DataFrame =
    // manual two-phase distinct instead of agg(countDistinct, approx_…):
    // mixing distinct and non-distinct aggregates plans through Expand
    // (doubles the scan rows into both shuffles); pre-distincting on
    // (flag, partkey) keeps one map-side-combined shuffle, and HLL inserts
    // are duplicate-idempotent so the estimate is distributionally the same
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_partkey")).agg(Map.empty[String, String])
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))
      .select(
        col("l_returnflag"), col("exact_parts"),
        (abs(col("approx_parts") - col("exact_parts")) / col("exact_parts") <= 0.05)
          .as("approx_ok"))
      .orderBy(col("l_returnflag"))

  def approxDistinctPartsSql: String =
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
      |  true AS approx_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Frequent-items sketch (Spark's `stat.freqItems`, the Karp/Misra-Gries
    * one-pass family — mergeable partial sketches, so the 100 TB form is a
    * single scan with map-side sketch merge). Self-checking like the other
    * sketch-tier queries: the algorithm GUARANTEES every value with
    * frequency > support·n appears in the result (false positives allowed),
    * so `freq_ok` must be true per flag and the oracle verifies the
    * exact counts + the literal guarantee.
    */
  def freqReturnFlags(spark: SparkSession, dir: String, support: Double = 0.1): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_returnflag")
    val n = li.count()
    // the sketch result is one row with a ≤ 1/support-element array
    val sketch = li.stat.freqItems(Seq("l_returnflag"), support)
      .head().getSeq[String](0).toSet
    // array() of zero columns is NullType and fails analysis inside
    // array_contains — an empty sketch needs an explicitly typed literal
    val sketchLit =
      if (sketch.isEmpty) array().cast("array<string>")
      else array(sketch.toSeq.sorted.map(lit): _*)
    li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"), col("n_rows"),
        (!(col("n_rows") > n * support) ||
          array_contains(sketchLit, col("l_returnflag"))).as("freq_ok"))
      .orderBy(col("l_returnflag"))
  }

  val freqReturnFlagsSql: String =
    """SELECT l_returnflag, count(*) AS n_rows, true AS freq_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Hierarchical aggregate: ROLLUP region→nation revenue (grouping-set
    * capability; NULL super-aggregate rows, NULLS FIRST ordering pinned on
    * both engines).
    */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val dim = broadcast(
      Tables.supplier(spark, dir)
        .join(Tables.nation(spark, dir), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(spark, dir), col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("n_name"), col("r_name")))
    li.join(dim, col("l_suppkey") === col("s_suppkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice")), 2).as("sum_base"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Frame-window analytics: 4-row moving average of extended price per
    * supplier in ship order. ROWS frame + unique-ending order key ⇒ the
    * float accumulation order is pinned, so results are oracle-exact.
    */
  def movingAvgPrice(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(-3, Window.currentRow)
    Tables.lineitem(spark, dir)
      .select(
        col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        avg(col("l_extendedprice")).over(w).as("moving_avg_price"))
      .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Value-RANGE frame (vs [[movingAvgPrice]]'s ROWS frame): per customer,
    * each order sees its trailing 30-DAY window — however many orders that
    * spans, including same-day peers. Aggregates are chosen order-free
    * (count, max), so RANGE-frame tie handling cannot perturb parity.
    * Scale shape: one hash exchange on o_custkey, sort within partition.
    */
  def trailingWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("days"))
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), days.as("days"), col("o_totalprice"))
      .select(
        col("o_custkey"), col("o_orderkey"), col("days"),
        count(lit(1)).over(w).cast("int").as("n_orders_30d"),
        max(col("o_totalprice")).over(w).as("max_price_30d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val trailingWindowSql: String =
    """SELECT o_custkey, o_orderkey, days,
      |  CAST(COUNT(*) OVER w AS INT) AS n_orders_30d,
      |  MAX(o_totalprice) OVER w AS max_price_30d
      |FROM (
      |  SELECT o_custkey, o_orderkey,
      |    CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days,
      |    o_totalprice
      |  FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY days
      |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Set ops: order-priority values seen in both halves of the date range
    * (INTERSECT) — exercises INTERSECT/EXCEPT capability.
    */
  def prioritiesIntersect(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val early = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderpriority"))
    val late = o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderpriority"))
    early.intersect(late).orderBy(col("o_orderpriority"))
  }

  /** Set difference (EXCEPT): customers who ordered in the first half of
    * 1998 but not in the second — churn-style cohort extraction. Both
    * branches prune to the key column before the distinct set op, so the
    * shuffle carries only o_custkey.
    */
  def lapsedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val split = lit("1998-07-01").cast("timestamp")
    o.filter(col("o_orderdate") < split).select(col("o_custkey"))
      .except(o.filter(col("o_orderdate") >= split).select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  /** lag/lead window family: per-customer order cadence — previous order
    * date, day gap, and the following order's key. Unique-ending order key
    * (o_orderkey) pins tie order so the offsets are deterministic.
    */
  def orderGaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val prev = lag(col("o_orderdate"), 1).over(w)
    Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
      prev.as("prev_orderdate"),
      datediff(col("o_orderdate"), prev).as("gap_days"),
      lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** CUBE grouping-set aggregate over orders: all 4 grouping combinations of
    * (status, priority) in one pass — Catalyst expands to a single shuffle
    * with a grouping-id column, not 4 scans.
    */
  def cubeOrderStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
               col("o_orderpriority").asc_nulls_first)

  /** Exact percentiles (sort-based) of order quantity per return flag —
    * linear-interpolated like DuckDB's quantile_cont, so oracle-exact on
    * this integral-valued domain. The 100 TB tier is
    * [[approxQuantityPercentiles]] (t-digest sketch, one pass, no sort).
    */
  def quantityPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        round(avg(col("l_quantity")), 4).as("mean_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Pivot: order counts per status with one column per priority class.
    * Explicit value list ⇒ single-pass plan (no extra distinct-values job)
    * and a schema known at compile time — the form that scales: the pivot
    * is just a conditional aggregation, one shuffle on the groupBy key.
    */
  def pivotOrderPriorities(spark: SparkSession, dir: String): DataFrame = {
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val clean = Map(
      "1-URGENT" -> "p1_urgent", "2-HIGH" -> "p2_high", "3-MEDIUM" -> "p3_medium",
      "4-NOT SPECIFIED" -> "p4_not_specified", "5-LOW" -> "p5_low")
    val pv = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .pivot("o_orderpriority", prios)
      .agg(count(lit(1)))
    // empty cells aggregate to null in a pivot; the conditional-agg oracle
    // produces 0 — coalesce pins the two representations together
    pv.select(col("o_orderstatus") +:
        prios.map(p => coalesce(col(s"`$p`"), lit(0L)).as(clean(p))): _*)
      .orderBy(col("o_orderstatus"))
  }

  /** GROUPING SETS (Spark 4 DSL): order stats at (status, priority),
    * (status) and grand-total granularities — the general grouping-set form
    * beyond rollup/cube, still one shuffle with an internal grouping-id.
    */
  def groupingSetsOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
           round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
               col("o_orderpriority").asc_nulls_first)

  /** Distribution-rank window family: quartile (ntile), percent_rank and
    * cume_dist of each order's price within its priority class. The unique
    * (o_totalprice, o_orderkey) ordering pins every rank deterministically.
    */
  def ntileOrders(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir).select(
      col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
      ntile(4).over(w).as("price_quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cume"))
      .orderBy(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
  }

  /** Correlated scalar subquery: orders priced far above their customer's
    * own average — via the SQL surface so Catalyst's subquery decorrelation
    * (RewriteCorrelatedScalarSubquery) turns the per-row subquery into one
    * aggregate + join, a single pass over orders instead of N executions.
    */
  def correlatedBigOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("orders_v")
    spark.sql(
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM orders_v o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT avg(o2.o_totalprice) FROM orders_v o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)
  }

  val correlatedBigOrdersSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 1.5 * (
      |  SELECT avg(o2.o_totalprice) FROM orders o2
      |  WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Unpivot (melt): wide per-status order metrics folded to long
    * (status, metric, value) form — the inverse of [[pivotOrderPriorities]].
    * A zero-shuffle Generate over the aggregated input.
    */
  def unpivotOrderMetrics(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).cast("double").as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"),
        round(avg(col("o_totalprice")), 2).as("avg_price"))
      .unpivot(
        ids = Array(col("o_orderstatus")),
        values = Array(col("n_orders"), col("sum_price"), col("avg_price")),
        variableColumnName = "metric",
        valueColumnName = "value")
      .orderBy(col("o_orderstatus"), col("metric"))

  val unpivotOrderMetricsSql: String =
    """SELECT o_orderstatus, metric, value FROM (
      |  UNPIVOT (
      |    SELECT o_orderstatus,
      |      CAST(count(*) AS DOUBLE) AS n_orders,
      |      round(sum(o_totalprice), 2) AS sum_price,
      |      round(avg(o_totalprice), 2) AS avg_price
      |    FROM orders GROUP BY o_orderstatus)
      |  ON n_orders, sum_price, avg_price
      |  INTO NAME metric VALUE value)
      |ORDER BY o_orderstatus, metric""".stripMargin

  /** Range (band) join: parts classified into retail-price bands from a tiny
    * in-memory bounds table. The non-equi predicate lowers to a
    * BroadcastNestedLoopJoin — correct here because the build side is a
    * handful of rows; at 100 TB with many bands the scale path is deriving
    * the band as an equi-key (`floor(price/width)`) or Spark's range-join
    * hints, both of which turn this into a hash join.
    */
  def priceBandJoin(spark: SparkSession, dir: String): DataFrame = {
    // bounds chosen to split the synthetic price domain [900, 1000)
    val bands = spark.createDataFrame(Seq(
      (0.0, 925.0, "a_budget"), (925.0, 950.0, "b_mid"),
      (950.0, 975.0, "c_premium"), (975.0, 1e12, "d_luxury")))
      .toDF("lo", "hi", "band")
    Tables.part(spark, dir)
      .join(broadcast(bands),
        col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_parts"),
           round(avg(col("p_retailprice")), 2).as("avg_price"),
           round(min(col("p_retailprice")), 2).as("min_price"),
           round(max(col("p_retailprice")), 2).as("max_price"))
      .orderBy(col("band"))
  }

  /** Approximate percentiles via the positional-error sketch
    * (`approx_percentile`, accuracy 1e4) — mergeable partial sketches, one
    * pass, bounded memory: the distinct-percentile path that survives
    * 100 TB. Sketch internals differ across engines, so the check is
    * self-asserting (same scheme as [[approxDistinctParts]]): each group
    * emits its row count plus a boolean per quantile that the sketch value
    * is within 5% relative error of Spark's exact `percentile`; the oracle
    * re-derives the group/count grid and asserts the literal TRUEs.
    * `l_extendedprice` > 0, so the relative-error division is safe.
    */
  def approxQuantityPercentiles(spark: SparkSession, dir: String): DataFrame = {
    def ok(i: Int) =
      (abs(element_at(col("apcts"), i) - element_at(col("epcts"), i)) /
        element_at(col("epcts"), i) <= 0.05)
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
          .as("apcts"),
        expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))").as("epcts"),
        count(lit(1)).as("n_rows"))
      .select(
        col("l_returnflag"), col("n_rows"),
        ok(1).as("p25_ok"), ok(2).as("p50_ok"), ok(3).as("p75_ok"))
      .orderBy(col("l_returnflag"))
  }

  def approxQuantityPercentilesSql: String =
    """SELECT l_returnflag, count(*) AS n_rows,
      |  true AS p25_ok, true AS p50_ok, true AS p75_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Data-quality expectations — the validation gate a pipeline runs on a
    * tabular input before using it: per-rule violation counts over orders
    * (null key, duplicate key, non-positive amount, unknown enum value).
    * ONE scan: every rule is a conditional aggregate of the same pass
    * (uniqueness via count − distinct-count), then `stack` unpivots the
    * single row to (rule, n_violations) — at 100 TB this is exactly one
    * map-side-combined aggregation however many rules are checked.
    */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    val known = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    Tables.orders(spark, dir)
      .agg(
        sum(col("o_orderkey").isNull.cast("long")).as("null_key"),
        // count(key) not count(*): a NULL key is its own rule's violation,
        // and countDistinct ignores NULLs — count(*) would double-charge it
        (count(col("o_orderkey")) - countDistinct(col("o_orderkey"))).as("dup_key"),
        sum((col("o_totalprice") <= 0).cast("long")).as("nonpos_price"),
        sum((!col("o_orderpriority").isin(known.map(lit): _*)).cast("long"))
          .as("bad_priority"))
      .select(expr(
        """stack(4,
          |  'null_key', null_key,
          |  'dup_key', dup_key,
          |  'nonpos_price', nonpos_price,
          |  'bad_priority', bad_priority) AS (rule, n_violations)""".stripMargin))
      .orderBy(col("rule"))
  }

  def expectationsSql: String =
    """WITH a AS (
      |  SELECT
      |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key,
      |    CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_key,
      |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
      |    CAST(sum(CASE WHEN o_orderpriority NOT IN
      |      ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_priority
      |  FROM orders)
      |SELECT rule, n_violations FROM (
      |  SELECT 'null_key' AS rule, null_key AS n_violations FROM a
      |  UNION ALL SELECT 'dup_key', dup_key FROM a
      |  UNION ALL SELECT 'nonpos_price', nonpos_price FROM a
      |  UNION ALL SELECT 'bad_priority', bad_priority FROM a)
      |ORDER BY rule""".stripMargin

  /** Bloom-prefiltered fact⋈dim join ([[graft.plans.BloomJoin]]): lineitem
    * rows belonging to urgent orders. The urgent key set (~20% of orders)
    * is the mid-size dimension case — too big to broadcast as a hash
    * relation at 100 TB, cheap as a bloom sketch — so the fact side is
    * pruned BEFORE its shuffle. Exact by construction: the equi-join after
    * the sketch discharges false positives, and the oracle is the plain
    * join, so the differential check proves exactness.
    */
  def urgentLineitems(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    graft.plans.BloomJoin.bloomPrefilteredJoin(
        Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        "l_orderkey", urgent, "o_orderkey")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_orderpriority"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  def urgentLineitemsSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin
}
