package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryModule, Tables}

/** Q2 / Bonus capability family: cleaning filters, two-level aggregation,
  * count-distinct, argmax-per-group, ranking / lag / first-last windows,
  * order-size categorization, inner-vs-left join.
  *
  * Reference semantics: q2_ecommerce_analysis.py:38-275 and bonus.py:29-143
  * re-expressed over the TPC-H-ish testdata (FIXTURES.md §3 domain mapping:
  * CustomerID→o_custkey, InvoiceNo→o_orderkey, StockCode→l_partkey,
  * Quantity*UnitPrice→l_extendedprice*(1-l_discount),
  * InvoiceTimestamp→o_orderdate).
  *
  * Scale notes (100 TB design intent):
  *   - lineitem⋈orders is an equi-join on the orderkey; at scale both sides
  *     shuffle-partition on that key (sort-merge), and AQE can downgrade to
  *     broadcast when the filtered orders side is small. No collect(), no
  *     driver-side loops anywhere.
  *   - the two-level rollup reuses the first aggregation's clustering: the
  *     (custkey, orderkey) → custkey re-aggregation is a narrow shuffle of
  *     pre-combined partials, not of raw lines.
  *   - argmax-per-group is a bounded window (row_number, rank 1) — state per
  *     key is O(1); no per-group materialization.
  */
object Retail extends QueryModule {

  /** Exact money arithmetic. Inputs carry ≤2 decimals, so DECIMAL makes every
    * SUM order-independent — required for DuckDB hash parity, and safe at any
    * scale (Spark decimals stay in whole-stage codegen). Cast to double only
    * in the final projection.
    */
  def lineAmount: Column =
    col("l_extendedprice").cast(DecimalType(12, 2)) *
      (lit(1).cast(DecimalType(12, 2)) - col("l_discount").cast(DecimalType(12, 2)))

  private val amountSql =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"

  /** Cleaned order lines: the reference's filter chain (q2:49-61) mapped onto
    * lineitem — positive quantity/price, non-null key, NOT LIKE exclusion.
    * Filters sit directly on the scan so Catalyst pushes them into parquet.
    */
  private def cleanedLines(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0 &&
        col("l_orderkey").isNotNull && !col("l_returnflag").like("R%"))
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_orderdate")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
  }

  private val cleanedLinesSql =
    s"""FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity > 0 AND l_extendedprice > 0
          AND l_orderkey IS NOT NULL AND l_returnflag NOT LIKE 'R%'"""

  /** Flagship (SURVEY §7.2 slice 0): per-customer order summary with favorite
    * part. Exercises S-scan, P1-P4, A1-A3, A6 (argmax via row_number), W1, J1,
    * O1 in one plan. Reference: q2:89-143.
    */
  private def summaryInputs(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    // one shared o_custkey exchange (guide §2.4): both consumers group by
    // (o_custkey, ...) and the argmax window partitions by o_custkey, so a
    // custkey partitioning satisfies every downstream clustering — the two
    // branches' plans canonicalize to the SAME exchange subtree, which AQE
    // computes once and reuses, where the previous shape scanned and
    // joined lineitem⋈orders TWICE (once per branch) and shuffled each
    // branch separately; the final summary join also lands pre-partitioned
    // (r18 plan audit: 6 Exchanges + 2 joins -> 1 shared Exchange + reuse).
    val lines = cleanedLines(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("l_partkey"),
        lineAmount.as("amount"))
      .repartition(col("o_custkey"))
    val orderValues = lines
      .groupBy("o_custkey", "o_orderkey")
      .agg(sum("amount").as("order_value"))
    val custAgg = orderValues
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("num_orders"),
        sum("order_value").cast("double").as("total_spent"))
      .withColumn("avg_order_value", col("total_spent") / col("num_orders"))
    val perProduct = lines
      .groupBy("o_custkey", "l_partkey")
      .agg(countDistinct("o_orderkey").as("order_frequency"),
        sum("amount").as("product_spent"))
    (custAgg, perProduct)
  }

  private def summaryFrom(custAgg: DataFrame, topProduct: DataFrame): DataFrame =
    custAgg.join(topProduct, Seq("o_custkey"), "left")
      .select("o_custkey", "num_orders", "total_spent", "avg_order_value", "top_product")
      .orderBy("o_custkey")

  def customerSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val (custAgg, perProduct) = summaryInputs(spark, sfDir)
    // Reference used rank()+first() (q2:126-138) which is nondeterministic
    // under ties; row_number with a full tie-break keeps it oracle-checkable.
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("order_frequency").desc, col("product_spent").desc, col("l_partkey").asc)
    val topProduct = perProduct
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("l_partkey").as("top_product"))
    summaryFrom(custAgg, topProduct)
  }

  /** U2: same query, top product via the typed `Aggregator` UDAF
    * ([[graft.functions.ArgMaxProduct]]) instead of a window — a running
    * champion in a hash aggregation (map-side combine, no per-group sort),
    * the cheaper argmax plan at scale. Shares `customerSummarySql` as oracle:
    * both forms must produce identical rows.
    */
  def customerSummaryUdaf(spark: SparkSession, sfDir: String): DataFrame = {
    val (custAgg, perProduct) = summaryInputs(spark, sfDir)
    val argMax = udaf(graft.functions.ArgMaxProduct)
    val topProduct = perProduct
      .groupBy("o_custkey")
      .agg(argMax(col("l_partkey"), col("order_frequency"), col("product_spent"))
        .as("top_product"))
    summaryFrom(custAgg, topProduct)
  }

  private val customerSummarySql =
    s"""WITH lines AS (
          SELECT o_custkey, o_orderkey, l_partkey, $amountSql AS amount
          $cleanedLinesSql
        ), order_values AS (
          SELECT o_custkey, o_orderkey, SUM(amount) AS order_value
          FROM lines GROUP BY 1, 2
        ), cust AS (
          SELECT o_custkey, COUNT(*) AS num_orders,
                 CAST(SUM(order_value) AS DOUBLE) AS total_spent
          FROM order_values GROUP BY 1
        ), per_product AS (
          SELECT o_custkey, l_partkey,
                 COUNT(DISTINCT o_orderkey) AS order_frequency,
                 SUM(amount) AS product_spent
          FROM lines GROUP BY 1, 2
        ), top AS (
          SELECT o_custkey, l_partkey AS top_product FROM (
            SELECT *, row_number() OVER (PARTITION BY o_custkey
              ORDER BY order_frequency DESC, product_spent DESC, l_partkey) AS rn
            FROM per_product) WHERE rn = 1
        )
        SELECT c.o_custkey, c.num_orders, c.total_spent,
               c.total_spent / c.num_orders AS avg_order_value, t.top_product
        FROM cust c LEFT JOIN top t USING (o_custkey)
        ORDER BY c.o_custkey"""

  /** Cleaning chain as its own checkable operator (P1-P5): filters, derived
    * amount, safe timestamp parse round-trip (try_to_timestamp ↔ try_strptime).
    * Reference: q2:49-61.
    */
  def cleaning(spark: SparkSession, sfDir: String): DataFrame =
    cleanedLines(spark, sfDir)
      .withColumn("ship_ts_str", date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("ship_ts", expr("try_to_timestamp(ship_ts_str, 'yyyy-MM-dd HH:mm:ss')"))
      .filter(col("ship_ts").isNotNull)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("o_custkey"), lineAmount.cast("double").as("amount"),
        date_format(col("ship_ts"), "yyyy-MM-dd HH:mm:ss").as("ship_ts"))
      .orderBy("l_orderkey", "l_linenumber")

  private val cleaningSql =
    s"""SELECT l_orderkey, l_linenumber, l_partkey, o_custkey,
               CAST($amountSql AS DOUBLE) AS amount,
               strftime(try_strptime(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'),
                        '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ship_ts
        $cleanedLinesSql
          AND try_strptime(strftime(l_shipdate, '%Y-%m-%d %H:%M:%S'),
              '%Y-%m-%d %H:%M:%S') IS NOT NULL
        ORDER BY l_orderkey, l_linenumber"""

  /** Part B windows (W2, W3, P7): per-customer order sequence — rank by time,
    * lag + datediff to previous order. Reference: q2:191-205. Runs on the
    * orders table directly (one row per order already); tie-break on
    * o_orderkey makes lag deterministic under equal dates.
    */
  def orderWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .filter(col("o_custkey").isNotNull)
      .withColumn("order_number", row_number().over(w))
      .withColumn("prev_order_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("days_between_orders", datediff(col("o_orderdate"), col("prev_order_date")))
      .drop("prev_order_date")
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("order_number"), col("days_between_orders"))
      .orderBy("o_custkey", "order_number")
  }

  private val orderWindowsSql =
    """SELECT o_custkey, o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS order_date,
              CAST(row_number() OVER w AS INT) AS order_number,
              CAST(datediff('day', lag(o_orderdate, 1) OVER w, o_orderdate) AS INT)
                AS days_between_orders
       FROM orders WHERE o_custkey IS NOT NULL
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, order_number"""

  /** W4: first / last product ever bought per customer, via first/last over an
    * unbounded frame (reference q2:170-181). (orderkey, linenumber) is NOT
    * unique in this data, so l_partkey — the emitted value — is the final
    * tie-break: any rows still tied emit the same value.
    *
    * Deliberately the WINDOW form — it is the W4 surface proof. A production
    * query wanting only the result would use min_by/max_by aggregates over
    * the same keys and skip the per-partition sort entirely.
    */
  def firstLastProduct(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"), col("l_linenumber"), col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cleanedLines(spark, sfDir)
      .withColumn("first_product", first(col("l_partkey")).over(w))
      .withColumn("last_product", last(col("l_partkey")).over(w))
      .select("o_custkey", "first_product", "last_product")
      .distinct()
      .orderBy("o_custkey")
  }

  private val firstLastProductSql =
    s"""SELECT DISTINCT o_custkey,
               first_value(l_partkey) OVER w AS first_product,
               last_value(l_partkey) OVER w AS last_product
        $cleanedLinesSql
        WINDOW w AS (PARTITION BY o_custkey
          ORDER BY o_orderdate, o_orderkey, l_linenumber, l_partkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        ORDER BY o_custkey"""

  /** A11 + A12: one-row summary — single- vs multi-order customers, average
    * orders per customer, average days between consecutive orders.
    * Reference: q2:241-257. avg computed as CAST(SUM AS DOUBLE)/COUNT in both
    * engines so the division is bit-identical.
    */
  def summaryStats(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val perOrder = Tables.orders(spark, sfDir)
      .filter(col("o_custkey").isNotNull)
      .withColumn("order_number", row_number().over(w))
      .withColumn("days_between",
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)))
    val perCust = perOrder.groupBy("o_custkey")
      .agg(max("order_number").as("n_orders"))
    val custStats = perCust.agg(
      count(lit(1)).as("n_customers"),
      sum(when(col("n_orders") === 1, 1L).otherwise(0L)).as("single_order_customers"),
      sum(when(col("n_orders") > 1, 1L).otherwise(0L)).as("multi_order_customers"),
      sum("n_orders").as("n_orders_total"))
    val gapStats = perOrder.filter(col("days_between").isNotNull)
      .agg(sum(col("days_between").cast("long")).as("gap_sum"),
        count(col("days_between")).as("gap_n"))
    custStats.crossJoin(gapStats)
      .select(
        col("n_customers"), col("single_order_customers"), col("multi_order_customers"),
        (col("n_orders_total").cast("double") / col("n_customers")).as("avg_orders_per_customer"),
        (col("gap_sum").cast("double") / col("gap_n")).as("avg_days_between_orders"))
  }

  private val summaryStatsSql =
    """WITH seq AS (
         SELECT o_custkey,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS order_number,
                datediff('day', lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey), o_orderdate) AS days_between
         FROM orders WHERE o_custkey IS NOT NULL
       ), per_cust AS (
         SELECT o_custkey, MAX(order_number) AS n_orders FROM seq GROUP BY 1
       ), cust_stats AS (
         SELECT COUNT(*) AS n_customers,
                CAST(SUM(CASE WHEN n_orders = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS single_order_customers,
                CAST(SUM(CASE WHEN n_orders > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS multi_order_customers,
                SUM(n_orders) AS n_orders_total
         FROM per_cust
       ), gap_stats AS (
         SELECT SUM(CAST(days_between AS BIGINT)) AS gap_sum,
                COUNT(days_between) AS gap_n
         FROM seq WHERE days_between IS NOT NULL
       )
       SELECT n_customers, single_order_customers, multi_order_customers,
              CAST(n_orders_total AS DOUBLE) / n_customers AS avg_orders_per_customer,
              CAST(gap_sum AS DOUBLE) / gap_n AS avg_days_between_orders
       FROM cust_stats CROSS JOIN gap_stats"""

  /** U1 (native form): order-size categorization as a when/otherwise chain —
    * stays in whole-stage codegen, unlike the reference's Python UDF
    * (bonus.py:51-61). Thresholds rescaled to this data's order-value range.
    * Orders with no surviving lines hit the null→Unknown branch via the left
    * join, mirroring the reference's None handling.
    */
  def categorize(orderValue: Column): Column =
    when(orderValue.isNull, "Unknown")
      .when(orderValue < 50000, "Small")
      .when(orderValue <= 200000, "Medium")
      .otherwise("Large")

  private def orderSizes(spark: SparkSession, sfDir: String, cat: Column => Column): DataFrame = {
    val orderValues = cleanedLines(spark, sfDir)
      .groupBy("o_orderkey").agg(sum(lineAmount).cast("double").as("order_value"))
    Tables.orders(spark, sfDir).select("o_orderkey")
      .join(orderValues, Seq("o_orderkey"), "left")
      .withColumn("order_size", cat(col("order_value")))
      .orderBy("o_orderkey")
  }

  def orderSizeNative(spark: SparkSession, sfDir: String): DataFrame =
    orderSizes(spark, sfDir, categorize)

  /** U1 (UDF form): identical semantics through a registered Scala UDF, to
    * prove the UDF surface (bonus.py:51-61 mechanism). Null handled before the
    * UDF; primitive-double body stays cheap. Same oracle as the native form.
    */
  def orderSizeUdf(spark: SparkSession, sfDir: String): DataFrame = {
    val categorizeUdf = udf((v: Double) =>
      if (v < 50000) "Small" else if (v <= 200000) "Medium" else "Large")
    orderSizes(spark, sfDir,
      v => when(v.isNull, "Unknown").otherwise(categorizeUdf(v)))
  }

  private val orderSizeSql =
    s"""WITH order_values AS (
          SELECT o_orderkey AS ok, CAST(SUM($amountSql) AS DOUBLE) AS order_value
          $cleanedLinesSql
          GROUP BY 1
        )
        SELECT o.o_orderkey, v.order_value,
               CASE WHEN v.order_value IS NULL THEN 'Unknown'
                    WHEN v.order_value < 50000 THEN 'Small'
                    WHEN v.order_value <= 200000 THEN 'Medium'
                    ELSE 'Large' END AS order_size
        FROM orders o LEFT JOIN order_values v ON o.o_orderkey = v.ok
        ORDER BY o.o_orderkey"""

  /** J2/J3: inner vs left join against a "frequent customers" dim — the
    * bonus.py:103-139 segment demo. No broadcast hint: the "frequent" side's
    * size is data-dependent (a constant fraction of all customers qualifies),
    * so forcing a broadcast would OOM at scale — AQE downgrades to broadcast
    * at runtime when the aggregated side actually is small. The left variant
    * keeps every customer with a null segment, the inner variant only
    * frequent ones.
    */
  private def frequent(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy("o_custkey").agg(countDistinct("o_orderkey").as("num_orders"))
      .filter(col("num_orders") >= 12)
      .withColumn("segment", lit("frequent"))

  def joinInnerFrequent(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
      .join(frequent(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "inner")
      .select("c_custkey", "c_name", "num_orders", "segment")
      .orderBy("c_custkey")

  def joinLeftFrequent(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_custkey"), col("c_name"))
      .join(frequent(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left")
      .select("c_custkey", "c_name", "num_orders", "segment")
      .orderBy("c_custkey")

  private def joinFrequentSql(joinType: String) =
    s"""WITH freq AS (
          SELECT o_custkey, COUNT(DISTINCT o_orderkey) AS num_orders,
                 'frequent' AS segment
          FROM orders GROUP BY 1 HAVING COUNT(DISTINCT o_orderkey) >= 12
        )
        SELECT c_custkey, c_name, num_orders, segment
        FROM customer $joinType JOIN freq ON c_custkey = o_custkey
        ORDER BY c_custkey"""

  /** Rollup subtotals (beyond the reference: SURVEY §2.4 notes it uses no
    * grouping sets — exposed here since the engine gets them free from
    * Catalyst): revenue by (returnflag, linestatus) with per-flag and grand
    * totals, `grouping_id` disambiguating subtotal rows. Ordering pins
    * NULLS FIRST explicitly — Spark's ASC default — because DuckDB defaults
    * to NULLS LAST.
    */
  /** `q2_join_eliminated`: the semantic-layer view pattern driven through
    * [[graft.plans.EliminateRedundantLeftJoin]] — a "wide view" pre-joins a
    * per-customer stats dimension onto orders, and this report reads ONLY
    * order columns. The injected optimizer rule proves the left join dead
    * (left outer; right is a unique-keyed Aggregate covered by the join
    * key; no parent reference touches it) and drops it WHOLE: the
    * optimized plan contains no join and never builds the dim
    * (PlanAssertionsSpec pins zero joins + a single scan). The oracle is
    * the no-join query — elimination must be semantically invisible.
    */
  def joinEliminatedQ(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val custStats = o.groupBy("o_custkey")
      .agg(count(lit(1)).as("cust_orders"),
        avg(col("o_totalprice")).as("cust_avg_price"))
      .withColumnRenamed("o_custkey", "ck")
    val wideView = o.join(custStats, col("o_custkey") === col("ck"), "left_outer")
    wideView.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(o_totalprice AS DECIMAL(12,2))")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val joinEliminatedSql =
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
       FROM orders GROUP BY 1 ORDER BY 1"""

  /** `tpch_q1_pricing`: the canonical TPC-H Q1 pricing summary (public
    * spec) — the yardstick plan every engine is judged on: one scan with a
    * pushed date filter, ONE map-side-combined (returnflag, linestatus)
    * aggregation computing eight metrics in a single pass, a 4-row result.
    * All money/quantity math in DECIMAL (quantities are integral, discounts
    * two-decimal) so every sum is exact and order-independent; the three
    * averages are single double divisions of exact aggregates at the final
    * projection. 2^53 bound: the widest group's sum_charge unscaled value
    * is 5.2e15 at sf0.1 — inside the exact-decimal→double window; past
    * ~sf0.2 the emission would switch to the limb-exact crossing
    * (`Profiling.hlSpark`, the in-repo template).
    */
  def tpchQ1(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .select(col("l_returnflag"), col("l_linestatus"),
        expr("CAST(l_quantity AS DECIMAL(12,2))").as("qty"),
        expr("CAST(l_extendedprice AS DECIMAL(12,2))").as("price"),
        expr("CAST(l_discount AS DECIMAL(12,2))").as("disc"),
        expr("CAST(l_tax AS DECIMAL(12,2))").as("tax"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty").as("sq"), sum("price").as("sp"),
        sum(expr("price * (1 - disc)")).as("sdp"),
        sum(expr("price * (1 - disc) * (1 + tax)")).as("sc"),
        sum("disc").as("sd"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        col("sq").cast("double").as("sum_qty"),
        col("sp").cast("double").as("sum_base_price"),
        col("sdp").cast("double").as("sum_disc_price"),
        col("sc").cast("double").as("sum_charge"),
        expr("CAST(sq AS DOUBLE) / count_order").as("avg_qty"),
        expr("CAST(sp AS DOUBLE) / count_order").as("avg_price"),
        expr("CAST(sd AS DOUBLE) / count_order").as("avg_disc"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  private val tpchQ1Sql =
    """SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l_discount AS DECIMAL(12,2)))
                       * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
              CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
              COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY 1, 2 ORDER BY 1, 2"""

  def rollupRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_lines"),
        sum(lineAmount).cast("double").as("revenue"))
      .select("l_returnflag", "l_linestatus", "gid", "n_lines", "revenue")
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  private val rollupRevenueSql =
    s"""SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               COUNT(*) AS n_lines,
               CAST(SUM($amountSql) AS DOUBLE) AS revenue
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""

  /** W1/W2 fidelity + full ranking-family breadth: `rank`/`dense_rank`/
    * `percent_rank`/`cume_dist` over the DATE ordering (value-based, so ties
    * — which the reference deliberately keeps, q2:191-196 — stay
    * deterministic), and the row-position functions `ntile`/`lead` over a
    * TOTAL order (date, orderkey) — row-based functions are only
    * deterministic under a total order. percent_rank/cume_dist are exact
    * small-integer ratios, identical in both engines.
    */
  def orderRank(spark: SparkSession, sfDir: String): DataFrame = {
    val byDate = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    val total = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      // cast: DuckDB rank/dense_rank/ntile are BIGINT; match the schema exactly
      .withColumn("order_rank", rank().over(byDate).cast("long"))
      .withColumn("order_dense_rank", dense_rank().over(byDate).cast("long"))
      .withColumn("pct_rank", percent_rank().over(byDate))
      .withColumn("cume", cume_dist().over(byDate))
      .withColumn("quartile", ntile(4).over(total).cast("long"))
      .withColumn("next_order", lead("o_orderkey", 1).over(total))
      .drop("o_orderdate")
      .orderBy("o_custkey", "o_orderkey")
  }

  private val orderRankSql =
    """SELECT o_custkey, o_orderkey,
              RANK() OVER wd AS order_rank,
              DENSE_RANK() OVER wd AS order_dense_rank,
              PERCENT_RANK() OVER wd AS pct_rank,
              CUME_DIST() OVER wd AS cume,
              NTILE(4) OVER wt AS quartile,
              LEAD(o_orderkey, 1) OVER wt AS next_order
       FROM orders
       WINDOW wd AS (PARTITION BY o_custkey ORDER BY o_orderdate),
              wt AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       ORDER BY o_custkey, o_orderkey"""

  /** Time-RANGE window frame (beyond W1-W4's row frames and ranking): per
    * customer, trailing-30-day order count and revenue — the frame is bounded
    * by a time DISTANCE (`rangeBetween` on epoch seconds ↔ SQL `RANGE BETWEEN
    * INTERVAL 30 DAY PRECEDING`), not a row count, so same-date peers are
    * always in-frame together and the result is order-independent under ties
    * (which row frames are not). Revenue accumulates in DECIMAL for the same
    * reason. Scale: one hash partition per customer, state bounded by the
    * 30-day span — no global sort until the presentation ORDER BY.
    */
  def trailingRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    // one concrete epoch column, not an inline expression: both window aggs
    // must order by the SAME attribute or Catalyst splits them into two
    // Window nodes with a re-sort between (PlanAssertionsSpec pins one)
    val w = Window.partitionBy("o_custkey").orderBy(col("__ts"))
      .rangeBetween(-30L * 86400, 0)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("__ts", unix_timestamp(col("o_orderdate"))) // NTZ→epoch under the session's UTC
      // pre-cast too: an inline cast becomes a Project BETWEEN the two
      // Window nodes, which blocks CollapseWindow just as surely
      .withColumn("__price", col("o_totalprice").cast(DecimalType(12, 2)))
      .withColumn("trailing_orders", count(lit(1)).over(w))
      .withColumn("trailing_revenue", sum(col("__price")).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("trailing_orders"), col("trailing_revenue"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val trailingRevenueSql =
    """SELECT o_custkey, o_orderkey,
              strftime(o_orderdate, '%Y-%m-%d') AS order_date,
              COUNT(*) OVER w AS trailing_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE)
                AS trailing_revenue
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
                    RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
       ORDER BY o_custkey, o_orderkey"""

  /** Market-basket co-occurrence: the top part pairs bought together in one
    * order — the self-join-on-basket shape (same calculus as the LSH band
    * and fuzzy-key joins: the basket id is the blocking key, so work is
    * Σ|basket|², bounded by basket size, never corpus²). Distinct parts per
    * basket first — duplicate line items would inflate pair counts — then
    * each unordered pair once via `<`. Top-k with a total (count DESC,
    * pair) tie-break.
    *
    * At 100 TB the skew knob is the occasional giant basket: cap or salt
    * baskets above a size threshold (the hot-window guard `dedup_span_
    * overlap` uses); AQE's skew split handles the shuffle side.
    */
  // items and top pairs memoized per corpus: the pair query and the rules
  // query share them (the r3 advice lesson — never re-execute a sibling
  // query's full pipeline as a subroutine)
  private[operators] def distinctItems(spark: SparkSession, sfDir: String): DataFrame =
    graft.Scratch.memoize(spark, s"$sfDir#basket#items") {
      Tables.lineitem(spark, sfDir).select("l_orderkey", "l_partkey").distinct()
    }

  /** Per-order SORTED distinct item array — the shared basket shape the
    * pair miners consume (r19): the items-⋈-items self-join on
    * `l_orderkey` re-shuffled both sides to co-locate what is already a
    * per-order set; grouping once and exploding ordered combinations
    * map-side emits the identical pair multiset with ONE exchange
    * (guide §2.4). Array state is bounded by order size — the
    * collect_list-per-order bound the nested Q3 family already carries.
    * Shared by [[topPairs]] and the PageRank adjacency build.
    */
  private[operators] def orderItemArrays(spark: SparkSession, sfDir: String): DataFrame =
    graft.Scratch.memoize(spark, s"$sfDir#basket#order_arrays") {
      distinctItems(spark, sfDir)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_partkey"))).as("parts"))
    }

  /** All (a, b) pairs with a < b from each order's sorted distinct item
    * array — map-only: element i paired with the array's tail past i. The
    * arrays hold DISTINCT items, so sorted order makes `a < b` strict by
    * construction; single-item orders contribute nothing (as in the
    * retired self-join).
    */
  private[operators] def orderPairs(spark: SparkSession, sfDir: String): DataFrame =
    orderItemArrays(spark, sfDir)
      .filter(size(col("parts")) >= 2)
      .select(col("parts"), explode(expr("sequence(1, size(parts) - 1)")).as("i"))
      .select(expr("element_at(parts, i)").as("part_a"),
        explode(expr("slice(parts, i + 1, size(parts) - i)")).as("part_b"))

  private def topPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.Scratch.memoize(spark, s"$sfDir#basket#top_pairs") {
      orderPairs(spark, sfDir)
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    }

  def basketPairsQ(spark: SparkSession, sfDir: String): DataFrame =
    topPairs(spark, sfDir)
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))

  private val basketPairsSql =
    """WITH items AS (
         SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       )
       SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
              COUNT(*) AS n_orders
       FROM items a JOIN items b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2
       ORDER BY n_orders DESC, part_a, part_b LIMIT 20"""

  /** Association rules over the top co-occurrence pairs: support,
    * directional confidence, and lift from exact counts (pair orders, each
    * part's orders, total orders). Every emitted double is one
    * fixed-shape division of exact longs — deterministic across engines.
    * Lift > 1 means the pair co-occurs more than independence predicts;
    * the single-part counts ride in as a broadcast (vocabulary-sized), the
    * total as a scalar subquery.
    */
  def basketRulesQ(spark: SparkSession, sfDir: String): DataFrame = {
    val items = distinctItems(spark, sfDir)
    val nOrders = items.select(countDistinct("l_orderkey").as("n")).scalar()
    val partCounts = items.groupBy("l_partkey").agg(count(lit(1)).as("n_part"))
    topPairs(spark, sfDir)
      .join(partCounts.select(col("l_partkey").as("part_a"), col("n_part").as("n_a")), "part_a")
      .join(partCounts.select(col("l_partkey").as("part_b"), col("n_part").as("n_b")), "part_b")
      .select(col("part_a"), col("part_b"), col("n_orders"), col("n_a"), col("n_b"),
        (col("n_orders").cast("double") / nOrders.cast("double")).as("support"),
        (col("n_orders").cast("double") / col("n_a").cast("double")).as("confidence_ab"),
        (col("n_orders").cast("double") * nOrders.cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("lift"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
  }

  private val basketRulesSql =
    """WITH items AS (
         SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
       ), n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders_total FROM items),
       pc AS (SELECT l_partkey, COUNT(*) AS n_part FROM items GROUP BY 1),
       top_pairs AS (
         SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
         FROM items a JOIN items b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         GROUP BY 1, 2 ORDER BY n_orders DESC, part_a, part_b LIMIT 20
       )
       SELECT part_a, part_b, n_orders, pa.n_part AS n_a, pb.n_part AS n_b,
              CAST(n_orders AS DOUBLE) / CAST(n_orders_total AS DOUBLE) AS support,
              CAST(n_orders AS DOUBLE) / CAST(pa.n_part AS DOUBLE) AS confidence_ab,
              CAST(n_orders AS DOUBLE) * CAST(n_orders_total AS DOUBLE)
                / (CAST(pa.n_part AS DOUBLE) * CAST(pb.n_part AS DOUBLE)) AS lift
       FROM top_pairs
       JOIN pc pa ON pa.l_partkey = part_a
       JOIN pc pb ON pb.l_partkey = part_b
       CROSS JOIN n
       ORDER BY n_orders DESC, part_a, part_b"""

  /** Explicit GROUPING SETS (completing the multi-level family next to
    * rollup and CUBE): per-status totals, per-priority totals, and the grand
    * total in ONE pass — a single Expand + one shuffle where three separate
    * aggregations would scan and shuffle three times. `grouping_id`
    * disambiguates the levels; nulls from the Expand are labeled 'ALL' so
    * the output is self-describing. Spark 4's `Dataset.groupingSets` API.
    */
  def groupingSetsQ(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    o.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast("double").as("revenue"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n_orders"), col("revenue"))
      .orderBy("gid", "status", "priority")
  }

  private val groupingSetsSql =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
              coalesce(o_orderpriority, 'ALL') AS priority,
              CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
              COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
       ORDER BY gid, status, priority"""

  /** The SQL front door: ONE engine-portable ANSI string (three-way join,
    * decimal money, CTE) executed verbatim by `spark.sql` over temp views
    * AND by the DuckDB oracle — proving a user can drive this engine with
    * plain SQL, not just the DataFrame API, and that the SQL dialect the
    * library commits to is portable. The string itself is the oracle entry.
    */
  val sqlFrontDoor: String =
    """WITH big AS (
         SELECT o_custkey, o_totalprice FROM orders
         WHERE o_totalprice > 150000
       )
       SELECT n_name, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
       FROM big
       JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name"""

  def sqlFrontDoorQ(spark: SparkSession, sfDir: String): DataFrame = {
    Seq("orders", "customer", "nation").foreach { t =>
      Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    spark.sql(sqlFrontDoor)
  }

  /** `q5_region_revenue`: the classic six-table star join (TPC-H Q5 shape) —
    * revenue per nation for 1996 orders where customer and supplier sit in
    * the same ASIA nation. This is the multi-way join-planning workout the
    * single-dim joins above don't exercise: at 100 TB the lineitem⋈orders
    * equi-join is the one real shuffle, while region→nation→customer/
    * supplier collapse into broadcast hash joins (region prunes nations
    * BEFORE the fact tables are touched, and the date filter pushes into
    * the orders scan) — exactly what AQE picks on these dim sizes, with
    * Catalyst free to reorder because the plan is declarative. Money stays
    * DECIMAL until the final projection (house rule — see [[lineAmount]]).
    */
  def regionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.region(spark, sfDir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val s = Tables.supplier(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_lines"),
        sum(lineAmount).cast("double").as("revenue"))
      .orderBy("n_name")
  }

  private val regionRevenueSql =
    """SELECT n_name, COUNT(*) AS n_lines,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                       * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       JOIN customer ON o_custkey = c_custkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation ON s_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01'
         AND o_orderdate < TIMESTAMP '1997-01-01'
       GROUP BY n_name ORDER BY n_name"""

  /** `topk_unshipped_revenue`: the TPC-H Q3 shape — the 10 highest-value
    * orders taken before the cutoff but still (partly) unshipped after it,
    * for one market segment. The scale content is the TOP-K ITSELF: a
    * global sort of the aggregated orders would shuffle every group to
    * order ten rows; `orderBy(...).limit(k)` instead compiles to
    * `TakeOrderedAndProject` — each task keeps a 10-row heap, the driver
    * merges task heaps, nothing but k rows ever leaves an executor. Ties
    * on revenue break by o_orderkey so the k-row cut is value-determined
    * in both engines.
    */
  val ShippingCutoff = "1998-06-01"

  def topkUnshippedRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit(ShippingCutoff).cast("timestamp"))
    val l = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit(ShippingCutoff).cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(lineAmount).cast("double").as("revenue"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(10)
  }

  private val topkUnshippedRevenueSql =
    s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '$ShippingCutoff'
          AND l_shipdate > TIMESTAMP '$ShippingCutoff'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, o_orderkey LIMIT 10"""

  /** `parts_abc_classification`: Pareto / ABC inventory analysis — parts
    * ranked by revenue, running cumulative share, and the classic A (≤70%
    * of revenue), B (≤90%), C classes. The warehouse query behind "which
    * 20% of the catalog earns 80% of the money".
    *
    * Determinism: revenue and its running cumulative stay DECIMAL (exact,
    * order-pinned by the (revenue DESC, partkey) total order); the share is
    * ONE double division of two exact decimals, and the class thresholds
    * compare that deterministic double. Unscaled cents stay far below 2^53
    * at bench scales (the limb-exact conversion in `Profiling` is the
    * documented fallback past it).
    *
    * Shape: one partkey aggregate, then a TWO-PHASE distributed prefix sum
    * for the cumulative (the `globalIndex` pattern in DataFrame form) —
    * a single-task global window over the part table would bottleneck a
    * 10⁹-part catalog on one executor. Phase 1: range-partition by the
    * (revenue DESC, partkey) total order, materialize once with each
    * row's partition id, and run the running sum PER PARTITION (parallel;
    * a range partition is a contiguous slice of the total order). Phase
    * 2: per-partition totals (one row per partition, cluster-sized not
    * data-sized) become exclusive prefix offsets via a tiny triangular
    * self-join, broadcast back, and added to the local running sums.
    * No window in the plan touches more than one partition's rows
    * (asserted in PlanAssertionsSpec). Result is invariant to where the
    * sampled range boundaries fall because the total order is unique
    * (partkey tie-break) and the offset algebra is exact DECIMAL.
    */
  def abcClassification(spark: SparkSession, sfDir: String): DataFrame = {
    // materialized once: every downstream branch (local sums, totals,
    // grand total) must see the SAME partition assignment — re-running
    // the range exchange could sample different boundaries per branch
    val parts = graft.Scratch.materialize(
      Tables.lineitem(spark, sfDir)
        .groupBy("l_partkey")
        .agg(sum(lineAmount).as("revenue_dec"))
        .repartitionByRange(col("revenue_dec").desc, col("l_partkey"))
        .withColumn("pid", spark_partition_id()),
      "graft_abc_parts")
    val localW = Window.partitionBy("pid")
      .orderBy(col("revenue_dec").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = parts.groupBy("pid").agg(sum("revenue_dec").as("ptotal"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.pid") < col("a.pid"), "left")
      .groupBy(col("a.pid").as("pid"))
      .agg(sum(col("b.ptotal")).as("prefix"))
    val grand = totals.agg(sum("ptotal").as("total_dec"))
    parts
      .withColumn("local_cum", sum("revenue_dec").over(localW))
      .join(broadcast(offsets), "pid")
      .crossJoin(broadcast(grand))
      .withColumn("cum_dec", coalesce(col("prefix"), lit(0)) + col("local_cum"))
      .withColumn("cum_share",
        col("cum_dec").cast("double") / col("total_dec").cast("double"))
      .withColumn("abc_class",
        when(col("cum_share") <= 0.7, "A")
          .when(col("cum_share") <= 0.9, "B").otherwise("C"))
      .select(col("l_partkey"), col("revenue_dec").cast("double").as("revenue"),
        col("cum_share"), col("abc_class"))
      .orderBy(desc("revenue"), col("l_partkey"))
  }

  private val abcClassificationSql =
    """WITH p AS (
         SELECT l_partkey,
                SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS revenue_dec
         FROM lineitem GROUP BY 1
       ), c AS (
         SELECT l_partkey, revenue_dec,
                SUM(revenue_dec) OVER (ORDER BY revenue_dec DESC, l_partkey
                                       ROWS UNBOUNDED PRECEDING) AS cum_dec,
                SUM(revenue_dec) OVER () AS total_dec
         FROM p
       )
       SELECT l_partkey, CAST(revenue_dec AS DOUBLE) AS revenue,
              CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) AS cum_share,
              CASE WHEN CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) <= 0.7 THEN 'A'
                   WHEN CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE) <= 0.9 THEN 'B'
                   ELSE 'C' END AS abc_class
       FROM c ORDER BY revenue DESC, l_partkey"""

  /** Semi / anti joins (SURVEY §2.3 note): customers with / without a pending
    * ('P') order. The status filter keeps the anti side non-empty and shows a
    * pushed-down predicate feeding a semi-join build side.
    */
  private def pendingOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "P")

  def joinSemi(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(pendingOrders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  def joinAnti(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(pendingOrders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** `join_notin_null_semantics`: the NOT IN footgun, quantified — SQL's
    * three-valued logic makes `x NOT IN (subquery)` yield UNKNOWN (never
    * true) for EVERY x as soon as the subquery contains one NULL, so a
    * single dirty row silently empties the report. One row compares the
    * two forms on the same data: the raw NOT IN against a subquery with
    * planted NULLs (0 survivors — Spark plans the null-aware anti join to
    * honor this) and the null-filtered form (the fix, a plain left-anti).
    * Exercises the null-aware anti-join path the plain `join_anti` row
    * never reaches.
    */
  def notInNullSemantics(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.customer(spark, sfDir).createOrReplaceTempView("g_customer")
    Tables.orders(spark, sfDir).createOrReplaceTempView("g_orders")
    // urgent orders' custkeys, with NULL planted for the 'P' status slice —
    // the dirty upstream every warehouse eventually meets
    spark.sql(
      """WITH sub AS (
           SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END AS k
           FROM g_orders WHERE o_orderpriority = '1-URGENT')
         SELECT (SELECT COUNT(*) FROM sub) AS n_subquery,
                (SELECT COUNT(*) FROM sub WHERE k IS NULL) AS n_nulls,
                (SELECT COUNT(*) FROM g_customer
                 WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_not_in,
                (SELECT COUNT(*) FROM g_customer
                 WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL))
                  AS n_not_in_filtered""")
  }

  private val notInNullSemanticsSql =
    """WITH sub AS (
         SELECT CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_custkey END AS k
         FROM orders WHERE o_orderpriority = '1-URGENT')
       SELECT (SELECT COUNT(*) FROM sub) AS n_subquery,
              (SELECT COUNT(*) FROM sub WHERE k IS NULL) AS n_nulls,
              (SELECT COUNT(*) FROM customer
               WHERE c_custkey NOT IN (SELECT k FROM sub)) AS n_not_in,
              (SELECT COUNT(*) FROM customer
               WHERE c_custkey NOT IN (SELECT k FROM sub WHERE k IS NOT NULL))
                AS n_not_in_filtered"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_notin_null_semantics" -> (notInNullSemantics _),
    "q2_customer_summary" -> (customerSummary _),
    "q2_customer_summary_udaf" -> (customerSummaryUdaf _),
    "q2_order_rank" -> (orderRank _),
    "q2_rollup_revenue" -> (rollupRevenue _),
    "q2_join_eliminated" -> (joinEliminatedQ _),
    "tpch_q1_pricing" -> (tpchQ1 _),
    "q2_cleaning" -> (cleaning _),
    "q2_order_windows" -> (orderWindows _),
    "q2_first_last_product" -> (firstLastProduct _),
    "q2_summary_stats" -> (summaryStats _),
    "bonus_order_size_native" -> (orderSizeNative _),
    "bonus_order_size_udf" -> (orderSizeUdf _),
    "bonus_join_inner" -> (joinInnerFrequent _),
    "bonus_join_left" -> (joinLeftFrequent _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "q2_trailing_revenue" -> (trailingRevenue _),
    "sql_frontdoor_revenue" -> (sqlFrontDoorQ _),
    "q5_region_revenue" -> (regionRevenue _),
    "topk_unshipped_revenue" -> (topkUnshippedRevenue _),
    "parts_abc_classification" -> (abcClassification _),
    "q2_grouping_sets" -> (groupingSetsQ _),
    "basket_pair_counts" -> (basketPairsQ _),
    "basket_rules" -> (basketRulesQ _),
  )

  override def oracle: Map[String, String] = Map(
    "q2_customer_summary" -> customerSummarySql,
    "q2_customer_summary_udaf" -> customerSummarySql,
    "q2_order_rank" -> orderRankSql,
    "q2_rollup_revenue" -> rollupRevenueSql,
    "q2_join_eliminated" -> joinEliminatedSql,
    "join_notin_null_semantics" -> notInNullSemanticsSql,
    "tpch_q1_pricing" -> tpchQ1Sql,
    "q2_cleaning" -> cleaningSql,
    "q2_order_windows" -> orderWindowsSql,
    "q2_first_last_product" -> firstLastProductSql,
    "q2_summary_stats" -> summaryStatsSql,
    "bonus_order_size_native" -> orderSizeSql,
    "bonus_order_size_udf" -> orderSizeSql,
    "bonus_join_inner" -> joinFrequentSql("INNER"),
    "bonus_join_left" -> joinFrequentSql("LEFT"),
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
         ORDER BY c_custkey""",
    "q2_trailing_revenue" -> trailingRevenueSql,
    "sql_frontdoor_revenue" -> sqlFrontDoor,
    "q5_region_revenue" -> regionRevenueSql,
    "topk_unshipped_revenue" -> topkUnshippedRevenueSql,
    "parts_abc_classification" -> abcClassificationSql,
    "q2_grouping_sets" -> groupingSetsSql,
    "basket_pair_counts" -> basketPairsSql,
    "basket_rules" -> basketRulesSql,
  )
}
