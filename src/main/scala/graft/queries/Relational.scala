package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational operator coverage over the TPC-H-ish testdata (SURVEY.md §2.4):
  * scans, filters/projections, joins (broadcast/shuffle/semi/anti), hash
  * aggregation (incl. rollup/cube/grouping sets/distinct), window functions,
  * sorts/limits/top-k, set ops, scalar functions, scalar subqueries.
  *
  * Each query has a DuckDB oracle in [[Relational.oracle]]; column names are
  * aliased identically on both sides (the driver sorts columns by name before
  * hashing). Double aggregates follow the decimal discipline in
  * [[graft.queries]].
  *
  * Scale posture (100 TB): dims (region/nation/customer/supplier/part) are
  * broadcast; fact-fact joins shuffle on their join keys once; every
  * aggregation is partial-before-shuffle (Catalyst hash agg); no query ever
  * collects to the driver.
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private def ts(lit0: String): Column = lit(lit0).cast(TimestampType)

  // --------------------------------------------------------------------------
  // q01 — TPC-H Q1-style pricing summary: scan + partial/final hash aggregate.
  // Map-side combine means the shuffle carries |groups| x partitions rows
  // regardless of input size.
  def q01_pricing_summary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base_price"),
        dsumN(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("sum_disc_price"),
        dsumN(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 8).as("sum_charge"),
        davg2(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val q01_sql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))), 2) AS DOUBLE) AS sum_disc_price,
      | CAST(round(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(27,8))), 2) AS DOUBLE) AS sum_charge,
      | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS DOUBLE) AS avg_qty,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --------------------------------------------------------------------------
  // q02 — filter + projection. Both the predicate and the 4-column ReadSchema
  // push down to the parquet scan (verified via explain in the bench pass).
  def q02_filter_project(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  private val q02_sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // --------------------------------------------------------------------------
  // q03 — TPC-H Q3-style: broadcast the filtered customer dim into orders,
  // shuffle-join lineitem on orderkey, aggregate, top-20. At 100 TB customer
  // may exceed broadcast threshold: AQE then falls back to shuffle join on
  // the same plan — no code change needed.
  def q03_top_unshipped_orders(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < ts("1998-01-01"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > ts("1998-01-01"))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsumN(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .select(col("o_orderkey"), col("revenue"), to_date(col("o_orderdate")).cast(StringType).as("orderdate"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  private val q03_sql =
    """SELECT o_orderkey,
      | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))), 2) AS DOUBLE) AS revenue,
      | CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin

  // --------------------------------------------------------------------------
  // q04 — semi join (EXISTS): orders having at least one high-quantity line.
  def q04_order_priority_semi(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem").filter(col("l_quantity") > 49)
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  private val q04_sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders WHERE EXISTS (
      |  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 49)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --------------------------------------------------------------------------
  // q05 — TPC-H Q5-style 6-table join: region/nation/supplier broadcast into
  // the customer->orders->lineitem chain; revenue per nation for one region.
  def q05_local_supplier_volume(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
    val l = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsumN(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private val q05_sql =
    """SELECT n_name,
      | CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(27,6))), 2) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin

  // --------------------------------------------------------------------------
  // q06 — TPC-H Q6-style scalar aggregate: pure scan-filter-sum, the query
  // whose whole cost at scale is the parquet scan (predicate fully pushed).
  def q06_forecast_revenue(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= ts("1996-01-01") && col("l_shipdate") < ts("1997-01-01")
        && col("l_discount") >= 0.03 && col("l_discount") <= 0.05 && col("l_quantity") < 24)
      .agg(dsumN(col("l_extendedprice") * col("l_discount"), 6).as("revenue"),
        count(lit(1)).as("n_lines"))

  private val q06_sql =
    """SELECT CAST(round(sum(CAST(l_extendedprice*l_discount AS DECIMAL(27,6))), 2) AS DOUBLE) AS revenue,
      | count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24""".stripMargin

  // --------------------------------------------------------------------------
  // q07 — top-k per group: top 3 lines by price per supplier. Sorted-slice
  // inside the per-supplier aggregation (struct sort key (−price, order,
  // line) = the rank order; rk = slice position) — one exchange, no
  // per-partition rank sort over the full table. Map-side partial
  // aggregation combines before the shuffle; the group array is bounded
  // by lines-per-supplier (the rank-window form, q71's family, is the
  // spill path for pathologically large single groups).
  def q07_topk_per_supplier(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      // Pre-partition by the group key (round-17): a collect_list partial
      // aggregate reduces NOTHING (it ships the full per-group arrays), so
      // map-side aggregation here is pure object-agg overhead — and on the
      // single-row-group bench scan it all ran on one core. Keyed
      // repartition keeps ONE exchange (the groupBy reuses the
      // partitioning) and moves the array build after it, parallel. Same
      // shuffle bytes at any scale (rows ≈ list entries). Spark still
      // plans a partial and a final aggregate; what the repartition
      // removes is the exchange between them, so both run on the
      // already-keyed partitions.
      .repartition(col("l_suppkey"))
      .groupBy(col("l_suppkey"))
      .agg(slice(sort_array(collect_list(struct(
        (-col("l_extendedprice")).as("np"), col("l_orderkey"),
        col("l_linenumber")))), 1, 3).as("top"))
      .select(col("l_suppkey"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("l_suppkey"), col("t.l_orderkey"), col("t.l_linenumber"),
        (-col("t.np")).as("l_extendedprice"),
        (col("pos") + 1).cast(IntegerType).as("rk"))
      .orderBy(col("l_suppkey"), col("rk"))

  private val q07_sql =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rk FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_suppkey
      |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
      |  FROM lineitem) WHERE rk <= 3
      |ORDER BY l_suppkey, rk""".stripMargin

  // --------------------------------------------------------------------------
  // q08 — running total per customer (analytic window with frame). The
  // cumulative sum is decimal inside the frame, so it is exact and
  // order-of-evaluation-independent across engines.
  def q08_running_order_total(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).cast(StringType).as("orderdate"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast(DoubleType).as("running_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  private val q08_sql =
    """SELECT o_custkey, o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
      |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  // --------------------------------------------------------------------------
  // q09 — ROLLUP: hierarchical aggregate (flag, flag+status, grand total).
  def q09_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q09_sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------------------
  // q10 — CUBE over order status x priority.
  def q10_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private val q10_sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------------------
  // q11 — GROUPING SETS: two independent groupings + grand total in one pass.
  def q11_grouping_sets(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty[Column]),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private val q11_sql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n
      |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // --------------------------------------------------------------------------
  // q12 — distinct aggregates (expand + two-phase agg under the hood).
  def q12_distinct_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_returnflag"))

  private val q12_sql =
    """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
      | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_lines
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // --------------------------------------------------------------------------
  // q13 — set operations: nations segmented by whether they have customers,
  // suppliers, or both (INTERSECT / EXCEPT are distinct-semantics in both
  // engines).
  def q13_set_ops(s: SparkSession, dir: String): DataFrame = {
    val custN = t(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
    val suppN = t(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
    val both = custN.intersect(suppN).withColumn("tag", lit("both"))
    val custOnly = custN.except(suppN).withColumn("tag", lit("cust_only"))
    val suppOnly = suppN.except(custN).withColumn("tag", lit("supp_only"))
    both.unionByName(custOnly).unionByName(suppOnly)
      .select(col("tag"), col("nk"))
      .orderBy(col("tag"), col("nk"))
  }

  private val q13_sql =
    """WITH custn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
      |     suppn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
      |SELECT 'both' AS tag, nk FROM (SELECT nk FROM custn INTERSECT SELECT nk FROM suppn)
      |UNION ALL
      |SELECT 'cust_only' AS tag, nk FROM (SELECT nk FROM custn EXCEPT SELECT nk FROM suppn)
      |UNION ALL
      |SELECT 'supp_only' AS tag, nk FROM (SELECT nk FROM suppn EXCEPT SELECT nk FROM custn)
      |ORDER BY tag, nk""".stripMargin

  // --------------------------------------------------------------------------
  // q14 — global sort + limit (Spark: TakeOrderedAndProject — no full sort of
  // the dataset, each partition keeps k rows then the driver merges k).
  def q14_top_orders(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).cast(StringType).as("orderdate"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(15)

  private val q14_sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin

  // --------------------------------------------------------------------------
  // q15 — anti join (NOT EXISTS): customers who never placed an urgent order.
  def q15_anti_join(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"), dsum2(col("c_acctbal")).as("sum_acctbal"))
      .orderBy(col("c_nationkey"))
  }

  private val q15_sql =
    """SELECT c_nationkey, count(*) AS n_customers,
      | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
      |FROM customer WHERE NOT EXISTS (
      |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  // --------------------------------------------------------------------------
  // q16 — scalar function library: string/math/conditional expressions,
  // all whole-stage-codegen built-ins, semantics identical to DuckDB.
  def q16_scalar_functions(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      substring(col("p_name"), 1, 4).as("name_pfx"),
      length(col("p_name")).as("name_len"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      abs(col("p_retailprice") - 1000.0).as("price_dev"),
      floor(col("p_retailprice")).cast(LongType).as("price_floor"),
      ceil(col("p_retailprice")).cast(LongType).as("price_ceil"),
      sqrt(col("p_size").cast(DoubleType)).as("size_sqrt"),
      (col("p_size") % 5).as("size_mod"),
      when(col("p_size") >= 30, "L").when(col("p_size") >= 10, "M").otherwise("S").as("size_class")
    ).orderBy(col("p_partkey"))

  private val q16_sql =
    """SELECT p_partkey,
      | upper(p_name) AS name_upper,
      | substring(p_name, 1, 4) AS name_pfx,
      | length(p_name) AS name_len,
      | concat_ws('|', p_brand, p_type) AS brand_type,
      | abs(p_retailprice - 1000.0) AS price_dev,
      | CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
      | CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
      | sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt,
      | p_size % 5 AS size_mod,
      | CASE WHEN p_size >= 30 THEN 'L' WHEN p_size >= 10 THEN 'M' ELSE 'S' END AS size_class
      |FROM part ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------------------
  // q17 — HAVING: brands with enough distinct sizes.
  def q17_having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .groupBy(col("p_brand"))
      .agg(countDistinct(col("p_size")).as("n_sizes"), count(lit(1)).as("n_parts"))
      .filter(col("n_sizes") >= 10)
      .orderBy(col("p_brand"))

  private val q17_sql =
    """SELECT p_brand, count(DISTINCT p_size) AS n_sizes, count(*) AS n_parts
      |FROM part GROUP BY p_brand HAVING count(DISTINCT p_size) >= 10
      |ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------------------
  // q18 — TPC-H Q18-style: large-volume orders. Aggregate lineitem first
  // (reduces the fact side before the join), then join orders + customer.
  def q18_large_orders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(dsum2(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300)
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).cast(StringType).as("orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  private val q18_sql =
    """SELECT c_name, c_custkey, o_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS orderdate,
      | o_totalprice, total_qty
      |FROM (SELECT l_orderkey,
      |        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |      FROM lineitem GROUP BY l_orderkey
      |      HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300) big
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin

  // --------------------------------------------------------------------------
  // q19 — conditional aggregation (sum/count over CASE).
  def q19_conditional_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"),
        count(when(col("o_orderpriority") =!= "1-URGENT", 1)).as("n_other"),
        dsumN(when(col("o_totalprice") > 200000, col("o_totalprice")).otherwise(0.0), 2).as("big_price_sum"))
      .orderBy(col("o_orderstatus"))

  private val q19_sql =
    """SELECT o_orderstatus,
      | count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
      | count(CASE WHEN o_orderpriority <> '1-URGENT' THEN 1 END) AS n_other,
      | CAST(sum(CAST(CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0.0 END
      |   AS DECIMAL(27,2))) AS DOUBLE) AS big_price_sum
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // --------------------------------------------------------------------------
  // q20 — scalar subquery: parts priced above the global mean. The 1-row
  // aggregate is broadcast into the scan (no driver collect).
  def q20_above_avg_parts(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val avgPrice = p.agg((dsum2(col("p_retailprice")) / count(lit(1))).cast(DoubleType).as("avg_price"))
    p.crossJoin(broadcast(avgPrice))
      .filter(col("p_retailprice") > col("avg_price"))
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  private val q20_sql =
    """SELECT p_partkey, p_name, p_retailprice FROM part
      |WHERE p_retailprice > (
      |  SELECT CAST(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS DOUBLE)
      |  FROM part)
      |ORDER BY p_partkey""".stripMargin

  // --------------------------------------------------------------------------

  // --------------------------------------------------------------------------
  // q46 — explicitly salted skewed join (graft.operators.Skew): fact side
  // salted 8 ways, dim side replicated, result identical to the plain join
  // (which is exactly what the oracle computes).
  def q46_salted_skew_join(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("partkey"), col("l_quantity"))
    val p = Tables.load(s, dir, "part")
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    graft.operators.Skew.saltedJoin(li, p, Seq("partkey"), 8)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  private val q46_sql =
    """SELECT p_brand, count(*) AS n,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // --------------------------------------------------------------------------
  // q69 — exact per-group percentiles the DISTRIBUTED way (ext.Stats):
  // histogram + cumulative rank, never a per-group sort or percentile()
  // buffer. Prices are floor-scaled to integer cents first: rank selection
  // is then pure integer comparison, and the only floating steps (the
  // even-median halving, the rank product) are single fixed-association
  // IEEE ops — hash-exact across engines, unlike interpolating percentile
  // built-ins.
  def q69_group_percentiles(s: SparkSession, dir: String): DataFrame = {
    val cents = t(s, dir, "lineitem").select(col("l_returnflag"),
      floor(col("l_extendedprice") * lit(100.0)).as("cents"))
    graft.ext.Stats.groupedPercentiles(cents, "l_returnflag", "cents",
        discPs = Seq(0.9))
      .orderBy(col("l_returnflag"))
  }

  private val q69_sql =
    """WITH h AS (
      |  SELECT l_returnflag AS g, CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
      |    count(*) AS cnt
      |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
      |c AS (
      |  SELECT g, v, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
      |    CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n
      |  FROM h)
      |SELECT g AS l_returnflag, CAST(max(n) AS BIGINT) AS n,
      |  CAST(max(CASE WHEN cum - cnt < (n + 1) // 2 AND (n + 1) // 2 <= cum THEN v END) +
      |       max(CASE WHEN cum - cnt < (n + 2) // 2 AND (n + 2) // 2 <= cum THEN v END)
      |    AS DOUBLE) / 2.0 AS median,
      |  CAST(max(CASE WHEN cum - cnt < CAST(ceil(0.9 * n) AS BIGINT)
      |                 AND CAST(ceil(0.9 * n) AS BIGINT) <= cum THEN v END)
      |    AS BIGINT) AS p90
      |FROM c GROUP BY g ORDER BY g""".stripMargin

  // --------------------------------------------------------------------------
  // q70 — fixed-width histogram ($100 buckets over extended price): the
  // distribution-profiling op behind threshold choices. Bucket index is
  // one IEEE subtract/divide/floor — identical in any engine; counts and
  // min/max are exact pass-throughs.
  def q70_price_histogram(s: SparkSession, dir: String): DataFrame =
    graft.ext.Stats.histogram(t(s, dir, "lineitem"), "l_extendedprice",
        lo = 0.0, width = 100.0)
      .orderBy(col("bucket"))

  private val q70_sql =
    """SELECT CAST(floor((l_extendedprice - 0.0) / 100.0) AS BIGINT) AS bucket,
      |  count(*) AS cnt, min(l_extendedprice) AS v_min, max(l_extendedprice) AS v_max
      |FROM lineitem WHERE l_extendedprice IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --------------------------------------------------------------------------
  // q71 — the full ranking-function family in one window (row_number, rank,
  // dense_rank, ntile, percent_rank, cume_dist) per customer by price.
  // The ordering key is made UNIQUE (price desc, orderkey) so every rank
  // function is deterministic; percent_rank/cume_dist are single integer
  // divisions under a unique order — hash-exact across engines.
  def q71_rank_family(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .withColumn("rk", rank().over(w))
      .withColumn("drk", dense_rank().over(w))
      .withColumn("nt", ntile(4).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .filter(col("rn") <= 8)
      .orderBy(col("o_custkey"), col("rn"))
  }

  private val q71_sql =
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER w AS rn,
      |    rank() OVER w AS rk,
      |    dense_rank() OVER w AS drk,
      |    ntile(4) OVER w AS nt,
      |    percent_rank() OVER w AS pr,
      |    cume_dist() OVER w AS cd
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rn <= 8 ORDER BY o_custkey, rn""".stripMargin

  // --------------------------------------------------------------------------
  // q72 — blocked fuzzy matching (entity resolution): a deterministically
  // "dirtied" feed (one appended typo letter keyed on the part id) is
  // matched against the clean catalog — blocking on the first name token,
  // exact levenshtein ≤ 1 verify (Dedup.fuzzyMatchPairs). The fixture's
  // names carry no natural typos (all dist ≤ 2 pairs are exact copies), so
  // the dirty feed is planted q63-style: both engines derive the identical
  // input, and the edit-distance verify is exercised for real.
  def q72_fuzzy_name_match(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part").filter(col("p_partkey") < 500)
    val clean = p.select(col("p_partkey").as("id"), col("p_name").as("name"))
    val dirty = p.select((col("p_partkey") + 100000L).as("id"),
      concat(col("p_name"), lit("abcdefghijklmnopqrstuvwxyz")
        .substr(pmod(col("p_partkey"), lit(26L)).cast(IntegerType) + 1, lit(1))).as("name"))
    graft.ext.Dedup.fuzzyMatchPairs(clean.unionByName(dirty),
        block = element_at(split(col("name"), " ", -1), 1), maxEdit = 1)
      .filter(col("i") < 100000L && col("j") >= 100000L)
      .orderBy(col("i"), col("j"))
  }

  private val q72_sql =
    """WITH p AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < 500),
      |u AS (
      |  SELECT p_partkey AS id, p_name AS name FROM p
      |  UNION ALL
      |  SELECT p_partkey + 100000 AS id,
      |    p_name || substr('abcdefghijklmnopqrstuvwxyz',
      |      CAST(p_partkey % 26 AS INT) + 1, 1) AS name FROM p),
      |b AS (SELECT id, name, string_split(name, ' ')[1] AS blk FROM u),
      |sz AS (SELECT blk FROM b GROUP BY blk HAVING count(*) <= 500),
      |bb AS (SELECT b.id, b.name, b.blk FROM b JOIN sz USING (blk))
      |SELECT x.id AS i, y.id AS j, levenshtein(x.name, y.name) AS edit_dist
      |FROM bb x JOIN bb y ON x.blk = y.blk AND x.id < y.id
      |WHERE levenshtein(x.name, y.name) <= 1
      |  AND x.id < 100000 AND y.id >= 100000
      |ORDER BY i, j""".stripMargin

  // --------------------------------------------------------------------------
  // q73 — FULL OUTER join of two sparse aggregates (high-balance customer
  // and supplier counts per nation): each side misses nations the other
  // has, so both outer directions actually fire. Shuffle on the join key;
  // coalesced zero counts keep the output null-free and hash-stable.
  def q73_full_outer(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nationkey")).agg(count(lit(1)).as("n_cust"))
    val su = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
      .groupBy(col("s_nationkey").as("nationkey")).agg(count(lit(1)).as("n_supp"))
    c.join(su, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  private val q73_sql =
    """WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust
      |           FROM customer WHERE c_acctbal > 9000 GROUP BY 1),
      |s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp
      |      FROM supplier WHERE s_acctbal > 9000 GROUP BY 1)
      |SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
      |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
      |ORDER BY nationkey""".stripMargin

  // --------------------------------------------------------------------------
  // q74 — the SQL entry surface: temp views + spark.sql with correlated
  // EXISTS / NOT EXISTS subqueries (Catalyst rewrites them to semi/anti
  // joins — same physical shapes as q04/q15, reached through SQL instead
  // of the DataFrame API). The oracle runs the equivalent SQL in DuckDB.
  def q74_sql_exists(s: SparkSession, dir: String): DataFrame = {
    Tables.registerViews(s, dir)
    s.sql("""
      SELECT c_custkey, c_name FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        AND NOT EXISTS (SELECT 1 FROM orders o2
                        WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
      ORDER BY c_custkey""")
  }

  private val q74_sql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q69_group_percentiles" -> (q69_group_percentiles _),
    "q71_rank_family" -> (q71_rank_family _),
    "q72_fuzzy_name_match" -> (q72_fuzzy_name_match _),
    "q73_full_outer" -> (q73_full_outer _),
    "q74_sql_exists" -> (q74_sql_exists _),
    "q70_price_histogram" -> (q70_price_histogram _),
    "q01_pricing_summary" -> (q01_pricing_summary _),
    "q02_filter_project" -> (q02_filter_project _),
    "q03_top_unshipped_orders" -> (q03_top_unshipped_orders _),
    "q04_order_priority_semi" -> (q04_order_priority_semi _),
    "q05_local_supplier_volume" -> (q05_local_supplier_volume _),
    "q06_forecast_revenue" -> (q06_forecast_revenue _),
    "q07_topk_per_supplier" -> (q07_topk_per_supplier _),
    "q08_running_order_total" -> (q08_running_order_total _),
    "q09_rollup" -> (q09_rollup _),
    "q10_cube" -> (q10_cube _),
    "q11_grouping_sets" -> (q11_grouping_sets _),
    "q12_distinct_agg" -> (q12_distinct_agg _),
    "q13_set_ops" -> (q13_set_ops _),
    "q14_top_orders" -> (q14_top_orders _),
    "q15_anti_join" -> (q15_anti_join _),
    "q16_scalar_functions" -> (q16_scalar_functions _),
    "q17_having" -> (q17_having _),
    "q18_large_orders" -> (q18_large_orders _),
    "q19_conditional_agg" -> (q19_conditional_agg _),
    "q20_above_avg_parts" -> (q20_above_avg_parts _),
    "q46_salted_skew_join" -> (q46_salted_skew_join _)
  )

  def oracle: Map[String, String] = Map(
    "q69_group_percentiles" -> q69_sql,
    "q71_rank_family" -> q71_sql,
    "q72_fuzzy_name_match" -> q72_sql,
    "q73_full_outer" -> q73_sql,
    "q74_sql_exists" -> q74_sql,
    "q70_price_histogram" -> q70_sql,
    "q01_pricing_summary" -> q01_sql,
    "q02_filter_project" -> q02_sql,
    "q03_top_unshipped_orders" -> q03_sql,
    "q04_order_priority_semi" -> q04_sql,
    "q05_local_supplier_volume" -> q05_sql,
    "q06_forecast_revenue" -> q06_sql,
    "q07_topk_per_supplier" -> q07_sql,
    "q08_running_order_total" -> q08_sql,
    "q09_rollup" -> q09_sql,
    "q10_cube" -> q10_sql,
    "q11_grouping_sets" -> q11_sql,
    "q12_distinct_agg" -> q12_sql,
    "q13_set_ops" -> q13_sql,
    "q14_top_orders" -> q14_sql,
    "q15_anti_join" -> q15_sql,
    "q16_scalar_functions" -> q16_sql,
    "q17_having" -> q17_sql,
    "q18_large_orders" -> q18_sql,
    "q19_conditional_agg" -> q19_sql,
    "q20_above_avg_parts" -> q20_sql,
    "q46_salted_skew_join" -> q46_sql
  )
}
