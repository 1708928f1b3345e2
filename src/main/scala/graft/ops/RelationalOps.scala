package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{DerivedCache, Scratch, Sources}

/** Generalized relational operator surface (SURVEY.md §7.2 M3): the join
  * variants, set ops, generators, window frames and grouping sets the
  * reference never uses but a complete engine must expose.
  *
  * Numeric determinism: sums of money go through DECIMAL(18,2); products
  * (e.g. revenue = extprice * (1 - discount)) are computed per-row in
  * IEEE double with explicit parenthesization — identical bits in any
  * engine — then cast to DECIMAL(18,6) before the (order-insensitive)
  * exact decimal sum. A finite binary double can never sit exactly on a
  * 1e-6 rounding tie, so HALF_UP vs HALF_EVEN cannot diverge either.
  */
object RelationalOps {

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Portable deterministic money-sum: decimal accumulate, double out. */
  private def moneySum(c: Column): Column = sum(dec2(c)).cast("double")

  /** revenue-style product aggregated exactly; `prod` must be a plain
    * double expression with explicit parens mirrored in the oracle SQL.
    */
  private def prodSum(prod: Column): Column =
    sum(prod.cast("decimal(18,6)")).cast("double")

  /** Left-semi join: customers that placed at least one open order. */
  val r01 = OpQuery.oracled("r01_semi_join_open_orders",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin,
    doc = "left_semi join (EXISTS) — generalized join surface, SURVEY.md §2.3") { (spark, dir) =>
    val customer = Sources.table(spark, dir, "customer")
    val open = Sources.table(spark, dir, "orders").filter(col("o_orderstatus") === "O")
    customer.join(open, customer("c_custkey") === open("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti join: customers with no orders at all, rolled up by
    * segment so the result stays small at any SF.
    */
  val r02 = OpQuery.oracled("r02_anti_join_no_orders",
    """SELECT c_mktsegment, count(*) AS cnt FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    doc = "left_anti join (NOT EXISTS)") { (spark, dir) =>
    val customer = Sources.table(spark, dir, "customer")
    val orders = Sources.table(spark, dir, "orders")
    customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")
  }

  /** Left outer join with null-aware aggregation: every customer with
    * order count (0 for the unmatched) and total spend.
    */
  val r03 = OpQuery.oracled("r03_left_join_order_stats",
    """SELECT c_custkey,
      |       count(o_orderkey) AS n_orders,
      |       coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spend
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY c_custkey""".stripMargin,
    doc = "left outer join; count(col) vs count(*) null semantics (A6)") { (spark, dir) =>
    val customer = Sources.table(spark, dir, "customer")
    val orders = Sources.table(spark, dir, "orders")
    customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(moneySum(col("o_totalprice")), lit(0.0)).as("total_spend"))
      .orderBy("c_custkey")
  }

  /** Set operations: customers active only in 1997, only in 1998, or in
    * both — except/intersect over projected key sets.
    */
  val r04 = OpQuery.oracled("r04_set_ops_active_customers",
    """WITH y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
      |     y98 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
      |SELECT 'both' AS bucket, count(*) AS cnt FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)
      |UNION ALL
      |SELECT 'only_1997' AS bucket, count(*) AS cnt FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98)
      |UNION ALL
      |SELECT 'only_1998' AS bucket, count(*) AS cnt FROM (SELECT * FROM y98 EXCEPT SELECT * FROM y97)
      |ORDER BY bucket""".stripMargin,
    doc = "union / except / intersect (O3)") { (spark, dir) =>
    val orders = Sources.table(spark, dir, "orders")
    def active(yr: Int) = orders
      .filter(year(col("o_orderdate")) === yr)
      .select("o_custkey").distinct()
    // each except/intersect branch scans both sets; persist them once
    val y97 = active(1997).persist()
    val y98 = active(1998).persist()
    def counted(df: DataFrame, bucket: String) =
      df.agg(count(lit(1)).as("cnt")).select(lit(bucket).as("bucket"), col("cnt"))
    counted(y97.intersect(y98), "both")
      .unionAll(counted(y97.except(y98), "only_1997"))
      .unionAll(counted(y98.except(y97), "only_1998"))
      .orderBy("bucket")
  }

  /** Generator / explode: word frequencies over part names. */
  val r05 = OpQuery.oracled("r05_explode_part_words",
    """SELECT word, count(*) AS cnt
      |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
      |GROUP BY 1 ORDER BY word""".stripMargin,
    doc = "explode(split(...)) — Catalyst Generator axis (§2.8)") { (spark, dir) =>
    Sources.table(spark, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")
  }

  /** Window frame: running total of spend per customer over order date.
    * The decimal-typed running sum keeps partial order irrelevant.
    */
  val r06 = OpQuery.oracled("r06_running_total_per_customer",
    """SELECT o_custkey, o_orderkey,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |            OVER (PARTITION BY o_custkey
      |                  ORDER BY o_orderdate, o_orderkey
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |         AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin,
    doc = "window frame rowsBetween (W-generalized; reference uses no frames)") { (spark, dir) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Sources.table(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec2(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** lag/lead: average days between consecutive orders, per segment. */
  val r07 = OpQuery.oracled("r07_order_gap_per_segment",
    """WITH gaps AS (
      |  SELECT o_custkey,
      |         date_diff('day',
      |                   lag(o_orderdate) OVER (PARTITION BY o_custkey
      |                                          ORDER BY o_orderdate, o_orderkey),
      |                   o_orderdate) AS gap_days
      |  FROM orders
      |)
      |SELECT c_mktsegment,
      |       count(gap_days) AS n_gaps,
      |       avg(gap_days) AS avg_gap_days
      |FROM gaps JOIN customer ON o_custkey = c_custkey
      |WHERE gap_days IS NOT NULL
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    doc = "lag over ordered partitions (W-generalized)") { (spark, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val orders = Sources.table(spark, dir, "orders")
    val customer = Sources.table(spark, dir, "customer")
    val gaps = orders
      .withColumn("gap_days", datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w)))
      .filter(col("gap_days").isNotNull)
    gaps.join(customer, gaps("o_custkey") === customer("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(col("gap_days")).as("n_gaps"), avg(col("gap_days")).as("avg_gap_days"))
      .orderBy("c_mktsegment")
  }

  /** Rollup over the region/nation hierarchy. */
  val r08 = OpQuery.oracled("r08_rollup_spend_by_region_nation",
    """SELECT coalesce(r_name, 'ALL') AS region_name,
      |       coalesce(n_name, 'ALL') AS nation_name,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY region_name, nation_name""".stripMargin,
    doc = "rollup / grouping sets (generalized aggregation surface)") { (spark, dir) =>
    val orders = Sources.table(spark, dir, "orders")
    val customer = Sources.table(spark, dir, "customer")
    val nation = Sources.table(spark, dir, "nation")
    val region = Sources.table(spark, dir, "region")
    // SQL entry point on purpose: proves the temp-view + spark.sql path
    // (SURVEY.md §3.3) and sidesteps rollup's grouping-column ambiguity
    // under the DataFrame resolver.
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select("r_name", "n_name", "o_totalprice")
      .createOrReplaceTempView("r08_flat")
    spark.sql(
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        |       coalesce(n_name, 'ALL') AS nation_name,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM r08_flat
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin)
  }

  /** HLL cardinality via the engine-native sketch
    * (`approx_count_distinct`). Its register layout is engine-private
    * and its raw estimate is not portable to another engine — so the
    * oracle checks the sketch's PUBLIC contract instead: the estimate
    * must land within the documented relative-error bound of the exact
    * count (3σ at the default rsd = 0.05, floored at 16 for tiny
    * groups). The exact distinct count in the output is the contract's
    * measuring stick the oracle re-derives; the 100 TB production path
    * is the sketch alone (see r34 for the from-first-principles HLL
    * whose registers ARE value-oracled). A broken sketch path — zeros,
    * garbage, misrouted column — fails this check loudly, which is what
    * the old rows-only entry could not do.
    */
  val r09 = OpQuery.oracled("r09_approx_distinct_parts",
    """SELECT l_returnflag,
      |       count(*) AS cnt,
      |       TRUE AS est_in_bound,
      |       count(DISTINCT l_partkey) AS exact_parts
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY l_returnflag""".stripMargin,
    doc = "approx_count_distinct (HLL) per return flag — the 100 TB path for distinct counts; oracled on the sketch's rsd contract vs the exact count") { (spark, dir) =>
    Sources.table(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("cnt"),
        approx_count_distinct(col("l_partkey")).as("_est"))
      .select(col("l_returnflag"), col("cnt"),
        (abs(col("_est") - col("exact_parts")).cast("double") <=
          greatest(lit(3.0 * 0.05) * col("exact_parts"), lit(16.0)))
          .as("est_in_bound"),
        col("exact_parts"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q1 shape: pricing summary over lineitem — the engine's
    * bulk-scan + multi-aggregate workhorse.
    */
  val r10 = OpQuery.oracled("r10_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |       CAST(sum(CAST(((l_extendedprice * (1 - l_discount)) * (1 + l_tax)) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
      |       CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    doc = "TPC-H Q1 pricing summary (A1/A2/A6 generalized; public TPC-H spec)") { (spark, dir) =>
    val li = Sources.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2001-09-02 00:00:00")))
    val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = (col("l_extendedprice") * (lit(1) - col("l_discount"))) * (lit(1) + col("l_tax"))
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        prodSum(discPrice).as("sum_disc_price"),
        prodSum(charge).as("sum_charge"),
        (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (moneySum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q5 shape: revenue by nation for a year — the multi-way
    * big⋈big⋈dim join; lineitem⋈orders shuffles once on orderkey,
    * dims broadcast.
    */
  val r11 = OpQuery.oracled("r11_revenue_by_nation",
    """SELECT n_name,
      |       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE year(o_orderdate) = 1997
      |GROUP BY 1 ORDER BY n_name""".stripMargin,
    doc = "TPC-H Q5 shape: fact-fact join + broadcast dims (public TPC-H spec)") { (spark, dir) =>
    val li = Sources.table(spark, dir, "lineitem")
    val orders = Sources.table(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1997)
    val customer = Sources.table(spark, dir, "customer")
    val nation = Sources.table(spark, dir, "nation")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy("n_name")
      .agg(
        prodSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  /** TPC-H Q3 shape: top-10 revenue orders for one segment —
    * TakeOrderedAndProject keeps the global top-k scalable.
    */
  val r12 = OpQuery.oracled("r12_top_orders_building",
    """SELECT o_orderkey,
      |       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       CAST(year(o_orderdate) AS INT) AS order_year
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, year(o_orderdate)
      |ORDER BY revenue DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin,
    doc = "TPC-H Q3 shape: global top-k via TakeOrderedAndProject (public TPC-H spec)") { (spark, dir) =>
    val li = Sources.table(spark, dir, "lineitem")
    val orders = Sources.table(spark, dir, "orders")
    val customer = Sources.table(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING")
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("o_orderkey"), year(col("o_orderdate")).as("order_year"))
      .agg(prodSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .select("o_orderkey", "revenue", "order_year")
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q13 shape (public spec): the distribution of customers by
    * how many open orders they have — a left join with a JOIN-SIDE
    * predicate (so zero-order customers survive with count 0), then an
    * aggregate OF an aggregate. The second group-by runs on one row per
    * customer, so the heavy shuffle happens exactly once, on the join
    * key; the count-of-counts rollup is near-free.
    */
  val r30 = OpQuery.oracled("r30_order_count_distribution",
    """WITH pc AS (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer
      |  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'O'
      |  GROUP BY 1
      |)
      |SELECT c_count, count(*) AS custdist
      |FROM pc GROUP BY 1
      |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    doc = "TPC-H Q13 shape: left join with join-side predicate, then count-of-counts distribution (public TPC-H spec)") { (spark, dir) =>
    val c = Sources.table(spark, dir, "customer").select("c_custkey")
    val o = Sources.table(spark, dir, "orders")
      .filter(col("o_orderstatus") === "O")
      .select("o_custkey", "o_orderkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** GROUPING SETS with ARBITRARY (non-hierarchical) sets — the case
    * neither ROLLUP (r08) nor CUBE (r13) covers: two independent
    * marginals plus the joint, WITHOUT the grand total a rollup would
    * force in. grouping() disambiguates a real NULL-less 'ALL' from a
    * grouped value; one Expand + one aggregate, same single-shuffle
    * cost profile as a plain GROUP BY at 100 TB (Expand multiplies rows
    * by the set count BEFORE partial aggregation absorbs them).
    */
  val r32 = OpQuery.oracled("r32_grouping_sets_spend",
    """SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS region_name,
      |       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
      |       count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name), (o_orderpriority))
      |ORDER BY region_name, priority""".stripMargin,
    doc = "arbitrary GROUPING SETS (joint + two marginals, no grand total) with grouping() disambiguation") { (spark, dir) =>
    val orders = Sources.table(spark, dir, "orders")
    val customer = Sources.table(spark, dir, "customer")
    val nation = Sources.table(spark, dir, "nation")
    val region = Sources.table(spark, dir, "region")
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select("r_name", "o_orderpriority", "o_totalprice")
      .createOrReplaceTempView("r32_flat")
    spark.sql(
      """SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS region_name,
        |       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL' ELSE o_orderpriority END AS priority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM r32_flat
        |GROUP BY GROUPING SETS ((r_name, o_orderpriority), (r_name), (o_orderpriority))
        |ORDER BY region_name, priority""".stripMargin)
  }

  /** TPC-H Q21 shape (public spec; "late" adapted to the schema's
    * l_shipdate > o_orderdate + 60 days): suppliers who were the SOLE
    * late supplier in a finished multi-supplier order. The oracle keeps
    * the canonical correlated EXISTS / NOT EXISTS form; the engine
    * reformulates both subqueries into ONE per-order aggregate —
    * n_suppliers and n_late_suppliers via distinct-count — joined back
    * to the late lines. That turns two correlated fact self-probes
    * (each a repeated scan at 100 TB) into two shuffles on uniform
    * order keys, and hash-parity proves the rewrite exact.
    */
  val r38 = OpQuery.oracled("r38_waiting_supplier",
    """SELECT s.s_name, count(*) AS numwait
      |FROM lineitem l1
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
      |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
      |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s_name""".stripMargin,
    doc = "TPC-H Q21 waiting-supplier: correlated EXISTS pair rewritten as per-order distinct-set windows (single fact pass)") { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val ord = Sources.table(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val lo = Sources.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    // ONE pass over the fact join: both EXISTS subqueries become
    // distinct-set windows on the order key. The collect_set windows
    // are safe precisely because an order's line group is bounded
    // (<= 7 rows) — this is not the r15 anti-pattern; a join back to a
    // groupBy would scan the fact join twice (measured: no
    // ReusedExchange).
    val w = Window.partitionBy("l_orderkey")
    val supp = Sources.table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    lo
      .withColumn("n_supp", size(collect_set(col("l_suppkey")).over(w)))
      .withColumn("n_late_supp",
        size(collect_set(when(col("late"), col("l_suppkey"))).over(w)))
      .filter(col("late") && col("n_supp") > 1 && col("n_late_supp") === 1)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q17 shape (public spec): revenue sitting in "small" orders —
    * lineitems whose quantity is below 20% of their part's average, for
    * one brand. The canonical form is a correlated scalar subquery
    * (`l_quantity < 0.2 * (SELECT avg ... WHERE l_partkey = ...)`); the
    * engine decorrelates it into a per-part pre-aggregate joined back,
    * and keeps the comparison in exact integer arithmetic
    * (`qty * 5 * n < sum_qty` ⇔ `qty < 0.2 * avg`) so no float divide
    * ever happens. The brand filter (a broadcast of the tiny part
    * subset) prunes the fact scan BEFORE the per-part aggregate — at
    * 100 TB the avg is computed only over the brand's lineitems, not
    * re-derived per probe row the way the correlated form implies.
    */
  val r41 = OpQuery.oracled("r41_small_quantity_revenue",
    """WITH pa AS (
      |  SELECT l.l_partkey, count(*) AS n_li,
      |         sum(CAST(l.l_quantity AS BIGINT)) AS sum_qty
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
      |  GROUP BY 1
      |)
      |SELECT CAST(count(*) AS BIGINT) AS n_small,
      |       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
      |FROM lineitem l
      |JOIN pa ON pa.l_partkey = l.l_partkey
      |WHERE CAST(l.l_quantity AS BIGINT) * 5 * pa.n_li < pa.sum_qty""".stripMargin,
    doc = "TPC-H Q17 small-quantity revenue: correlated avg decorrelated to a per-part pre-agg, integer-exact 20% threshold") { (spark, dir) =>
    val brandParts = Sources.table(spark, dir, "part")
      .filter(col("p_brand") === "Brand#1")
      .select(col("p_partkey"))
    val li = Sources.table(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity").cast("bigint").as("qty"),
        col("l_extendedprice"))
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
    val pa = li.groupBy("l_partkey")
      .agg(count(lit(1)).as("n_li"), sum(col("qty")).as("sum_qty"))
    li.join(pa, "l_partkey")
      .filter(col("qty") * 5 * col("n_li") < col("sum_qty"))
      .agg(count(lit(1)).cast("bigint").as("n_small"),
        moneySum(col("l_extendedprice")).as("small_revenue"))
  }

  /** TPC-H Q18 shape (public spec): customers behind large-volume
    * orders (total quantity > 300). The HAVING-filtered per-order
    * aggregate is tiny (a few dozen keys at any SF), so both enrichment
    * joins broadcast IT — the orders and customer tables are probed,
    * never shuffled. Quantities stay BIGINT end to end.
    */
  val r42 = OpQuery.oracled("r42_large_volume_orders",
    """WITH big AS (
      |  SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS total_qty
      |  FROM lineitem GROUP BY 1
      |  HAVING sum(CAST(l_quantity AS BIGINT)) > 300
      |)
      |SELECT c.c_name, o.o_orderkey,
      |       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
      |       CAST(big.total_qty AS BIGINT) AS total_qty
      |FROM big
      |JOIN orders o ON o.o_orderkey = big.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    doc = "TPC-H Q18 large-volume orders: having-filtered order aggregate broadcast into both enrichment joins") { (spark, dir) =>
    val big = Sources.table(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("bigint")).as("total_qty"))
      .filter(col("total_qty") > 300)
    // DOUBLE, not DECIMAL(18,2): the value set is identical either way
    // (both engines perform the same IEEE-754 correctly-rounded
    // decimal(18,2)->double cast, so the bit patterns agree even though
    // most cent values are not exactly representable), but decimal
    // surfaces as an engine-
    // specific physical layout the driver's raw-value hash can disagree
    // on — r43's prodSum recipe, applied here (round-7 r42 hash-fail).
    val orders = Sources.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        dec2(col("o_totalprice")).cast("double").as("o_totalprice"))
    val cust = Sources.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    orders.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("o_orderkey"), col("o_totalprice"),
        col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
  }

  /** TPC-H Q15 shape (public spec): the supplier(s) with the maximum
    * revenue over one quarter. The canonical form compares each
    * supplier's revenue to a scalar `(SELECT max(...))`; the engine
    * computes the per-supplier aggregate ONCE, reduces it to a 1-row
    * max, and broadcast-cross-joins that scalar back — no second fact
    * pass and no single-partition global window. Revenue follows the
    * prodSum determinism recipe, so the max-equality is bit-exact
    * cross-engine.
    */
  val r43 = OpQuery.oracled("r43_top_quarter_supplier",
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev
      |  FROM lineitem
      |  WHERE year(l_shipdate) = 1997 AND quarter(l_shipdate) = 1
      |  GROUP BY 1
      |)
      |SELECT s.s_suppkey, s.s_name, r.total_rev
      |FROM rev r
      |JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
      |ORDER BY s_suppkey""".stripMargin,
    doc = "TPC-H Q15 top supplier: scalar-max subquery as a 1-row broadcast cross join, one fact pass") { (spark, dir) =>
    val rev = Sources.table(spark, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1997 &&
        quarter(col("l_shipdate")) === 1)
      .groupBy("l_suppkey")
      .agg(prodSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_rev"))
    val best = rev.agg(max(col("total_rev")).as("best_rev"))
    val supp = Sources.table(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    rev.crossJoin(broadcast(best))
      .filter(col("total_rev") === col("best_rev"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q22 shape (public spec, segments standing in for country
    * codes, "inactive" adapted to lapsed-in-1998 because this dataset
    * gives every customer at least one lifetime order): per market
    * segment, the count and total balance of wealthy lapsed customers
    * — balance above the global positive average, no orders in the
    * final year. Two decorrelations: the global-average scalar becomes
    * a 1-row broadcast with the comparison kept rational
    * (`bal * n > total` ⇔ `bal > avg` — no cross-engine decimal-divide
    * semantics to match), and the NOT EXISTS becomes a left-anti join
    * against the DISTINCT 1998 order custkeys (year filter pushed to
    * the scan, pre-distinct shrinks the anti-join shuffle to one row
    * per active customer with map-side partials).
    */
  val r44 = OpQuery.oracled("r44_wealthy_inactive_customers",
    """WITH stats AS (
      |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS total_bal,
      |         count(*) AS n
      |  FROM customer WHERE c_acctbal > 0
      |)
      |SELECT c.c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n_cust,
      |       CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer c, stats
      |WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * stats.n > stats.total_bal
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND year(o.o_orderdate) = 1998)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "TPC-H Q22 wealthy lapsed customers: scalar-avg broadcast with rational comparison + pre-distinct anti join") { (spark, dir) =>
    val cust = Sources.table(spark, dir, "customer")
    val stats = cust.filter(col("c_acctbal") > 0)
      .agg(sum(dec2(col("c_acctbal"))).as("total_bal"),
        count(lit(1)).as("n"))
    val activeKeys = Sources.table(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1998)
      .select(col("o_custkey")).distinct()
    cust.join(activeKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .crossJoin(broadcast(stats))
      .filter(dec2(col("c_acctbal")) * col("n") > col("total_bal"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).cast("bigint").as("n_cust"),
        moneySum(col("c_acctbal")).as("total_acctbal"))
      .orderBy("c_mktsegment")
  }

  /** TPC-H Q2 shape (public spec): for each part in a size class, the
    * regional supplier(s) offering the minimum unit price. The schema
    * has no partsupp, so lineitem plays the part-supplier offer
    * relation (`min(l_extendedprice / l_quantity)` per (part, supp) =
    * the standing offer). The canonical form is a correlated scalar
    * `MIN` subquery re-evaluated per part; the engine decorrelates it
    * into one per-(part,supp) aggregate plus a per-part min window —
    * the fact is scanned ONCE. All four dims (part-size subset,
    * regional suppliers, nation, region) broadcast, so the only
    * shuffles are the offer group-by and the window re-partition on
    * p_partkey — both over the already-dim-pruned offer set, not the
    * raw fact. The per-row double division is IEEE-identical in both
    * engines and `min`/equality select exact bit values, so the
    * join-back-free window compare is cross-engine safe.
    */
  val r46 = OpQuery.oracled("r46_min_cost_supplier",
    """WITH offers AS (
      |  SELECT l.l_partkey, p.p_name, l.l_suppkey, s.s_name, n.n_name,
      |         min(l.l_extendedprice / l.l_quantity) AS unit_price
      |  FROM lineitem l
      |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size = 10
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
      |  GROUP BY 1, 2, 3, 4, 5
      |), ranked AS (
      |  SELECT o.*, min(unit_price) OVER (PARTITION BY l_partkey) AS best
      |  FROM offers o
      |)
      |SELECT l_partkey AS p_partkey, p_name, s_name, n_name,
      |       unit_price AS best_price
      |FROM ranked WHERE unit_price = best
      |ORDER BY p_partkey, s_name""".stripMargin,
    doc = "TPC-H Q2 min-cost regional supplier: correlated scalar MIN decorrelated into one offer aggregate + per-part min window, all dims broadcast") { (spark, dir) =>
    val part = Sources.table(spark, dir, "part")
      .filter(col("p_size") === 10).select("p_partkey", "p_name")
    val regNations = Sources.table(spark, dir, "nation")
      .join(broadcast(Sources.table(spark, dir, "region")
        .filter(col("r_name") === "EUROPE").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val supp = Sources.table(spark, dir, "supplier")
      .join(broadcast(regNations), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    val offers = Sources.table(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey", "p_name", "l_suppkey", "s_name", "n_name")
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_price"))
    val w = Window.partitionBy("l_partkey")
    offers.withColumn("best", min(col("unit_price")).over(w))
      .filter(col("unit_price") === col("best"))
      .select(col("l_partkey").as("p_partkey"), col("p_name"),
        col("s_name"), col("n_name"), col("unit_price").as("best_price"))
      .orderBy("p_partkey", "s_name")
  }

  /** TPC-H Q11 shape (public spec): parts holding an outsized share of
    * one nation's traded value. The canonical form compares each
    * group's sum against `(SELECT sum(...) * fraction)` — a scalar
    * subquery over the SAME aggregate. The engine computes the per-part
    * aggregate once, derives the global total FROM that aggregate (a
    * second tiny agg over parts, not a second fact scan), broadcasts
    * the 1-row total, and keeps the threshold comparison in exact
    * decimal cross-multiplication (`val * 1000 > total` ⇔ share >
    * 0.1%) so no cross-engine decimal-divide rounding can flip a
    * boundary part. At 100 TB: one fact shuffle on l_partkey with
    * map-side partials; everything after is per-part-sized.
    */
  val r47 = OpQuery.oracled("r47_important_part_value",
    """WITH pv AS (
      |  SELECT l.l_partkey,
      |         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS val
      |  FROM lineitem l
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n ON n.n_nationkey = s.s_nationkey
      |    AND n.n_name = 'NATION_3'
      |  GROUP BY 1
      |), tot AS (SELECT sum(val) AS total_val FROM pv)
      |SELECT pv.l_partkey AS p_partkey, CAST(pv.val AS DOUBLE) AS part_value
      |FROM pv, tot
      |WHERE pv.val * 1000 > tot.total_val
      |ORDER BY part_value DESC, p_partkey""".stripMargin,
    doc = "TPC-H Q11 important-part share: per-part aggregate reused for the global scalar, broadcast 1-row total, exact decimal cross-multiplied threshold") { (spark, dir) =>
    val natSupp = Sources.table(spark, dir, "supplier")
      .join(broadcast(Sources.table(spark, dir, "nation")
        .filter(col("n_name") === "NATION_3").select("n_nationkey")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val pv = Sources.table(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(dec2(col("l_extendedprice"))).as("val"))
      .persist()
    val tot = pv.agg(sum(col("val")).as("total_val"))
    pv.crossJoin(broadcast(tot))
      .filter(col("val") * 1000 > col("total_val"))
      .select(col("l_partkey").as("p_partkey"),
        col("val").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("p_partkey"))
  }

  /** TPC-H Q16 shape (public spec): supplier diversity per part class,
    * excluding a denylisted supplier set. The canonical `NOT IN
    * (SELECT ...)` — safe to rewrite as an anti join only because
    * s_suppkey is non-null (NOT IN's three-valued logic would
    * otherwise return an empty set on a single NULL). The denylist
    * (negative-balance suppliers) is tiny → broadcast anti join, no
    * shuffle to exclude. `count(DISTINCT ...)` runs as the standard
    * two-phase plan: pre-distinct on (brand, type, suppkey) with
    * map-side partials bounds the final per-class count — at 100 TB
    * the distinct shuffle carries at most |parts|×|suppliers| rows,
    * not the fact.
    */
  val r48 = OpQuery.oracled("r48_supplier_diversity",
    """SELECT p.p_brand, p.p_type,
      |       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size <= 20
      |WHERE l.l_suppkey NOT IN
      |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
      |GROUP BY 1, 2
      |ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin,
    doc = "TPC-H Q16 supplier diversity: NOT IN rewritten as broadcast anti join (non-null key), two-phase distinct count") { (spark, dir) =>
    val denied = Sources.table(spark, dir, "supplier")
      .filter(col("s_acctbal") < 500).select("s_suppkey")
    val part = Sources.table(spark, dir, "part")
      .filter(col("p_size") <= 20).select("p_partkey", "p_brand", "p_type")
    Sources.table(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey")
      .join(broadcast(denied), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type")
      .agg(countDistinct(col("l_suppkey")).cast("bigint").as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
  }

  /** TPC-H Q8 shape (public spec): one supplier nation's share of a
    * customer region's market, per year. The interesting ratio
    * `sum(CASE ...) / sum(...)` is two exact decimal sums over the
    * SAME rows — one aggregate pass, conditional numerator — followed
    * by a single double division (deterministic: both operands are
    * exact decimals cast to double, one IEEE op). The nation table is
    * joined in TWO roles (customer's region gate, supplier's share
    * flag); both roles broadcast, so the plan is lineitem⋈orders on
    * orderkey (the one real shuffle) with everything else map-side.
    */
  val r49 = OpQuery.oracled("r49_nation_market_share",
    """SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
      |  CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
      |       THEN CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6))
      |       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
      |  / CAST(sum(CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6))) AS DOUBLE)
      |  AS mkt_share
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      |JOIN region r ON r.r_regionkey = n1.n_regionkey AND r.r_name = 'ASIA'
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "TPC-H Q8 market share: conditional-numerator ratio in one aggregate pass, nation dim in two broadcast roles, single fact shuffle") { (spark, dir) =>
    val nation = Sources.table(spark, dir, "nation")
    val asiaCust = Sources.table(spark, dir, "customer")
      .join(broadcast(nation
        .join(broadcast(Sources.table(spark, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cn_key"))),
        col("c_nationkey") === col("cn_key"))
      .select("c_custkey")
    val supp = Sources.table(spark, dir, "supplier")
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"),
        col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select("s_suppkey", "supp_nation")
    val rev = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast("decimal(18,6)")
    Sources.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(Sources.table(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_7", rev)
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double")
        / sum(rev).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** TPC-H Q20 shape (public spec): suppliers who moved serious volume
    * of a named part family in one year. The canonical form nests an
    * IN (parts LIKE ...) inside a correlated quantity-sum subquery
    * inside an IN (suppliers ...). Decorrelated: the part family is a
    * broadcast semi filter on the fact scan, the correlated sum is one
    * (supp, part) aggregate with a HAVING, and the outer IN is a
    * semi join from supplier into the surviving keys. The year filter
    * pushes to the parquet scan. One fact shuffle, group cardinality
    * bounded by |family|×|suppliers|.
    */
  val r50 = OpQuery.oracled("r50_heavy_family_shippers",
    """WITH hot AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
      |heavy AS (
      |  SELECT l.l_suppkey
      |  FROM lineitem l JOIN hot h ON h.p_partkey = l.l_partkey
      |  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY l.l_suppkey, l.l_partkey
      |  HAVING sum(CAST(l.l_quantity AS BIGINT)) > 60
      |)
      |SELECT s.s_suppkey, s.s_name FROM supplier s
      |WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
      |ORDER BY s_suppkey""".stripMargin,
    doc = "TPC-H Q20 heavy family shippers: nested correlated INs decorrelated into broadcast semi + HAVING aggregate + semi join") { (spark, dir) =>
    val hot = Sources.table(spark, dir, "part")
      .filter(col("p_name").like("red%")).select("p_partkey")
    val heavy = Sources.table(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
      .filter(col("l_shipdate") >=
          lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") <
          lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .join(broadcast(hot), col("l_partkey") === col("p_partkey"),
        "left_semi")
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum(col("l_quantity").cast("bigint")).as("sq"))
      .filter(col("sq") > 60)
      .select("l_suppkey")
    Sources.table(spark, dir, "supplier")
      .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_suppkey")
  }

  /** TPC-H Q7 shape (public spec): shipping volume between two nations
    * in BOTH directions, per year — the symmetric disjunctive pair
    * predicate `(n1=A AND n2=B) OR (n1=B AND n2=A)`. Each nation role
    * is first narrowed to the two named nations (pushed into the
    * broadcast build sides, so the fact rows that survive the two
    * broadcast joins are already restricted to the 2×2 candidate
    * pairs); the disjunction then runs as a residual filter on that
    * tiny survivor set, never as a join condition that would force a
    * nested loop. lineitem⋈orders on orderkey is the only shuffle;
    * the revenue sum is the exact DECIMAL(18,6) money path.
    */
  val r51 = OpQuery.oracled("r51_two_nation_volume",
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(sum(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(year(l.l_shipdate) AS INT) AS l_year,
      |         CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6)) AS volume
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      |  WHERE (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_5')
      |     OR (n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_2')
      |)
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin,
    doc = "TPC-H Q7 two-nation volume: symmetric disjunctive pair predicate as a residual over nation-narrowed broadcast joins, single fact shuffle") { (spark, dir) =>
    val nations = Seq("NATION_2", "NATION_5")
    val nation = Sources.table(spark, dir, "nation")
      .filter(col("n_name").isin(nations: _*))
    val supp = Sources.table(spark, dir, "supplier")
      .join(broadcast(nation.select(col("n_nationkey").as("snk"),
        col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
      .select("s_suppkey", "supp_nation")
    val cust = Sources.table(spark, dir, "customer")
      .join(broadcast(nation.select(col("n_nationkey").as("cnk"),
        col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
      .select("c_custkey", "cust_nation")
    Sources.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice",
        "l_discount")
      .join(Sources.table(spark, dir, "orders")
        .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_5") ||
        (col("supp_nation") === "NATION_5" && col("cust_nation") === "NATION_2"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(prodSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q19 shape (public spec): revenue under an OR of three
    * brand/size/quantity brackets — the disjunctive-predicate pattern
    * that defeats naive pushdown, because the OR straddles both join
    * sides. The scale move is the one the spec's own queries model:
    * conjoin the DERIVED single-side envelopes (brand IN the three
    * brands AND size within the union of ranges; quantity within the
    * union of ranges) — redundant given the OR, but each reaches its
    * parquet scan as a pushed filter, so the join probes only
    * bracket-eligible rows and the OR evaluates as a residual on that
    * slice. The oracle carries the identical redundant conjuncts
    * (same semantics, provably: each envelope is implied by the OR).
    * PlanSpec pins both pushdowns and the broadcast.
    */
  val r52 = OpQuery.oracled("r52_bracketed_promo_revenue",
    """SELECT CAST(count(*) AS BIGINT) AS n_li,
      |       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand IN ('Brand#2', 'Brand#3', 'Brand#4')
      |  AND p.p_size BETWEEN 1 AND 15
      |  AND l.l_quantity BETWEEN 1 AND 30
      |  AND (   (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 5
      |           AND l.l_quantity BETWEEN 1 AND 11)
      |       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
      |           AND l.l_quantity BETWEEN 10 AND 20)
      |       OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
      |           AND l.l_quantity BETWEEN 20 AND 30))""".stripMargin,
    doc = "TPC-H Q19 disjunctive brackets: derived per-side envelopes pushed to both scans, OR as residual on the probed slice") { (spark, dir) =>
    val p = Sources.table(spark, dir, "part")
      .filter(col("p_brand").isin("Brand#2", "Brand#3", "Brand#4") &&
        col("p_size").between(1, 15))
      .select("p_partkey", "p_brand", "p_size")
    val li = Sources.table(spark, dir, "lineitem")
      .filter(col("l_quantity").between(1, 30))
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val bracket =
      (col("p_brand") === "Brand#2" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#4" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(bracket)
      .agg(count(lit(1)).cast("bigint").as("n_li"),
        prodSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
  }

  /** TPC-H Q14 shape (public spec): promotion revenue share for one
    * month — two conditional DECIMAL-exact revenue sums off one scan,
    * one final fixed-order IEEE percentage. The part filter broadcasts;
    * the month predicate pushes to the fact scan.
    */
  val r54 = OpQuery.oracled("r54_promo_revenue_share",
    """SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
      |                THEN CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6))
      |                ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS promo_revenue,
      |       CAST(sum(CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue,
      |       (CAST(100 AS DOUBLE)
      |        * CAST(sum(CASE WHEN p.p_type = 'PROMO'
      |                   THEN CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6))
      |                   ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE))
      |       / CAST(sum(CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6))) AS DOUBLE)
      |         AS promo_share_pct
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE year(l.l_shipdate) = 1997 AND month(l.l_shipdate) = 9""".stripMargin,
    doc = "TPC-H Q14 promo revenue share: two conditional exact-decimal sums, one fixed-order IEEE percentage") { (spark, dir) =>
    val p = Sources.table(spark, dir, "part").select("p_partkey", "p_type")
    val rev6 = expr(
      "CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))")
    val zero6 = expr("CAST(0 AS DECIMAL(18,6))")
    Sources.table(spark, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1997 &&
        month(col("l_shipdate")) === 9)
      .join(broadcast(p), col("p_partkey") === col("l_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev6).otherwise(zero6))
          .cast("double").as("promo_revenue"),
        sum(rev6).cast("double").as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        ((expr("CAST(100 AS DOUBLE)") * col("promo_revenue"))
          / col("total_revenue")).as("promo_share_pct"))
  }

  /** TPC-H Q6 shape (public spec): the forecasting-revenue-change
    * query — a pure filter-aggregate with every predicate pushed to
    * the parquet scan (year, discount band, quantity cap) and NO join
    * at all: the simplest query in the suite and the purest pushdown
    * test. Revenue here is price * discount (the forgone discount
    * amount), DECIMAL-exact.
    */
  val r55 = OpQuery.oracled("r55_forecast_revenue_change",
    """SELECT CAST(count(*) AS BIGINT) AS n_li,
      |       CAST(sum(CAST((l_extendedprice * l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE year(l_shipdate) = 1997
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin,
    doc = "TPC-H Q6 forecast revenue change: joinless filter-aggregate, all three predicates pushed to the scan") { (spark, dir) =>
    Sources.table(spark, dir, "lineitem")
      .filter(year(col("l_shipdate")) === 1997 &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(count(lit(1)).cast("bigint").as("n_li"),
        sum(expr("CAST((l_extendedprice * l_discount) AS DECIMAL(18,6))"))
          .cast("double").as("revenue"))
  }

  /** TPC-H Q4 shape (public spec): order-priority checking — orders
    * placed in one quarter having at least one late-shipped line
    * (shipped more than 60 days after the order date; the synthetic
    * schema has no commit/receipt dates, so lateness is vs the order
    * date — same EXISTS structure). The correlated EXISTS decorrelates
    * to a LEFT SEMI join on the order key with the lateness predicate
    * as the join residual — the fact table is touched once and never
    * fans out an order row per matching line.
    */
  val r56 = OpQuery.oracled("r56_order_priority_checking",
    """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      |  AND o.o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l
      |    WHERE l.l_orderkey = o.o_orderkey
      |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "TPC-H Q4 order-priority checking: correlated EXISTS as a left-semi join with the lateness residual") { (spark, dir) =>
    val o = Sources.table(spark, dir, "orders")
      .filter(col("o_orderdate") >=
          lit(java.sql.Timestamp.valueOf("1997-07-01 00:00:00")) &&
        col("o_orderdate") <
          lit(java.sql.Timestamp.valueOf("1997-10-01 00:00:00")))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Sources.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_shipdate")
    o.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).cast("bigint").as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q9 shape (public spec): product-type profit by supplier
    * nation and order year — the 5-way join aggregate (the synthetic
    * schema has no partsupp/supplycost, so "profit" is the
    * discount-adjusted revenue; the join DAG is Q9's). Dimension sides
    * (part filter, supplier⋈nation) broadcast; the only real shuffle
    * is lineitem⋈orders on the order key, which AQE sizes.
    */
  val r57 = OpQuery.oracled("r57_nation_year_profit",
    """SELECT n.n_name AS nation,
      |       CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
      |       CAST(sum(CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS profit
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |GROUP BY 1, 2
      |ORDER BY nation, o_year""".stripMargin,
    doc = "TPC-H Q9 nation/year profit: 5-way join, dimensions broadcast, one fact-fact shuffle") { (spark, dir) =>
    val p = Sources.table(spark, dir, "part")
      .filter(col("p_type") === "ECONOMY").select("p_partkey")
    val sn = Sources.table(spark, dir, "supplier")
      .join(Sources.table(spark, dir, "nation"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val o = Sources.table(spark, dir, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Sources.table(spark, dir, "lineitem")
      .join(broadcast(p), col("p_partkey") === col("l_partkey"))
      .join(broadcast(sn), col("s_suppkey") === col("l_suppkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("n_name").as("nation"),
        col("o_year").cast("bigint").as("o_year"))
      .agg(sum(expr(
        "CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))"))
        .cast("double").as("profit"))
      .orderBy("nation", "o_year")
  }

  /** TPC-H Q10 shape (public spec): top-20 customers by revenue lost
    * to returned items in one quarter — customer⋈nation broadcast into
    * the returned-lineitem⋈quarter-orders join, global top-20 via
    * TakeOrderedAndProject (never a full sort).
    */
  val r58 = OpQuery.oracled("r58_returned_item_customers",
    """SELECT c.c_custkey, c.c_name, n.n_name AS nation,
      |       CAST(c.c_acctbal AS DOUBLE) AS acctbal,
      |       CAST(sum(CAST((l.l_extendedprice * (1 - l.l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer c
      |JOIN nation n ON n.n_nationkey = c.c_nationkey
      |JOIN orders o ON o.o_custkey = c.c_custkey
      | AND o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      | AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      |GROUP BY 1, 2, 3, 4
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 20""".stripMargin,
    doc = "TPC-H Q10 returned-item customers: broadcast dims + quarter/returnflag pushdowns + TakeOrdered top-20") { (spark, dir) =>
    val cn = Sources.table(spark, dir, "customer")
      .join(broadcast(Sources.table(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"))
    val o = Sources.table(spark, dir, "orders")
      .filter(col("o_orderdate") >=
          lit(java.sql.Timestamp.valueOf("1997-10-01 00:00:00")) &&
        col("o_orderdate") <
          lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select("o_orderkey", "o_custkey")
    val li = Sources.table(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(o, col("o_orderkey") === col("l_orderkey"))
      .join(cn, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_custkey"), col("c_name"),
        col("n_name").as("nation"), col("c_acctbal"))
      .agg(sum(expr(
        "CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))"))
        .cast("double").as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("nation"),
        col("c_acctbal").cast("double").as("acctbal"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Per-customer purchase-diversity profile via the Gini–Simpson
    * index — the diversity statistic that needs NO transcendental
    * function (Shannon entropy's ln is banned from oracled outputs):
    * `1 − Σ(nᵢ/N)² = (N² − Σnᵢ²) / N²` over each customer's brand
    * purchase counts — exact BIGINT squares and sums, ONE final double
    * division. 0 = always the same brand (a bot-like monoculture),
    * →1 = evenly spread; recommenders and fraud screens both read it.
    * Shape: fact⋈fact equi-join on orderkey (orders is only there to
    * carry custkey), brand from the broadcast part dim, one (customer,
    * brand) aggregation, one customer rollup — no windows, nothing
    * quadratic. DuckDB's sum(BIGINT)→HUGEINT widening cast back per
    * the recipe.
    */
  val r64 = OpQuery.oracled("r64_basket_diversity",
    """WITH cb AS (
      |  SELECT o.o_custkey AS c, p.p_brand AS b, count(*) AS n
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2
      |), agg AS (
      |  SELECT c, CAST(count(*) AS BIGINT) AS n_brands,
      |         CAST(sum(n) AS BIGINT) AS n_items,
      |         CAST(sum(n * n) AS BIGINT) AS sq
      |  FROM cb GROUP BY 1
      |)
      |SELECT c AS c_custkey, n_items, n_brands,
      |       CAST(n_items * n_items - sq AS DOUBLE) / (n_items * n_items)
      |         AS simpson
      |FROM agg ORDER BY c_custkey""".stripMargin,
    doc = "per-customer Gini-Simpson brand diversity: (N^2 - sum n_i^2)/N^2 from exact integer counts, one division — the log-free diversity index") { (spark, dir) =>
    val cb = Sources.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .join(Sources.table(spark, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey").as("c")),
        "l_orderkey")
      .join(broadcast(Sources.table(spark, dir, "part")
        .select(col("p_partkey").as("l_partkey"), col("p_brand").as("b"))),
        "l_partkey")
      .groupBy("c", "b").agg(count(lit(1)).as("n"))
    cb.groupBy("c")
      .agg(count(lit(1)).cast("bigint").as("n_brands"),
        sum(col("n")).cast("bigint").as("n_items"),
        sum(col("n") * col("n")).cast("bigint").as("sq"))
      .select(col("c").as("c_custkey"), col("n_items"), col("n_brands"),
        ((col("n_items") * col("n_items") - col("sq")).cast("double")
          / (col("n_items") * col("n_items"))).as("simpson"))
      .orderBy("c_custkey")
  }

  /** TPC-H Q12 shape (public spec) — the last of the 22 TPC-H query
    * shapes, completing the full suite (the fixture lacks Q12's
    * l_shipmode/l_commitdate/l_receiptdate columns, so the shape is
    * re-expressed on the columns it has: lateness = shipped more than
    * 60 days after the order date — the same residual r56/Q4 uses —
    * and the two-valued mode axis is l_returnflag). Dual conditional
    * sums (urgent-or-high vs lower priorities) over ONE fact-fact join
    * on the order key; the one-year ship-date window is pushed to the
    * lineitem scan, the lateness predicate stays a join residual
    * (it references both sides). At 100 TB this is a single
    * co-partitioned orderkey shuffle — no second pass, no window.
    */
  val r65 = OpQuery.oracled("r65_late_shipment_priority",
    """SELECT l.l_returnflag AS return_mode,
      |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM orders o
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      |  AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "TPC-H Q12 late-shipment priority census (completes all 22 TPC-H shapes): dual conditional sums over one fact-fact orderkey join, year window pushed to the scan, lateness as a join residual") { (spark, dir) =>
    val o = Sources.table(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Sources.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") >=
          lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") <
          lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select("l_orderkey", "l_shipdate", "l_returnflag")
    val isHigh = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    o.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_returnflag").as("return_mode"))
      .agg(
        sum(when(isHigh, 1L).otherwise(0L)).cast("bigint")
          .as("high_line_count"),
        sum(when(isHigh, 0L).otherwise(1L)).cast("bigint")
          .as("low_line_count"))
      .orderBy("return_mode")
  }

  /** Data-quality EXPECTATIONS audit — the declarative rule table a
    * lakehouse ingest gates on (range checks, positivity, referential
    * integrity, cross-table ordering), evaluated in ONE pass per input
    * shape and reported as exact per-rule counts with a pass share in
    * ppm. Violations are COUNTED, not dropped — the audit is the
    * operator; quarantine/fail-the-load policies read this table.
    *
    * Scale shape: the two row-local rules fold into a single lineitem
    * aggregate; each referential rule is one left join counted by
    * null-ness (the dimension side broadcast where small); the
    * cross-table ordering rule rides the same orderkey join r65 uses.
    * Output is five rows — the audit never materializes violating rows.
    */
  val r66 = OpQuery.oracled("r66_quality_expectations",
    """WITH li AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
      |                       THEN 0 ELSE 1 END) AS BIGINT) AS qviol,
      |         CAST(sum(CASE WHEN l_extendedprice > 0
      |                       THEN 0 ELSE 1 END) AS BIGINT) AS pviol
      |  FROM lineitem
      |), liref AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN o.o_orderkey IS NULL
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS viol
      |  FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
      |), oref AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN c.c_custkey IS NULL
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS viol
      |  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
      |), shp AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |         CAST(sum(CASE WHEN l.l_shipdate < o.o_orderdate
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS viol
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |), rules AS (
      |  SELECT 'li_quantity_range' AS rule, n AS n_checked,
      |         qviol AS n_violations FROM li
      |  UNION ALL
      |  SELECT 'li_positive_price', n, pviol FROM li
      |  UNION ALL
      |  SELECT 'li_valid_order', n, viol FROM liref
      |  UNION ALL
      |  SELECT 'ord_valid_customer', n, viol FROM oref
      |  UNION ALL
      |  SELECT 'li_ship_after_order', n, viol FROM shp
      |)
      |SELECT rule, n_checked, n_violations,
      |       CAST(((n_checked - n_violations) * 1000000) // n_checked
      |            AS BIGINT) AS pass_ppm
      |FROM rules ORDER BY rule""".stripMargin,
    doc = "data-quality expectations audit: range/positivity/referential/cross-table-ordering rules as exact per-rule violation counts + ppm pass share — the declarative ingest gate table") { (spark, dir) =>
    val li = Sources.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")
    val oKeys = Sources.table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val liStats = li.agg(
      count(lit(1)).cast("bigint").as("n"),
      sum(when(col("l_quantity").between(1, 50), 0L).otherwise(1L))
        .cast("bigint").as("qviol"),
      sum(when(col("l_extendedprice") > 0, 0L).otherwise(1L))
        .cast("bigint").as("pviol"))
    def refAudit(facts: DataFrame, factKey: String, dim: DataFrame,
        dimKey: String, bcast: Boolean): DataFrame = {
      val d = if (bcast) broadcast(dim) else dim
      facts.join(d, col(factKey) === col(dimKey), "left")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(when(col(dimKey).isNull, 1L).otherwise(0L))
            .cast("bigint").as("viol"))
    }
    val liRef = refAudit(li.select("l_orderkey"), "l_orderkey",
      oKeys.select("o_orderkey"), "o_orderkey", bcast = false)
    val oRef = refAudit(oKeys.select("o_custkey"), "o_custkey",
      Sources.table(spark, dir, "customer").select("c_custkey"),
      "c_custkey", bcast = true)
    val shp = li.select("l_orderkey", "l_shipdate")
      .join(oKeys.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(when(col("l_shipdate") < col("o_orderdate"), 1L).otherwise(0L))
          .cast("bigint").as("viol"))
    def row(name: String, src: DataFrame, violCol: String): DataFrame =
      src.select(lit(name).as("rule"), col("n").as("n_checked"),
        col(violCol).as("n_violations"))
    // both row-local rules unpivot out of the ONE lineitem aggregate —
    // two `row()` calls would scan the fact table twice
    val liRules = liStats.select(explode(array(
        struct(lit("li_quantity_range").as("rule"),
          col("n").as("n_checked"), col("qviol").as("n_violations")),
        struct(lit("li_positive_price").as("rule"),
          col("n").as("n_checked"), col("pviol").as("n_violations"))))
        .as("r"))
      .select("r.*")
    liRules
      .unionAll(row("li_valid_order", liRef, "viol"))
      .unionAll(row("ord_valid_customer", oRef, "viol"))
      .unionAll(row("li_ship_after_order", shp, "viol"))
      .withColumn("pass_ppm",
        expr("((n_checked - n_violations) * 1000000) div n_checked")
          .cast("bigint"))
      .orderBy("rule")
  }

  /** DECILE LIFT TABLE — the model-calibration artifact every scoring
    * pipeline publishes: customers ranked by a score (account balance
    * stands in for the model score), cut into exact deciles, each
    * decile's conversion ("placed ≥ 1 order") rate in exact floor-ppm
    * and its lift over the base rate. Decile assignment is explicit
    * rank arithmetic `((rk−1)·10) div n + 1` — NOT `ntile`, whose
    * remainder-distribution rule is an implementation detail this
    * operator refuses to depend on; rank ties break on the key, so the
    * cut is bit-stable in both engines. Lift is
    * `n_buyers_d · NC / (n_customers_d · NB)` — exact BIGINT operands,
    * ONE IEEE division.
    *
    * Scale shape: the fact side collapses to per-customer order counts
    * BEFORE touching the dimension (one shuffle on custkey); the global
    * rank window runs on the CUSTOMER DIMENSION after that aggregation
    * — the e23 compressed-grain precedent, never on order/fact grain.
    * Totals ride a broadcast 1-row frame.
    */
  val r67 = OpQuery.oracled("r67_balance_decile_lift",
    """WITH oc AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      |  FROM orders GROUP BY 1
      |), c AS (
      |  SELECT c_custkey, c_acctbal, coalesce(oc.n_orders, 0) AS n_orders
      |  FROM customer LEFT JOIN oc ON oc.o_custkey = c_custkey
      |), t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS nc,
      |         CAST(sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END)
      |              AS BIGINT) AS nb
      |  FROM c
      |), r AS (
      |  SELECT n_orders,
      |         row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rk
      |  FROM c
      |), d AS (
      |  SELECT CAST(((rk - 1) * 10) // (SELECT nc FROM t) + 1 AS INT)
      |           AS decile,
      |         n_orders
      |  FROM r
      |)
      |SELECT decile,
      |       CAST(count(*) AS BIGINT) AS n_customers,
      |       CAST(sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_buyers,
      |       CAST(sum(n_orders) AS BIGINT) AS n_orders,
      |       CAST((sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) * 1000000)
      |            // count(*) AS BIGINT) AS buy_ppm,
      |       CAST(sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END)
      |            * (SELECT nc FROM t) AS DOUBLE)
      |         / (count(*) * (SELECT nb FROM t)) AS lift
      |FROM d GROUP BY 1 ORDER BY decile""".stripMargin,
    doc = "balance-decile lift table: exact rank-arithmetic deciles over the customer dimension (post-aggregation grain), per-decile conversion ppm + one-division lift vs base rate") { (spark, dir) =>
    val oc = Sources.table(spark, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).cast("bigint").as("n_orders"))
    val c = Sources.table(spark, dir, "customer")
      .select("c_custkey", "c_acctbal")
      .join(oc, col("o_custkey") === col("c_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    val t = c.agg(count(lit(1)).cast("bigint").as("nc"),
      sum(when(col("n_orders") > 0, 1L).otherwise(0L)).cast("bigint")
        .as("nb"))
    c.withColumn("rk", row_number().over(
        Window.orderBy(col("c_acctbal").desc, col("c_custkey")))
        .cast("bigint"))
      .crossJoin(broadcast(t))
      .withColumn("decile",
        (expr("((rk - 1) * 10) div nc") + 1).cast("int"))
      .groupBy("decile")
      .agg(count(lit(1)).cast("bigint").as("n_customers"),
        sum(when(col("n_orders") > 0, 1L).otherwise(0L)).cast("bigint")
          .as("n_buyers"),
        sum("n_orders").cast("bigint").as("n_orders"),
        expr("(sum(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) * 1000000) div count(1)")
          .cast("bigint").as("buy_ppm"),
        (sum(when(col("n_orders") > 0, 1L).otherwise(0L)) * max("nc"))
          .cast("double")
          .divide(count(lit(1)) * max("nb")).as("lift"))
      .orderBy("decile")
  }

  /** Materialized per-SF ORC mirror of the lineitem scan projection —
    * the DerivedCache contract (built once outside every timed
    * section; a regenerated fixture rebuilds it).
    */
  private[graft] def ensureOrcMirror(
      spark: SparkSession, dir: String): String =
    DerivedCache.ensure(Scratch.cache("mirror", dir, "lineitem_orc"), dir,
        Seq("lineitem")) { loc =>
      Sources.table(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice",
          "l_discount", "l_returnflag")
        .write.mode("overwrite").orc(loc)
    }

  /** ORC SCAN PARITY — the second columnar format of the source
    * surface (SURVEY §2.1 S1 beyond parquet; ORC ships in the Spark
    * distribution, unlike the cloud-jar Delta/Kafka connectors the
    * IoProfile swap covers): the engine scans an ORC mirror of the
    * fact projection while the oracle reads the ORIGINAL parquet, so
    * hash-equality proves the full write→read ORC round trip preserves
    * every value (doubles bit-for-bit, strings, keys) AND that the
    * aggregate over it matches. The quantity predicate is written to
    * be pushed into the ORC scan — PlanSpec pins `PushedFilters` on
    * the DSv2 scan, same contract as the parquet pushdown asserts.
    */
  val r68 = OpQuery.oracled("r68_orc_scan_parity",
    """SELECT l_returnflag,
      |       CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_quantity BETWEEN 5 AND 45
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    doc = "ORC scan parity: engine reads the ORC mirror (predicate pushed to the ORC scan), oracle reads the original parquet — hash equality proves the full ORC write/read round trip") { (spark, dir) =>
    spark.read.orc(ensureOrcMirror(spark, dir))
      .filter(col("l_quantity").between(5, 45))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        prodSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy("l_returnflag")
  }

  /** Materialized per-SF CSV mirror of the orders ingest projection
    * (header + explicit null token, the shape a drop-zone delivers).
    */
  private[graft] def ensureCsvMirror(
      spark: SparkSession, dir: String): String =
    DerivedCache.ensure(Scratch.cache("mirror", dir, "orders_csv"), dir,
        Seq("orders")) { loc =>
      Sources.table(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").option("header", "true").csv(loc)
    }

  /** CSV INGEST PARITY — the text-format leg of the source surface:
    * the engine ingests a header CSV mirror of orders with an
    * EXPLICIT schema (never inference — schema drift must fail, not
    * adapt silently) while the oracle reads the original parquet.
    * Hash equality proves the text round trip is lossless — doubles
    * survive because the writer emits the shortest representation
    * that parses back to the identical bits (the Java/C++ grisu
    * contract both engines' readers honor). The aggregate mirrors the
    * ingest smoke test a drop-zone pipeline runs before accepting a
    * delivery.
    */
  val r69 = OpQuery.oracled("r69_csv_ingest_parity",
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    doc = "CSV ingest parity: explicit-schema header-CSV read of the orders mirror vs the parquet oracle — lossless text round trip (shortest-repr doubles) + the drop-zone ingest smoke aggregate") { (spark, dir) =>
    val schema = new org.apache.spark.sql.types.StructType()
      .add("o_orderkey", "bigint").add("o_custkey", "bigint")
      .add("o_orderstatus", "string").add("o_totalprice", "double")
    spark.read.option("header", "true").schema(schema)
      .csv(ensureCsvMirror(spark, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        countDistinct(col("o_custkey")).cast("bigint").as("n_customers"),
        moneySum(col("o_totalprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** Join-size estimation from a COORDINATED key sample — the
    * query-planning axis (cardinality guardrails) none of the sketch
    * family covers: r09/r34 estimate DISTINCT counts, but "how many
    * rows will this join emit" is a frequency-moment question
    * (|A ⋈_k B| = Σ_k c_A(k)·c_B(k); here the self-join second moment
    * Σ c(k)² — the classic F₂ of AGMS, Alon–Matias–Szegedy STOC'96),
    * and it's what an engine checks BEFORE paying for a 100 TB join.
    * The estimator samples KEYS by the portable md5 coin (coordinated
    * / bottom-k sampling, Cohen & Kaplan: the same keys are sampled
    * on every table and every engine, which is what makes
    * per-key products estimable at all) at rates 1/8 and 1/32 and
    * re-inflates: est = rate⁻¹ · Σ_{sampled} c(k)² — exact integers
    * throughout, so the whole readout is hash-stable, and the
    * per-dial error ppm against the exact moment is IN the output
    * (the g25 recall-table discipline).
    *
    * Scale shape: one keyed aggregate to key grain, a map-side coin,
    * a two-dial broadcast fan — the estimate never runs the join and
    * never shuffles more than the key histogram. The sample threshold
    * is `u60 < 2⁶⁰ div rate_inv` (exact for power-of-two dials — no
    * 64-bit overflow the multiplied form would hit at rate 32).
    */
  val r70 = OpQuery.oracled("r70_join_size_estimate",
    """WITH ck AS (
      |  SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1
      |), u AS (
      |  SELECT k, c,
      |         CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)
      |              AS BIGINT) AS u60
      |  FROM ck
      |), rates AS (
      |  SELECT unnest([8, 32]) AS rate_inv
      |), t AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
      |         CAST(sum(c * c) AS BIGINT) AS exact_pairs
      |  FROM ck
      |), est AS (
      |  SELECT r.rate_inv, t.n_keys, t.exact_pairs,
      |         CAST(count(CASE WHEN u.u60 < 1152921504606846976 // r.rate_inv
      |                         THEN 1 END) AS BIGINT) AS n_sampled_keys,
      |         CAST(sum(CASE WHEN u.u60 < 1152921504606846976 // r.rate_inv
      |                       THEN u.c * u.c * r.rate_inv ELSE 0 END)
      |              AS BIGINT) AS est_pairs
      |  FROM u CROSS JOIN rates r CROSS JOIN t
      |  GROUP BY 1, 2, 3
      |)
      |SELECT rate_inv, n_keys, n_sampled_keys, exact_pairs, est_pairs,
      |       CAST((abs(est_pairs - exact_pairs) * 1000000) // exact_pairs
      |            AS BIGINT) AS err_ppm
      |FROM est
      |ORDER BY rate_inv""".stripMargin,
    doc = "join-cardinality guardrail: self-join size on l_partkey (F2 moment) estimated from coordinated md5 key samples at 1/8 and 1/32, exact moment and per-dial error ppm in the output; no join is ever run") { (spark, dir) =>
    import spark.implicits._
    val ck = Sources.table(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("k"))
      .agg(count(lit(1)).cast("bigint").as("c"))
    val u = ck.withColumn("u60", expr(
      "md5_u60(CAST(k AS STRING))"))
    val t = ck.agg(count(lit(1)).cast("bigint").as("n_keys"),
      sum(expr("c * c")).cast("bigint").as("exact_pairs"))
    val rates = Seq(8, 32).toDF("rate_inv")
    u.crossJoin(broadcast(rates)).crossJoin(broadcast(t))
      .groupBy("rate_inv", "n_keys", "exact_pairs")
      .agg(
        count(when(
          expr("u60 < 1152921504606846976 div rate_inv"), 1))
          .cast("bigint").as("n_sampled_keys"),
        sum(when(
          expr("u60 < 1152921504606846976 div rate_inv"),
          expr("c * c * rate_inv")).otherwise(0L))
          .cast("bigint").as("est_pairs"))
      .select(col("rate_inv"), col("n_keys"), col("n_sampled_keys"),
        col("exact_pairs"), col("est_pairs"),
        expr("CAST((abs(est_pairs - exact_pairs) * 1000000) div exact_pairs AS BIGINT)")
          .as("err_ppm"))
      .orderBy("rate_inv")
  }

  val all: Seq[OpQuery] = Seq(r01, r02, r03, r04, r05, r06, r07, r08, r09,
    r10, r11, r12, r30, r32, r38, r41, r42, r43, r44, r46, r47, r48, r49,
    r50, r51, r52, r54, r55, r56, r57, r58, r64, r65, r66, r67,
    r68.copy(prepare = (s, d) => { ensureOrcMirror(s, d); () }),
    r69.copy(prepare = (s, d) => { ensureCsvMirror(s, d); () }),
    r70)
}
