package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.Joins
import graft.io.{DerivedCache, Scratch, Sources}

/** Join operators beyond the equi-join family: the bucketed-time range
  * join (an interval predicate with NO shared entity key — the case the
  * as-of join e07 cannot cover) and Bloom-filter join pruning (the
  * runtime-filter pattern that keeps a 100 TB fact table from shuffling
  * rows the other side will discard anyway).
  */
object JoinOps {

  // 5 minutes in epoch micros; events.ts is long nanos in Spark
  // (nanosAsLong) and TIMESTAMP in DuckDB — both sides compare in µs.
  private val windowUs = 300000000L

  /** Range join: for every purchase, how many clicks — from ANY user —
    * landed in the 5 minutes before it. There is deliberately no join
    * key besides time: [[graft.api.Joins.rangeJoin]] derives the
    * equi-key (the time bucket) so the join shuffles instead of going
    * BroadcastNestedLoop/cartesian. Purchases with a quiet 5 minutes
    * stay in the result with n_clicks = 0 (left join back to the
    * purchase spine).
    */
  val r17 = OpQuery.oracled("r17_range_join_clicks_before_purchase",
    s"""WITH p AS (
      |  SELECT event_id AS purchase_id, epoch_us(ts) AS p_us
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'
      |), j AS (
      |  SELECT purchase_id, count(*) AS n
      |  FROM p JOIN c ON c_us >= p_us - $windowUs AND c_us < p_us
      |  GROUP BY 1
      |)
      |SELECT purchase_id, CAST(coalesce(n, 0) AS BIGINT) AS n_clicks
      |FROM p LEFT JOIN j USING (purchase_id)
      |ORDER BY purchase_id""".stripMargin,
    doc = "bucketed-time range join (interval predicate, no shared entity key)") { (spark, dir) =>
    val ev = Sources.table(spark, dir, "events")
      .withColumn("us", expr("ts div 1000"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("us").as("p_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("us").as("c_us"))
    val counts = Joins
      .rangeJoin(purchases, clicks, "p_us", "c_us", -windowUs, 0L)
      .groupBy("purchase_id").agg(count(lit(1)).as("n"))
    purchases.select("purchase_id")
      .join(counts, Seq("purchase_id"), "left")
      .select(col("purchase_id"), coalesce(col("n"), lit(0L)).as("n_clicks"))
      .orderBy("purchase_id")
  }

  /** Bloom-filter join pruning on the fact-fact shape (r11/r12 family):
    * lineitem ⋈ a highly filtered orders side. The selective side
    * builds a Bloom filter over its join keys (a bounded-size sketch —
    * ~1.2 MB here, still MBs at 100 TB because it scales with DISTINCT
    * KEYS PASSING THE FILTER, not table bytes); the fact side applies
    * `might_contain` AT THE SCAN, so ~97% of lineitem never enters the
    * shuffle. False positives are dropped by the real join, which is
    * why the oracle is the plain unpruned SQL — pruning must be
    * invisible in the result. PlanSpec asserts the filter actually sits
    * on the scan side of the join.
    */
  val r18 = OpQuery.oracled("r18_bloom_pruned_revenue",
    """SELECT CAST(month(o_orderdate) AS INT) AS order_month,
      |       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1997
      |GROUP BY 1 ORDER BY 1""".stripMargin,
    doc = "Bloom-filter join pruning: fact scan pre-filtered by the dim side's key sketch") { (spark, dir) =>
    val orders = Sources.table(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
        year(col("o_orderdate")) === 1997)
    // Build the key sketch: one pass over the (small, post-filter)
    // orders side. Sized for keys-after-filter; at a real 100 TB the
    // expectedNumItems comes from table stats, and the sketch is still
    // a driver-safe few MBs.
    val bloom = orders.stat.bloomFilter("o_orderkey", 1000000L, 0.03)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    spark.udf.register("bloom_might_contain",
      (k: Long) => bloomBc.value.mightContainLong(k))
    val li = Sources.table(spark, dir, "lineitem")
      .filter(expr("bloom_might_contain(l_orderkey)"))
    li.join(orders, li("l_orderkey") === orders("o_orderkey"))
      .groupBy(month(col("o_orderdate")).cast("int").as("order_month"))
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("order_month")
  }

  /** One-time build of bucketed twins of orders/lineitem for `dir`:
    * both tables hash-bucketed INTO the same bucket count ON the join
    * key, so an orderkey join needs no shuffle at all — the physical
    * layout IS the partitioning. This is the 100 TB pattern for a join
    * that runs every day on the same key: pay the shuffle once at write
    * time, never again at read time. Files land under target/bucketed;
    * when they already exist (a later JVM), only the catalog entry is
    * re-attached — Spark keeps bucketing metadata in the catalog, not
    * the files.
    */
  def ensureBucketed(spark: org.apache.spark.sql.SparkSession, dir: String): (String, String) = {
    val names = Seq(("orders", "o_orderkey"), ("lineitem", "l_orderkey")).map { case (t, k) =>
      val name = s"graft_${t}_bucketed_${Scratch.sfTag(dir)}"
      // stale (or first build): rewrite files AND refresh the catalog
      // entry — a regenerated fixture must never serve old buckets.
      // The guard's rebuild line makes a rebuild VISIBLE in any bench
      // log: timeAll swallows prepare() failures by design, so a build
      // that crashed in prepare replays here inside the TIMED fn.
      val loc = DerivedCache.ensure(Scratch.cache("bucketed", dir, t), dir,
          Seq(t)) { path =>
        spark.sql(s"DROP TABLE IF EXISTS $name")
        Sources.table(spark, dir, t).write.mode("overwrite")
          .bucketBy(8, k).sortBy(k)
          .option("path", path).saveAsTable(name)
      }
      if (!spark.catalog.tableExists(name)) {
        // fresh files from an earlier JVM: re-attach the catalog entry
        // (Spark keeps bucketing metadata in the catalog, not the files)
        val src = Sources.table(spark, dir, t)
        spark.sql(s"CREATE TABLE IF NOT EXISTS $name (${src.schema.toDDL}) USING parquet " +
          s"CLUSTERED BY ($k) INTO 8 BUCKETS LOCATION '$loc'")
      }
      name
    }
    (names.head, names(1))
  }

  /** Co-located join over the bucketed twins: lineitem ⋈ orders on
    * orderkey with ZERO join-side shuffle (PlanSpec asserts the scans
    * read `Bucketed: true` and the only exchange in the plan is the
    * final small aggregation's). The merge hint pins sort-merge join so
    * the assertion is about bucketing, not AQE's broadcast choice.
    */
  val r19 = OpQuery(
    name = "r19_bucketed_colocated_join",
    fn = { (spark, dir) =>
      val (ordersT, lineitemT) = ensureBucketed(spark, dir)
      val o = spark.table(ordersT)
      val l = spark.table(lineitemT)
      l.hint("merge").join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderstatus")
    },
    oracle = Some(
      """SELECT o_orderstatus,
        |       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),
    doc = "bucketed co-located join: both facts pre-bucketed on the join key, zero join-side shuffle",
    prepare = (spark, dir) => { ensureBucketed(spark, dir); () })

  /** SCD-1 upsert / MERGE shape over the customer dimension: a
    * deterministic update batch (every 10th customer re-segmented with
    * a shifted balance) merged into the base — matched keys take the
    * update, unmatched pass through. The oracle re-derives the merge as
    * a FULL OUTER coalesce, which is exactly what the operator is.
    */
  val r20 = OpQuery.oracled("r20_upsert_merge",
    """WITH updates AS (
      |  SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment,
      |         c_acctbal + 100 AS c_acctbal
      |  FROM customer WHERE c_custkey % 10 = 0
      |)
      |SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
      |       coalesce(u.c_name, b.c_name) AS c_name,
      |       coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment,
      |       CAST(coalesce(u.c_acctbal, b.c_acctbal) AS DOUBLE) AS acctbal
      |FROM customer b FULL OUTER JOIN updates u ON u.c_custkey = b.c_custkey
      |ORDER BY c_custkey""".stripMargin,
    doc = "SCD-1 upsert (MERGE shape): full-outer key join, update side wins") { (spark, dir) =>
    val base = Sources.table(spark, dir, "customer")
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    val updates = base.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"),
        lit("UPDATED").as("c_mktsegment"),
        (col("c_acctbal") + 100).as("c_acctbal"))
    graft.api.Tables.upsert(base, updates, "c_custkey")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal").as("acctbal"))
      .orderBy("c_custkey")
  }

  /** Full CDC apply — r20's MERGE completed with the DELETE branch
    * ([[graft.api.Tables.applyCdc]]): a synthesized Debezium-style
    * change batch deletes every 7th customer, re-prices every 10th
    * surviving one, and inserts a new key per 13th — one full-outer
    * key join applies all three, with deleting-an-absent-key a no-op
    * and the delete filter fused into the same pass (no second anti
    * join). The oracle is the textbook CASE-over-full-outer-join MERGE.
    */
  val r53 = OpQuery.oracled("r53_cdc_apply",
    """WITH changes AS (
      |  SELECT c_custkey, c_name, c_mktsegment,
      |         CAST(c_acctbal AS DOUBLE) AS c_acctbal, 'D' AS op
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, 'REPRICED',
      |         CAST(c_acctbal + 50 AS DOUBLE), 'U'
      |  FROM customer WHERE c_custkey % 7 <> 0 AND c_custkey % 10 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'NEW ' || c_name, 'INSERTED',
      |         CAST(0 AS DOUBLE), 'U'
      |  FROM customer WHERE c_custkey % 13 = 0
      |), b AS (
      |  SELECT c_custkey, c_name, c_mktsegment,
      |         CAST(c_acctbal AS DOUBLE) AS c_acctbal
      |  FROM customer
      |)
      |SELECT coalesce(c.c_custkey, b.c_custkey) AS c_custkey,
      |       CASE WHEN c.op IS NOT NULL THEN c.c_name ELSE b.c_name END AS c_name,
      |       CASE WHEN c.op IS NOT NULL THEN c.c_mktsegment
      |            ELSE b.c_mktsegment END AS c_mktsegment,
      |       CAST(CASE WHEN c.op IS NOT NULL THEN c.c_acctbal
      |                 ELSE b.c_acctbal END AS DOUBLE) AS acctbal
      |FROM b FULL OUTER JOIN changes c ON c.c_custkey = b.c_custkey
      |WHERE coalesce(c.op, '') <> 'D'
      |ORDER BY c_custkey""".stripMargin,
    doc = "CDC MERGE with deletes: one full-outer join applies delete/update/insert branches (Debezium-shaped change batch)") { (spark, dir) =>
    val base = Sources.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    val changes = base.filter(col("c_custkey") % 7 === 0)
        .withColumn("op", lit("D"))
      .unionByName(base
        .filter(col("c_custkey") % 7 =!= 0 && col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"),
          lit("REPRICED").as("c_mktsegment"),
          (col("c_acctbal") + 50).cast("double").as("c_acctbal"))
        .withColumn("op", lit("U")))
      .unionByName(base.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"),
          concat(lit("NEW "), col("c_name")).as("c_name"),
          lit("INSERTED").as("c_mktsegment"),
          lit(0.0).as("c_acctbal"))
        .withColumn("op", lit("U")))
    graft.api.Tables.applyCdc(base, changes, "c_custkey")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal").as("acctbal"))
      .orderBy("c_custkey")
  }

  /** One-time build of a date-partitioned copy of `events` (Hive-style
    * `day=<epoch-day>` directories). Idempotent per scale factor; the
    * layout a 100 TB event store actually ships with.
    */
  def ensurePartitioned(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    DerivedCache.ensure(Scratch.cache("partitioned", dir, "events_by_day"),
        dir, Seq("events")) { loc =>
      Sources.table(spark, dir, "events")
        .withColumn("day", expr("ts div 1000 div 86400000000"))
        .write.mode("overwrite").partitionBy("day").parquet(loc)
    }

  /** Partition pruning — THE scan optimization at 100 TB: a one-week
    * filter over a day-partitioned event store must read 7 partitions'
    * files and skip the rest at PLANNING time (directory listing), not
    * filter rows after reading them. PlanSpec asserts `PartitionFilters`
    * carries the day bounds. The oracle computes the same week from the
    * unpartitioned table — the layout must be invisible in the result.
    */
  val r21 = OpQuery(
    name = "r21_partition_pruned_scan",
    fn = { (spark, dir) =>
      val loc = ensurePartitioned(spark, dir)
      spark.read.parquet(loc)
        .filter(col("day").between(19730, 19736))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("event_type")
    },
    oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE epoch_us(ts) // 86400000000 BETWEEN 19730 AND 19736
        |GROUP BY 1 ORDER BY event_type""".stripMargin),
    doc = "partition pruning: day-partitioned event store, week filter resolved at planning time",
    prepare = (spark, dir) => { ensurePartitioned(spark, dir); () })

  /** Group-wise top-k through the custom whole-operator path
    * ([[graft.plans.GroupTopK]] via [[graft.api.Windows.topKPerGroup]]):
    * top-3 most expensive parts per brand. The oracle is the
    * row_number window formulation — the bounded-heap plan must be
    * output-equivalent to the full-sort plan it replaces, which is
    * exactly what makes it a safe substitution at 100 TB.
    */
  val r22 = OpQuery.oracled("r22_group_topk_parts",
    """WITH r AS (
      |  SELECT p_brand, p_partkey, p_retailprice,
      |         row_number() OVER (PARTITION BY p_brand
      |                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
      |  FROM part
      |)
      |SELECT p_brand, p_partkey, CAST(p_retailprice AS DOUBLE) AS p_retailprice
      |FROM r WHERE rn <= 3
      |ORDER BY p_brand, p_retailprice DESC, p_partkey""".stripMargin,
    doc = "group-wise top-k via the custom bounded-heap operator (GroupTopK exec)") { (spark, dir) =>
    val p = Sources.table(spark, dir, "part")
      .select("p_brand", "p_partkey", "p_retailprice")
    graft.api.Windows.topKPerGroup(p, Seq("p_brand"),
      Seq(("p_retailprice", true), ("p_partkey", false)), 3)
      .select(col("p_brand"), col("p_partkey"),
        col("p_retailprice").cast("double").as("p_retailprice"))
      .orderBy(col("p_brand"), col("p_retailprice").desc, col("p_partkey"))
  }

  // Bit-interleave (Morton/Z-order) of the low 8 bits of two dimensions:
  // dim-x bits land at even positions, dim-y bits at odd. Generated as
  // the same arithmetic in both dialects (shifts + masks; no UDF).
  private def zSpark(x: String, y: String): String =
    (0 until 8).map(i =>
      s"(shiftleft(shiftright($x, $i) & 1, ${2 * i}) + shiftleft(shiftright($y, $i) & 1, ${2 * i + 1}))")
      .mkString("(", " + ", ")")
  private def zDuck(x: String, y: String): String =
    (0 until 8).map(i =>
      s"(((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1}))")
      .mkString("(", " + ", ")")

  /** Z-order (Morton) clustering of `orders` on (customer, order day) —
    * the multi-dimensional layout trick behind Delta/Iceberg OPTIMIZE
    * ZORDER: interleaving the bits of both keys makes rows that are
    * close in EITHER dimension land in the same file, so min/max file
    * statistics prune scans filtered on either one. The query computes
    * the z-value, range-partitions on it (the write-side layout step),
    * and verifies locality: each of the 64 z-buckets must span at most
    * a 32-value slab of each dimension's low byte — that tightness IS
    * what data skipping buys at 100 TB, and it is exactly what a
    * single-column sort cannot deliver for the second dimension.
    *
    * Scale shape: z-value is a pure map stage; repartitionByRange
    * samples the z distribution (one pass) and range-shuffles once —
    * the same cost profile as any sorted write; the locality check is
    * a 64-group aggregate.
    */
  val r23 = OpQuery.oracled("r23_zorder_layout", {
    s"""WITH d AS (
      |  SELECT CAST(o_custkey % 256 AS BIGINT) AS xlo,
      |         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT) AS ylo
      |  FROM orders
      |), z AS (
      |  SELECT xlo, ylo, ${zDuck("xlo", "ylo")} AS zval FROM d
      |)
      |SELECT CAST(zval >> 10 AS INT) AS z_bucket,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(min(xlo) AS INT) AS min_cust_lo, CAST(max(xlo) AS INT) AS max_cust_lo,
      |       CAST(min(ylo) AS INT) AS min_day_lo, CAST(max(ylo) AS INT) AS max_day_lo
      |FROM z GROUP BY 1
      |ORDER BY z_bucket""".stripMargin
  },
    doc = "Z-order layout: bit-interleaved clustering key + per-bucket locality proof") { (spark, dir) =>
    val d = Sources.table(spark, dir, "orders")
      .select((col("o_custkey") % 256).cast("bigint").as("xlo"),
        (datediff(col("o_orderdate"), lit("1992-01-01")) % 256).cast("bigint").as("ylo"))
      .withColumn("zval", expr(zSpark("xlo", "ylo")))
    d.repartitionByRange(16, col("zval"))
      .select(col("xlo"), col("ylo"), expr("shiftright(zval, 10)").cast("int").as("z_bucket"))
      .groupBy("z_bucket")
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        min("xlo").cast("int").as("min_cust_lo"), max("xlo").cast("int").as("max_cust_lo"),
        min("ylo").cast("int").as("min_day_lo"), max("ylo").cast("int").as("max_day_lo"))
      .orderBy("z_bucket")
  }

  // One unrolled step of the public-domain Hilbert xy2d recurrence
  // (state columns hx, hy, hd; step size s): quadrant rank from the
  // current bits, then the conditional reflect+swap rotation. The
  // expressions are pure integer CASE/&/- arithmetic valid verbatim in
  // BOTH Spark SQL and DuckDB, so the two engines run literally the
  // same text ((3*rx) XOR ry is spelled CASE rx=0 -> ry | rx=1 -> 3-ry
  // because DuckDB's ^ is exponentiation). All expressions in one layer
  // read the PREVIOUS layer's state, so a layer is one SELECT.
  private[graft] def hilbertLayer(s: Int): Seq[String] = {
    val rx = s"(CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END)"
    val ry = s"(CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END)"
    Seq(
      s"hd + ${s * s} * (CASE WHEN $rx = 0 THEN $ry ELSE 3 - $ry END) AS hd",
      s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - hy ELSE hy END) ELSE hx END AS hx",
      s"CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - hx ELSE hx END) ELSE hy END AS hy")
  }
  private[graft] val hilbertSteps = Seq(128, 64, 32, 16, 8, 4, 2, 1)

  /** Hilbert-curve clustering of `orders` on (customer, order day) —
    * the sharper alternative to r23's Z-order for multi-dimensional
    * data skipping. Morton interleaving has "seams": consecutive
    * z-values can jump across half the key space (cell 0b01111111 ->
    * 0b10000000 teleports diagonally), so some buckets' bounding boxes
    * are wide in one dimension. The Hilbert walk moves exactly one
    * cell per step (verified bijective + unit-step for the 256x256
    * grid), so every contiguous run of curve positions is a compact
    * blob — per-file min/max stats stay tight in BOTH dimensions,
    * which is why Hilbert is the layout picked by engines that take
    * multi-dim skipping seriously.
    *
    * Cost profile is identical to r23: the curve index is a pure map
    * stage (8 unrolled integer layers, whole-stage codegen'd),
    * repartitionByRange samples + shuffles once, and the locality
    * proof is a 64-group aggregate. The oracle runs the SAME unrolled
    * arithmetic text in DuckDB — the curve definition itself is what
    * is being hash-compared.
    */
  val r36 = OpQuery.oracled("r36_hilbert_layout", {
    val layers = hilbertSteps.zipWithIndex.map { case (s, i) =>
      val prev = if (i == 0) "d0" else s"s${hilbertSteps(i - 1)}"
      s"s$s AS (SELECT xlo, ylo, ${hilbertLayer(s).mkString(", ")} FROM $prev)"
    }.mkString(", ")
    s"""WITH base AS (
      |  SELECT CAST(o_custkey % 256 AS BIGINT) AS xlo,
      |         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) % 256 AS BIGINT) AS ylo
      |  FROM orders
      |), d0 AS (
      |  SELECT xlo, ylo, xlo AS hx, ylo AS hy, CAST(0 AS BIGINT) AS hd FROM base
      |), $layers
      |SELECT CAST(hd >> 10 AS INT) AS h_bucket,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(min(xlo) AS INT) AS min_cust_lo, CAST(max(xlo) AS INT) AS max_cust_lo,
      |       CAST(min(ylo) AS INT) AS min_day_lo, CAST(max(ylo) AS INT) AS max_day_lo
      |FROM s1 GROUP BY 1
      |ORDER BY h_bucket""".stripMargin
  },
    doc = "Hilbert-curve layout: unit-step space-filling clustering key + per-bucket locality proof; same unrolled arithmetic on both engines") { (spark, dir) =>
    val base = Sources.table(spark, dir, "orders")
      .select((col("o_custkey") % 256).cast("bigint").as("xlo"),
        (datediff(col("o_orderdate"), lit("1992-01-01")) % 256).cast("bigint").as("ylo"))
      .withColumn("hx", col("xlo"))
      .withColumn("hy", col("ylo"))
      .withColumn("hd", lit(0L))
    val curved = hilbertSteps.foldLeft(base) { (df, s) =>
      val Seq(hd, hx, hy) = hilbertLayer(s)
      df.select(col("xlo"), col("ylo"), expr(hd), expr(hx), expr(hy))
    }
    curved.repartitionByRange(16, col("hd"))
      .select(col("xlo"), col("ylo"), expr("hd >> 10").cast("int").as("h_bucket"))
      .groupBy("h_bucket")
      .agg(count(lit(1)).cast("bigint").as("n_orders"),
        min("xlo").cast("int").as("min_cust_lo"), max("xlo").cast("int").as("max_cust_lo"),
        min("ylo").cast("int").as("min_day_lo"), max("ylo").cast("int").as("max_day_lo"))
      .orderBy("h_bucket")
  }

  /** Incremental aggregate maintenance: a stored rollup (count / sum /
    * min / max per group) is brought up to date by aggregating ONLY the
    * new partition and merging partials — count+count, sum+sum,
    * min(min), max(max), avg re-derived from the merged sums. That
    * partial-aggregation algebra is what makes a 100 TB materialized
    * view maintainable: the base is never rescanned (here both branches
    * derive from the same table split at a date cutoff, so the oracle —
    * one flat GROUP BY over everything — can certify the merge is
    * lossless).
    *
    * Decimal-exact money keeps the merge order-insensitive: the merged
    * double would differ from the flat aggregation's double by summation
    * order, the merged DECIMAL cannot.
    */
  val r24 = OpQuery.oracled("r24_incremental_rollup",
    """SELECT o_orderpriority AS pri,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
      |       CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
      |FROM orders
      |GROUP BY 1
      |ORDER BY pri""".stripMargin,
    doc = "incremental rollup maintenance: delta partials merged into the base aggregate") { (spark, dir) =>
    val o = Sources.table(spark, dir, "orders")
      .select(col("o_orderpriority").as("pri"),
        col("o_totalprice").cast("decimal(18,2)").as("p"),
        col("o_orderdate"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("pri").agg(
        count(lit(1)).as("n"), sum("p").as("s"),
        min("p").as("mn"), max("p").as("mx"))
    // "base" = the stored rollup (derived here; a real pipeline reads
    // it); "delta" = the newly-landed partition, the only data scanned
    val base = partial(o.filter(col("o_orderdate") < "1995-01-01"))
    val delta = partial(o.filter(col("o_orderdate") >= "1995-01-01"))
    base.unionByName(delta)
      .groupBy("pri")
      .agg(sum("n").as("n2"), sum("s").as("s2"),
        min("mn").as("mn2"), max("mx").as("mx2"))
      .select(col("pri"),
        col("n2").cast("bigint").as("n_orders"),
        col("s2").cast("double").as("revenue"),
        col("mn2").cast("double").as("min_price"),
        col("mx2").cast("double").as("max_price"),
        (col("s2").cast("double") / col("n2")).as("avg_price"))
      .orderBy("pri")
  }

  /** Snapshot diff (CDC classification) between two versions of the
    * orders table: the later snapshot gains a year of orders (added),
    * drops every 89th key (removed), and bumps every 97th price
    * (changed). [[graft.api.Tables.diff]] classifies via per-row
    * payload hashes — one 32-byte hash per row crosses the full-outer
    * join, never the wide row — while the oracle classifies by
    * comparing the columns directly, so the hash-based implementation
    * is checked against the plain semantics it must preserve.
    */
  val r25 = OpQuery.oracled("r25_snapshot_diff",
    """WITH b AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st,
      |         CAST(o_totalprice AS DECIMAL(15,2)) AS pr
      |  FROM orders WHERE o_orderdate < DATE '1997-01-01'
      |), a AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st,
      |         CAST(o_totalprice AS DECIMAL(15,2))
      |           + CASE WHEN o_orderkey % 97 = 0 THEN 10 ELSE 0 END AS pr
      |  FROM orders WHERE o_orderdate < DATE '1998-01-01' AND o_orderkey % 89 <> 0
      |), j AS (
      |  SELECT CASE WHEN b.k IS NULL THEN 'added'
      |              WHEN a.k IS NULL THEN 'removed'
      |              WHEN b.st = a.st AND b.pr = a.pr THEN 'unchanged'
      |              ELSE 'changed' END AS change
      |  FROM b FULL JOIN a ON a.k = b.k
      |)
      |SELECT change, CAST(count(*) AS BIGINT) AS n_keys
      |FROM j GROUP BY 1
      |ORDER BY change""".stripMargin,
    doc = "snapshot diff / CDC classification (added/removed/changed/unchanged via payload hash)") { (spark, dir) =>
    val o = Sources.table(spark, dir, "orders")
    val before = o.filter(col("o_orderdate") < "1997-01-01")
      .select(col("o_orderkey"), col("o_orderstatus").as("st"),
        col("o_totalprice").cast("decimal(15,2)").as("pr"))
    val after = o
      .filter(col("o_orderdate") < "1998-01-01" && col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("st"),
        (col("o_totalprice").cast("decimal(15,2)")
          + when(col("o_orderkey") % 97 === 0, 10).otherwise(0)).as("pr"))
    graft.api.Tables.diff(before, after, "o_orderkey")
      .groupBy("change").agg(count(lit(1)).cast("bigint").as("n_keys"))
      .orderBy("change")
  }

  private val pivotYears = 1992 to 1998

  /** Pivot: revenue per nation with one column per order year — the
    * wide-report shape (`df.groupBy(...).pivot(...)`). The pivot values
    * are DECLARED, not discovered: an undeclared pivot() first runs a
    * distinct scan over the pivot column to learn its values — a whole
    * extra pass over a 100 TB fact table that a one-line value list
    * avoids. The oracle is the portable CASE-per-column formulation.
    */
  val r26 = OpQuery.oracled("r26_pivot_revenue_by_year", {
    val cases = pivotYears.map(y =>
      s"CAST(sum(CASE WHEN year(o_orderdate) = $y THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS y$y")
      .mkString(",\n      |       ")
    s"""SELECT n_name,
      |       $cases
      |FROM orders
      |JOIN customer ON c_custkey = o_custkey
      |JOIN nation ON n_nationkey = c_nationkey
      |GROUP BY 1
      |ORDER BY n_name""".stripMargin
  },
    doc = "pivot to one revenue column per year (declared pivot values; oracle = CASE columns)") { (spark, dir) =>
    val df = Sources.table(spark, dir, "orders")
      .join(Sources.table(spark, dir, "customer"),
        col("c_custkey") === col("o_custkey"))
      .join(broadcast(Sources.table(spark, dir, "nation")),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("n_name"), year(col("o_orderdate")).as("yr"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    df.groupBy("n_name")
      .pivot("yr", pivotYears.map(y => y: Integer))
      .agg(sum("p"))
      .select(col("n_name") +: pivotYears.map(y =>
        col(s"$y").cast("double").as(s"y$y")): _*)
      .orderBy("n_name")
  }

  /** UNPIVOT (melt) — the inverse reshape of r26's pivot: the wide
    * one-column-per-year report back to (nation, year, revenue) long
    * form, the shape every downstream groupBy/join/window wants.
    * Engine side is the native `Dataset.unpivot` (one Expand node — a
    * zero-shuffle generator stage over the already-small wide frame);
    * the oracle splices r26's own text as the wide input and unrolls
    * the melt as a UNION ALL per year column, so the round trip
    * pivot→unpivot is value-checked against the long-form aggregate.
    * Nation-years with no orders surface as NULL cells in the wide
    * frame and are dropped from the long form on both sides.
    */
  val r61 = OpQuery.oracled("r61_unpivot_revenue_long", {
    val arms = pivotYears.map(y =>
      s"SELECT n_name, $y AS order_year, y$y AS revenue FROM wide")
      .mkString("\n      |  UNION ALL\n      |  ")
    s"""WITH wide AS (
      |${r26.oracle.get.trim}
      |), long AS (
      |  $arms
      |)
      |SELECT n_name, order_year, revenue
      |FROM long WHERE revenue IS NOT NULL
      |ORDER BY n_name, order_year""".stripMargin
  },
    doc = "UNPIVOT/melt: wide per-year columns back to long form via native unpivot; oracle unrolls the melt over r26's spliced text") { (spark, dir) =>
    r26.fn(spark, dir)
      .unpivot(Array(col("n_name")),
        pivotYears.map(y => col(s"y$y")).toArray, "yr_name", "revenue")
      .filter(col("revenue").isNotNull)
      .select(col("n_name"),
        substring(col("yr_name"), 2, 4).cast("int").as("order_year"),
        col("revenue"))
      .orderBy("n_name", "order_year")
  }

  /** Hybrid skew join (manual hot-key split): revenue per part brand
    * with the 20 most frequent part keys routed around the shuffle
    * through a broadcast join ([[graft.api.Joins.skewSplitJoin]]). On
    * this synthetic (uniform) data the hot set is just the mild top of
    * the frequency curve — the point is the operator's contract: the
    * union of the two paths must equal the plain join bit for bit,
    * which is exactly what the oracle (the plain join in SQL) checks.
    * At 100 TB the hot set comes from stored stats (viral items, bot
    * users) and this is the shape that keeps one key from pinning a
    * whole executor.
    */
  val r27 = OpQuery.oracled("r27_hotkey_split_join",
    """SELECT p_brand,
      |       CAST(sum(CAST((l_extendedprice * (1 - l_discount)) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |GROUP BY 1 ORDER BY p_brand""".stripMargin,
    doc = "hybrid skew join: top-20 hot fact keys broadcast-joined, cold keys shuffle-joined, union == plain join") { (spark, dir) =>
    val li = Sources.table(spark, dir, "lineitem")
      .select("l_partkey", "l_extendedprice", "l_discount")
    val part = Sources.table(spark, dir, "part").select("p_partkey", "p_brand")
    Joins.skewSplitJoin(li, part, "l_partkey", "p_partkey", topHotKeys = 20)
      .groupBy("p_brand")
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")
  }

  /** Interval-overlap join ([[graft.api.Joins.intervalJoin]]): per-user
    * daily activity intervals [first event, last event] overlapped with
    * "incident windows" (the 20 busiest error hours — deterministic
    * top-k with an hour tie-break). There is no shared entity key —
    * an incident touches every user active during it — which is the
    * case neither the as-of join (needs a key) nor r17's point-in-
    * interval range join (needs a point side) covers: both sides here
    * are genuine intervals. 6-hour buckets keep the fan-out at <=5
    * copies per user-day and 1-2 per incident.
    */
  val r28 = OpQuery.oracled("r28_interval_overlap_join",
    """WITH ue AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         min(epoch_us(ts)) AS a_start, max(epoch_us(ts)) + 1 AS a_end
      |  FROM events GROUP BY 1, 2
      |), eh AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS n
      |  FROM events WHERE event_type = 'error' GROUP BY 1
      |), inc AS (
      |  SELECT hr * 3600000000 AS i_start, (hr + 1) * 3600000000 AS i_end
      |  FROM eh ORDER BY n DESC, hr LIMIT 20
      |)
      |SELECT CAST(i_start // 1000000 AS BIGINT) AS incident_start_s,
      |       count(*) AS n_user_days
      |FROM inc JOIN ue ON a_start < i_end AND i_start < a_end
      |GROUP BY 1 ORDER BY incident_start_s""".stripMargin,
    doc = "interval-interval overlap join via bucketed time (no shared entity key, both sides intervals)") { (spark, dir) =>
    val ev = Sources.table(spark, dir, "events")
      .withColumn("us", expr("ts div 1000"))
    val userDays = ev
      .groupBy(col("user_id"), expr("us div 86400000000").as("day"))
      .agg(min("us").as("a_start"), (max("us") + 1).as("a_end"))
    val incidents = ev.filter(col("event_type") === "error")
      .groupBy(expr("us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("hr"))
      .limit(20)
      .select((col("hr") * 3600000000L).as("i_start"),
        ((col("hr") + 1) * 3600000000L).as("i_end"))
    Joins.intervalJoin(incidents, userDays,
        "i_start", "i_end", "a_start", "a_end", bucketUs = 21600000000L)
      .groupBy((col("i_start") / 1000000L).cast("bigint").as("incident_start_s"))
      .agg(count(lit(1)).as("n_user_days"))
      .orderBy("incident_start_s")
  }

  /** The same incident x user-day overlap as r28, but through the
    * NATIVE interval-join operator ([[graft.api.Joins.intervalJoinNative]],
    * `plans.IntervalJoin`) — no bucket-width knob: the exec samples the
    * interval starts, range-partitions the time domain, replicates each
    * interval to exactly the partitions its span covers, and
    * plane-sweeps each partition with exactly-once pair emission. The
    * oracle is identical to r28's, which is the point: two
    * implementations (declarative bucketed join, custom exec), one
    * semantics, both hash-checked against the same SQL.
    */
  val r29 = OpQuery.oracled("r29_interval_join_native",
    """WITH ue AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         min(epoch_us(ts)) AS a_start, max(epoch_us(ts)) + 1 AS a_end
      |  FROM events GROUP BY 1, 2
      |), eh AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, count(*) AS n
      |  FROM events WHERE event_type = 'error' GROUP BY 1
      |), inc AS (
      |  SELECT hr * 3600000000 AS i_start, (hr + 1) * 3600000000 AS i_end
      |  FROM eh ORDER BY n DESC, hr LIMIT 20
      |)
      |SELECT CAST(i_start // 1000000 AS BIGINT) AS incident_start_s,
      |       count(*) AS n_user_days
      |FROM inc JOIN ue ON a_start < i_end AND i_start < a_end
      |GROUP BY 1 ORDER BY incident_start_s""".stripMargin,
    doc = "NATIVE interval join (sampled range partitions + plane sweep, exactly-once emission); same oracle as the bucketed r28") { (spark, dir) =>
    val ev = Sources.table(spark, dir, "events")
      .withColumn("us", expr("ts div 1000"))
    val userDays = ev
      .groupBy(col("user_id"), expr("us div 86400000000").as("day"))
      .agg(min("us").as("a_start"), (max("us") + 1).as("a_end"))
    val incidents = ev.filter(col("event_type") === "error")
      .groupBy(expr("us div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("hr"))
      .limit(20)
      .select((col("hr") * 3600000000L).as("i_start"),
        ((col("hr") + 1) * 3600000000L).as("i_end"))
    Joins.intervalJoinNative(incidents, userDays,
        "i_start", "i_end", "a_start", "a_end")
      .groupBy((col("i_start") / 1000000L).cast("bigint").as("incident_start_s"))
      .agg(count(lit(1)).as("n_user_days"))
      .orderBy("incident_start_s")
  }

  /** One-time build of a time-clustered copy of `events` (range-
    * partitioned on epoch-µs into 16 files) plus its ZONE MAP: a tiny
    * stats table of per-file (min_us, max_us), written at layout time.
    * This is the file-level data-skipping machinery of Delta/Iceberg/
    * parquet row-group pruning, made explicit: clustering makes the
    * per-file ranges tight, and tight ranges are what make min/max
    * stats selective.
    */
  def ensureZoneMapped(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val root = DerivedCache.ensure(Scratch.cache("zonemap", dir), dir,
        Seq("events")) { loc =>
      Sources.table(spark, dir, "events")
        .withColumn("us", expr("ts div 1000"))
        .repartitionByRange(16, col("us"))
        .sortWithinPartitions("us")
        .write.mode("overwrite").parquet(s"$loc/events_by_time")
      graft.io.ZoneMap.stats(spark, s"$loc/events_by_time", "us")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$loc/stats")
    }
    (s"$root/events_by_time", s"$root/stats")
  }

  /** Zone-map file skipping: a one-week time filter answered by reading
    * ONLY the files whose stored [min_us, max_us] range intersects the
    * predicate. The stats table is rows-per-FILE (a few KB per PB), so
    * consulting it costs nothing; false inclusions are filtered by the
    * real predicate, so — like r18's Bloom filter and r21's partition
    * pruning — skipping must be invisible in the result, and the oracle
    * is the plain unskipped filter. Unlike r21 the layout needs no
    * partition directories: clustering + stats prune INSIDE a flat
    * file set, which is how table formats skip at 100 TB without a
    * directory explosion.
    */
  val r31 = OpQuery(
    name = "r31_zonemap_file_skip",
    fn = { (spark, dir) =>
      val (loc, statsLoc) = ensureZoneMapped(spark, dir)
      val lo = 19738L * 86400000000L
      val hi = 19745L * 86400000000L
      graft.io.ZoneMap.prunedRead(spark, statsLoc, lo, hi)
        .filter(col("us") >= lo && col("us") < hi)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("event_type")
    },
    oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE epoch_us(ts) >= 19738 * 86400000000 AND epoch_us(ts) < 19745 * 86400000000
        |GROUP BY 1 ORDER BY event_type""".stripMargin),
    doc = "zone-map file skipping: time-clustered layout + per-file min/max stats prune a flat file set",
    prepare = (spark, dir) => { ensureZoneMapped(spark, dir); () })

  /** One-time build for r35: fragment `events` into 48 small files
    * partitioned on a NON-time key (simulating what per-minute
    * micro-batch ingest leaves behind — every file's time range spans
    * the whole table, so zone maps prune nothing), then run the
    * clustered compaction pass ([[graft.api.Tables.compactClustered]])
    * that rewrites it time-clustered and refreshes the zone map.
    */
  def ensureCompacted(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val root = DerivedCache.ensure(Scratch.cache("compact", dir), dir,
        Seq("events")) { loc =>
      Sources.table(spark, dir, "events")
        .withColumn("us", expr("ts div 1000"))
        .repartition(48, col("event_id"))
        .write.mode("overwrite").parquet(s"$loc/events_fragmented")
      graft.api.Tables.compactClustered(spark, s"$loc/events_fragmented",
        s"$loc/events_compacted", "us", s"$loc/stats",
        targetFileBytes = 4L * 1024 * 1024)
    }
    (s"$root/events_compacted", s"$root/stats")
  }

  /** Compaction correctness: the same zone-map-pruned one-week scan as
    * r31, but over a table that STARTED as 48 time-interleaved small
    * files (a micro-batch sink's debris) and was rewritten by the
    * clustered compaction pass. Compaction + re-clustering + stats
    * refresh must all be invisible in the result, so the oracle is the
    * plain filter over the original events table. The scale story is
    * the maintenance loop every table format runs: ingest appends tiny
    * unclustered files -> OPTIMIZE rewrites them range-clustered ->
    * zone maps become selective again (the fragmented layout's stats
    * would prune NOTHING — every file spans the full time range).
    */
  val r35 = OpQuery(
    name = "r35_compacted_zonemap_scan",
    fn = { (spark, dir) =>
      val (_, statsLoc) = ensureCompacted(spark, dir)
      val lo = 19745L * 86400000000L
      val hi = 19752L * 86400000000L
      graft.io.ZoneMap.prunedRead(spark, statsLoc, lo, hi)
        .filter(col("us") >= lo && col("us") < hi)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy("event_type")
    },
    oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE epoch_us(ts) >= 19745 * 86400000000 AND epoch_us(ts) < 19752 * 86400000000
        |GROUP BY 1 ORDER BY event_type""".stripMargin),
    doc = "clustered compaction (OPTIMIZE): small-file debris rewritten range-clustered with a fresh zone map; result provably unchanged",
    prepare = (spark, dir) => { ensureCompacted(spark, dir); () })

  def ensureBloomIndexed(spark: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val root = DerivedCache.ensure(Scratch.cache("bloomidx", dir), dir,
        Seq("lineitem")) { loc =>
      Sources.table(spark, dir, "lineitem")
        .repartitionByRange(16, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(s"$loc/lineitem_by_shipdate")
      graft.io.BloomIndex.build(spark, s"$loc/lineitem_by_shipdate",
        "l_orderkey", s"$loc/stats")
    }
    (s"$root/lineitem_by_shipdate", s"$root/stats")
  }

  /** Bloom-index file skipping — the equality-predicate complement of
    * r31's zone maps. The layout is the natural ingest order (files
    * range-clustered by ship DATE), so a point lookup on the ORDER key
    * gets nothing from min/max stats: every file's [min, max] orderkey
    * range spans the whole key space. The per-file Bloom sets
    * ([[graft.io.BloomIndex]]) answer "which files can hold this key"
    * from KBs of metadata — one order's handful of lines ships on a few
    * dates, so the probe touches a few files of the fleet, which is how
    * a needle query survives a 100 TB date-ordered fact table (Delta/
    * Iceberg bloom indexes, parquet column bloom filters). False
    * positives pass through the kept equality predicate; skipping must
    * be invisible, so the oracle is the plain unpruned lookup. The
    * probe key (the table's min orderkey) is a driver-collected config
    * scalar — the S8 shape, one row.
    */
  val r33 = OpQuery(
    name = "r33_bloom_index_point_lookup",
    fn = { (spark, dir) =>
      val (loc, statsLoc) = ensureBloomIndexed(spark, dir)
      val probe = Sources.table(spark, dir, "lineitem")
        .agg(min("l_orderkey")).head().getLong(0)
      graft.io.BloomIndex.prunedRead(spark, loc, statsLoc, probe.toString)
        .filter(col("l_orderkey") === probe)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"),
          col("l_extendedprice").cast("decimal(18,2)").cast("double")
            .as("price"))
        .orderBy("l_linenumber")
    },
    oracle = Some(
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM lineitem
        |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
        |ORDER BY l_linenumber""".stripMargin),
    doc = "per-file Bloom index prunes a point lookup over a date-clustered layout; oracle is the unpruned lookup",
    prepare = (spark, dir) => { ensureBloomIndexed(spark, dir); () })

  /** SCD2 (type-2 slowly-changing-dimension) history build from a
    * change feed: each key's versioned rows become validity intervals —
    * valid_from = the version's own timestamp, valid_to = the NEXT
    * version's (open for the current row). The change feed is
    * synthesized deterministically from orders (initial load plus two
    * partial update waves), restricted to every 50th key so the output
    * stays diffable. One window, partitioned by key and ordered by
    * version — per-key history is short by construction, so the window
    * partitions stay bounded no matter how large the dimension grows;
    * no join, no shuffle beyond the window's own.
    */
  val r39 = OpQuery.oracled("r39_scd2_history",
    """WITH feed AS (
      |  SELECT o_orderkey AS k, TIMESTAMP '2025-01-01 00:00:00' AS version_ts,
      |         CAST(o_totalprice AS DECIMAL(15,2)) AS pr
      |  FROM orders WHERE o_orderkey % 50 = 0
      |  UNION ALL
      |  SELECT o_orderkey, TIMESTAMP '2025-02-01 00:00:00',
      |         CAST(CAST(o_totalprice AS DECIMAL(15,2)) + 10 AS DECIMAL(15,2))
      |  FROM orders WHERE o_orderkey % 50 = 0 AND o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, TIMESTAMP '2025-03-01 00:00:00',
      |         CAST(CAST(o_totalprice AS DECIMAL(15,2)) + 25 AS DECIMAL(15,2))
      |  FROM orders WHERE o_orderkey % 50 = 0 AND o_orderkey % 7 = 0
      |)
      |SELECT k, CAST(epoch_us(version_ts) AS BIGINT) AS valid_from,
      |       CAST(epoch_us(lead(version_ts) OVER (PARTITION BY k ORDER BY version_ts)) AS BIGINT) AS valid_to,
      |       CAST(pr AS DOUBLE) AS pr,
      |       CAST(CASE WHEN lead(version_ts) OVER (PARTITION BY k ORDER BY version_ts)
      |                 IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM feed
      |ORDER BY k, valid_from""".stripMargin,
    doc = "SCD2 validity intervals from a change feed (lead window per key; the warehouse history-table op)") { (spark, dir) =>
    val o = Sources.table(spark, dir, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(15,2)").as("pr0"))
    // to_timestamp parses in the SESSION timezone (pinned UTC by every
    // entry point) — java.sql.Timestamp.valueOf would parse in the JVM
    // default zone and shift the emitted epoch-µs on any non-UTC host
    def wave(ts: String, bump: Int, pred: org.apache.spark.sql.Column) =
      o.filter(pred).select(col("k"),
        to_timestamp(lit(ts)).as("version_ts"),
        (col("pr0") + bump).cast("decimal(15,2)").as("pr"))
    val feed = wave("2025-01-01 00:00:00", 0, lit(true))
      .unionByName(wave("2025-02-01 00:00:00", 10, col("k") % 3 === 0))
      .unionByName(wave("2025-03-01 00:00:00", 25, col("k") % 7 === 0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("version_ts")
    // validity bounds leave as epoch-µs BIGINT, not TIMESTAMP: Spark
    // writes parquet timestamps at a different physical unit than the
    // DuckDB oracle produces, so the driver's raw-value hash would see
    // equal instants as different integers (round-6/7 hash-fail). The
    // engine's own µs discipline, applied to its outputs.
    feed.select(col("k"), unix_micros(col("version_ts")).as("valid_from"),
        unix_micros(lead(col("version_ts"), 1).over(w)).as("valid_to"),
        col("pr").cast("double").as("pr"),
        when(lead(col("version_ts"), 1).over(w).isNull, 1L).otherwise(0L)
          .cast("bigint").as("is_current"))
      .orderBy("k", "valid_from")
  }

  /** Day-dimension table for the DPP demo: every observed day tagged
    * 'hot' (the 5 busiest by event count, ties by day) or 'cold'. The
    * tag is DATA, not derivable from the day value — that is what
    * forces the fact-side partition filter to be dynamic (resolved
    * from the dim scan at runtime), not static constraint propagation.
    */
  def ensureDayDim(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    DerivedCache.ensure(Scratch.cache("partitioned", dir, "day_dim"), dir,
        Seq("events")) { loc =>
      val days = Sources.table(spark, dir, "events")
        .withColumn("day", expr("ts div 1000 div 86400000000"))
        .groupBy("day").agg(count(lit(1)).as("n"))
      val busy = days.orderBy(col("n").desc, col("day")).limit(5)
        .select(col("day"), lit("hot").as("tag"))
      days.select("day").join(busy, Seq("day"), "left")
        .select(col("day"), coalesce(col("tag"), lit("cold")).as("tag"))
        .write.mode("overwrite").parquet(loc)
    }

  /** Dynamic partition pruning — the RUNTIME half of the r21 story: the
    * week filter there is a literal the planner prunes by at planning
    * time; here the interesting days are data in a dimension table
    * (tag = 'hot'), so the set of fact partitions to read is only known
    * after the dim scan. Spark's DPP inserts a pruning subquery into
    * the fact scan's PartitionFilters (PlanSpec asserts
    * `dynamicpruning` is present), and the broadcast that feeds the
    * join is reused as the pruning filter — at 100 TB this is the
    * difference between reading 5 days and reading the whole store
    * when the predicate lives in a dim. The oracle recomputes the
    * busiest-day rule from the flat table, so the layout AND the
    * pruning are invisible in the result.
    */
  val r45 = OpQuery(
    name = "r45_dynamic_partition_pruning",
    fn = { (spark, dir) =>
      val factLoc = ensurePartitioned(spark, dir)
      val dimLoc = ensureDayDim(spark, dir)
      val fact = spark.read.parquet(factLoc)
      val hotDays = spark.read.parquet(dimLoc).filter(col("tag") === "hot")
      fact.join(hotDays, "day")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double")
            .as("total_value"))
        .orderBy("event_type")
    },
    oracle = Some(
      """WITH d AS (
        |  SELECT epoch_us(ts) // 86400000000 AS day, event_type, value
        |  FROM events
        |), busy AS (
        |  SELECT day FROM (SELECT day, count(*) AS n FROM d GROUP BY 1)
        |  ORDER BY n DESC, day LIMIT 5
        |)
        |SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM d JOIN busy USING (day)
        |GROUP BY 1 ORDER BY event_type""".stripMargin),
    doc = "dynamic partition pruning: dim-side 'hot' tag prunes the day-partitioned fact scan at runtime",
    prepare = (spark, dir) => {
      ensurePartitioned(spark, dir); ensureDayDim(spark, dir); ()
    })

  /** Two-epoch orders layout for the schema-evolution scan (r59): the
    * v1 batch was written BEFORE the `o_channel` column existed, the v2
    * batch after. Both derive deterministically from `orders` split at
    * a date cutoff, so the oracle can re-derive the merged read from
    * the flat table. Cached per SF under `target/` with the standard
    * fingerprint staleness guard.
    */
  def ensureEvolved(spark: org.apache.spark.sql.SparkSession,
      dir: String): String =
    DerivedCache.ensure(Scratch.cache("evolved", dir, "orders_channel"), dir,
        Seq("orders")) { loc =>
      val o = Sources.table(spark, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      o.filter(col("o_orderdate") < "1996-01-01")
        .write.mode("overwrite").parquet(s"$loc/v1")
      o.filter(col("o_orderdate") >= "1996-01-01")
        .withColumn("o_channel",
          when(col("o_orderkey") % 3 === 0, "web")
            .when(col("o_orderkey") % 3 === 1, "store")
            .otherwise("app"))
        .write.mode("overwrite").parquet(s"$loc/v2")
    }

  /** Schema evolution across file generations — the scan-layer fact of
    * life on any long-lived 100 TB table: columns get added, and the
    * petabytes already written are never rewritten. `mergeSchema`
    * unions the per-file schemas at planning time and null-backfills
    * the missing column on old files; the query layer then applies the
    * backfill rule (`coalesce(o_channel, 'legacy')`). The oracle
    * re-derives the same report from the flat table with the epoch
    * split inlined, so both the merged read AND the null-backfill are
    * value-checked — a schema-evolved scan must be indistinguishable
    * from a table that always had the column.
    */
  val r59 = OpQuery(
    name = "r59_schema_evolved_scan",
    fn = { (spark, dir) =>
      val loc = ensureEvolved(spark, dir)
      spark.read.option("mergeSchema", "true")
        .parquet(s"$loc/v1", s"$loc/v2")
        .groupBy(coalesce(col("o_channel"), lit("legacy")).as("channel"))
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy("channel")
    },
    oracle = Some(
      """SELECT CASE WHEN o_orderdate >= DATE '1996-01-01'
        |            THEN CASE WHEN o_orderkey % 3 = 0 THEN 'web'
        |                      WHEN o_orderkey % 3 = 1 THEN 'store'
        |                      ELSE 'app' END
        |            ELSE 'legacy' END AS channel,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY 1 ORDER BY channel""".stripMargin),
    doc = "schema-evolution scan: mergeSchema union over two file generations + null-backfill, invisible vs the flat table",
    prepare = (spark, dir) => { ensureEvolved(spark, dir); () })

  /** Incremental JOIN-view maintenance — r24's partial-agg merge where
    * the view's grain is a join-derived key (`c_nationkey` lives on the
    * dimension, not the fact): the delta batch must be JOINED before
    * its partials can merge into the stored view. The dimension is
    * broadcast, so maintenance costs one map-side join over the delta
    * plus a k-group merge — the base fact is never rescanned (here both
    * branches derive from the same table split at a date cutoff so the
    * flat-join oracle can certify the merge is lossless). Decimal-exact
    * money keeps the merge order-insensitive; avg is re-derived from
    * the merged sums, never averaged across partials.
    */
  val r60 = OpQuery.oracled("r60_incremental_join_view",
    """SELECT c_nationkey,
      |       CAST(count(*) AS BIGINT) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_order
      |FROM orders JOIN customer ON c_custkey = o_custkey
      |GROUP BY 1 ORDER BY c_nationkey""".stripMargin,
    doc = "incremental join-view maintenance: broadcast-dim delta join + partial-agg merge; the stored base is never rescanned") { (spark, dir) =>
    val cust = Sources.table(spark, dir, "customer")
      .select("c_custkey", "c_nationkey")
    val o = Sources.table(spark, dir, "orders")
      .select(col("o_custkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"),
        col("o_orderdate"))
    def partial(df: DataFrame): DataFrame =
      df.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"), sum("p").as("s"))
    // "base" = the stored view's partials (derived here; a real
    // pipeline reads them); "delta" = the newly-landed batch — the
    // only fact data a production maintenance pass scans and joins
    val base = partial(o.filter(col("o_orderdate") < "1996-01-01"))
    val delta = partial(o.filter(col("o_orderdate") >= "1996-01-01"))
    base.unionByName(delta)
      .groupBy("c_nationkey")
      .agg(sum("n").as("n2"), sum("s").as("s2"))
      .select(col("c_nationkey"),
        col("n2").cast("bigint").as("n_orders"),
        col("s2").cast("double").as("revenue"),
        (col("s2").cast("double") / col("n2")).as("avg_order"))
      .orderBy("c_nationkey")
  }

  /** Bitemporal point-in-time query — r39's VALID-time axis crossed
    * with a TRANSACTION-time axis ("when did the warehouse learn it"):
    * for each knowledge cutoff K, the value of every key at valid
    * instant V is the feed row with the greatest valid_ts ≤ V among
    * rows recorded by K, latest-recorded winning inside equal valid_ts
    * (a correction restates an instant; the newest statement of that
    * instant is the truth). The feed is r39's deterministic synthesis
    * plus a LATE CORRECTION wave: every 6th-key February value is
    * restated on Feb 10 — so the SAME (key, V) query answers
    * differently at K=Feb 7 (correction not yet known) and K=Mar 1
    * (correction applied), which is exactly the reproducibility
    * contract a bitemporal store gives an ML pipeline: "rebuild the
    * features as they were computable on day X".
    *
    * Scale shape: the two knowledge cutoffs are a broadcast 2-row
    * dimension; one window per (key, cutoff) over per-key histories
    * that are short by construction (version chains, not event
    * streams); everything else is a projection.
    */
  val r63 = OpQuery.oracled("r63_bitemporal_pointintime",
    """WITH feed AS (
      |  SELECT o_orderkey AS k, TIMESTAMP '2025-01-01 00:00:00' AS valid_ts,
      |         TIMESTAMP '2025-01-02 00:00:00' AS recorded_ts,
      |         CAST(o_totalprice AS DECIMAL(15,2)) AS pr
      |  FROM orders WHERE o_orderkey % 50 = 0
      |  UNION ALL
      |  SELECT o_orderkey, TIMESTAMP '2025-02-01 00:00:00',
      |         TIMESTAMP '2025-02-05 00:00:00',
      |         CAST(CAST(o_totalprice AS DECIMAL(15,2)) + 10 AS DECIMAL(15,2))
      |  FROM orders WHERE o_orderkey % 50 = 0 AND o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, TIMESTAMP '2025-02-01 00:00:00',
      |         TIMESTAMP '2025-02-10 00:00:00',
      |         CAST(CAST(o_totalprice AS DECIMAL(15,2)) + 5 AS DECIMAL(15,2))
      |  FROM orders WHERE o_orderkey % 50 = 0 AND o_orderkey % 6 = 0
      |), cutoff AS (
      |  SELECT CAST(epoch_us(TIMESTAMP '2025-02-07 00:00:00') AS BIGINT) AS kc_us
      |  UNION ALL
      |  SELECT CAST(epoch_us(TIMESTAMP '2025-03-01 00:00:00') AS BIGINT)
      |), visible AS (
      |  SELECT c.kc_us, f.k,
      |         CAST(epoch_us(f.valid_ts) AS BIGINT) AS valid_us,
      |         CAST(epoch_us(f.recorded_ts) AS BIGINT) AS recorded_us,
      |         f.pr,
      |         row_number() OVER (
      |           PARTITION BY c.kc_us, f.k
      |           ORDER BY f.valid_ts DESC, f.recorded_ts DESC) AS rn
      |  FROM feed f CROSS JOIN cutoff c
      |  WHERE epoch_us(f.recorded_ts) <= c.kc_us
      |    AND f.valid_ts <= TIMESTAMP '2025-02-03 00:00:00'
      |)
      |SELECT kc_us, k, valid_us, recorded_us, CAST(pr AS DOUBLE) AS pr
      |FROM visible WHERE rn = 1
      |ORDER BY kc_us, k""".stripMargin,
    doc = "bitemporal point-in-time: per knowledge-cutoff, value at a valid instant with late corrections applied only once recorded (valid-desc, recorded-desc window)") { (spark, dir) =>
    val o = Sources.table(spark, dir, "orders")
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(15,2)").as("pr0"))
    def wave(validTs: String, recordedTs: String, bump: Int,
        pred: org.apache.spark.sql.Column) =
      o.filter(pred).select(col("k"),
        to_timestamp(lit(validTs)).as("valid_ts"),
        to_timestamp(lit(recordedTs)).as("recorded_ts"),
        (col("pr0") + bump).cast("decimal(15,2)").as("pr"))
    val feed = wave("2025-01-01 00:00:00", "2025-01-02 00:00:00", 0, lit(true))
      .unionByName(wave("2025-02-01 00:00:00", "2025-02-05 00:00:00", 10,
        col("k") % 3 === 0))
      .unionByName(wave("2025-02-01 00:00:00", "2025-02-10 00:00:00", 5,
        col("k") % 6 === 0))
    import spark.implicits._
    val cutoffs = Seq("2025-02-07 00:00:00", "2025-03-01 00:00:00")
      .toDF("kc_str")
      .select(unix_micros(to_timestamp(col("kc_str"))).as("kc_us"))
    val v = to_timestamp(lit("2025-02-03 00:00:00"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("kc_us", "k")
      .orderBy(col("valid_ts").desc, col("recorded_ts").desc)
    feed.filter(col("valid_ts") <= v)
      .crossJoin(broadcast(cutoffs))
      .filter(unix_micros(col("recorded_ts")) <= col("kc_us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("kc_us"), col("k"),
        unix_micros(col("valid_ts")).as("valid_us"),
        unix_micros(col("recorded_ts")).as("recorded_us"),
        col("pr").cast("double").as("pr"))
      .orderBy("kc_us", "k")
  }

  val all: Seq[OpQuery] = Seq(r17, r18, r19, r20, r21, r22, r23, r24, r25,
    r26, r27, r28, r29, r31, r33, r35, r36, r39, r45, r53, r59, r60, r61,
    r63)
}
