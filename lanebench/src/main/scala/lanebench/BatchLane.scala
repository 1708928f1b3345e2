package lanebench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.clean.Cleaners
import graft.fixtures.FixtureTables
import graft.model.Schemas
import graft.ops.ReferenceQueries

/** Operator counts read from executed plans. */
object Plans extends AdaptiveSparkPlanHelper {
  def scans(p: SparkPlan): Int = collectWithSubqueries(p) { case s: FileSourceScanExec => s }.size
  def groupTopK(p: SparkPlan): Int =
    collectWithSubqueries(p) { case n if n.nodeName.contains("GroupTopK") => n }.size
}

/** batch_reference: every pass collects each query of
  * ReferenceQueries.all over the raw parquet tables the fixture resolver
  * finds under the dataset directory, then runs the dedup lane
  * ([[DedupLane]]) over the same pin table. Each query result is reduced
  * to an order-independent hash that run.py compares with the DuckDB
  * oracle's; the dedup pairs go to run.py for the planted-pair
  * checks.
  */
object BatchLane {

  /** Canonical text of one value, shared with the oracle side in run.py:
    * integers in decimal, floating point as its exact decimal expansion.
    */
  def canon(v: Any): String = v match {
    case null => "N"
    case s: String => "s:" + s
    case i: java.lang.Integer => "i:" + i
    case l: java.lang.Long => "i:" + l
    case i: java.lang.Short => "i:" + i
    case i: java.lang.Byte => "i:" + i
    case d: java.lang.Double => "d:" + new java.math.BigDecimal(d.doubleValue).toPlainString
    case f: java.lang.Float => "d:" + new java.math.BigDecimal(f.doubleValue).toPlainString
    case b: java.math.BigDecimal => "n:" + b.stripTrailingZeros.toPlainString
    case b: java.lang.Boolean => "b:" + b
    case other => "o:" + other.toString
  }

  /** SHA-256 over the sorted canonical rows, columns ordered by name. */
  def resultHash(df: DataFrame, rows: Array[Row]): String = {
    val names = df.schema.fieldNames
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => names(i) + "=" + canon(r.get(i))).mkString("\u001f"))
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }

  private def shortName(q: String): String = q.takeWhile(_ != '_')

  def run(ctx: Ctx): LaneResult = {
    val spark = ctx.spark
    require(Files.exists(Paths.get(s"${FixtureTables.dir}/_DONE")),
      s"no fixture tables under ${FixtureTables.dir}")
    val records = ctx.long("records_in")
    val threshold = ctx.param("threshold").toDouble
    val hashes = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
    val pairHashes = Vector.newBuilder[Int]
    var firstPairs: Array[(Long, Long, Double)] = null
    var attempted, failed = 0
    val errors = Vector.newBuilder[String]
    def fail(msg: String): Unit = synchronized { failed += 1; errors += msg }

    def runQuery(q: graft.ops.OpQuery)(after: DataFrame => Unit): Unit = {
      val h = try {
        val df = q.fn(spark, "")
        val rows = df.collect()
        after(df)
        resultHash(df, rows)
      } catch {
        case e: Exception =>
          fail(s"${q.name}: ${e.getClass.getSimpleName}: ${e.getMessage}")
          "error"
      }
      synchronized {
        attempted += 1
        hashes(q.name) = hashes.getOrElse(q.name, Vector.empty) :+ h
      }
    }
    def keepPairs(pairs: Array[(Long, Long, Double)]): Unit = synchronized {
      attempted += 1
      pairHashes += java.util.Arrays.hashCode(pairs.map(_.hashCode))
      if (firstPairs == null) firstPairs = pairs
    }
    var outs = 0
    def dedupOut(): String = synchronized { outs += 1; s"${ctx.work}/dedup$outs" }
    /** One dedup chain; returns its untimed check. */
    def dedup(): () => Unit = {
      val r = DedupLane.run(DedupLane.docs(spark, FixtureTables.pinPath), threshold, dedupOut())
      keepPairs(r.pairs)
      () => r.check().foreach(fail)
    }
    /** A measured pass: every query in turn, then the dedup chain. */
    def pass(): () => Unit = {
      ReferenceQueries.all.foreach(q => runQuery(q)(_ => ()))
      dedup()
    }

    // warm-up: every query and the dedup chain once, `slots` at a time,
    // so the JIT and the code generator see every code path before the
    // first measured pass
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.slots)
    val warm = ReferenceQueries.all.map(q => pool.submit(new Runnable {
      def run(): Unit = runQuery(q)(_ => ())
    })) :+ pool.submit(new Runnable {
      // the dedup chain's plans and kernels, on a slice of the pins
      def run(): Unit = DedupLane.run(
        DedupLane.docs(spark, FixtureTables.pinPath).filter("doc_id < 2000"),
        threshold, dedupOut()).check().foreach(fail)
    })
    warm.foreach(_.get())
    pool.shutdown()
    ctx.setupDone()

    val units = if (!ctx.trace) {
      (0 until ctx.units).map { _ =>
        val (check, wall) = ctx.time(ctx.measured(pass()))
        check()
        wall -> records
      }
    } else {
      val (check, untraced) = ctx.time(pass())
      check()
      Seq(untraced -> records)
    }
    var overhead = Double.NaN
    if (ctx.trace) {
      val tr = ctx.tracer
      val traced = ctx.time(ctx.measured(tr.span("pass") {
        tracedQueries(ctx, runQuery)
        keepPairs(DedupLane.traced(ctx, FixtureTables.pinPath, threshold, dedupOut()))
      }))._2
      overhead = traced / units.head._1
      tr.set("clean.dedup_keep_ratio",
        tr.counters.getOrElse("clean.rows_out", 0.0) / tr.counters.getOrElse("clean.rows_in", 1.0))
    }
    val ph = pairHashes.result()
    if (ph.distinct.size > 1) fail(s"dedup passes found different pair sets: ${ph.mkString(",")}")
    LaneResult(units, attempted, failed, errors.result(), extra(ctx, hashes) :+
      ("pairs" -> Json.Arr(Option(firstPairs).getOrElse(Array.empty[(Long, Long, Double)]).toSeq.map { case (a, b, j) =>
        Json.Arr(Seq(Json.Num(a.toDouble), Json.Num(b.toDouble), Json.Num(j))) })),
      overhead)
  }

  private def tables = Seq(
    ("pin", FixtureTables.pinPath, Schemas.pinRaw, (d: DataFrame) => Cleaners.cleanPin(d)),
    ("geo", FixtureTables.geoPath, Schemas.geoRaw, (d: DataFrame) => Cleaners.cleanGeo(d)),
    ("user", FixtureTables.userPath, Schemas.userRaw, (d: DataFrame) => Cleaners.cleanUser(d)))

  /** Query hashes, plus the row count of each cleaned table (after the
    * measured units) for the row-count check in run.py.
    */
  private def extra(ctx: Ctx, hashes: collection.Map[String, Vector[String]]) = {
    val rows = tables.map { case (name, path, schema, clean) =>
      name -> (Json.Num(clean(ctx.spark.read.schema(schema).parquet(path)).count().toDouble): Json.V)
    }
    Seq("hashes" -> Json.Obj(hashes.toSeq.map { case (k, v) =>
        k -> (Json.Arr(v.map(Json.Str)): Json.V) }: _*),
      "clean_rows_out" -> Json.Obj(rows: _*))
  }

  /** The queries with the layer boundaries materialized: each raw table
    * is scanned into memory (io.scan), then cleaned from there
    * (clean.*), then every query runs as the program runs it (ops.*).
    */
  private def tracedQueries(ctx: Ctx,
      runQuery: graft.ops.OpQuery => (DataFrame => Unit) => Unit): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    tables.foreach { case (name, path, schema, clean) =>
      tr.span(s"clean.$name") {
        val raw = tr.span("io.scan") {
          val d = spark.read.schema(schema).parquet(path).cache()
          tr.count("io.records_in", d.count().toDouble)
          d
        }
        tr.count("clean.rows_in", raw.count().toDouble)
        val out = clean(raw).cache()
        tr.count("clean.rows_out", out.count().toDouble)
        out.unpersist(true)
        raw.unpersist(true)
      }
    }
    val inputBytes = Seq(FixtureTables.pinPath, FixtureTables.geoPath, FixtureTables.userPath)
      .flatMap(p => Files.list(Paths.get(p)).iterator().asScala.toSeq)
      .filter(_.toString.endsWith(".parquet")).map(p => Files.size(p)).sum
    tr.set("io.input_mb", inputBytes / 1048576.0)
    ReferenceQueries.all.foreach { q =>
      tr.span("ops." + shortName(q.name)) {
        runQuery(q) { df =>
          val plan = df.queryExecution.executedPlan
          tr.count("clean.raw_scans", Plans.scans(plan).toDouble)
          tr.count("plans.grouptopk_nodes", Plans.groupTopK(plan).toDouble)
        }
      }
    }
  }
}
