package lanebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val data: String, val work: String,
    val units: Int, val tracer: Tracer, val slots: Int, params: Map[String, String], origin: Long, preMainS: Double,
    canaryS: Double) {

  def trace: Boolean = tracer.enabled
  def param(k: String): String =
    params.getOrElse(k, throw new IllegalArgumentException(s"missing --param $k"))
  def int(k: String): Int = param(k).toInt
  def long(k: String): Long = param(k).toLong

  var setupS: Double = Double.NaN
  /** Called by a lane when its warm-up is done, right before the first
    * measured unit: set-up time runs from process start to here, less
    * the drift probe that ran before it.
    */
  def setupDone(): Unit =
    setupS = preMainS + (System.nanoTime() - origin) / 1e9 - canaryS

  /** Named points in the run, seconds since process start. */
  val marks = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  def mark(name: String): Unit = marks += name -> (preMainS + (System.nanoTime() - origin) / 1e9)

  var measuredWallS = 0.0
  var measuredGcS = 0.0

  /** Run `body` with its Spark jobs counted by the engine meter; jobs
    * started from threads created inside inherit the marker.
    */
  def measured[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(EngineMeter.Marker, "1")
    val gc0 = Env.gcSeconds()
    val t0 = System.nanoTime()
    try body
    finally {
      measuredWallS += (System.nanoTime() - t0) / 1e9
      measuredGcS += Env.gcSeconds() - gc0
      sc.setLocalProperty(EngineMeter.Marker, null)
    }
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** What a lane hands back: timed units as (wall seconds, records), the
  * correctness tally and lane-specific raw data for the report.
  */
final case class LaneResult(
    units: Seq[(Double, Long)],
    attempted: Int,
    failed: Int,
    errors: Seq[String],
    extra: Seq[(String, Json.V)],
    overheadRatio: Double = Double.NaN)

/** Entry point:
  * {{{
  * Main --workload <batch_reference|stream_ingest> --data <dir>
  *      --work <dir> --out <file> --units <n> --trace <0|1> --slots <n>
  *      [--param key=value ...]
  * Main --dump-oracle <file>
  * }}}
  * The process writes one JSON run record to --out; run.py
  * turns it into metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val origin = System.nanoTime()
    val preMainS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val opts = args.grouped(2).toSeq.groupBy(_(0)).map { case (k, vs) => k -> vs.map(_(1)) }
    def opt(k: String): String = opts.getOrElse(k, Seq.empty).headOption
      .getOrElse(throw new IllegalArgumentException(s"missing $k"))

    if (opts.contains("--dump-oracle")) {
      val body = Json.Obj(graft.ops.ReferenceQueries.all.map { q =>
        q.name -> (Json.Str(q.oracle.get): Json.V)
      }: _*)
      write(opts("--dump-oracle").head, body)
      return
    }

    val workload = opt("--workload")
    val traced = opt("--trace") == "1"
    val slots = opt("--slots").toInt
    val params = opts.getOrElse("--param", Seq.empty).map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val work = opt("--work")

    val (canaryBefore, canaryS) = {
      val t0 = System.nanoTime()
      val c = Env.canaryMs()
      (c, (System.nanoTime() - t0) / 1e9)
    }
    val jiffies0 = Env.cpuJiffies()

    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("lanebench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      // keep every micro-batch's commit file: event latency is read
      // from the commit log after the live phase
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      // concurrent jobs (the three streaming queries, the warm-up
      // threads) share task slots fairly instead of queueing FIFO
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - origin) / 1e9 + preMainS
    val hc = spark.sql("SELECT human_count('25.5k')").collect().head.getInt(0)
    require(hc == 25500, s"GraftExtensions inactive: human_count('25.5k') = $hc")

    val meter = new EngineMeter
    spark.sparkContext.addSparkListener(meter)
    val tracer = new Tracer(traced, s"$workload-${opt("--seed")}-${ProcessHandle.current().pid()}", origin)
    val ctx = new Ctx(spark, opt("--data"), work, opt("--units").toInt, tracer,
      slots, params, origin, preMainS, canaryS)
    ctx.marks += "session" -> sessionS

    val res = workload match {
      case "batch_reference" => BatchLane.run(ctx)
      case "stream_ingest" => StreamLane.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.mark("lane done")
    org.apache.spark.LaneBridge.drainListeners(spark.sparkContext)
    val engine = meter.snapshot(ctx.measuredWallS, slots, ctx.measuredGcS)
    val canaryAfter = Env.canaryMs()
    val jiffies1 = Env.cpuJiffies()
    val dTotal = jiffies1._2 - jiffies0._2
    val steal = if (dTotal > 0) (jiffies1._1 - jiffies0._1).toDouble / dTotal else 0.0

    val record = Json.Obj(Seq[(String, Json.V)](
      "workload" -> Json.Str(workload),
      "setup_s" -> Json.Num(ctx.setupS),
      "units" -> Json.Arr(res.units.map { case (w, n) =>
        Json.Obj("wall_s" -> Json.Num(w), "records" -> Json.Num(n.toDouble)) }),
      "attempted" -> Json.Num(res.attempted),
      "failed" -> Json.Num(res.failed),
      "errors" -> Json.Arr(res.errors.map(Json.Str)),
      "peak_rss_mb" -> Json.Num(Env.peakRssMb()),
      "canary_ms" -> Json.nums(Seq(canaryBefore, canaryAfter)),
      "steal_ratio" -> Json.Num(steal),
      "engine" -> Json.obj(engine),
      "spans" -> tracer.spansJson,
      "counters" -> Json.obj(tracer.counters),
      "overhead_ratio" -> Json.Num(res.overheadRatio),
      "marks" -> Json.Obj(ctx.marks.toSeq.map { case (k, v) => k -> (Json.Num(v): Json.V) }: _*)
    ) ++ res.extra: _*)
    write(opt("--out"), record)
    // the JVM exits here; Spark's shutdown hook stops the context
  }

  def write(path: String, v: Json.V): Unit =
    Files.write(Paths.get(path), Json.render(v).getBytes(StandardCharsets.UTF_8))
}
