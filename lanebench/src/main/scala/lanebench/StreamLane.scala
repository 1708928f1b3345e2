package lanebench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.clean.Cleaners
import graft.io.Sources
import graft.model.Schemas
import graft.stream.Pipelines

/** stream_ingest: the pin, geo and user pipelines run concurrently from
  * envelope files into checkpointed parquet sinks.
  *
  * Live phase: the queries run on a continuous trigger while an
  * open-loop generator thread drops the live files on a fixed schedule;
  * a file's latency is the commit time of the micro-batch that read it
  * minus the file's due time. Catch-up units: fresh queries drain the
  * fixed backlog with `Pipelines.runToCompletion`. Every sink is read
  * back and must equal batch `Cleaners` output on the same records.
  */
object StreamLane {
  val kinds = Seq("pin", "geo", "user")

  /** Wall clock in ms with sub-ms digits: one Instant paired with the
    * monotonic clock.
    */
  private val (baseNano, baseEpochMs) = {
    val i = java.time.Instant.now()
    (System.nanoTime(), i.getEpochSecond * 1e3 + i.getNano / 1e6)
  }
  private def epochMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  private def clean(kind: String, envelope: DataFrame): DataFrame = kind match {
    case "pin" => Pipelines.cleanPinStream(envelope)
    case "geo" => Pipelines.cleanGeoStream(envelope)
    case _ => Pipelines.cleanUserStream(envelope)
  }

  private def source(spark: SparkSession, dir: String, maxFiles: Int): DataFrame = {
    val p = Sources.IoProfile.localFiles(dir)
    Sources.streamEnvelopeVia(spark,
      p.copy(sourceOptions = p.sourceOptions + ("maxFilesPerTrigger" -> maxFiles.toString)))
  }

  private def writer(spark: SparkSession, kind: String, in: String, out: String,
      maxFiles: Int) =
    Pipelines.sink(clean(kind, source(spark, in, maxFiles)), s"$out/sink", s"$out/ckpt")
      .queryName(s"$kind-${new File(out).getParentFile.getName}")

  /** Start `body` with this thread's jobs, and those of the streaming
    * query it starts, in the scheduler pool of `kind`: the three
    * streams get fair shares of the task slots.
    */
  private def inPool[T](spark: SparkSession, kind: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", kind)
    try body finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
  }

  private val envelopeSchema = StructType(Seq(StructField("data", StringType)))

  /** Batch cleaning of envelopes, the reference output: the streams'
    * pin fill is the constant 1000.
    */
  private def batchClean(kind: String, env: DataFrame): DataFrame = kind match {
    case "pin" => Cleaners.cleanPin(Pipelines.decode(env, Schemas.pinRaw), fillFollower = Some(1000))
    case "geo" => Cleaners.cleanGeo(Pipelines.decode(env, Schemas.geoRaw))
    case _ => Cleaners.cleanUser(Pipelines.decode(env, Schemas.userRaw))
  }

  private def batchClean(spark: SparkSession, kind: String, dirs: String*): DataFrame =
    batchClean(kind, spark.read.schema(envelopeSchema).json(dirs: _*))

  /** (rows, order-independent hash) of a frame, columns in name order. */
  private def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect().head
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  private def parquetFiles(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Seq.empty
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq

  def run(ctx: Ctx): LaneResult = {
    val spark = ctx.spark
    // one state partition per stream: the micro-batches are small, and
    // per-partition task, state-store and file costs would dominate them
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val maxFiles = ctx.int("max_files_per_trigger")
    val data = ctx.data
    var attempted, failed = 0
    val errors = Vector.newBuilder[String]
    val sinkRows = scala.collection.mutable.LinkedHashMap.empty[String, Json.V]

    lazy val reference = kinds.map(k => k -> digest(batchClean(spark, k, s"$data/backlog/$k"))).toMap

    /** Compare every stream's sink under `root` with batch cleaning. */
    def check(phase: String, root: String, ref: Map[String, (Long, String)]): Unit = {
      val rows = kinds.map { k =>
        attempted += 1
        val got = digest(spark.read.parquet(s"$root/$k/sink"))
        if (got != ref(k)) {
          failed += 1
          errors += s"$phase $k: sink ${got} differs from batch cleaning ${ref(k)}"
        }
        k -> (Json.Num(got._1.toDouble): Json.V)
      }
      sinkRows(phase) = Json.Obj(rows: _*)
    }

    /** One drain of the backlog by fresh queries, all three at once. */
    def drain(root: String): Double = {
      val threads = kinds.map { k =>
        val w = writer(spark, k, s"$data/backlog/$k", s"$root/$k", maxFiles)
        new Thread(() => inPool(spark, k)(Pipelines.runToCompletion(w)))
      }
      val t0 = System.nanoTime()
      threads.foreach(_.start())
      threads.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }

    val live = livePhase(ctx, progress)
    ctx.mark("live done")
    check("live", s"${ctx.work}/live",
      kinds.map(k => k -> digest(batchClean(spark, k, s"$data/live_all/$k", s"$data/warm/$k"))).toMap)

    val records = ctx.long("records_in")
    var overhead = Double.NaN
    val units = if (!ctx.trace) {
      (0 until ctx.units).map { u =>
        val root = s"${ctx.work}/catchup$u"
        val wall = ctx.measured(drain(root))
        ctx.mark("drain done")
        check(s"catchup$u", root, reference)
        ctx.mark("checked")
        wall -> records
      }
    } else {
      val untraced = drain(s"${ctx.work}/untraced")
      check("untraced", s"${ctx.work}/untraced", reference)
      val root = s"${ctx.work}/traced"
      val tr = ctx.tracer
      val traced = ctx.time(ctx.measured(tr.span("unit") {
        tr.span("stream.drain")(drain(root))
        kinds.foreach { k =>
          tr.span(s"clean.$k") {
            val raw = tr.span("io.scan") {
              val env = spark.read.schema(envelopeSchema).json(s"$data/backlog/$k").cache()
              tr.count("io.records_in", env.count().toDouble)
              env
            }
            tr.count("clean.rows_in", raw.count().toDouble)
            val out = batchClean(k, raw).cache()
            tr.count("clean.rows_out", out.count().toDouble)
            // the write cost of these rows, isolated from the micro-batches
            tr.span("io.sink")(graft.io.Sinks.parquet(out, s"${ctx.work}/sinkprobe/$k"))
            out.unpersist(true)
            raw.unpersist(true)
          }
        }
      }))._2
      check("traced", root, reference)
      overhead = traced / untraced
      val files = parquetFiles(root).filter(_.toString.contains("/sink/"))
      tr.set("io.sink_files", files.size.toDouble)
      tr.set("io.sink_mb", files.map(Files.size(_)).sum / 1048576.0)
      tr.set("io.input_mb", kinds.flatMap(k =>
        Files.list(Paths.get(s"$data/backlog/$k")).iterator().asScala.map(Files.size(_))).sum / 1048576.0)
      val ratio = tr.counters.getOrElse("clean.rows_out", 0.0) / tr.counters.getOrElse("clean.rows_in", 1.0)
      tr.set("clean.dedup_keep_ratio", ratio)
      Seq(untraced -> records)
    }
    spark.streams.removeListener(progress)

    LaneResult(units, attempted, failed, errors.result(),
      Seq("latency_ms" -> Json.nums(live.latencyMs),
        "gen_lag_ms" -> Json.nums(live.lagMs),
        "sink_rows" -> Json.Obj(sinkRows.toSeq: _*),
        "stream_metrics" -> Json.obj(live.metrics.toMap)),
      overhead)
  }

  private def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  final case class Live(latencyMs: Seq[Double], lagMs: Seq[Double],
      metrics: Seq[(String, Double)])

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Run the live phase; returns per-file latencies, generator lag and
    * the stream-layer metrics read from the queries' progress reports.
    * The queries first read the warm-up files, which end set-up; then
    * the generator drops the live files on schedule.
    */
  private def livePhase(ctx: Ctx, progress: ProgressLog): Live = {
    val spark = ctx.spark
    val root = s"${ctx.work}/live"
    val schedule = scala.io.Source.fromFile(s"${ctx.data}/live_schedule.tsv")
    val entries = try schedule.getLines().map(_.split('\t')).map(a => (a(0), a(1), a(2).toDouble)).toVector
    finally schedule.close()
    val warm = kinds.map { k =>
      Files.createDirectories(Paths.get(s"$root/$k/in"))
      val files = Files.list(Paths.get(s"${ctx.data}/warm/$k")).iterator().asScala.toSeq
      files.foreach(f => Files.copy(f, Paths.get(s"$root/$k/in/w${f.getFileName}")))
      k -> files.size
    }.toMap
    val expected = kinds.map(k => k -> (warm(k) + entries.count(_._1 == k))).toMap
    val liveMax = ctx.int("live_max_files")
    val queries: Map[String, StreamingQuery] = kinds.map { k =>
      k -> inPool(spark, k)(writer(spark, k, s"$root/$k/in", s"$root/$k", liveMax)
        .trigger(Trigger.ProcessingTime(0L)).start())
    }.toMap
    /** Wait until every query has committed `want(k)` files. */
    def awaitFiles(want: String => Int): Unit = {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      def done(k: String) = {
        val b = batchOfFile(s"$root/$k/ckpt")
        b.size == want(k) && committed(s"$root/$k/ckpt").size >= b.values.toSet.size
      }
      while (!kinds.forall(done)) {
        if (System.nanoTime() > deadline)
          throw new IllegalStateException("live queries did not commit their files within 60 s")
        Thread.sleep(20)
      }
    }
    awaitFiles(warm)
    org.apache.spark.LaneBridge.drainListeners(spark.sparkContext)
    ctx.setupDone()
    val firstEvent = progress.all.size
    val dropMs = new Array[Double](entries.size)
    val lagMs = new Array[Double](entries.size)
    val startMs = epochMs() + 200.0
    val gen = new Thread(() => {
      entries.zipWithIndex.foreach { case ((kind, file, dueOffset), i) =>
        val due = startMs + dueOffset
        var wait = due - epochMs()
        while (wait > 0) {
          TimeUnit.MICROSECONDS.sleep(math.max(1L, (wait * 1000).toLong))
          wait = due - epochMs()
        }
        val src = Paths.get(s"${ctx.data}/live/$kind/$file")
        val tmp = Paths.get(s"$root/$kind/in/.$file.tmp")
        Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, Paths.get(s"$root/$kind/in/$file"), StandardCopyOption.ATOMIC_MOVE)
        dropMs(i) = epochMs()
        lagMs(i) = dropMs(i) - due
      }
    })
    ctx.measured {
      gen.start()
      gen.join()
      awaitFiles(expected)
    }
    queries.values.foreach(_.stop())
    org.apache.spark.LaneBridge.drainListeners(spark.sparkContext)

    val latency = Vector.newBuilder[Double]
    val backlog = Vector.newBuilder[Double]
    kinds.foreach { k =>
      val ckpt = s"$root/$k/ckpt"
      val batchOf = batchOfFile(ckpt)
      val commitMs = committed(ckpt)
      val mine = entries.zipWithIndex.filter(_._1._1 == k)
      mine.foreach { case ((_, file, dueOffset), _) =>
        batchOf.get(file).flatMap(commitMs.get) match {
          case Some(c) => latency += c - (startMs + dueOffset)
          case None => throw new IllegalStateException(s"live $k/$file never committed")
        }
      }
      commitMs.toSeq.sortBy(_._1).foreach { case (b, c) =>
        backlog += mine.count { case ((_, file, _), i) =>
          dropMs(i) <= c && batchOf.get(file).exists(_ > b) }.toDouble
      }
    }
    val events = progress.all.drop(firstEvent).filter(_.numInputRows > 0)
    val last = queries.values.flatMap(q => Option(q.lastProgress)).toSeq
    val metrics = Seq(
      "stream.batches" -> events.size.toDouble,
      "stream.batch_ms_p50" -> median(events.map(ms(_, "triggerExecution"))),
      "stream.query_planning_ms" -> median(events.map(ms(_, "queryPlanning"))),
      "stream.get_batch_ms" -> median(events.map(ms(_, "getBatch"))),
      "stream.add_batch_ms" -> median(events.map(ms(_, "addBatch"))),
      "stream.wal_commit_ms" -> median(events.map(ms(_, "walCommit"))),
      "stream.state_rows" -> last.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
      "stream.state_mb" -> last.flatMap(_.stateOperators).map(_.memoryUsedBytes.toDouble).sum / 1048576.0,
      "stream.rows_dropped_by_watermark" ->
        events.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark.toDouble).sum,
      "stream.backlog_files" -> median(backlog.result()))
    Live(latency.result(), lagMs.toSeq, metrics)
  }

  private val PathRe = "\"path\":\"([^\"]+)\"".r
  private val BatchRe = "\"batchId\":(\\d+)".r

  /** File name -> micro-batch id, from the file source's log. */
  private def batchOfFile(ckpt: String): Map[String, Long] = {
    val dir = Paths.get(s"$ckpt/sources/0")
    if (!Files.exists(dir)) return Map.empty
    Files.list(dir).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap { f =>
        try Files.readAllLines(f).asScala.drop(1).flatMap { line =>
          for (p <- PathRe.findFirstMatchIn(line); b <- BatchRe.findFirstMatchIn(line))
            yield new File(p.group(1)).getName -> b.group(1).toLong
        } catch { case _: java.io.IOException => Seq.empty }
      }.toMap
  }

  /** Micro-batch id -> commit time (ms since the epoch), from the commit
    * log's file times.
    */
  private def committed(ckpt: String): Map[Long, Double] = {
    val dir = Paths.get(s"$ckpt/commits")
    if (!Files.exists(dir)) return Map.empty
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .map(f => f.getFileName.toString.toLong ->
        Files.getLastModifiedTime(f).to(TimeUnit.MICROSECONDS) / 1e3)
      .toMap
  }
}
