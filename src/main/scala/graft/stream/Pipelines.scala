package graft.stream

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.clean.Cleaners
import graft.io.{Publish, Sources}
import graft.model.Schemas

/** Structured-Streaming pipelines mirroring the reference's Kinesis
  * notebook (`(Clone) kinesis_streaming_process_in_databricks.py`):
  * envelope decode (S4) -> shared cleaning layer -> append sink with
  * checkpoint (S5). The cleaning functions are the exact same code the
  * batch path uses (the reference duplicates them; we factor —
  * SURVEY.md §3.2).
  *
  * Differences from the reference, on purpose:
  *  - `dropDuplicates` without a watermark (KINESIS:213) grows state
  *    forever; streams with an event-time column get
  *    `withWatermark + dropDuplicates(key, eventTime)` so state expires;
  *  - the pin stream has no event time, so exact full-row dedup is
  *    confined to each micro-batch (documented divergence) instead of
  *    unbounded global state;
  *  - sinks are parquet (Delta is a cloud-only jar); the writer shape is
  *    identical, so a Delta/Kafka sink is a format swap.
  *
  * Each micro-batch pays a fixed floor: the offsets WAL, source and sink
  * logs, state deltas and the commit log are each a file created and
  * renamed into the checkpoint. Two things keep it low:
  *  - the engine's `core-site.xml` binds the local file system to
  *    [[graft.io.LocalFs]], which sets permissions and reads links
  *    in-process; stock Hadoop without its native library starts a
  *    `chmod` or `readlink` process for each, ≈60 per entity query and
  *    micro-batch;
  *  - with one state partition (`spark.sql.shuffle.partitions` = 1),
  *    [[graft.plans.SingleStateCoalesce]] coalesces a dedup's input
  *    instead of shuffling it, so a micro-batch runs as one stage. The
  *    trade: one task reads and cleans the whole micro-batch.
  *
  * Every `foreachBatch` sink runs through one checkpointed writer
  * (`eachBatch`) and gets exactly-once output under crash and replay
  * from one of two protocols, both committed by [[graft.io.Publish]]:
  *  - a per-batch directory `batch=<id>` for append-shaped outputs, so
  *    a replayed batch rewrites its own directory instead of appending
  *    a second copy: [[trendingTopK]], [[windowedHistQuantiles]],
  *    [[zoneMappedSink]], [[ivfIndexSink]] and [[routedSink]] (which
  *    overwrites each route's `batch=<id>` directly);
  *  - the read-merge-publish `foldTable` for cumulative tables:
  *    [[upsertSink]], [[stateUpsertSink]], [[cdcSink]],
  *    [[abExposureSink]], [[gstStateSink]] and [[chunkStoreSink]]
  *    re-apply an idempotent merge on replay; the additive merges —
  *    [[aggViewSink]], [[minViewSink]] and the [[trianglesSink]] count
  *    table — also commit a `_LAST_BATCH` mark with the data, skip a
  *    batch equal to it and fail on a batch behind it.
  * [[dedupGateSink]]'s decisions leg is the exception: it appends, so
  * it stays at-least-once (a replay re-appends identical decisions).
  */
object Pipelines {

  /** Decode the `(data string)` envelope of a streaming frame into the
    * given entity schema — batch/stream agnostic (S4).
    */
  def decode(envelope: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame =
    Sources.decodeEnvelope(envelope, schema)

  /** Cleaned pin stream. Streaming median is unavailable (no sorting on
    * unbounded input), so the fill is the constant 1000 exactly like the
    * reference's streaming path (KINESIS:184-187).
    */
  def cleanPinStream(envelope: DataFrame): DataFrame =
    Cleaners.cleanPin(decode(envelope, Schemas.pinRaw),
      fillFollower = Some(1000), dedup = false)
      // streaming dropDuplicates = GLOBAL stateful dedup (state lives in
      // the checkpoint and survives restarts — see the recovery test).
      // Pin has no event-time column, so this state never expires:
      // reference-parity behavior (KINESIS:213), acceptable for bounded
      // replays; bound it with a synthetic ingest-time watermark if the
      // stream is unbounded.
      .dropDuplicates()

  /** Pin stream with BOUNDED dedup state — the mitigation
    * [[cleanPinStream]]'s comment promises. Pins carry no event time,
    * so a synthetic ingest-time column drives the watermark and
    * `dropDuplicatesWithinWatermark` expires each key's state once the
    * watermark passes first-sight + `retention`. The trade, stated:
    * a duplicate arriving within `retention` of the original is
    * dropped (guaranteed); one arriving later re-emits. That is the
    * correct contract for an unbounded stream where at-least-once
    * delivery produces duplicates SECONDS apart, not hours — and it
    * caps state at (keys seen in the last `retention`) instead of
    * (keys seen since the job started).
    *
    * `ingestTs` is injectable so tests can drive the watermark
    * deterministically; production uses the wall clock.
    */
  def cleanPinStreamBounded(envelope: DataFrame,
      retention: String = "10 minutes",
      ingestTs: Column = current_timestamp()): DataFrame =
    Cleaners.cleanPin(decode(envelope, Schemas.pinRaw),
      fillFollower = Some(1000), dedup = false)
      .withColumn("_ingest_ts", ingestTs)
      .withWatermark("_ingest_ts", retention)
      .dropDuplicatesWithinWatermark("ind")
      .drop("_ingest_ts")

  /** Cleaned geo stream with watermarked keyed dedup (fixes the
    * reference's unbounded-state dropDuplicates).
    */
  def cleanGeoStream(envelope: DataFrame, watermark: String = "1 hour"): DataFrame =
    Cleaners.cleanGeo(decode(envelope, Schemas.geoRaw), dedup = false)
      .withWatermark("timestamp", watermark)
      .dropDuplicates("ind", "timestamp")

  /** Cleaned user stream with watermarked keyed dedup on the join key +
    * event time.
    */
  def cleanUserStream(envelope: DataFrame, watermark: String = "1 hour"): DataFrame =
    Cleaners.cleanUser(decode(envelope, Schemas.userRaw), dedup = false)
      .withWatermark("date_joined", watermark)
      .dropDuplicates("ind", "date_joined")

  /** Tumbling event-time window aggregation with watermark — the
    * streaming twin of EventOps.e02 and the §2.9 generalization the
    * reference lacks entirely.
    */
  def windowedCounts(events: DataFrame, eventTime: String, window_ : String,
      watermark: String): DataFrame =
    events
      .withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("cnt"), col("total_value"))

  /** Streaming rolling 7-day actives — the twin of the batch e21 WAU
    * curve: a sliding `window(7 days, 1 day)` fans each event into the
    * ≤7 windows it contributes to (the same bounded fan-out e21 does
    * with `sequence`), a keyed dedup collapses it to one row per
    * (window, user), and a windowed count emits each window's distinct
    * actives when the watermark closes it. Two chained stateful
    * operators (dedup → aggregate), both bounded by the watermark:
    * dedup state is one row per (window, user) for open windows only.
    * Window ends are day-aligned when the event days are, so a closed
    * window's count equals e21's trailing-7-day count for its last day.
    */
  def rollingActives(events: DataFrame, eventTime: String,
      watermark: String): DataFrame =
    events
      .withWatermark(eventTime, watermark)
      .select(window(col(eventTime), "7 days", "1 day").as("w"),
        col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("active_7d"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("active_7d"))

  /** Session windows per user with an inactivity gap — built-in
    * session_window (the stateful operator the batch EventOps.e03
    * mirrors).
    */
  def sessionCounts(events: DataFrame, eventTime: String, gap: String,
      watermark: String): DataFrame =
    events
      .withWatermark(eventTime, watermark)
      .groupBy(session_window(col(eventTime), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Append-mode checkpointed parquet sink (S5). Format is a parameter
    * so the cloud path (delta/kafka) is a one-word change.
    */
  def sink(df: DataFrame, path: String, checkpoint: String,
      format: String = "parquet"): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(OutputMode.Append)
      .format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Convenience: run an envelope-file -> clean -> parquet pipeline to
    * completion (AvailableNow processes the backlog then stops) —
    * the offline stand-in for the reference's always-on Kinesis job.
    */
  def runToCompletion(writer: DataStreamWriter[Row]): Unit = {
    val q: StreamingQuery = writer.start()
    q.awaitTermination()
  }

  /** Batch ids in a checkpoint's commit log (`<checkpoint>/commits/<id>`),
    * ascending; empty before the first commit.
    */
  def committedBatches(checkpoint: String): Seq[Long] =
    Option(new java.io.File(checkpoint, "commits").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.forall(_.isDigit))
      .map(_.toLong).sorted

  /** The checkpointed writer behind every `foreachBatch` sink in this
    * file: `body` gets each micro-batch and its id, and AvailableNow
    * drains the backlog, then stops. `mode` is fixed by the sink's
    * upstream (Update for keyed-state folds, Append otherwise).
    */
  private def eachBatch[T](ds: Dataset[T], checkpoint: String,
      mode: OutputMode)(body: (Dataset[T], Long) => Unit): DataStreamWriter[T] =
    ds.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(body)

  /** The parquet table at `path`, or None while it holds no part files
    * (a fresh or wiped directory is a first write, not a merge target).
    */
  private def stored(spark: SparkSession, path: String): Option[DataFrame] =
    if (Option(new java.io.File(path).listFiles())
        .exists(_.exists(_.getName.startsWith("part-"))))
      Some(spark.read.parquet(path))
    else None

  /** The read-merge-publish fold behind every cumulative table: recover
    * a crash between the publish renames, hand the stored table (None
    * before the first write) to `merge`, and publish the result by
    * [[graft.io.Publish]].
    *
    * An additive merge (`n += n_delta`) would double-count a replayed
    * batch, so it passes its `batchId`: the id is written as
    * `_LAST_BATCH` into the staged copy, so data and mark move in one
    * rename. Within one checkpoint a restart re-runs only the last
    * uncommitted batch, so a batch equal to the mark is a replay and is
    * skipped, and a batch behind the mark means the table was written
    * under another checkpoint — that fails, naming the table and both
    * ids. Idempotent merges pass no id; a fresh checkpoint may feed
    * them.
    */
  private def foldTable(spark: SparkSession, tablePath: String,
      batchId: Option[Long] = None)(merge: Option[DataFrame] => DataFrame)
      : Unit = {
    Publish.recover(tablePath)
    val markFile = Paths.get(tablePath, "_LAST_BATCH")
    val mark =
      if (Files.exists(markFile)) Some(Files.readString(markFile).trim.toLong)
      else None
    (batchId, mark) match {
      case (Some(id), Some(m)) if id < m =>
        throw new IllegalStateException(s"$tablePath: _LAST_BATCH $m is " +
          s"ahead of incoming batch $id; the table was written under " +
          "another checkpoint")
      case (Some(id), Some(m)) if id == m => () // replay: already folded in
      case _ =>
        val merged = merge(stored(spark, tablePath))
        Publish(tablePath) { staged =>
          merged.write.mode("overwrite").parquet(staged)
          batchId.foreach(id => Files.writeString(
            Paths.get(staged, "_LAST_BATCH"), id.toString))
        }
    }
  }

  /** The latest row per `key` by `orderCol`, ties broken by a full-row
    * hash: two rows for one key with the same `orderCol` but different
    * payloads would otherwise be picked arbitrarily per run, and a
    * replay could publish a different row than the original epoch did.
    * The hash is a pure function of the row, so replays pick
    * identically (identical rows tie harmlessly).
    */
  private def latestPerKey(batch: DataFrame, key: String,
      orderCol: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(orderCol).desc,
      xxhash64(batch.columns.map(col).toIndexedSeq: _*).asc)
    batch.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1).drop("_graft_rn")
  }

  /** Streaming trending top-k: event-time windowed counts per key, with
    * each CLOSED window's top-k keys written to a parquet table — the
    * "trending categories this hour" pipeline over an event stream.
    * The windowed count runs in the streaming engine (watermarked,
    * append mode = each window emitted exactly once, after it closes);
    * ranking runs per micro-batch of closed windows through the custom
    * bounded-heap [[graft.plans.GroupTopK]] operator, so the key space
    * of a window is never fully sorted — the same contract that makes
    * the batch operator safe at 100 TB keys. Each batch publishes to
    * `outPath/batch=<id>` (a replay rewrites it), so readers see a
    * `batch` partition column.
    */
  def trendingTopK(events: DataFrame, timeCol: String, keyCol: String,
      windowDur: String, watermarkDelay: String, k: Int,
      outPath: String, checkpoint: String): DataStreamWriter[Row] = {
    val counts = events
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(window(col(timeCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col(keyCol), col("cnt"))
    eachBatch(counts, checkpoint, OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty)
        Publish(s"$outPath/batch=$batchId")(
          graft.api.Windows.topKPerGroup(batch, Seq("w_start"),
            Seq(("cnt", true), (keyCol, false)), k)
            .write.mode("overwrite").parquet(_))
    }
  }

  /** Streaming histogram quantiles — the streaming twin of the r40
    * batch query: per event-time tumbling window, the engine maintains
    * the fixed-width integer histogram (a watermarked windowed count on
    * (window, bucket) — mergeable partial state, which is exactly why a
    * histogram sketch suits streams where an exact percentile cannot),
    * and each CLOSED window's quantiles are read off per micro-batch
    * through [[graft.api.Windows.histogramQuantiles]] — the same
    * read-off the batch query uses, so the two cannot silently
    * diverge. Output: (w_start, q, n, est) parquet rows, one per
    * closed window and quantile, published per batch to
    * `outPath/batch=<id>` like [[trendingTopK]].
    */
  def windowedHistQuantiles(events: DataFrame, timeCol: String,
      valueCol: String, windowDur: String, watermarkDelay: String,
      bucketWidth: Long, qs: Seq[Double],
      outPath: String, checkpoint: String): DataStreamWriter[Row] = {
    val hist = events
      .withWatermark(timeCol, watermarkDelay)
      .withColumn("_cents", round(col(valueCol) * 100).cast("bigint"))
      .withColumn("_bucket", expr(s"_cents DIV $bucketWidth"))
      .groupBy(window(col(timeCol), windowDur), col("_bucket"))
      .agg(count(lit(1)).as("_cnt"))
      .select(col("window.start").as("w_start"),
        col("_bucket"), col("_cnt"))
    eachBatch(hist, checkpoint, OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty)
        Publish(s"$outPath/batch=$batchId")(
          graft.api.Windows.histogramQuantiles(batch, Seq("w_start"),
            "_bucket", "_cnt", qs, bucketWidth)
            .write.mode("overwrite").parquet(_))
    }
  }

  /** Zone-mapped streaming sink: each micro-batch lands time-clustered
    * AND the file-level [[graft.io.ZoneMap]] stats table is maintained
    * per epoch — the incremental form of the batch layout job behind
    * r31 (a real event store is written by a stream, so its
    * data-skipping index must be too).
    *
    * Atomic commit by [[graft.io.Publish]]: the batch's data files AND
    * its `_zonemap/` stats are written to the hidden staging directory
    * of `batch=<id>` (a concurrent reader of the table never lists it),
    * then one rename publishes `batch=<id>` with the stats inside it —
    * data and stats share a single visibility point, and a reader can
    * never observe fresh files with stale stats or vice versa. Stats
    * file paths are rewritten to the post-publish location before the
    * rename. The `_zonemap` subdirectory is invisible to plain
    * `spark.read.parquet(tablePath)` readers (the Hadoop hidden-file
    * convention for `_`-prefixed names); pruned readers find it via
    * [[graft.io.ZoneMap.statsGlob]].
    *
    * Idempotence under redelivery: a replayed epoch re-stages and
    * re-publishes the same `batch=<id>` directory — rewrite, never
    * duplicate (plain `mode("append")` stats would double-count on
    * replay).
    *
    * Within each batch `repartitionByRange` on the time column keeps
    * per-file ranges tight — tight ranges are what make min/max stats
    * selective. Query through [[graft.io.ZoneMap.prunedRead]].
    */
  def zoneMappedSink(events: DataFrame, tablePath: String,
      checkpoint: String, tsCol: String,
      filesPerBatch: Int = 4): DataStreamWriter[Row] =
    eachBatch(events, checkpoint, OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val dataDir = s"$tablePath/batch=$batchId"
        Publish(dataDir) { staged =>
          batch.repartitionByRange(filesPerBatch, col(tsCol))
            .sortWithinPartitions(tsCol)
            .write.mode("overwrite").parquet(staged)
          // the part files by glob: the dot-named staging dir itself
          // is a hidden path that Spark warns about as a read root
          graft.io.ZoneMap.stats(batch.sparkSession, s"$staged/*.parquet", tsCol)
            // literal (non-regex) substring replace: staged path ->
            // the path the file will have once the rename publishes
            .withColumn("file", expr(s"replace(file, '$staged', '$dataDir')"))
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$staged/_zonemap")
        }
      }
    }

  /** Streaming MERGE sink: every micro-batch is applied to a parquet
    * table as an upsert (`MERGE INTO` from a stream — the Delta
    * `foreachBatch` merge recipe, minus the Delta jar). Within a batch,
    * several updates for one key collapse to the latest by `orderCol`
    * BEFORE the merge ([[graft.api.Tables.upsert]] requires unique
    * update keys — at-least-once sources redeliver). The merged table
    * goes through the crash-safe `foldTable`, so a crash at ANY point
    * — including between its two renames — leaves a recoverable table
    * on disk, and a replayed batch re-applies an idempotent merge.
    *
    * At scale the read-merge-rewrite becomes a real table format's
    * MERGE (Delta/Iceberg) — this sink IS that call site: swap the
    * merge for `deltaTable.merge(...)` and nothing upstream changes.
    */
  def upsertSink(updates: DataFrame, tablePath: String, checkpoint: String,
      key: String, orderCol: String): DataStreamWriter[Row] =
    upsert(updates, tablePath, checkpoint, key, orderCol, OutputMode.Append)

  /** [[upsertSink]] for UPDATE-mode upstreams — the sink for custom
    * keyed state (`flatMapGroupsWithState` emits one cumulative row
    * per touched key per micro-batch, which is update-mode output by
    * definition and rejected by an append-mode writer). The merge
    * body is identical. For a state op whose per-key output is
    * monotone in `orderCol` (counts, cumulative sums), replay
    * redelivery is absorbed exactly as in [[upsertSink]]: the stored
    * row already carries an equal-or-later `orderCol`.
    */
  def stateUpsertSink(updates: DataFrame, tablePath: String,
      checkpoint: String, key: String, orderCol: String)
      : DataStreamWriter[Row] =
    upsert(updates, tablePath, checkpoint, key, orderCol, OutputMode.Update)

  private def upsert(updates: DataFrame, tablePath: String,
      checkpoint: String, key: String, orderCol: String, mode: OutputMode)
      : DataStreamWriter[Row] =
    eachBatch(updates, checkpoint, mode) { (batch, _) =>
      val latest = latestPerKey(batch, key, orderCol)
      foldTable(batch.sparkSession, tablePath)(
        _.fold(latest)(graft.api.Tables.upsert(_, latest, key)))
    }

  /** Streaming A/B EXPOSURE/CONVERSION state fold — the incremental
    * twin of the batch experiment readout (e35): per user, the
    * timestamp of the first `view` (exposure) and whether any
    * `purchase` landed in the `windowUs` interval after it. State is
    * two exact Longs per EXPOSED user; purchases by never-exposed
    * users are dropped (a qualifying purchase is strictly after the
    * first view, and with event-time-ordered micro-batches a purchase
    * can never precede an exposure that is still in flight).
    *
    * Correctness contract (spec-pinned + oracle-shared-verbatim with
    * e35): micro-batches must arrive in event-time order ACROSS
    * batches — within a batch order is irrelevant because the fold
    * joins the whole batch against the state. Under that contract
    * `v_us` is fixed at first exposure (later batches only carry later
    * timestamps) and each purchase is checked against the user's
    * final first-view time, so the fold lands exactly on the batch
    * answer. Replay-idempotent: re-applying a committed batch
    * recomputes the same `min` and re-checks the same purchases
    * against the same `v_us`.
    *
    * Input columns: `user_id long, event_type string, us long`
    * (event time in epoch-µs). State table: `user_id, v_us, conv`.
    */
  def abExposureSink(events: DataFrame, tablePath: String,
      checkpoint: String, windowUs: Long = 604800000000L)
      : DataStreamWriter[Row] =
    exposureSink(events, tablePath, checkpoint, windowUs, "conv", lit(1L),
      (c, q) => coalesce(greatest(c, q), lit(0L)))

  /** Streaming GROUP-SEQUENTIAL state fold — [[abExposureSink]]'s
    * conversion-TIME generalization, the state layer of the qs29
    * monitor: per exposed user the register is the pair
    * `(v_us, conv_us)` — first-view time and first QUALIFYING
    * conversion time (strictly after the view, within `windowUs`),
    * `conv_us` NULL until one lands. An interim look only counts a
    * conversion whose timestamp has passed the look's cut, so the
    * monitor needs the TIME, not abExposureSink's 0/1 flag. Both
    * registers are MIN-monoids (min is commutative, associative,
    * idempotent), so the fold is batching-invariant by algebra under
    * the same cross-batch event-time-order contract as
    * abExposureSink, and replaying a committed batch re-derives the
    * same mins. The group-sequential look table itself is a pure
    * READ-time function over this state
    * ([[graft.ops.EventOps.gstLooks]]), the qs17/qs25/qs27/qs28
    * register-file discipline.
    */
  def gstStateSink(events: DataFrame, tablePath: String,
      checkpoint: String, windowUs: Long = 604800000000L)
      : DataStreamWriter[Row] =
    exposureSink(events, tablePath, checkpoint, windowUs, "conv_us",
      col("pus"), least(_, _))

  /** The exposure fold [[abExposureSink]] and [[gstStateSink]] share.
    * They differ only in the conversion register `conv`: each batch
    * reduces its qualifying purchases per user to `min(hit)`, and
    * `merge(stored, batch)` folds that into the stored register.
    */
  private def exposureSink(events: DataFrame, tablePath: String,
      checkpoint: String, windowUs: Long, conv: String, hit: Column,
      merge: (Column, Column) => Column): DataStreamWriter[Row] =
    eachBatch(events, checkpoint, OutputMode.Update) { (batch, _) =>
      val b = batch.persist()
      val views = b.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("wv"))
      val buys = b.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("us").as("pus"))
      foldTable(b.sparkSession, tablePath) { state =>
        // merged exposure time: min over stored and in-batch views
        // (least skips NULLs); users with neither stay out of the state
        val exposed = state.fold(views.select(col("user_id"),
            col("wv").as("v_us"), lit(null).cast("bigint").as(conv)))(
          _.join(views, Seq("user_id"), "full_outer")
            .select(col("user_id"), least(col("v_us"), col("wv")).as("v_us"),
              col(conv)))
          .filter(col("v_us").isNotNull)
        val qual = buys.join(exposed.select("user_id", "v_us"), "user_id")
          .filter(col("pus") > col("v_us") &&
            col("pus") <= col("v_us") + lit(windowUs))
          .groupBy("user_id").agg(min(hit).as("q"))
        exposed.join(qual, Seq("user_id"), "left")
          .select(col("user_id"), col("v_us"),
            merge(col(conv), col("q")).as(conv))
      }
      b.unpersist()
    }

  /** Streaming content-addressed chunk store — the WRITE path of m11's
    * chunk-level dedup: each micro-batch of binary payloads is split
    * into fixed 64-byte chunks ([[graft.ops.Multimodal.payloadChunks]]),
    * anti-joined against the accumulated store on the chunk md5, and
    * only NOVEL chunks are admitted — so storage grows by content the
    * lake has never seen, no matter how often payloads repeat across
    * batches. Goes through the crash-safe `foldTable` (the cumulative
    * store is the case where a naive delete+rename window is outright
    * data loss, since committed batches are never redelivered), and
    * idempotent under replay by construction: a redelivered batch's
    * chunks are already in the store, so its novel set is empty. On an
    * object store this body becomes a table-format MERGE keyed on the
    * chunk hash.
    */
  def chunkStoreSink(media: DataFrame, storePath: String, checkpoint: String,
      chunkBytes: Int = 64): DataStreamWriter[Row] =
    eachBatch(media, checkpoint, OutputMode.Append) { (batch, _) =>
      val novel = graft.ops.Multimodal.payloadChunks(batch.toDF(), chunkBytes)
        .select("h", "len").dropDuplicates("h")
      foldTable(batch.sparkSession, storePath)(_.fold(novel)(store =>
        store.unionByName(
          novel.join(store.select(col("h")), Seq("h"), "left_anti"))))
    }

  /** Streaming near-dup ADMISSION GATE — the keep-the-corpus-fresh
    * composition of the d09 incremental-dedup contract with the
    * streaming ingest path: each micro-batch of documents is screened
    * against an on-disk MinHash signature index
    * ([[graft.api.Dedup.incrementalNearDupsIndexed]] over the
    * [[graft.api.Dedup.incrementalCorpusIndex]] layout, read as
    * immutable base (`corpusIndexPath`) ∪ append-only delta
    * (`deltaIndexPath`) — the base is a shared artifact the gate never
    * copies or rewrites); one decision row per document (`admitted` =
    * 1 iff no indexed near-dup at `threshold`, `dup_of` = smallest
    * indexed dup id, −1 sentinel when admitted) appends to
    * `decisionsPath`, and the ADMITTED documents' shingles +
    * signatures append to the DELTA — so each batch screens against
    * "corpus plus everything admitted before this batch", the
    * keep-first policy an ingest dedup wants.
    *
    * The index refresh cadence IS the batch boundary: two near-dups
    * arriving within one micro-batch are both admitted (both screened
    * against the same frozen index) — the async-refresh trade every
    * production gate makes; tighten it by shrinking the trigger
    * interval, not by serializing documents through per-key state (a
    * near-dup check has no key to shard state by — the candidate set
    * comes from band collisions, not equality).
    *
    * Scale: a batch pays its own shingling plus a band-key probe and a
    * candidate-pruned shingle join against the index (the corpus is
    * never re-shingled — d09's write-once contract), decisions and
    * index growth are append-only parquet, and replayed batches are
    * DECISION-idempotent: the probe's self-pair guard
    * ([[graft.api.Dedup.incrementalNearDupsIndexed]]) keeps a
    * redelivered doc from matching its own already-indexed signatures,
    * so the replay reproduces identical decision values (the row may
    * append twice — at-least-once on that leg) and the re-appended
    * signatures change no future decision (band collisions and jaccard
    * are set-semantics). A Delta MERGE on doc_id makes the decision
    * leg exactly-once, same swap point as [[upsertSink]]; crash-replay
    * is spec-driven in StreamingSpec.
    */
  def dedupGateSink(docs: DataFrame, corpusIndexPath: String,
      deltaIndexPath: String, decisionsPath: String, checkpoint: String,
      threshold: Double = 0.5): DataStreamWriter[Row] =
    eachBatch(docs, checkpoint, OutputMode.Append) { (batch, _) =>
      val spark = batch.sparkSession
      // base ∪ delta, reading the delta leg only once it has data —
      // the base stays an immutable shared artifact (never copied,
      // never rewritten); only this gate's own admissions live in
      // the per-run delta
      def indexSide(sub: String): DataFrame = {
        val base = spark.read.parquet(s"$corpusIndexPath/$sub")
        stored(spark, s"$deltaIndexPath/$sub").fold(base)(base.unionByName(_))
      }
      // smallest indexed near-dup per incoming doc; persisted because
      // both the decision write and the admitted anti-join consume it.
      // The tracked variant returns the probe's own internal caches
      // (the batch shingle frame) so the sink can unpersist EXACTLY
      // what this batch persisted — diffing the session-global
      // persisted-RDD set here could evict a concurrently running
      // query's fresh caches on the shared SparkSession.
      val (probe, probeCaches) = graft.api.Dedup.incrementalNearDupsTracked(
        batch, indexSide("shingles"), indexSide("sig"),
        threshold = threshold)
      val dups = probe
        .groupBy("doc_new").agg(min("doc_dup").as("dup_of"))
        .persist()
      batch.select(col("doc_id"))
        .join(dups, col("doc_id") === col("doc_new"), "left_outer")
        .select(col("doc_id"),
          when(col("dup_of").isNull, 1).otherwise(0).cast("int")
            .as("admitted"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .write.mode("append").parquet(decisionsPath)
      val admitted = batch.join(
        dups.select(col("doc_new").as("doc_id")), Seq("doc_id"),
        "left_anti")
      val (ashs, asig) = graft.api.Dedup.incrementalCorpusIndex(admitted)
      ashs.write.mode("append").parquet(s"$deltaIndexPath/shingles")
      asig.write.mode("append").parquet(s"$deltaIndexPath/sig")
      dups.unpersist()
      probeCaches.foreach(_.unpersist(blocking = false))
    }

  /** Streaming FIRST-MATCH ROUTER sink — the triage shape every ingest
    * gate ends in: one pass over each micro-batch fans rows out to one
    * parquet table per route (`basePath/<name>`), each row landing in
    * the FIRST route whose predicate it satisfies (later predicates
    * are automatically guarded with the negation of all earlier ones,
    * so overlapping conditions can never duplicate a row). Rows
    * matching no route land in `basePath/dead_letter` — the
    * dead-letter queue that turns "filter dropped it silently" into an
    * auditable table.
    *
    * Scale: the batch is persisted once and each route is a filtered
    * write — no shuffle at all (routing is a per-row projection);
    * route tables partition downstream work (re-scoring only the
    * quarantine, re-ingesting only the dead letters) without
    * re-scanning the accepted corpus.
    *
    * Replay-idempotent (exactly-once effective): each batch's rows
    * are published to `basePath/<route>/batch=<id>/` by
    * [[graft.io.Publish]], not blind-appended to the route root — a
    * crash after some routes wrote but before the checkpoint commit
    * replays the batch, and the rerun replaces the same per-batch
    * directories with the same deterministic rows instead of
    * duplicating them (routing is a pure function of the batch). A
    * replay whose write fails leaves the previous `batch=<id>` in
    * place. Readers see one partitioned table per route (`batch`
    * becomes a discovered partition column). On Delta this becomes one
    * multi-table transaction; the per-batch directory is the swap
    * point.
    */
  def routedSink(df: DataFrame, routes: Seq[(String, Column)],
      basePath: String, checkpoint: String): DataStreamWriter[Row] = {
    // a NULL predicate must mean "did not match", not "vanish":
    // un-coalesced, filter(pred) drops the row from its own route
    // AND the !pred guards stay NULL for every later route and the
    // dead-letter fold — the row would land nowhere, breaking the
    // unmatched-rows-always-reach-dead_letter contract (e.g. a
    // nullable score column). Coalesce each predicate to false.
    val preds = routes.map { case (n, p) => n -> coalesce(p, lit(false)) }
    val guarded = preds.zipWithIndex.map { case ((name, pred), i) =>
      name -> preds.take(i).map(_._2)
        .foldLeft(pred)((p, earlier) => p && !earlier)
    }
    val dead = preds.map(_._2)
      .foldLeft(lit(true))((p, r) => p && !r)
    eachBatch(df, checkpoint, OutputMode.Append) { (batch, batchId) =>
      val b = batch.persist()
      try (guarded :+ ("dead_letter" -> dead)).foreach { case (name, pred) =>
        val rows = b.filter(pred)
        if (!rows.isEmpty)
          Publish(s"$basePath/$name/batch=$batchId")(
            rows.write.mode("overwrite").parquet(_))
      } finally b.unpersist()
    }
  }

  /** Streaming CDC apply sink — [[upsertSink]] completed with the
    * DELETE branch: the stream carries Debezium-shaped row images
    * (`opCol` = 'U' upsert / 'D' delete), each micro-batch collapses
    * to the latest change per key by `orderCol` (at-least-once sources
    * redeliver; a later delete beats an earlier update and vice
    * versa), and [[graft.api.Tables.applyCdc]] merges it into the
    * parquet table through the crash-safe `foldTable`, so a crash
    * mid-write leaves the previous table intact. The table holds the
    * data columns only; op/order are consumed by the merge. On
    * Delta/Iceberg this body becomes `MERGE ... WHEN MATCHED AND
    * op='D' THEN DELETE`, and nothing upstream changes.
    */
  def cdcSink(changes: DataFrame, tablePath: String, checkpoint: String,
      key: String, orderCol: String, opCol: String = "op")
      : DataStreamWriter[Row] =
    eachBatch(changes, checkpoint, OutputMode.Append) { (batch, _) =>
      val latest = latestPerKey(batch, key, orderCol).drop(orderCol)
      foldTable(batch.sparkSession, tablePath)(
        _.fold(latest.filter(col(opCol) =!= "D").drop(opCol))(
          graft.api.Tables.applyCdc(_, latest, key, opCol)))
    }

  /** Fold one micro-batch's aggregate partials into a stored
    * aggregate view — the ADDITIVE merge behind [[aggViewSink]],
    * exposed so its replay contract is testable in isolation.
    *
    * Unlike [[upsertSink]]'s replace-by-key merge, an additive merge
    * (`n += n_delta`, `s += s_delta`) is NOT naturally idempotent: a
    * redelivered batch would double-count, so it runs under the
    * `foldTable` `_LAST_BATCH` guard (a replayed `batchId` equal to the
    * mark is a no-op; one behind it fails). `partial` must carry
    * `(viewKey, n_rows BIGINT, s DECIMAL(18,2))`; decimal partials
    * keep the merge order-insensitive (the r24/r60 algebra).
    */
  private[graft] def applyAggViewBatch(spark: SparkSession,
      tablePath: String, partial: DataFrame, viewKey: String,
      batchId: Long): Unit =
    foldTable(spark, tablePath, Some(batchId))(_.fold(partial)(
      _.unionByName(partial).groupBy(viewKey)
        .agg(sum("n_rows").cast("bigint").as("n_rows"),
          // sums widen decimal precision per merge round; renormalize
          // on store so the view schema is a fixpoint
          sum("s").cast("decimal(18,2)").as("s"))))

  /** MIN-monoid view sink — [[aggViewSink]]'s fold machinery with a
    * min-merge: each micro-batch reduces to per-`viewKey` minima of
    * `valueCol` (the groupBy gives Spark a MAP-SIDE partial min, so
    * the shuffle carries one row per (partition, key) — the property
    * a `flatMapGroupsWithState` register fold cannot get), and the
    * stored view folds by `least(stored, partial)`. Min is
    * commutative, associative AND idempotent, so the fold is
    * batching-invariant by algebra; the batch-id mark is still
    * committed with the data ([[applyMinViewBatch]]) so replays are
    * structurally no-ops, same as every other view sink. This is the
    * sketch sink for MinHash-style signatures: the view IS the
    * signature register file, constant-size at any stream length.
    */
  def minViewSink(facts: DataFrame, tablePath: String,
      checkpoint: String, viewKey: String, valueCol: String)
      : DataStreamWriter[Row] =
    eachBatch(facts, checkpoint, OutputMode.Append) { (batch, batchId) =>
      applyMinViewBatch(batch.sparkSession, tablePath,
        batch.groupBy(viewKey)
          .agg(min(col(valueCol)).cast("bigint").as("register")),
        viewKey, batchId)
    }

  /** [[applyAggViewBatch]] with a min-merge: a replayed `batchId` equal
    * to the `_LAST_BATCH` mark is a no-op (and would be value-harmless
    * anyway: min is idempotent).
    */
  private[graft] def applyMinViewBatch(spark: SparkSession,
      tablePath: String, partial: DataFrame, viewKey: String,
      batchId: Long): Unit =
    foldTable(spark, tablePath, Some(batchId))(_.fold(partial)(
      _.unionByName(partial).groupBy(viewKey)
        .agg(min("register").cast("bigint").as("register"))))

  /** Streaming incremental aggregate-view maintenance — the streaming
    * twin of the r60 batch query: each micro-batch of fact rows is
    * broadcast-joined to the (small, static) dimension, reduced to
    * per-`viewKey` partials (`count`, decimal-exact `sum(valueCol)`),
    * and ADDITIVELY folded into the stored view by
    * [[applyAggViewBatch]] — the stored base is read once per batch
    * and never re-derived from the fact history. The view's grain is a
    * join-derived dimension key, which is exactly what plain streaming
    * aggregation state cannot give without carrying the join in state;
    * here the join happens per micro-batch and only k groups persist.
    * Replays are no-ops via the `_LAST_BATCH` mark committed with the
    * data.
    */
  def aggViewSink(facts: DataFrame, dim: DataFrame, tablePath: String,
      checkpoint: String, joinKey: String, viewKey: String,
      valueCol: String): DataStreamWriter[Row] =
    eachBatch(facts, checkpoint, OutputMode.Append) { (batch, batchId) =>
      applyAggViewBatch(batch.sparkSession, tablePath,
        batch.join(broadcast(dim), batch(joinKey) === dim(joinKey))
          .groupBy(viewKey)
          .agg(count(lit(1)).cast("bigint").as("n_rows"),
            sum(col(valueCol).cast("decimal(18,2)"))
              .cast("decimal(18,2)").as("s")),
        viewKey, batchId)
    }

  /** Stream-stream interval join: left rows matched to right rows with
    * the same `key` whose event time falls in
    * `[leftTs + lower, leftTs + upper]`. Both sides carry watermarks, so
    * Spark can bound the join state: a buffered row is dropped once the
    * other side's watermark passes the end of its match window — without
    * the time bound the state grows with the stream's lifetime.
    *
    * The batch twin of the no-key case is [[graft.api.Joins.rangeJoin]];
    * stream-stream joins REQUIRE an equality key plus the time-range
    * predicate (Spark cannot cleanup state for a pure-inequality
    * stream-stream join — that case belongs in batch over a bounded
    * slice).
    */
  def streamIntervalJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      lower: String, upper: String,
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).as("l")
    val r = right.withWatermark(rightTs, watermark).as("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= expr(s"l.$leftTs + INTERVAL $lower") &&
        col(s"r.$rightTs") <= expr(s"l.$leftTs + INTERVAL $upper"),
      joinType)
      .drop(col(s"r.$key"))
  }

  // --- custom keyed state (flatMapGroupsWithState) ---

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserState(n: Long, total: Double)
  case class UserUpdate(user_id: Long, n_events: Long, total_value: Double)

  /** Custom stateful operator: cumulative per-user totals across
    * micro-batches via flatMapGroupsWithState — the arbitrary-state
    * axis (SURVEY.md §2.9) that windowed aggregation can't express
    * (state survives forever, one update row per key per batch).
    */
  def runningUserTotals(events: Dataset[UserEvent])
      : Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n
          var tot = prev.total
          it.foreach { e => n += 1; tot += e.value }
          state.update(UserState(n, tot))
          Iterator(UserUpdate(uid, n, tot))
      }
  }

  case class PurchaseEvent(user_id: Long, us: Long, cents: Long)
  case class RfmState(last_us: Long, freq: Long, cents: Long)
  case class RfmUpdate(user_id: Long, last_seen_us: Long,
      frequency: Long, monetary_cents: Long)

  /** Streaming RFM feature state — the incremental twin of the batch
    * e20 aggregate (recency/frequency/monetary, the feature-store
    * pattern: features updated in place as purchases arrive, one row of
    * O(1) state per user). max/count/sum are all merge-associative, so
    * the final state is independent of how events split across
    * micro-batches — that equivalence is what StreamingSpec pins. The
    * quintile scores deliberately stay batch-only: they need a global
    * rank over the user frame, which a feature store recomputes on
    * read, not on ingest.
    */
  def rfmFeatures(events: Dataset[PurchaseEvent])
      : Dataset[RfmUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RfmState, RfmUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[PurchaseEvent], state: GroupState[RfmState]) =>
          val prev = state.getOption.getOrElse(RfmState(Long.MinValue, 0L, 0L))
          var last = prev.last_us
          var n = prev.freq
          var cents = prev.cents
          it.foreach { e =>
            if (e.us > last) last = e.us
            n += 1
            cents += e.cents
          }
          state.update(RfmState(last, n, cents))
          Iterator(RfmUpdate(uid, last, n, cents))
      }
  }

  case class TypedHash(event_type: String, h: Long)
  case class HllRegsState(regs: Seq[Int])
  case class HllRegUpdate(event_type: String, bucket: Int, register: Int)

  /** r34's rho: the HLL leading-zero rank of the 54-bit window above
    * the bucket bits — `55` when the window is zero, else `55 − the
    * window's bit length`. Factored out so the streaming fold and the
    * spec pin the SAME scalar the batch/oracle expression
    * (`55 - length(bin(h // 64))`) computes.
    */
  private[graft] def hllRho(rest: Long): Int =
    if (rest == 0L) 55
    else 55 - (64 - java.lang.Long.numberOfLeadingZeros(rest))

  /** Streaming HyperLogLog registers — the MAX-monoid sketch state
    * complementing qs20's SUM-monoid count-min fold: per event type,
    * 64 registers of keyed state (`flatMapGroupsWithState`), each the
    * running max of r34's rho over the 60-bit md5 hash of the id.
    * Register max-merge is associative and commutative, so the final
    * registers are independent of how ids split across micro-batches —
    * and the emitted rows are state-derived running maxes (monotone in
    * `register`), so the update-mode upsert sink absorbs replays the
    * same way qs18's monotone counts do. Constant state per key: the
    * sketch IS the state, a few hundred bytes per type at any stream
    * length.
    */
  def hllRegisters(events: Dataset[TypedHash])
      : Dataset[HllRegUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HllRegsState, HllRegUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (t: String, it: Iterator[TypedHash], state: GroupState[HllRegsState]) =>
          val regs = state.getOption.map(_.regs.toArray)
            .getOrElse(Array.fill(64)(0))
          it.foreach { e =>
            val b = (e.h % 64).toInt
            val rho = hllRho(e.h / 64)
            if (rho > regs(b)) regs(b) = rho
          }
          state.update(HllRegsState(regs.toIndexedSeq))
          regs.iterator.zipWithIndex
            .map { case (r, b) => HllRegUpdate(t, b, r) }
      }
  }

  case class SAsOfEvent(user_id: Long, kind: Int, id: Long, us: Long,
      evt: java.sql.Timestamp)
  case class SAsOfState(clicks: Seq[(Long, Long)], pending: Seq[(Long, Long)])
  case class SAsOfMatch(user_id: Long, purchase_id: Long, purchase_us: Long,
      click_id: Long, click_us: Long, lag_us: Long)

  /** STREAM-STREAM AS-OF JOIN — the streaming twin of the native batch
    * [[graft.plans.AsOfJoin]] operator (e11/e12), which Structured
    * Streaming does not ship: each purchase is matched to its user's
    * LATEST click at-or-before it within `tolUs`, incrementally, with
    * bounded state. Spark's built-in stream-stream joins can express
    * the interval CANDIDATES (qs8) but not "keep only the latest
    * prior" — that needs per-key ordered state, i.e. this
    * flatMapGroupsWithState fold. It is the watermark-correct upgrade
    * of [[streamAsOf]]: that kernel keeps one latest-right row and is
    * exact only under strict per-key arrival order (a right arriving
    * after a later left is not replayed); this one BUFFERS inside the
    * watermark horizon and gates emission on it, so any arrival order
    * the watermark admits yields the same output.
    *
    * Correctness protocol (the qs11 watermark-mirror discipline):
    *  - a purchase is emitted only when the event-time watermark
    *    passes it STRICTLY (`pus < wm·1000`) — from then on any
    *    click at-or-before the purchase would be late and dropped, so
    *    the match is final; pending purchases park in state.
    *  - the per-purchase timeout is `floor(pus / 1000)` ms: the
    *    watermark advancing beyond that is EXACTLY `wm_us > pus` for
    *    whole-ms watermarks, so end-of-stream emission (Spark's
    *    no-data batch after the final watermark advance) fires for
    *    precisely the purchases the oracle's final-watermark gate
    *    keeps.
    *  - match = max (us, id) over buffered clicks in
    *    `[pus − tolUs, pus]` — latest click, ties to the larger id;
    *    no match → −1 sentinels (null-free sort surface).
    *  - state is BOUNDED: clicks older than `wm·1000 − tolUs` can
    *    match no pending (all ≥ wm) or future purchase and are
    *    evicted every invocation; an empty group removes its state
    *    (the KINESIS:213 unbounded-state defect stays fixed).
    *
    * Determinism rests on arrival respecting event time coarsely
    * (watermark only advances between batches): the qs29-style
    * event-time-split waves guarantee no click is ever late, so the
    * fold is a pure function of the input — which is what lets the
    * DuckDB oracle re-derive it as a batch as-of under the final
    * watermark.
    */
  def streamAsOfMatches(events: Dataset[SAsOfEvent],
      tolUs: Long): Dataset[SAsOfMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SAsOfState, SAsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SAsOfEvent], state: GroupState[SAsOfState]) =>
          val prev = state.getOption.getOrElse(SAsOfState(Nil, Nil))
          var clicks = prev.clicks
          var pending = prev.pending
          it.foreach { e =>
            if (e.kind == 0) clicks = clicks :+ ((e.us, e.id))
            else pending = pending :+ ((e.us, e.id))
          }
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val (emit, stay) = pending.partition(_._1 < wmUs)
          val out = emit.sortBy(identity).map { case (pus, pid) =>
            val cands =
              clicks.filter(c => c._1 <= pus && c._1 >= pus - tolUs)
            if (cands.isEmpty) SAsOfMatch(uid, pid, pus, -1L, -1L, -1L)
            else {
              val (cus, cid) = cands.max
              SAsOfMatch(uid, pid, pus, cid, cus, pus - cus)
            }
          }
          clicks = clicks.filter(_._1 >= wmUs - tolUs)
          if (stay.isEmpty && clicks.isEmpty) state.remove()
          else {
            state.update(SAsOfState(clicks, stay))
            val tMs =
              if (stay.nonEmpty) stay.map(_._1).min / 1000L
              else (clicks.map(_._1).max + tolUs) / 1000L + 1L
            state.setTimeoutTimestamp(math.max(tMs, wmMs))
          }
          out.iterator
      }
  }

  case class GapEvent(user_id: Long, ts_ns: Long)
  case class GapState(last_ns: Long, n: Long, s1: Long, s2: Long)
  case class GapUpdate(user_id: Long, n_gaps: Long, s1: Long, s2: Long)

  /** Streaming twin of e30's bot-regularity moments: per-user
    * inter-arrival gap count / sum / sum-of-squares maintained as O(1)
    * keyed state (plus the last-seen timestamp), so the cv² regularity
    * score is computable after every batch from exact integers — the
    * same merge-associative second-scale sums the batch aggregate
    * takes, immune to how the stream is batched. Within a batch the
    * group buffers and sorts (micro-batch iterators carry no order);
    * ACROSS batches per-user event-time order is the upstream
    * watermark's job (the funnelStages contract) — a late event would
    * need its two adjacent gaps re-opened, which O(1) state cannot do.
    */
  def botRegularity(events: Dataset[GapEvent])
      : Dataset[GapUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, GapUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[GapEvent], state: GroupState[GapState]) =>
          val prev = state.getOption.getOrElse(GapState(Long.MinValue, 0L, 0L, 0L))
          var last = prev.last_ns
          var n = prev.n; var s1 = prev.s1; var s2 = prev.s2
          it.toSeq.sortBy(_.ts_ns).foreach { e =>
            if (last != Long.MinValue) {
              // positive under ordered arrival, so / == DIV == floor
              val g = (e.ts_ns - last) / 1000000000L
              n += 1; s1 += g; s2 += g * g
            }
            last = e.ts_ns
          }
          state.update(GapState(last, n, s1, s2))
          Iterator(GapUpdate(uid, n, s1, s2))
      }
  }

  /** Streaming-ingest dedup gate: drop incoming documents whose exact
    * text already exists in the stored corpus — a stream-static LEFT
    * ANTI join on the content hash, the shape every ingestion pipeline
    * puts in front of its training corpus. The static side is the
    * corpus's md5 content-hash set (in production a table maintained by
    * the batch dedup job — [[graft.api.Dedup]]); Spark broadcasts or
    * re-reads it per micro-batch, and the stream side needs no state of
    * its own, which is what keeps the gate O(batch) instead of
    * O(corpus) per trigger.
    */
  def streamDedupAgainstCorpus(docs: DataFrame,
      corpusHashes: DataFrame): DataFrame =
    docs.withColumn("_h", md5(col("text")))
      .join(corpusHashes.select(col("h").as("_h")), Seq("_h"), "left_anti")
      .drop("_h")

  case class FunnelEvent(user_id: Long, event_type: String, us: Long)
  /** -1 = stage not reached. */
  case class FunnelState(v_us: Long, c_us: Long, p_us: Long)
  case class FunnelUpdate(user_id: Long, stage: Int,
      v_us: Long, c_us: Long, p_us: Long)

  /** Streaming twin of the batch funnel (EventOps.e08): per-user
    * view → click → purchase progression with a time gate between
    * stages, tracked as arbitrary keyed state across micro-batches.
    * Emits the user's funnel stage (0-3) after every batch that
    * touches the user.
    *
    * Each stage pins the FIRST qualifying event time, exactly like the
    * batch min-aggregates — PROVIDED per-user events arrive in
    * event-time order (within a batch this sorts; across batches it is
    * the upstream watermark's job). An out-of-order view that would
    * re-open an earlier window is not replayed — the state holds first
    * observations only, which is what keeps it O(1) per user instead
    * of buffering the stream.
    */
  case class AsOfEvent(user_id: Long, ts_us: Long, kind: String, value: Double)
  case class AsOfMatch(user_id: Long, ts_us: Long, value: Double,
      matched_ts: Option[Long], matched_value: Option[Double])

  /** Streaming twin of the native as-of join ([[graft.plans.AsOfJoin]],
    * `api.Joins.asOfJoin`): `kind = "right"` events update the per-key
    * "latest state" and every other event emits a match against it —
    * the click-before-purchase join running continuously. State is the
    * single latest right row per key (the same O(1)-per-key contract
    * the batch exec's merge holds), tracked with
    * flatMapGroupsWithState across micro-batches.
    *
    * Within a batch, events are processed in (ts, kind, value) order —
    * rights before lefts at the same timestamp, matching the batch
    * operator's inclusive `rt <= lt`; ties between rights resolve to
    * the greatest value (callers needing a different tie-break sort a
    * different field into `value`). Across batches, exactness needs
    * per-key event-time order (the upstream watermark's job, same
    * caveat as [[funnelStages]]): a right event arriving after a later
    * left was already emitted is not replayed.
    */
  def streamAsOf(events: Dataset[AsOfEvent])
      : Dataset[AsOfMatch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Double), AsOfMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[AsOfEvent], state: GroupState[(Long, Double)]) =>
          var best = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfMatch]
          it.toSeq
            .sortBy(e => (e.ts_us, if (e.kind == "right") 0 else 1, e.value))
            .foreach { e =>
            if (e.kind == "right") {
              if (best.forall(_._1 <= e.ts_us)) best = Some((e.ts_us, e.value))
            } else {
              out += AsOfMatch(uid, e.ts_us, e.value,
                best.map(_._1), best.map(_._2))
            }
          }
          best.foreach(b => state.update(b))
          out.iterator
      }
  }

  case class TransEvent(user_id: Long, event_type: String, us: Long,
      event_id: Long)
  case class Transition(user_id: Long, from_type: String, to_type: String)

  /** Streaming twin of the batch transition matrix (EventOps.e13):
    * per-user (event_type -> next event_type) bigrams across
    * micro-batches. The keyed state is exactly ONE row — the user's
    * latest (us, event_id, event_type) — so state size is O(users),
    * not O(events); each batch sorts its own slice (same (us,
    * event_id) order as the batch window) and the boundary transition
    * between batches comes from the carried state. Same ordering
    * contract as [[funnelStages]]: exact under per-user event-time
    * order across batches, which is the upstream watermark's job.
    * Aggregate the emitted pairs downstream for the matrix.
    */
  def transitionPairs(events: Dataset[TransEvent])
      : Dataset[Transition] = {
    import events.sparkSession.implicits._
    // state: (us, event_id, event_type) of the user's latest event
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long, String), Transition](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[TransEvent],
            state: GroupState[(Long, Long, String)]) =>
          val sorted = it.toSeq.sortBy(e => (e.us, e.event_id))
          val types = state.getOption.map(_._3).toSeq ++ sorted.map(_.event_type)
          sorted.lastOption.foreach(e =>
            state.update((e.us, e.event_id, e.event_type)))
          types.sliding(2).collect {
            case Seq(from, to) => Transition(uid, from, to)
          }
      }
  }

  case class StreamDoc(doc_id: Long, text: String)
  case class BandDoc(bk: String, doc_id: Long, sig: Seq[Long])
  case class BucketEntry(doc_id: Long, sig: Seq[Long])
  case class BucketState(entries: Seq[BucketEntry])
  case class NearDupHit(doc_new: Long, doc_old: Long, band: String,
      n_agree: Int)

  /** Streaming near-duplicate DETECTION — the continuous twin of the
    * batch incremental dedup ([[graft.api.Dedup.incrementalNearDups]]):
    * as documents arrive, emit (doc_new, doc_old) for every prior
    * document whose MinHash signature agrees on >= `minAgree` of
    * `seeds` components, where "prior" includes earlier micro-batches.
    *
    * Shape: the codegen'd signature expression runs stateless in the
    * stream; the keyed state lives per LSH band bucket (same banding as
    * the batch path — [[graft.api.Dedup.bandKeyArray]]), holding the
    * last `maxBucket` (doc_id, signature) entries. Each arrival
    * compares against its bucket's entries only — candidates are
    * bounded by real band collisions exactly like the batch join, and
    * state is O(buckets * maxBucket * seeds) longs regardless of
    * stream length.
    *
    * Two documented trades vs the batch verifier:
    *  - verification is by SIGNATURE agreement (an unbiased jaccard
    *    estimate: E[n_agree/seeds] = J), not exact shingle jaccard —
    *    keeping shingle sets in state would make state O(corpus);
    *  - a pair colliding in several bands is emitted once PER BAND
    *    (groups cannot see each other's output); downstream exact-once
    *    is a stateless per-batch distinct, and cross-batch a pair
    *    cannot recur because doc_new is consumed exactly once.
    * The `maxBucket` cap evicts oldest-first; a bucket hotter than the
    * cap (boilerplate-dominated corpora) degrades recall against
    * evicted docs rather than growing state — the streaming analogue
    * of the batch `maxShingleFreq` cap.
    */
  def streamNearDups(docs: Dataset[StreamDoc],
      n: Int = 3, seeds: Int = 8, bandSize: Int = 2,
      minAgree: Int = 4, maxBucket: Int = 64)
      : Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val sig = docs.select(col("doc_id"),
      graft.expr.MinHashSig.min_hash_sig(col("text"), n, seeds).as("sig"))
      .filter(col("sig").isNotNull)
    val withMh = sig.select(
      col("doc_id") +: col("sig") +:
        (0 until seeds).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
    val bands = withMh
      .select(explode(graft.api.Dedup.bandKeyArray(seeds, bandSize)).as("bk"),
        col("doc_id"), col("sig"))
      .as[BandDoc]
    bands
      .groupByKey(_.bk)
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (bk: String, it: Iterator[BandDoc],
            state: GroupState[BucketState]) =>
          var entries = state.getOption.map(_.entries.toVector)
            .getOrElse(Vector.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            entries.foreach { e =>
              if (e.doc_id != d.doc_id) {
                val agree = e.sig.iterator.zip(d.sig.iterator)
                  .count { case (a, b) => a == b }
                if (agree >= minAgree)
                  out += NearDupHit(d.doc_id, e.doc_id, bk, agree)
              }
            }
            entries = (entries :+ BucketEntry(d.doc_id, d.sig))
              .takeRight(maxBucket)
          }
          state.update(BucketState(entries))
          out.iterator
      }
  }

  case class QuotaDoc(source: String, doc_id: Long)
  case class QuotaDecision(source: String, doc_id: Long,
      admitted: Boolean, n_seen: Long)

  /** Per-key ingest quota — the streaming twin of the batch per-domain
    * cap (TextOps t21): admit at most `limit` documents per source over
    * the stream's lifetime, marking the rest rejected (a curation
    * pipeline logs rejects rather than silently dropping, so the
    * decision row carries the running count). State is ONE long per
    * key — a 100 TB stream with millions of sources holds megabytes of
    * state, and the admission decision never re-reads admitted rows.
    * Within a batch, arrival order is made deterministic by doc_id so a
    * replayed micro-batch reproduces identical decisions (exactness
    * across batch splits is pinned by the StreamingSpec test).
    */
  def keyedQuota(docs: Dataset[QuotaDoc], limit: Long)
      : Dataset[QuotaDecision] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, QuotaDecision](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[QuotaDoc],
            state: GroupState[Long]) =>
          var seen = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_.doc_id).map { d =>
            seen += 1
            QuotaDecision(src, d.doc_id, admitted = seen <= limit, n_seen = seen)
          }
          state.update(seen)
          out.iterator
      }
  }

  case class BudgetDoc(source: String, doc_id: Long, n_tokens: Long)
  case class BudgetDecision(source: String, doc_id: Long, n_tokens: Long,
      admitted: Boolean, cum_tokens: Long)

  /** Per-source token-budget admission — the streaming twin of the
    * batch mixture draw (TextOps t26), with the SAME prefix-sum rule:
    * every document advances the source's running token total (even a
    * rejected one), and a document is admitted iff the total it lands
    * on stays within `budget`. Keeping the rejected tokens in the
    * running sum is what makes the decision identical to the batch
    * running-sum filter whenever arrival order matches doc_id order —
    * StreamingSpec pins that equality across a batch split. State is
    * one long per source, like [[keyedQuota]]; within-batch order is
    * pinned by doc_id so replays reproduce identical decisions.
    */
  def tokenBudget(docs: Dataset[BudgetDoc],
      budget: Long): Dataset[BudgetDecision] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .flatMapGroupsWithState[Long, BudgetDecision](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[BudgetDoc],
            state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_.doc_id).map { d =>
            cum += d.n_tokens
            BudgetDecision(src, d.doc_id, d.n_tokens, cum <= budget, cum)
          }
          state.update(cum)
          out.iterator
      }
  }

  case class TsEvent(event_type: String, event_id: Long, us: Long)
  case class LateState(max_us: Long, n: Long, n_late: Long, max_skew_us: Long)
  case class LateAuditUpdate(event_type: String, n_events: Long,
      n_late: Long, max_skew_us: Long, max_ts_us: Long)

  /** Streaming LATE-DATA / out-of-orderness AUDIT — the observability
    * twin of a watermark: per key, how many events arrived more than
    * `delayUs` behind the maximum event time already seen on that key,
    * and the worst skew observed. A watermark silently DROPS late
    * rows; this operator COUNTS them first — the number that tells you
    * whether the delay you configured is actually safe for each
    * source, before the drops happen. One O(1) state row per key
    * (running max / three counters, cheaper than [[rfmFeatures]]);
    * emits one cumulative row per touched key per micro-batch
    * (update-mode, lands through [[stateUpsertSink]] — n_events is
    * strictly monotone, so replay redelivery is absorbed). Within-
    * batch order is pinned by event_id so replays reproduce identical
    * counts; an event is late iff a PRIOR event of its key (state or
    * earlier in-batch) had `us_prior - delayUs > us`, the exact
    * prefix-max rule a flat window re-derives.
    */
  def lateAudit(events: Dataset[TsEvent],
      delayUs: Long): Dataset[LateAuditUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[LateState, LateAuditUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[TsEvent],
            state: GroupState[LateState]) =>
          var s = state.getOption.getOrElse(
            LateState(Long.MinValue, 0L, 0L, 0L))
          it.toSeq.sortBy(_.event_id).foreach { e =>
            val hasPrior = s.n > 0
            val late = hasPrior && e.us < s.max_us - delayUs
            val skew =
              if (hasPrior && s.max_us > e.us) s.max_us - e.us else 0L
            s = LateState(math.max(s.max_us, e.us), s.n + 1,
              s.n_late + (if (late) 1L else 0L),
              math.max(s.max_skew_us, skew))
          }
          state.update(s)
          Iterator(LateAuditUpdate(key, s.n, s.n_late, s.max_skew_us,
            s.max_us))
      }
  }

  case class BatchDoc(group: String, doc_id: Long)
  case class BatchSlot(group: String, doc_id: Long, batch_id: Long, pos: Long)

  /** Streaming twin of [[graft.api.Corpus.interleaveBatches]]: rows
    * claim round-robin slots as they arrive — slot = ordinal * nGroups
    * + groupIndex, batch = slot div batchSize — so training batches
    * assemble incrementally with the SAME assignment the batch
    * composer would produce on the accumulated tape (StreamingSpec
    * pins that parity across a batch split, given per-group arrival
    * in doc_id order). The group universe is a PARAMETER, not
    * discovered from the stream: a late-appearing modality would
    * renumber every slot already emitted, so an unknown group fails
    * the query loudly instead. State is one ordinal counter per group
    * — bytes per modality, the cheapest state in this file; within-
    * batch order is pinned by doc_id so replays reproduce identical
    * slots.
    */
  def streamInterleave(docs: Dataset[BatchDoc],
      groups: Seq[String], batchSize: Int)
      : Dataset[BatchSlot] = {
    import docs.sparkSession.implicits._
    require(groups.nonEmpty && batchSize >= 1,
      s"bad interleave config: $groups / $batchSize")
    val gidx = groups.sorted.zipWithIndex.map { case (g, i) => g -> i.toLong }
      .toMap
    val n = groups.size.toLong
    docs.groupByKey(_.group)
      .flatMapGroupsWithState[Long, BatchSlot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g: String, it: Iterator[BatchDoc],
            state: GroupState[Long]) =>
          val base = gidx.getOrElse(g, sys.error(
            s"streamInterleave: group '$g' not in the declared universe " +
              groups.mkString("[", ",", "]")))
          var ord = state.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_.doc_id).map { d =>
            val slot = ord * n + base
            ord += 1
            BatchSlot(g, d.doc_id, slot / batchSize, slot % batchSize)
          }
          state.update(ord)
          out.iterator
      }
  }

  case class StreamVec(vec_id: Long, v: Array[Double])
  case class AssignedVec(cell: Long, vec_id: Long, v: Array[Double], nrm: Double)
  case class CellEntry(vec_id: Long, v: Array[Double], nrm: Double)
  case class CellVecState(entries: Seq[CellEntry])
  case class SemDupHit(vec_id: Long, dup_of: Long, cell: Long, cos_sim: Double)

  /** Streaming twin of [[graft.api.Dedup.semanticDupPairs]] (SemDeDup):
    * each arriving vector is assigned to its nearest centroid — a
    * STATELESS map against the driver-shipped codebook, exactly the
    * broadcast the batch form plans — and compared only against the
    * vectors its cell has already admitted. A hit row is emitted per
    * (new vector, earlier kept vector) whose quantized cosine clears
    * the threshold; the newcomer then joins the cell state.
    *
    * State is bounded by construction: `maxCell` entries per cell,
    * oldest evicted first (the streaming analogue of sizing the
    * codebook so cells stay small; an over-hot cell degrades recall
    * against evicted members instead of growing without bound). All
    * arithmetic goes through [[graft.expr.VectorExprs.quantizedDotArr]],
    * so a tape replayed through the batch operator produces the same
    * cosines bit-for-bit — StreamingSpec pins that parity across a
    * batch split. Within a micro-batch, arrival order is made
    * deterministic by vec_id, so replays reproduce identical output.
    */
  def streamSemanticDups(vecs: Dataset[StreamVec],
      centroids: Seq[(Long, Array[Double])],
      threshold: Double = 0.9, maxCell: Int = 256)
      : Dataset[SemDupHit] = {
    import vecs.sparkSession.implicits._
    import graft.expr.VectorExprs.quantizedDotArr
    require(centroids.nonEmpty, "streamSemanticDups needs a codebook")
    val cents = centroids.sortBy(_._1).map { case (cid, cv) =>
      (cid, cv, math.sqrt(quantizedDotArr(cv, cv)))
    }
    val assigned = vecs.map { d =>
      val nrm = math.sqrt(quantizedDotArr(d.v, d.v))
      var bestId = cents.head._1
      var best = Double.NegativeInfinity
      cents.foreach { case (cid, cv, cnrm) =>
        val cos = quantizedDotArr(d.v, cv) / (nrm * cnrm)
        if (cos > best) { best = cos; bestId = cid } // sorted ids: ties keep min
      }
      AssignedVec(bestId, d.vec_id, d.v, nrm)
    }
    assigned
      .groupByKey(_.cell)
      .flatMapGroupsWithState[CellVecState, SemDupHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cell: Long, it: Iterator[AssignedVec],
            state: GroupState[CellVecState]) =>
          var entries = state.getOption.map(_.entries.toVector)
            .getOrElse(Vector.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[SemDupHit]
          it.toSeq.sortBy(_.vec_id).foreach { d =>
            entries.foreach { e =>
              if (e.vec_id != d.vec_id) {
                val cos = quantizedDotArr(e.v, d.v) / (e.nrm * d.nrm)
                if (cos >= threshold)
                  out += SemDupHit(d.vec_id, e.vec_id, cell, cos)
              }
            }
            entries = (entries :+ CellEntry(d.vec_id, d.v, d.nrm))
              .takeRight(maxCell)
          }
          state.update(CellVecState(entries))
          out.iterator
      }
  }

  def funnelStages(events: Dataset[FunnelEvent],
      gapUs: Long = 3600000000L)
      : Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelUpdate](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          var v = prev.v_us; var c = prev.c_us; var p = prev.p_us
          it.toSeq.sortBy(e => (e.us, e.event_type)).foreach { e =>
            e.event_type match {
              case "view" if v < 0 => v = e.us
              case "click" if v >= 0 && c < 0 && e.us > v && e.us <= v + gapUs =>
                c = e.us
              case "purchase" if c >= 0 && p < 0 && e.us > c && e.us <= c + gapUs =>
                p = e.us
              case _ => ()
            }
          }
          state.update(FunnelState(v, c, p))
          val stage = if (p >= 0) 3 else if (c >= 0) 2 else if (v >= 0) 1 else 0
          Iterator(FunnelUpdate(uid, stage, v, c, p))
      }
  }

  case class BasketItem(order_id: Long, part_id: Long)
  case class BasketState(parts: Seq[Long])
  case class CoEdge(pa: Long, pb: Long)

  /** Incremental co-purchase edge maintenance — the streaming twin of
    * the batch edge derivation behind the whole g* graph family: as
    * order items arrive, each NEW part in an order emits exactly one
    * (a<b canonical) edge against every part already in that order's
    * basket, so the materialized edge view grows incrementally instead
    * of being re-derived from the full fact table per refresh. State
    * is one part-set per OPEN order — bounded by basket size (≤ 7 in
    * this schema), never by stream length — and a repeated part is a
    * no-op, mirroring the batch `collect_set`. Emission is
    * exactly-once PER ORDER by construction (a pair appears only when
    * its later part first arrives); the same pair from two different
    * orders is two rows, exactly like the batch pair expansion before
    * its global `distinct()` — the downstream edge table dedups on
    * (pa, pb) at merge time, which is also where a production job adds
    * the order-completion timeout that retires basket state.
    */
  def streamEdges(items: Dataset[BasketItem])
      : Dataset[CoEdge] = {
    import items.sparkSession.implicits._
    items
      .groupByKey(_.order_id)
      .flatMapGroupsWithState[BasketState, CoEdge](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[BasketItem], state: GroupState[BasketState]) =>
          var known = state.getOption.map(_.parts.toSet)
            .getOrElse(Set.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer.empty[CoEdge]
          // deterministic intra-batch order: part id ascending
          it.toSeq.sortBy(_.part_id).foreach { e =>
            if (!known.contains(e.part_id)) {
              known.foreach { p =>
                out += (if (p < e.part_id) CoEdge(p, e.part_id)
                        else CoEdge(e.part_id, p))
              }
              known += e.part_id
            }
          }
          state.update(BasketState(known.toSeq.sorted))
          out.iterator
      }
  }

  /** Streaming triangle-count maintenance — the incremental twin of the
    * batch census behind g01 ([[graft.api.Graph.triangleStats]]). As
    * edges arrive (e.g. from [[streamEdges]]), each micro-batch updates
    * a materialized edge table and a running triangle total WITHOUT
    * recounting the whole graph: a triangle is counted exactly once, in
    * the batch where its LAST edge lands, by splitting the delta into
    *
    *   - 1 new edge: for each genuinely-new edge (u,v), the number of
    *     common neighbors of u and v in the PRE-batch graph (two joins
    *     against the old bidirectional adjacency);
    *   - 2 new edges: wedges of two new edges sharing a center, closed
    *     by a PRE-batch edge (each such triangle has exactly one
    *     two-new-edge wedge, so one count);
    *   - 3 new edges: the full census of the batch's new-edge subgraph
    *     (degree-oriented, like the batch kernel).
    *
    * Redelivered edges (at-least-once sources, repeated co-purchase
    * pairs from different orders) vanish in the anti join against the
    * accumulated table, so the delta only ever prices genuinely new
    * edges — the per-batch cost is proportional to the batch's edge
    * count times the old graph's relevant degrees, never to the
    * accumulated graph size.
    *
    * Exactly-once under crash and replay, with two artifacts published
    * one at a time by [[graft.io.Publish]] (each crash-safe on its own):
    * the count table at `countPath` holds one row (n_edges BIGINT,
    * n_triangles BIGINT) and goes through the additive fold, so its
    * `_LAST_BATCH` mark is the last batch counted; it publishes FIRST,
    * and the edge table at `tablePath` publishes second. A replayed
    * batch whose id is the mark has already been counted, so it only
    * re-publishes the edge table as the pre-batch edges plus the
    * batch's new ones: a no-op if the first attempt got that far, the
    * missing half if it crashed between the two publishes. Otherwise it
    * counts against the edge table on disk, which is then still the
    * pre-batch table. Either way the totals equal
    * [[graft.api.Graph.triangleStats]] over the edge table.
    */
  def trianglesSink(edges: Dataset[CoEdge],
      tablePath: String, countPath: String, checkpoint: String)
      : DataStreamWriter[CoEdge] =
    eachBatch(edges, checkpoint, OutputMode.Append) { (batch, batchId) =>
      val spark = batch.sparkSession
      import spark.implicits._
      Publish.recover(tablePath)
      val canon = batch.toDF()
        .select(least(col("pa"), col("pb")).as("pa"),
          greatest(col("pa"), col("pb")).as("pb"))
        .filter(col("pa") =!= col("pb")).distinct()
      val old = stored(spark, tablePath)
        .getOrElse(Seq.empty[(Long, Long)].toDF("pa", "pb"))
      val eNew = canon.join(old, Seq("pa", "pb"), "left_anti").persist()
      foldTable(spark, countPath, Some(batchId)) { counts =>
        val (oldEdges, oldTri) = counts.fold((0L, 0L))(
          _.select("n_edges", "n_triangles").as[(Long, Long)].head())
        val oldBi = old.select(col("pa").as("u"), col("pb").as("v"))
          .unionAll(old.select(col("pb").as("u"), col("pa").as("v")))
        val newBi = eNew.select(col("pa").as("u"), col("pb").as("v"))
          .unionAll(eNew.select(col("pb").as("u"), col("pa").as("v")))
        // 1 new edge: common OLD neighbors of each new edge's endpoints
        val t1 = eNew
          .join(oldBi.select(col("u").as("pa"), col("v").as("w1")), "pa")
          .join(oldBi.select(col("u").as("pb"), col("v").as("w2")), "pb")
          .filter(col("w1") === col("w2"))
          .agg(count(lit(1)).as("n")).as[Long].head()
        // 2 new edges: new-new wedge (center c), old closing edge (u<v)
        val t2 = newBi.select(col("u").as("c"), col("v").as("wu"))
          .join(newBi.select(col("u").as("c"), col("v").as("wv")), "c")
          .filter(col("wu") < col("wv"))
          .join(old.select(col("pa").as("wu"), col("pb").as("wv")),
            Seq("wu", "wv"), "left_semi")
          .agg(count(lit(1)).as("n")).as[Long].head()
        // 3 new edges: census of the batch's new-edge subgraph. Edges
        // are canonical (a<b), so each triangle a<b<c is exactly one
        // (a,b)⋈(b,c) path closed by (a,c) — no orientation machinery
        // needed at delta scale (a huge backfill batch would swap in
        // the degree-oriented batch kernel here).
        val t3 = eNew.select(col("pa").as("a"), col("pb").as("b"))
          .join(eNew.select(col("pa").as("b"), col("pb").as("c")), "b")
          .join(eNew.select(col("pa").as("a"), col("pb").as("c")),
            Seq("a", "c"), "left_semi")
          .agg(count(lit(1)).as("n")).as[Long].head()
        Seq((oldEdges + eNew.count(), oldTri + t1 + t2 + t3))
          .toDF("n_edges", "n_triangles")
      }
      Publish(tablePath)(old.unionAll(eNew).write.mode("overwrite").parquet(_))
      eNew.unpersist()
    }

  /** Streaming IVF index maintenance — the ingest path of the ANN
    * serving shapes (s04/s11/s15/s16): the codebook is trained OFFLINE
    * and fixed (`centroids`: c_id, cv rows, broadcast every batch);
    * the stream of new vectors is assigned to nearest-centroid cells
    * and APPENDED to a cell-partitioned index store, so queries prune
    * to their probe cells without the index ever being rebuilt. This
    * is how a production IVF index absorbs data between codebook
    * retrains — per-batch cost is |batch| × k assignment work plus one
    * partitioned write; the accumulated index is never rewritten.
    *
    * Each micro-batch lands in its own `batch=<id>/cell=<c>/` subtree,
    * published by [[graft.io.Publish]]. Redelivered vec_ids are dropped
    * by an anti join against the OTHER batches of the index — on
    * Delta/Iceberg that anti join becomes the table's MERGE
    * insert-if-absent. The batch's own directory is left out of the
    * anti join, so a replay (crash after the publish, before the
    * checkpoint commit) stages the same rows again and republishes the
    * same `batch=<id>` directory: the set of vec_ids and every cell
    * count are unchanged, never duplicated and never emptied.
    *
    * Cell-population health (the s15 balance diagnostic) is DERIVED
    * from the index by [[ivfCellStats]] rather than maintained as a
    * second mutable artifact — one source of truth, and the count per
    * cell is a metadata-only scan of the partitioned layout.
    */
  def ivfIndexSink(vectors: DataFrame, centroids: DataFrame,
      indexPath: String, checkpoint: String): DataStreamWriter[Row] =
    eachBatch(vectors, checkpoint, OutputMode.Append) { (batch, batchId) =>
      import graft.expr.VectorExprs.dot
      val cent = centroids
        .select(col("c_id").as("_cid"), col("cv").as("_cv"))
        .withColumn("_cnrm", sqrt(dot(col("_cv"), col("_cv"))))
      val e = batch.select(col("vec_id"), col("embedding"))
        .withColumn("_nrm", sqrt(dot(col("embedding"), col("embedding"))))
      val wA = Window.partitionBy("vec_id")
        .orderBy(col("_ccos").desc, col("_cid").asc)
      val assigned = e.crossJoin(broadcast(cent))
        .withColumn("_ccos",
          dot(col("embedding"), col("_cv")) / (col("_nrm") * col("_cnrm")))
        .withColumn("_rn", row_number().over(wA))
        .filter(col("_rn") === 1)
        .select(col("vec_id"), col("_cid").as("cell"), col("embedding"))
      val own = s"batch=$batchId"
      val others = Option(new java.io.File(indexPath).listFiles())
        .getOrElse(Array.empty).map(_.getName)
        .filter(n => n.startsWith("batch=") && n != own)
      val fresh =
        if (others.isEmpty) assigned
        else assigned.join(
          batch.sparkSession.read.option("basePath", indexPath)
            .parquet(others.map(n => s"$indexPath/$n").toIndexedSeq: _*)
            .select("vec_id"),
          Seq("vec_id"), "left_anti")
      Publish(s"$indexPath/$own")(
        fresh.write.mode("overwrite").partitionBy("cell").parquet(_))
    }

  /** Per-cell population of a [[ivfIndexSink]]-maintained index — the
    * streaming-side twin of the s15 cell-balance diagnostic. Counting
    * rows per partition value touches parquet footers only.
    */
  def ivfCellStats(spark: SparkSession,
      indexPath: String): DataFrame =
    spark.read.parquet(indexPath)
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      .orderBy("cell")
}
