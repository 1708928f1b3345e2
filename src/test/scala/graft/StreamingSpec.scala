package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.operators.stateful.BaseStreamingDeduplicateExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.clean.Cleaners
import graft.fixtures.PinFixtures
import graft.io.{Publish, Sources}
import graft.model.Schemas
import graft.stream.Pipelines

/** Structured-Streaming pipelines (SURVEY.md §5.4): envelope decode +
  * shared cleaning must produce byte-identical results to the batch
  * path; watermarks must drop late rows; windowed aggregations must emit
  * on watermark advance.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("streamed pin cleaning equals batch cleaning on the same input") {
    streamEqualsBatch(spark)
  }

  test("streamed pin cleaning equals batch cleaning on the same input (ANSI on)") {
    streamEqualsBatch(TestSpark.ansi)
  }

  private def streamEqualsBatch(session: org.apache.spark.sql.SparkSession): Unit = {
    val raw = PinFixtures.pinRaw(session)
    val envelopeRows = PinFixtures.envelope(raw).as[String].collect().toSeq

    implicit val sqlCtx = session.sqlContext
    val mem = MemoryStream[String]
    mem.addData(envelopeRows)
    val streamed = Pipelines.cleanPinStream(mem.toDF().select(col("value").as("data")))

    val sink = tmp("graft_pin_sink")
    val cp = tmp("graft_pin_cp")
    val q = streamed.writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()
    q.processAllAvailable()
    q.stop()

    val got = session.read.schema(Schemas.pinClean).parquet(sink)
    val want = Cleaners.cleanPin(raw, fillFollower = Some(1000))
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("watermarked geo dedup drops duplicate (ind, timestamp) rows") {
    val raw = PinFixtures.geoRaw(spark) // contains 5 duplicated rows
    val envelopeRows = PinFixtures.envelope(raw).as[String].collect().toSeq

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(envelopeRows)
    val streamed = Pipelines.cleanGeoStream(mem.toDF().select(col("value").as("data")))

    val sink = tmp("graft_geo_sink")
    val cp = tmp("graft_geo_cp")
    val q = streamed.writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()
    q.processAllAvailable()
    q.stop()

    val got = spark.read.schema(Schemas.geoClean).parquet(sink)
    assert(got.count() == raw.dropDuplicates("ind", "timestamp").count())
  }

  test("tumbling window with watermark aggregates event time and drops late rows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Long, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)

    val events = mem.toDF()
      .toDF("ts", "event_type", "user_id", "value")
    val agg = Pipelines.windowedCounts(events, "ts", "10 minutes", "10 minutes")

    val sink = tmp("graft_win_sink")
    val cp = tmp("graft_win_cp")
    val q = agg.writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()

    // batch 1: two windows of data; watermark advances to max(ts)-10m = 10:02
    mem.addData((at(0), "click", 1L, 1.0), (at(5), "click", 2L, 2.0), (at(12), "view", 1L, 3.0))
    q.processAllAvailable()
    // batch 2: advance watermark far enough to close both windows, and
    // include one row at 09:45 — behind the 10:02 watermark, so dropped
    mem.addData((at(60), "click", 3L, 1.0), (at(-15), "click", 9L, 9.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(sink)
    val rows = out.select("window_start", "event_type", "cnt")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.contains((at(0), "click", 2L)))
    assert(rows.contains((at(10), "view", 1L)))
    // the late row's 09:40 window must not exist
    assert(!rows.exists(_._1 == at(-20)), s"late row leaked: $rows")
  }

  test("session windows split on the inactivity gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Long, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 08:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)

    val events = mem.toDF().toDF("ts", "event_type", "user_id", "value")
    val agg = Pipelines.sessionCounts(events, "ts", "15 minutes", "10 minutes")

    val sink = tmp("graft_sess_sink")
    val cp = tmp("graft_sess_cp")
    val q = agg.writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()
    // user 1: events at 0,5 (one session), then 40,44 (second session)
    mem.addData((at(0), "click", 1L, 1.0), (at(5), "click", 1L, 1.0),
      (at(40), "click", 1L, 1.0), (at(44), "click", 1L, 1.0))
    q.processAllAvailable()
    mem.addData((at(120), "click", 2L, 1.0)) // advance watermark
    q.processAllAvailable()
    q.stop()

    val out = spark.read.parquet(sink)
      .select("session_start", "user_id", "n_events").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(out.contains((at(0), 1L, 2L)))
    assert(out.contains((at(40), 1L, 2L)))
    assert(out.count(_._2 == 1L) == 2, s"expected two sessions for user 1, got $out")
  }

  test("flatMapGroupsWithState keeps cumulative per-user state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Pipelines.UserEvent]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val updates = Pipelines.runningUserTotals(mem.toDS())
    val q = updates.writeStream
      .outputMode("update").format("memory").queryName("user_totals")
      .start()
    mem.addData(
      Pipelines.UserEvent(1L, base, 10.0), Pipelines.UserEvent(1L, base, 5.0),
      Pipelines.UserEvent(2L, base, 1.0))
    q.processAllAvailable()
    mem.addData(Pipelines.UserEvent(1L, base, 2.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("user_totals")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch 1 emitted (1, 2, 15.0); batch 2 must REMEMBER and emit (1, 3, 17.0)
    assert(rows.contains((1L, 2L, 15.0)), rows.toString)
    assert(rows.contains((1L, 3L, 17.0)), rows.toString)
    assert(rows.contains((2L, 1L, 1.0)), rows.toString)
  }

  test("stream as-of join: parks until the watermark passes, matches latest prior with id tie-break, -1 when out of tolerance (qs30 kernel)") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000000L // µs
    def ev(kind: Int, id: Long, us: Long) = Pipelines.SAsOfEvent(
      1L, kind, id, us, new java.sql.Timestamp(us / 1000L))
    val mem = MemoryStream[Pipelines.SAsOfEvent]
    val out = Pipelines.streamAsOfMatches(
      mem.toDS().withWatermark("evt", "10 seconds"), tolUs = 1800000000L)
    val q = out.writeStream
      .outputMode("append").format("memory").queryName("asof_out")
      .start()
    // batch 1: two tied clicks + their purchase — watermark still 0,
    // so NOTHING may emit yet
    mem.addData(ev(0, 101L, t0), ev(0, 102L, t0), ev(1, 201L, t0 + 60000000L))
    q.processAllAvailable()
    assert(spark.table("asof_out").count() == 0L,
      "purchase emitted before the watermark passed it")
    // batch 2: an out-of-tolerance purchase, a later click+purchase
    // pair, and a far-future purchase that advances the watermark
    // past everything else but stays parked itself
    mem.addData(
      ev(1, 202L, t0 + 3800000000L), // 1900s after click 103: > 30 min tol
      ev(0, 103L, t0 + 1900000000L),
      ev(1, 203L, t0 + 2000000001L), // 100s after click 103: matches
      ev(1, 204L, t0 + 4000000000L)) // watermark driver, stays pending
    q.processAllAvailable()
    q.stop()
    val byId = spark.table("asof_out").collect()
      .map(r => r.getLong(1) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(byId.keySet == Set(201L, 202L, 203L),
      s"wrong emission set: ${byId.keySet} (204 must stay parked)")
    assert(byId(201L) == ((102L, t0, 60000000L)),
      s"tie must go to the larger click id: ${byId(201L)}")
    assert(byId(202L) == ((-1L, -1L, -1L)), s"${byId(202L)}")
    assert(byId(203L) == ((103L, t0 + 1900000000L, 100000001L)),
      s"${byId(203L)}")
  }

  test("online z-scoring: stream scored against training-time stats equals the batch path") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // training-time stats from a batch frame (mean 2, pop-std 1 for g)
    val train = Seq(("g", 1L, 1L), ("g", 2L, 3L)).toDF("t", "id", "cents")
    val stats = graft.api.Features.groupStats(train, "t", "cents")
    val mem = MemoryStream[(String, Long, Long)]
    val scored = graft.api.Features.zscoreWithStats(
      mem.toDF().toDF("t", "id", "cents"), stats, "t", "cents")
    val q = scored.writeStream
      .outputMode("append").format("memory").queryName("online_z")
      .start()
    mem.addData(("g", 10L, 4L), ("g", 11L, 2L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("online_z")
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // (4 - 2) / 1 = 2.0 ; (2 - 2) / 1 = 0.0 — identical to the batch
    // expression because the op tree is the same code
    assert(got == Map(10L -> 2.0, 11L -> 0.0), got.toString)
  }

  test("rolling actives: sliding-window dedup counts each user once per window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val day0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def onDay(d: Int, h: Int = 1) =
      new java.sql.Timestamp(day0.getTime + d * 86400000L + h * 3600000L)

    val events = mem.toDF().toDF("ts", "user_id")
    val agg = Pipelines.rollingActives(events, "ts", "1 day")

    val sink = tmp("graft_wau_sink")
    val cp = tmp("graft_wau_cp")
    val q = agg.writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()
    // user 1 active on days 0 and 1 (plus a same-day duplicate), user 2
    // on day 1 — split across micro-batches
    mem.addData((onDay(0), 1L), (onDay(0, 5), 1L), (onDay(1), 2L))
    q.processAllAvailable()
    // second batch: another day-1 event, then jump far ahead to close
    // all early windows
    mem.addData((onDay(1, 7), 1L))
    q.processAllAvailable()
    mem.addData((onDay(40), 9L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(sink)
      .collect().map(r => r.getTimestamp(1) -> r.getLong(2)).toMap
    // window ending day1+1 covers days [day-5 .. day1]: users {1, 2};
    // the same-day duplicate and the cross-batch repeat of user 1 must
    // not double-count
    assert(rows(new java.sql.Timestamp(day0.getTime + 2 * 86400000L)) == 2L,
      rows.toString)
    // window ending day0+1 covers only day 0: just user 1
    assert(rows(new java.sql.Timestamp(day0.getTime + 1 * 86400000L)) == 1L,
      rows.toString)
  }

  test("streaming RFM state matches the batch aggregate across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = Seq(
      Pipelines.PurchaseEvent(1L, 100L, 500L),
      Pipelines.PurchaseEvent(2L, 300L, 50L),
      Pipelines.PurchaseEvent(1L, 900L, 250L),
      // --- batch boundary ---
      Pipelines.PurchaseEvent(1L, 400L, 100L), // out-of-order: recency keeps 900
      Pipelines.PurchaseEvent(2L, 1000L, 25L))
    val mem = MemoryStream[Pipelines.PurchaseEvent]
    val q = Pipelines.rfmFeatures(mem.toDS()).writeStream
      .outputMode("update").format("memory").queryName("rfm_state")
      .start()
    mem.addData(purchases.take(3): _*)
    q.processAllAvailable()
    mem.addData(purchases.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    // latest update per user == the batch e20-style aggregate triple
    val got = spark.table("rfm_state")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(org.apache.spark.sql.functions.col("frequency").desc)))
      .filter($"rn" === 1).drop("rn")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = purchases.toDS().groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.max($"us").as("last"),
        org.apache.spark.sql.functions.count($"us").as("n"),
        org.apache.spark.sql.functions.sum($"cents").as("c"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want, s"got $got\nwant $want")
    assert(got(1L) == ((900L, 3L, 850L)), got.toString) // out-of-order recency held
  }

  test("streaming gap moments match the batch e30 sums across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val sec = 1000000000L
    // user 1 metronomic at 10 s; user 2 bursty; split mid-stream
    val events = Seq(
      Pipelines.GapEvent(1L, 0 * sec), Pipelines.GapEvent(1L, 10 * sec),
      Pipelines.GapEvent(2L, 5 * sec), Pipelines.GapEvent(2L, 6 * sec),
      // --- batch boundary ---
      Pipelines.GapEvent(1L, 20 * sec), Pipelines.GapEvent(1L, 30 * sec),
      Pipelines.GapEvent(2L, 100 * sec))
    val mem = MemoryStream[Pipelines.GapEvent]
    val q = Pipelines.botRegularity(mem.toDS()).writeStream
      .outputMode("update").format("memory").queryName("gap_state")
      .start()
    mem.addData(events.take(4): _*)
    q.processAllAvailable()
    mem.addData(events.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("gap_state")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          .orderBy(org.apache.spark.sql.functions.col("n_gaps").desc)))
      .filter($"rn" === 1).drop("rn")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // batch re-derivation: per-user sorted gaps in whole seconds
    val want = events.groupBy(_.user_id).map { case (u, es) =>
      val ts = es.map(_.ts_ns).sorted
      val gaps = ts.zip(ts.tail).map { case (a, b) => (b - a) / sec }
      u -> ((gaps.length.toLong, gaps.sum, gaps.map(g => g * g).sum))
    }
    assert(got == want, s"got $got\nwant $want")
    // cv² from the moments: user 1 exactly regular (variance 0)
    val (n1, s11, s21) = got(1L)
    assert(n1 * s21 - s11 * s11 == 0L, got.toString)
  }

  test("keyed quota admits across batches until the per-source cap, then rejects") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Pipelines.QuotaDoc]
    val q = Pipelines.keyedQuota(mem.toDS(), limit = 3L).writeStream
      .outputMode("update").format("memory").queryName("quota")
      .start()
    mem.addData(
      Pipelines.QuotaDoc("a", 1L), Pipelines.QuotaDoc("a", 2L),
      Pipelines.QuotaDoc("b", 10L))
    q.processAllAvailable()
    // the cap must be remembered ACROSS the batch boundary: source a has
    // one admission slot left, so doc 3 passes and doc 4 is rejected
    mem.addData(Pipelines.QuotaDoc("a", 4L), Pipelines.QuotaDoc("a", 3L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("quota").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getBoolean(2), r.getLong(3))))
      .toMap
    assert(rows(("a", 1L)) == ((true, 1L)))
    assert(rows(("a", 2L)) == ((true, 2L)))
    assert(rows(("b", 10L)) == ((true, 1L)))
    // within-batch order is doc_id, not arrival: 3 admitted, 4 rejected
    assert(rows(("a", 3L)) == ((true, 3L)))
    assert(rows(("a", 4L)) == ((false, 4L)))
  }

  test("streaming funnel tracks per-user stages across batches and enforces time gates") {
    implicit val sqlCtx = spark.sqlContext
    val hour = 3600000000L
    val mem = MemoryStream[Pipelines.FunnelEvent]
    val q = Pipelines.funnelStages(mem.toDS()).writeStream
      .outputMode("update").format("memory").queryName("funnel")
      .start()
    // batch 1: user 1 views; user 2 clicks with NO prior view (no-op);
    // user 3 views and clicks in one batch, delivered out of order
    mem.addData(
      Pipelines.FunnelEvent(1L, "view", 1000L),
      Pipelines.FunnelEvent(2L, "click", 1000L),
      Pipelines.FunnelEvent(3L, "click", 2000L),
      Pipelines.FunnelEvent(3L, "view", 1000L))
    q.processAllAvailable()
    // batch 2: user 1 clicks within the gate, then purchases within the
    // gate; user 3 purchases TOO LATE after its click (gate violated)
    mem.addData(
      Pipelines.FunnelEvent(1L, "click", 2000L),
      Pipelines.FunnelEvent(1L, "purchase", 3000L),
      Pipelines.FunnelEvent(3L, "purchase", 2000L + hour + 1))
    q.processAllAvailable()
    q.stop()
    val byBatch = spark.table("funnel")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    // batch 1: u1 reached view(1), u2 still 0, u3 reached click(2)
    assert(byBatch.contains((1L, 1)), byBatch.toString)
    assert(byBatch.contains((2L, 0)), byBatch.toString)
    assert(byBatch.contains((3L, 2)), byBatch.toString)
    // batch 2: u1 completed the funnel(3) — state remembered the view;
    // u3 stays at click(2) because the purchase missed the gate
    assert(byBatch.contains((1L, 3)), byBatch.toString)
    assert(byBatch.count { case (u, s) => u == 3L && s == 2 } == 2, byBatch.toString)
  }

  test("streaming transitions equal the batch lead-window matrix across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // deterministic event tape: 6 users, 40 events, varied types
    val tape = (0 until 40).map { i =>
      Pipelines.TransEvent(i % 6L, Seq("view", "click", "purchase")(i % 3),
        1000L * (i / 6) + i, i.toLong)
    }
    val (b1, b2) = tape.splitAt(25)
    val mem = MemoryStream[Pipelines.TransEvent]
    val q = Pipelines.transitionPairs(mem.toDS()).writeStream
      .outputMode("update").format("memory").queryName("trans")
      .start()
    mem.addData(b1: _*) // first slice; boundary state carried forward
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("trans")
      .groupBy("from_type", "to_type").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // batch formulation over the SAME tape: lead() per user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val want = tape.toDS().toDF()
      .withColumn("to_type", org.apache.spark.sql.functions.lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == want, s"got $got\nwant $want")
  }

  test("stream-static anti join drops docs already in the corpus") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Seq((100L, "already stored document text"))
      .toDF("doc_id", "text")
      .select(org.apache.spark.sql.functions.md5($"text").as("h"))
    val mem = MemoryStream[(Long, String)]
    val gated = Pipelines.streamDedupAgainstCorpus(
      mem.toDF().toDF("doc_id", "text"), corpus)
    val q = gated.writeStream
      .outputMode("append").format("memory").queryName("ingest_gate")
      .start()
    mem.addData(
      (1L, "already stored document text"), // exact dup of the corpus
      (2L, "a genuinely new document"),
      (3L, "another new one"))
    q.processAllAvailable()
    // second batch: the duplicate arrives again — still dropped
    mem.addData((4L, "already stored document text"), (5L, "fresh again"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("ingest_gate").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 5L), kept.toString)
  }

  test("streaming as-of matches the batch operator's semantics across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Pipelines.AsOfEvent]
    val q = Pipelines.streamAsOf(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("asof_stream")
      .start()
    // batch 1: user 1 click then purchase; user 2 purchase, no click yet
    mem.addData(
      Pipelines.AsOfEvent(1L, 100L, "right", 5.0),
      Pipelines.AsOfEvent(1L, 110L, "left", 1.0),
      Pipelines.AsOfEvent(2L, 50L, "left", 2.0))
    q.processAllAvailable()
    // batch 2: user 1's state persists across batches; user 2 gets two
    // same-timestamp rights (value tie-break -> 9.0) and a same-ts left
    // (rights process first: inclusive rt <= lt)
    mem.addData(
      Pipelines.AsOfEvent(1L, 200L, "left", 3.0),
      Pipelines.AsOfEvent(2L, 60L, "right", 7.0),
      Pipelines.AsOfEvent(2L, 60L, "right", 9.0),
      Pipelines.AsOfEvent(2L, 60L, "left", 4.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("asof_stream").as[Pipelines.AsOfMatch].collect()
      .map(m => (m.user_id, m.ts_us) -> ((m.matched_ts, m.matched_value))).toMap
    assert(got == Map(
      (1L, 110L) -> ((Some(100L), Some(5.0))),
      (2L, 50L) -> ((None, None)),
      (1L, 200L) -> ((Some(100L), Some(5.0))),
      (2L, 60L) -> ((Some(60L), Some(9.0)))), got.toString)
  }

  test("streaming trending top-k ranks each closed window through GroupTopK") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = tmp("graft_trend_out")
    val cp = tmp("graft_trend_cp")
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.trendingTopK(mem.toDF().toDF("ts", "cat"),
        "ts", "cat", windowDur = "10 minutes", watermarkDelay = "0 seconds",
        k = 2, outPath = out, checkpoint = cp))

    // window 0 (minutes 0-10): catA x3, catB x2, catC x1
    mem.addData((ts(1), "catA"), (ts(2), "catA"), (ts(3), "catA"),
      (ts(4), "catB"), (ts(5), "catB"), (ts(6), "catC"))
    run() // nothing closed yet — watermark sits at minute 6
    // far-future event pushes the watermark past window 0's end
    mem.addData((ts(25), "catZ"))
    run()
    val rows = spark.read.parquet(out)
      .select("cat", "cnt").as[(String, Long)].collect().toSet
    // top-2 of the closed window only: catA(3), catB(2) — catC pruned,
    // catZ's window still open
    assert(rows == Set(("catA", 3L), ("catB", 2L)), rows.toString)
  }

  test("streaming histogram quantiles equal the batch read-off per closed window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val out = tmp("graft_histq_out")
    val cp = tmp("graft_histq_cp")
    // base aligned to a 10-minute window boundary so minutes 0-9 share
    // one window (windows align to the unix epoch)
    def ts(min: Int) = new java.sql.Timestamp(1699999800000L + min * 60000L)
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.windowedHistQuantiles(mem.toDF().toDF("ts", "value"),
        "ts", "value", windowDur = "10 minutes", watermarkDelay = "0 seconds",
        bucketWidth = 1000L, qs = Seq(0.5, 0.9),
        outPath = out, checkpoint = cp))

    // one window's values split across two micro-batches: the histogram
    // state must merge before the window closes
    val w0 = Seq(12.0, 13.5, 41.0, 55.0)
    val w0b = Seq(14.0, 90.0, 7.5)
    mem.addData(w0.zipWithIndex.map { case (v, i) => (ts(i), v) }: _*)
    run()
    mem.addData(w0b.zipWithIndex.map { case (v, i) => (ts(5 + i), v) }: _*)
    run()
    mem.addData((ts(25), 1.0)) // advance the watermark past window 0
    run()
    val got = spark.read.parquet(out)
      .select("q", "n", "est").as[(Double, Long, Double)].collect().toSet
    // batch twin over the SAME rows through the SAME read-off helper
    val hist = (w0 ++ w0b).toDF("value")
      .select((round(col("value") * 100).cast("bigint")).as("cents"))
      .select(expr("cents DIV 1000").as("_bucket"))
      .groupBy("_bucket").agg(count(lit(1)).as("_cnt"))
    val want = graft.api.Windows.histogramQuantiles(hist, Seq.empty,
        "_bucket", "_cnt", Seq(0.5, 0.9), 1000L)
      .select("q", "n", "est").as[(Double, Long, Double)].collect().toSet
    assert(got == want, s"got $got\nwant $want")
    assert(got.map(_._2) == Set(7L), s"window 0 must hold 7 values: $got")
  }

  test("streaming trending top-k replay rewrites its batch, never duplicates rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val out = tmp("graft_trend_replay_out")
    val cp = tmp("graft_trend_replay_cp")
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.trendingTopK(mem.toDF().toDF("ts", "cat"),
        "ts", "cat", windowDur = "10 minutes", watermarkDelay = "0 seconds",
        k = 2, outPath = out, checkpoint = cp))
    // row multiset: sorted, duplicates kept
    def rows(): Seq[(java.sql.Timestamp, String, Long)] =
      spark.read.parquet(out).select("w_start", "cat", "cnt")
        .as[(java.sql.Timestamp, String, Long)].collect().toSeq
        .sortBy(r => (r._1.getTime, r._2))

    mem.addData((ts(1), "catA"), (ts(2), "catA"), (ts(4), "catB"),
      (ts(6), "catC"))
    run()
    mem.addData((ts(25), "catZ")) // closes window 0
    run()
    val before = rows()
    assert(before.map(_._2) == Seq("catA", "catB"), before.toString)
    forceReplay(cp) // the batch that emitted window 0 runs again
    run()
    assert(rows() == before, s"replay changed the output: ${rows()}")
  }

  test("streaming histogram quantiles replay rewrites its batch, never duplicates rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val out = tmp("graft_histq_replay_out")
    val cp = tmp("graft_histq_replay_cp")
    def ts(min: Int) = new java.sql.Timestamp(1699999800000L + min * 60000L)
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.windowedHistQuantiles(mem.toDF().toDF("ts", "value"),
        "ts", "value", windowDur = "10 minutes", watermarkDelay = "0 seconds",
        bucketWidth = 1000L, qs = Seq(0.5, 0.9),
        outPath = out, checkpoint = cp))
    // row multiset: sorted, duplicates kept
    def rows(): Seq[(Double, Long, Double)] =
      spark.read.parquet(out).select("q", "n", "est")
        .as[(Double, Long, Double)].collect().toSeq.sorted

    mem.addData((ts(0), 12.0), (ts(1), 41.0), (ts(2), 55.0))
    run()
    mem.addData((ts(25), 1.0)) // closes window 0
    run()
    val before = rows()
    assert(before.map(_._1) == Seq(0.5, 0.9), before.toString)
    forceReplay(cp) // the batch that emitted window 0 runs again
    run()
    assert(rows() == before, s"replay changed the output: ${rows()}")
  }

  test("streaming upsert sink merges micro-batches into a parquet table") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, String)]
    val table = tmp("graft_upsert_table")
    val cp = tmp("graft_upsert_cp")
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.upsertSink(mem.toDF().toDF("id", "ver", "payload"),
        table, cp, key = "id", orderCol = "ver"))
    def snapshot(): Map[Long, (Long, String)] =
      spark.read.parquet(table).as[(Long, Long, String)].collect()
        .map { case (id, ver, p) => id -> (ver, p) }.toMap

    // batch 1: three inserts + a within-batch duplicate key (redelivery
    // shape) — the later version must win before the merge
    mem.addData((1L, 1L, "a1"), (2L, 1L, "b1"), (3L, 1L, "c1"),
      (4L, 1L, "dup-old"), (4L, 2L, "dup-new"))
    run()
    assert(snapshot() == Map(
      1L -> (1L, "a1"), 2L -> (1L, "b1"), 3L -> (1L, "c1"),
      4L -> (2L, "dup-new")))

    // batch 2 (same checkpoint — only the new rows are processed):
    // one update, one insert; untouched keys survive the merge
    mem.addData((2L, 2L, "b2"), (5L, 1L, "e1"))
    run()
    assert(snapshot() == Map(
      1L -> (1L, "a1"), 2L -> (2L, "b2"), 3L -> (1L, "c1"),
      4L -> (2L, "dup-new"), 5L -> (1L, "e1")))
  }

  test("streaming chunk store admits only never-seen chunks across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Array[Byte])]
    val store = tmp("graft_chunk_store")
    val cp = tmp("graft_chunk_cp")
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.chunkStoreSink(mem.toDF().toDF("media_id", "payload"),
        store, cp, chunkBytes = 4))
    def hashes(): Set[String] =
      spark.read.parquet(store).select("h").as[String].collect().toSet
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    // batch 1: AAAA|BBBB and AAAA|CCCC — within-batch chunk dedup
    mem.addData((1L, "AAAABBBB".getBytes("UTF-8")),
      (2L, "AAAACCCC".getBytes("UTF-8")))
    run()
    assert(hashes() == Set(md5("AAAA"), md5("BBBB"), md5("CCCC")))

    // batch 2: BBBB repeats (not re-stored), DDDD is novel
    mem.addData((3L, "BBBBDDDD".getBytes("UTF-8")))
    run()
    assert(hashes() == Set(md5("AAAA"), md5("BBBB"), md5("CCCC"), md5("DDDD")))
    assert(spark.read.parquet(store).count() == 4L, "chunks must store once")

    // batch 3: an already-fully-known payload adds nothing
    mem.addData((4L, "AAAADDDD".getBytes("UTF-8")))
    run()
    assert(spark.read.parquet(store).count() == 4L)

    // an empty payload has no chunks and must not crash the batch
    // (sequence(1, 0) would throw without the octet_length guard)
    mem.addData((5L, Array.empty[Byte]))
    run()
    assert(spark.read.parquet(store).count() == 4L)
  }

  test("streaming dedup gate keeps first across batches via index append") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_dedup_gate")
    val base = s"$root/base"
    val delta = s"$root/delta"
    val decisions = s"$root/decisions"
    val cp = s"$root/ckpt"
    // corpus of one document, indexed the d09 way
    val corpus = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val (cshs, csig) = graft.api.Dedup.incrementalCorpusIndex(corpus)
    cshs.write.parquet(s"$base/shingles")
    csig.write.parquet(s"$base/sig")

    val mem = MemoryStream[(Long, String)]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.dedupGateSink(mem.toDF().toDF("doc_id", "text"),
        base, delta, decisions, cp, threshold = 0.5))
    def decided(): Map[Long, (Int, Long)] =
      spark.read.parquet(decisions)
        .as[(Long, Int, Long)].collect()
        .map { case (id, a, d) => id -> (a, d) }.toMap

    // batch 1: doc 1 duplicates the corpus (rejected, dup_of=100);
    // doc 2 is novel (admitted, and its signatures join the index)
    mem.addData(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words describing another topic entirely"))
    run()
    assert(decided() == Map(1L -> ((0, 100L)), 2L -> ((1, -1L))))

    // batch 2: doc 3 duplicates doc 2 — which is NOT in the corpus, so
    // a rejection proves run 1's admission reached the index; doc 4
    // still rejects against the original corpus; doc 5 is novel
    mem.addData(
      (3L, "completely different words describing another topic entirely"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "unrelated third subject matter with fresh vocabulary inside"))
    run()
    assert(decided() == Map(
      1L -> ((0, 100L)), 2L -> ((1, -1L)),
      3L -> ((0, 2L)), 4L -> ((0, 100L)), 5L -> ((1, -1L))))
  }

  test("routedSink: first-match precedence, overlap never duplicates, dead letter catches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_router")
    val mem = MemoryStream[(Long, Long)]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.routedSink(mem.toDF().toDF("id", "v"),
        routes = Seq(
          "neg" -> (col("v") < 0),
          "small" -> (col("v") < 10)), // overlaps neg: -5 must NOT land here too
        basePath = s"$root/routes", checkpoint = s"$root/ckpt"))
    def ids(route: String): Set[Long] = {
      val d = new java.io.File(s"$root/routes/$route")
      if (!d.isDirectory) Set.empty
      else spark.read.parquet(d.getPath).select("id").as[Long].collect().toSet
    }
    mem.addData((1L, -5L), (2L, 3L), (3L, 50L))
    run()
    assert(ids("neg") == Set(1L), ids("neg").toString)
    assert(ids("small") == Set(2L), ids("small").toString)
    assert(ids("dead_letter") == Set(3L), ids("dead_letter").toString)
    // second batch through the same checkpoint appends, never re-routes
    mem.addData((4L, -1L))
    run()
    assert(ids("neg") == Set(1L, 4L))
    assert(ids("small") == Set(2L) && ids("dead_letter") == Set(3L))
  }

  test("routedSink: NULL route predicates fall through to dead_letter, never vanish") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_router_null")
    val mem = MemoryStream[(Long, Option[Long])]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.routedSink(mem.toDF().toDF("id", "v"),
        routes = Seq(
          "neg" -> (col("v") < 0),
          "small" -> (col("v") < 10)),
        basePath = s"$root/routes", checkpoint = s"$root/ckpt"))
    def ids(route: String): Set[Long] = {
      val d = new java.io.File(s"$root/routes/$route")
      if (!d.isDirectory) Set.empty
      else spark.read.parquet(d.getPath).select("id").as[Long].collect().toSet
    }
    // v = NULL makes every comparison predicate NULL: un-coalesced the
    // row would match no route AND no dead-letter guard — it would
    // silently vanish, the exact contract violation dead_letter exists
    // to prevent (e.g. a nullable score column in a production caller)
    mem.addData((1L, Some(-5L)), (2L, None), (3L, Some(50L)))
    run()
    assert(ids("neg") == Set(1L))
    assert(ids("small") == Set.empty[Long])
    assert(ids("dead_letter") == Set(2L, 3L), ids("dead_letter").toString)
  }

  test("publish-by-rename survives a crash between the two renames") {
    val live = tmp("graft_pub") + "/table"
    def publish(tag: String): Unit =
      Publish(live)(Seq(tag).toDF("v").write.mode("overwrite").parquet(_))
    def readBack(): Set[String] =
      spark.read.parquet(live).as[String].collect().toSet

    // normal publish: staged becomes live, no debris left behind
    publish("v1")
    assert(readBack() == Set("v1"))
    assert(!new java.io.File(Publish.aside(live)).exists())
    assert(!new java.io.File(Publish.staging(live)).exists())

    // crash window: live renamed aside, process dies before the staged
    // rename — the store must be recoverable, not destroyed (this is
    // the delete+rename window the naive publish order loses)
    assert(new java.io.File(live).renameTo(new java.io.File(Publish.aside(live))))
    Publish.recover(live)
    assert(readBack() == Set("v1"), "crash between renames must recover")

    // crash after commit: stale aside debris must lose to the live dir
    publish("v2")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(Publish.aside(live)))
    Publish.recover(live)
    assert(readBack() == Set("v2"), "live dir must win over .old debris")
  }

  test("streaming CDC sink applies updates AND deletes; latest change per key wins") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, String, String)]
    val table = tmp("graft_cdc_table")
    val cp = tmp("graft_cdc_cp")
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.cdcSink(mem.toDF().toDF("id", "ver", "payload", "op"),
        table, cp, key = "id", orderCol = "ver"))
    def snapshot(): Map[Long, String] =
      spark.read.parquet(table).select("id", "payload").as[(Long, String)]
        .collect().toMap

    // batch 1: inserts, plus an update-then-delete for one key in the
    // SAME batch — the later change (the delete) must win, and a
    // first-batch delete of a never-seen key is a no-op
    mem.addData((1L, 1L, "a1", "U"), (2L, 1L, "b1", "U"),
      (3L, 1L, "c-upd", "U"), (3L, 2L, "", "D"),
      (9L, 1L, "", "D"))
    run()
    assert(snapshot() == Map(1L -> "a1", 2L -> "b1"), snapshot().toString)

    // batch 2: delete an existing key, update another, re-insert the
    // key deleted in batch 1
    mem.addData((1L, 2L, "", "D"), (2L, 2L, "b2", "U"),
      (3L, 3L, "c-back", "U"))
    run()
    assert(snapshot() == Map(2L -> "b2", 3L -> "c-back"),
      snapshot().toString)
  }

  test("aggregate-view sink folds batches additively and ignores replays") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Double)] // (cust_id, amount)
    val dim = Seq((1L, "EU"), (2L, "EU"), (3L, "US"))
      .toDF("cust_id", "region")
    val table = tmp("graft_aggview_table")
    val cp = tmp("graft_aggview_cp")
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.aggViewSink(mem.toDF().toDF("cust_id", "amount"),
        dim, table, cp, joinKey = "cust_id", viewKey = "region",
        valueCol = "amount"))
    def snapshot(): Map[String, (Long, BigDecimal)] =
      spark.read.parquet(table)
        .select("region", "n_rows", "s")
        .as[(String, Long, BigDecimal)].collect()
        .map { case (r, n, s) => r -> (n, s) }.toMap

    mem.addData((1L, 10.0), (2L, 20.0), (3L, 5.0))
    run()
    assert(snapshot() == Map(
      "EU" -> (2L, BigDecimal("30.00")), "US" -> (1L, BigDecimal("5.00"))))

    // batch 2 folds into the stored view: counts and sums ACCUMULATE
    mem.addData((1L, 1.5), (3L, 4.5))
    run()
    val after2 = snapshot()
    assert(after2 == Map(
      "EU" -> (3L, BigDecimal("31.50")), "US" -> (2L, BigDecimal("9.50"))),
      after2.toString)

    // replay: re-applying an already-folded batch id must be a no-op —
    // the additive merge would otherwise double-count
    val partial = Seq(("EU", 3L, BigDecimal("31.50")))
      .toDF("region", "n_rows", "s")
      .select(col("region"), col("n_rows"),
        col("s").cast("decimal(18,2)").as("s"))
    Pipelines.applyAggViewBatch(spark, table, partial, "region", 1L)
    assert(snapshot() == after2, "replayed batch must not re-fold")
    // a genuinely new batch id DOES fold in
    Pipelines.applyAggViewBatch(spark, table, partial, "region", 7L)
    val after3 = snapshot()
    assert(after3("EU") == (6L, BigDecimal("63.00")), after3.toString)
  }

  test("aggregate-view sink fails loudly when the table's _LAST_BATCH is ahead of the incoming batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "EU"), (2L, "US")).toDF("cust_id", "region")
    val root = tmp("graft_aggview_ahead")
    val table = s"$root/table"
    def run(mem: MemoryStream[(Long, Double)], cp: String): Unit =
      Pipelines.runToCompletion(
        Pipelines.aggViewSink(mem.toDF().toDF("cust_id", "amount"),
          dim, table, cp, joinKey = "cust_id", viewKey = "region",
          valueCol = "amount"))
    def snapshot(): Set[(String, Long, BigDecimal)] =
      spark.read.parquet(table).select("region", "n_rows", "s")
        .as[(String, Long, BigDecimal)].collect().toSet

    val first = MemoryStream[(Long, Double)]
    first.addData((1L, 10.0), (2L, 5.0))
    run(first, s"$root/ckpt1")
    first.addData((1L, 1.0))
    run(first, s"$root/ckpt1") // batches 0 and 1: the mark is 1
    val before = snapshot()

    // a fresh checkpoint starts again at batch 0: folding it would
    // either drop its rows (skipped as a "replay") or double-count a
    // replay, so the sink must refuse
    val fresh = MemoryStream[(Long, Double)]
    fresh.addData((2L, 7.0))
    val err = intercept[Exception](run(fresh, s"$root/ckpt2"))
    val msgs = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains(table) &&
      m.contains("_LAST_BATCH 1") && m.contains("batch 0")), msgs.toString)
    assert(snapshot() == before, snapshot().toString)
  }

  test("zone-mapped sink maintains per-file stats a pruned read can trust") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, Double)]
    val table = tmp("graft_zm_table")
    val statsP = graft.io.ZoneMap.statsGlob(table)
    val cp = tmp("graft_zm_cp")
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.zoneMappedSink(mem.toDF().toDF("us", "user_id", "value"),
        table, cp, tsCol = "us"))

    // two micro-batches spanning [0, 32000); 4 clustered files each
    mem.addData((0L to 15999L by 40L).map(us => (us, us % 7, us * 0.5)): _*)
    run()
    mem.addData((16000L to 31999L by 40L).map(us => (us, us % 7, us * 0.5)): _*)
    run()

    val stats = spark.read.parquet(statsP)
    val nFiles = stats.count()
    assert(nFiles == 8L, s"expected 2 batches x 4 files, got $nFiles")

    // a window inside batch 1 must read a strict file subset...
    val (lo, hi) = (4000L, 8000L)
    val selected = stats
      .filter(col("max_us") >= lo && col("min_us") < hi).count()
    assert(selected < nFiles && selected >= 1, s"selected $selected of $nFiles")
    // ...and the pruned read must equal the full-scan filter exactly
    val pruned = graft.io.ZoneMap.prunedRead(spark, statsP, lo, hi)
      .filter(col("us") >= lo && col("us") < hi)
      .select("us", "user_id", "value")
    val full = spark.read.parquet(table)
      .filter(col("us") >= lo && col("us") < hi)
      .select("us", "user_id", "value")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    assert(pruned.count() == 100L)
  }

  test("zone-mapped sink recovery: a replayed epoch rewrites, never duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val table = tmp("graft_zmr_table")
    val statsP = graft.io.ZoneMap.statsGlob(table)
    val cp = tmp("graft_zmr_cp")
    val rows = (0L to 7999L by 20L).map(us => (us, us % 5, us * 1.5))

    // run 1 processes the tape, run 2 re-adds it on the SAME checkpoint
    // (source replay from offset 0) plus a genuinely new batch
    val mem1 = MemoryStream[(Long, Long, Double)]
    mem1.addData(rows: _*)
    Pipelines.runToCompletion(Pipelines.zoneMappedSink(
      mem1.toDF().toDF("us", "user_id", "value"), table, cp, "us"))
    val mem2 = MemoryStream[(Long, Long, Double)]
    mem2.addData(rows: _*) // committed offsets: must NOT re-emit
    mem2.addData((8000L to 9999L by 20L).map(us => (us, us % 5, us * 1.5)): _*)
    Pipelines.runToCompletion(Pipelines.zoneMappedSink(
      mem2.toDF().toDF("us", "user_id", "value"), table, cp, "us"))

    val data = spark.read.parquet(table)
    assert(data.count() == 500L, s"replay duplicated rows: ${data.count()}")
    // stats cover exactly the files on disk — no orphans, no gaps
    val statFiles = spark.read.parquet(statsP)
      .select("file").as[String].collect().toSet
    val diskFiles = spark.read.parquet(table)
      .select(input_file_name()).distinct().as[String].collect().toSet
    assert(statFiles == diskFiles,
      s"stats/disk divergence: ${statFiles.diff(diskFiles).size} orphaned, " +
        s"${diskFiles.diff(statFiles).size} missing")
  }

  test("zone-mapped sink: data and stats publish in one atomic rename; staging is invisible") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long, Double)]
    val table = tmp("graft_zma_table")
    val cp = tmp("graft_zma_cp")
    mem.addData((0L to 999L by 10L).map(us => (us, us % 3, us * 2.0)): _*)
    Pipelines.runToCompletion(Pipelines.zoneMappedSink(
      mem.toDF().toDF("us", "user_id", "value"), table, cp, "us"))

    // every published batch directory carries its _zonemap INSIDE it —
    // the same rename made both visible, so no reader interleaving can
    // observe fresh data with stale (or missing) stats
    val batchDirs = Option(new java.io.File(table).listFiles()).get
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(batchDirs.nonEmpty)
    batchDirs.foreach { d =>
      assert(new java.io.File(d, "_zonemap").isDirectory,
        s"${d.getName} published without its stats")
    }

    // a leftover staging directory (crash before the rename) sits
    // next to the batch directories and must be invisible to readers
    val junk = new java.io.File(Publish.staging(s"$table/batch=99"))
    junk.mkdirs()
    spark.range(5).toDF("us").write.mode("overwrite")
      .parquet(junk.getPath + "/data")
    val visible = spark.read.parquet(table).count()
    assert(visible == 100L, s"reader saw staged rows: $visible")
    // ...and the plain data read never surfaces _zonemap rows: the
    // schema is the data schema (+ the batch layout dir partition
    // discovery surfaces), never the stats (file, min_us, max_us)
    assert(spark.read.parquet(table).columns.toSet ==
      Set("us", "user_id", "value", "batch"))
  }

  test("checkpoint recovery: a restarted query resumes without duplicating output") {
    val raw = PinFixtures.pinRaw(spark)
    val envelopeRows = PinFixtures.envelope(raw).as[String].collect().toSeq
    val (first, second) = envelopeRows.splitAt(envelopeRows.size / 2)

    implicit val sqlCtx = spark.sqlContext
    val sink = tmp("graft_recover_sink")
    val cp = tmp("graft_recover_cp")

    // run 1: process the first half, then stop (simulated crash point)
    val mem1 = MemoryStream[String]
    mem1.addData(first)
    val q1 = Pipelines.cleanPinStream(mem1.toDF().select(col("value").as("data")))
      .writeStream.outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp).start()
    q1.processAllAvailable()
    q1.stop()
    val afterFirst = spark.read.schema(Schemas.pinClean).parquet(sink).count()

    // run 2: new query, SAME checkpoint — must pick up where run 1 left
    // off; re-adding the first half simulates source replay from offset 0
    val mem2 = MemoryStream[String]
    mem2.addData(first) // already-committed offsets: must NOT be re-emitted
    mem2.addData(second)
    val q2 = Pipelines.cleanPinStream(mem2.toDF().select(col("value").as("data")))
      .writeStream.outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp).start()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.schema(Schemas.pinClean).parquet(sink)
    val want = Cleaners.cleanPin(raw, fillFollower = Some(1000))
    assert(afterFirst > 0 && afterFirst < want.count())
    assert(got.count() == want.count(),
      s"restart duplicated or lost rows: got ${got.count()}, want ${want.count()}")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("bounded pin dedup expires state after the retention window") {
    val raw = PinFixtures.pinRaw(spark).limit(1)
    val row = PinFixtures.envelope(raw).as[String].collect().head

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val streamed = Pipelines.cleanPinStreamBounded(
      mem.toDF().select(col("value").as("data")), retention = "1 second")
    val sink = tmp("graft_pinb_sink")
    val cp = tmp("graft_pinb_cp")
    val q = streamed.writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()

    // batch 1: in-batch duplicate -> exactly one survivor, state holds
    // the key until the watermark passes first-sight + 1s
    mem.addData(row, row)
    q.processAllAvailable()
    // batch 2 (well past retention): the PREVIOUS watermark still holds
    // the key live, so this duplicate is dropped — and processing the
    // batch advances the watermark past the key's expiry, evicting it
    Thread.sleep(4000)
    mem.addData(row)
    q.processAllAvailable()
    // batch 3: state for the key is gone (bounded!), so the row
    // re-emits — the documented trade for state that cannot grow with
    // the lifetime of the stream
    mem.addData(row)
    q.processAllAvailable()
    q.stop()

    val got = spark.read.schema(Schemas.pinClean).parquet(sink)
    assert(got.count() == 2,
      s"expected batch-1 survivor + post-expiry re-emit, got ${got.count()}")
  }

  test("cloud connector swap is a format string: delta sink fails only on the missing jar") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(PinFixtures.envelope(PinFixtures.pinRaw(spark).limit(1)).as[String].collect().head)
    val writer = Pipelines.sink(
      Pipelines.cleanPinStream(mem.toDF().select(col("value").as("data"))),
      tmp("graft_delta_sink"), tmp("graft_delta_cp"), format = "delta")
    // the writer builds — the swap surface is complete; starting it can
    // only fail on datasource resolution (the delta jar is cloud-only).
    // Pin the EXACT resolution error: Spark's registry lookup must be
    // what failed (DATA_SOURCE_NOT_FOUND naming the delta source), not
    // any plumbing on our side — which proves a cloud run is exactly
    // one jar away.
    val ex = intercept[Exception] { writer.start() }
    val cond = ex match {
      case st: org.apache.spark.SparkThrowable => Option(st.getCondition).getOrElse("")
      case _ => ""
    }
    assert(cond == "DATA_SOURCE_NOT_FOUND", s"condition=$cond msg=${ex.getMessage}")
    assert(ex.getMessage.toLowerCase.contains("delta"), ex.getMessage)
  }

  test("stream-stream interval join equals the batch join on the same slice") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2024-01-01 09:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)

    val clicks = Seq(
      (1L, at(0), "c1"), (1L, at(3), "c2"), (2L, at(1), "c3"),
      (1L, at(20), "c4")) // outside every purchase's look-back window
    val purchases = Seq((1L, at(5), "p1"), (2L, at(2), "p2"))

    val memC = MemoryStream[(Long, java.sql.Timestamp, String)]
    val memP = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = Pipelines.streamIntervalJoin(
      memP.toDF().toDF("user_id", "p_ts", "purchase"),
      memC.toDF().toDF("user_id", "c_ts", "click"),
      key = "user_id", leftTs = "p_ts", rightTs = "c_ts",
      lower = "-5 MINUTES", upper = "0 MINUTES")

    val sink = tmp("graft_ssj_sink")
    val cp = tmp("graft_ssj_cp")
    val q = joined.select("purchase", "click").writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()
    memC.addData(clicks: _*)
    memP.addData(purchases: _*)
    q.processAllAvailable()
    // advance both watermarks so all joinable pairs flush to the sink
    memC.addData((9L, at(60), "cx"))
    memP.addData((9L, at(60), "px"))
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(sink)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // batch truth: clicks within [p_ts - 5 min, p_ts] for the same user
    val want = Set(("p1", "c1"), ("p1", "c2"), ("p2", "c3"), ("px", "cx"))
    assert(got == want, s"got $got")
  }

  test("kafka source swap fails only on the missing jar, not on the plumbing") {
    val ex = intercept[Exception] {
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", "localhost:9092")
        .option("subscribe", "pin").load()
    }
    // Pin the exact resolution failure: the registry lookup for the
    // streaming "kafka" source (shipped as spark-sql-kafka-0-10) is
    // the ONLY thing missing — Spark's dedicated kafka-absent error
    // (_LEGACY_ERROR_TEMP_1140) even points at the Kafka integration
    // guide's deployment section.
    val cond = ex match {
      case st: org.apache.spark.SparkThrowable => Option(st.getCondition).getOrElse("")
      case _ => ""
    }
    assert(cond == "_LEGACY_ERROR_TEMP_1140", s"condition=$cond msg=${ex.getMessage}")
    val msg = ex.getMessage
    assert(msg.contains("Failed to find data source: kafka") &&
      msg.contains("Structured Streaming + Kafka Integration Guide"), msg)
  }

  test("IoProfile drives the full pipeline: local profile runs, cloud profile fails only on the jar") {
    import graft.io.Sources
    // stage envelope rows as JSON files — the local profile's source
    val raw = PinFixtures.pinRaw(spark)
    val dir = tmp("graft_profile_src")
    PinFixtures.envelope(raw).toDF("data").coalesce(1)
      .write.mode("overwrite").json(dir)

    val local = Sources.IoProfile.localFiles(dir)
    val cleaned = Pipelines.cleanPinStream(Sources.streamEnvelopeVia(spark, local))
    val sink = tmp("graft_profile_sink")
    val cp = tmp("graft_profile_cp")
    Pipelines.runToCompletion(
      Pipelines.sink(cleaned, sink, cp, format = local.sinkFormat))
    val got = spark.read.schema(Schemas.pinClean).parquet(sink)
    val want = Cleaners.cleanPin(raw, fillFollower = Some(1000))
    assert(got.count() == want.count())

    // identical pipeline code against the cloud profile: the ONLY
    // failure point is connector-jar resolution inside .load()
    val cloud = Sources.IoProfile.kafka("broker:9092", "pin")
    val ex = intercept[Exception] {
      Pipelines.cleanPinStream(Sources.streamEnvelopeVia(spark, cloud))
    }
    // same pinned resolution error as the direct-format test: the
    // profile plumbing is complete, only the connector jar is absent
    val cond = ex match {
      case st: org.apache.spark.SparkThrowable => Option(st.getCondition).getOrElse("")
      case _ => ""
    }
    assert(cond == "_LEGACY_ERROR_TEMP_1140", s"condition=$cond msg=${ex.getMessage}")
    assert(ex.getMessage.contains("Failed to find data source: kafka"), ex.getMessage)
  }

  test("malformed envelope rows decode to null and are dropped by cleaning") {
    val raw = PinFixtures.geoRaw(spark)
    val good = PinFixtures.envelope(raw).as[String].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData(good :+ """{"this is": not even json""" :+ """{"country": "Nowhere"}""")
    val streamed = Pipelines.cleanGeoStream(mem.toDF().select(col("value").as("data")))
    val sink = tmp("graft_badjson_sink")
    val cp = tmp("graft_badjson_cp")
    val q = streamed.writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()
    q.processAllAvailable()
    q.stop()
    // the malformed row and the ind-less row are gone; the good rows kept
    val got = spark.read.schema(Schemas.geoClean).parquet(sink)
    assert(got.count() == raw.dropDuplicates("ind", "timestamp").count())
  }

  test("streaming near-dup detection equals the batch band join across batches") {
    implicit val sqlCtx = spark.sqlContext
    // deterministic corpus: 12 base sentences; every third doc is a
    // one-word mutation of the previous base (high jaccard), the rest
    // are pairwise unrelated
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val docs = (0 until 24).map { i =>
      val base = (0 until 12).map(k => words((i / 2 * 5 + k * 3) % 12))
      val text =
        if (i % 2 == 1) (base.updated(7, "zz")).mkString(" ") // near-dup of i-1
        else base.mkString(" ")
      Pipelines.StreamDoc(i.toLong, text)
    }
    val (b1, b2) = docs.splitAt(15)
    val mem = MemoryStream[Pipelines.StreamDoc]
    val q = Pipelines.streamNearDups(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("near_dups")
      .start()
    mem.addData(b1: _*) // pairs split across the batch boundary carry state
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("near_dups")
      .select("doc_new", "doc_old").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch formulation over the SAME corpus: band join + signature
    // agreement (the streaming verify metric), newer vs older id
    val sigs = graft.api.Dedup.minhashSignatures(docs.toDF("doc_id", "text"))
      .withColumn("sig", array((0 until 8).map(i => col(s"mh$i")): _*))
    val bands = sigs.select(col("doc_id"), col("sig"),
      explode(graft.api.Dedup.bandKeyArray(8, 2)).as("bk"))
    val want = bands.as("a").join(bands.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") > col("b.doc_id"))
      .withColumn("n_agree", expr(
        "aggregate(zip_with(a.sig, b.sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)"))
      .filter(col("n_agree") >= 4)
      .select(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_old"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"got $got\nwant $want")
    assert(got.nonEmpty, "fixture produced no near-dup pairs — mutation too strong")
    // the planted mutations must actually be found
    assert(got.exists { case (a, b) => a == b + 1 && a % 2 == 1 }, got.toString)
  }

  test("streaming near-dup bucket cap evicts oldest entries, bounding state") {
    implicit val sqlCtx = spark.sqlContext
    val text = "one two three four five six seven eight nine ten eleven twelve"
    val mem = MemoryStream[Pipelines.StreamDoc]
    val q = Pipelines.streamNearDups(mem.toDS(), maxBucket = 1).writeStream
      .outputMode("append").format("memory").queryName("near_dups_cap")
      .start()
    // three identical docs in three batches; cap=1 keeps only the latest
    for (id <- 1L to 3L) {
      mem.addData(Pipelines.StreamDoc(id, text))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("near_dups_cap")
      .select("doc_new", "doc_old").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 3 never sees doc 1: it was evicted when doc 2 arrived
    assert(got == Set((2L, 1L), (3L, 2L)), got.toString)
  }

  test("streaming token budget matches the batch running-sum filter across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Pipelines.BudgetDoc]
    val q = Pipelines.tokenBudget(mem.toDS(), budget = 100L).writeStream
      .outputMode("update").format("memory").queryName("tok_budget")
      .start()
    // source a: 40 + 50 admitted (cum 90), 30 crosses (cum 120) and the
    // later 5 must ALSO reject (prefix rule: cum 125) — exactly the
    // batch filter's semantics; source b independent
    mem.addData(
      Pipelines.BudgetDoc("a", 1L, 40L), Pipelines.BudgetDoc("a", 2L, 50L),
      Pipelines.BudgetDoc("b", 10L, 99L))
    q.processAllAvailable()
    mem.addData(
      Pipelines.BudgetDoc("a", 3L, 30L), Pipelines.BudgetDoc("a", 4L, 5L),
      Pipelines.BudgetDoc("b", 11L, 1L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tok_budget")
      .select("source", "doc_id", "admitted", "cum_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> ((r.getBoolean(2), r.getLong(3))))
      .toMap
    // batch twin: same docs through the t26-style running-sum filter
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val want = Seq(("a", 1L, 40L), ("a", 2L, 50L), ("a", 3L, 30L),
        ("a", 4L, 5L), ("b", 10L, 99L), ("b", 11L, 1L))
      .toDF("source", "doc_id", "n_tokens")
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("admitted", col("cum_tokens") <= 100L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getBoolean(4), r.getLong(3)))).toMap
    assert(got == want, s"got $got\nwant $want")
    assert(got(("a", 4L)) == ((false, 125L)), got.toString)
  }

  test("streaming interleave matches the batch composer across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Pipelines.BatchDoc]
    val q = Pipelines.streamInterleave(mem.toDS(),
        groups = Seq("image", "audio", "video"), batchSize = 6)
      .writeStream.outputMode("update").format("memory")
      .queryName("interleave").start()
    // modalities arrive unevenly across two micro-batches
    mem.addData(
      Pipelines.BatchDoc("image", 3L), Pipelines.BatchDoc("image", 6L),
      Pipelines.BatchDoc("audio", 1L), Pipelines.BatchDoc("video", 2L))
    q.processAllAvailable()
    mem.addData(
      Pipelines.BatchDoc("audio", 4L), Pipelines.BatchDoc("video", 5L),
      Pipelines.BatchDoc("image", 9L), Pipelines.BatchDoc("audio", 7L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("interleave")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // batch twin on the accumulated tape
    val tape = Seq(("image", 3L), ("image", 6L), ("image", 9L),
      ("audio", 1L), ("audio", 4L), ("audio", 7L),
      ("video", 2L), ("video", 5L)).toDF("group", "doc_id")
    val want = graft.api.Corpus.interleaveBatches(tape, "group", "doc_id",
        batchSize = 6)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == want, s"got $got\nwant $want")
    // batch 0 holds the first two of each modality
    assert(got(("audio", 1L))._1 == 0L && got(("video", 5L))._1 == 0L)
  }

  test("streaming semantic dedup matches the batch operator across a batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two well-separated cells; near-identical pairs (1,2) in the x-cell
    // and (5,6) in the y-cell, split across micro-batches; 3 and 4 are
    // distant same-cell members (x- and y-cell respectively)
    val vecs = Seq(
      Pipelines.StreamVec(1L, Array(1.0, 0.0)),
      Pipelines.StreamVec(3L, Array(0.9, 0.44)),
      Pipelines.StreamVec(5L, Array(0.01, 1.0)),
      // --- batch boundary ---
      Pipelines.StreamVec(2L, Array(0.999, 0.01)),
      Pipelines.StreamVec(4L, Array(0.44, 0.9)),
      Pipelines.StreamVec(6L, Array(0.012, 0.998)))
    val cents = Seq((10L, Array(1.0, 0.0)), (20L, Array(0.0, 1.0)))
    val mem = MemoryStream[Pipelines.StreamVec]
    val q = Pipelines.streamSemanticDups(mem.toDS(), cents, threshold = 0.95)
      .writeStream.outputMode("append").format("memory")
      .queryName("sem_dups").start()
    mem.addData(vecs.take(3): _*)
    q.processAllAvailable()
    mem.addData(vecs.drop(3): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sem_dups")
      .select("vec_id", "dup_of", "cell", "cos_sim")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // batch operator over the same corpus: pairs are (min, max) with the
    // earlier id as keeper, which matches stream arrival order here
    val want = graft.api.Dedup.semanticDupPairs(
        vecs.map(v => (v.vec_id, v.v)).toDF("vec_id", "v"),
        cents.toDF("c_id", "cv"), threshold = 0.95)
      .collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want, s"got $got\nwant $want")
    assert(got.map(h => (h._1, h._2)) == Set((2L, 1L), (6L, 5L)), got.toString)
  }

  test("streamEdges maintains co-purchase edges incrementally across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Pipelines.BasketItem]
    val q = Pipelines.streamEdges(mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("co_edges")
      .start()
    // order 1 opens with parts {10, 20}; order 2 with a duplicated part
    mem.addData(
      Pipelines.BasketItem(1L, 10L), Pipelines.BasketItem(1L, 20L),
      Pipelines.BasketItem(2L, 5L), Pipelines.BasketItem(2L, 5L))
    q.processAllAvailable()
    // order 1 grows ACROSS the batch boundary: part 30 must pair with
    // the carried basket {10, 20}; order 2's new part pairs with 5; a
    // replayed part (10) is a no-op
    mem.addData(
      Pipelines.BasketItem(1L, 30L), Pipelines.BasketItem(2L, 7L),
      Pipelines.BasketItem(1L, 10L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("co_edges").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // exactly-once per order: no duplicate emissions at all here
    assert(rows.length == rows.toSet.size, rows.mkString(","))
    val want = Set((10L, 20L), (10L, 30L), (20L, 30L), (5L, 7L))
    assert(rows.toSet == want, s"got ${rows.toSet} want $want")
    // parity with the batch pair expansion (a<b pairs of each basket)
    val batch = Seq((1L, Seq(10L, 20L, 30L)), (2L, Seq(5L, 7L)))
      .flatMap { case (_, ps) =>
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }.toSet
    assert(rows.toSet == batch)
  }

  test("trianglesSink maintains an exact triangle count incrementally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Long)]
    val table = tmp("graft_tri_edges")
    val counts = tmp("graft_tri_counts")
    val cp = tmp("graft_tri_cp")
    def run(): Unit = {
      val q = Pipelines.trianglesSink(
        mem.toDS().map { case (a, b) => Pipelines.CoEdge(a, b) },
        table, counts, cp).start()
      q.awaitTermination()
    }
    def snapshot(): (Long, Long) =
      spark.read.parquet(counts)
        .select("n_edges", "n_triangles").as[(Long, Long)].head()

    // batch 1: one all-new triangle {1,2,3} plus a dangling edge, with
    // a within-batch duplicate and a reversed duplicate
    mem.addData((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (1L, 2L), (3L, 1L))
    run()
    assert(snapshot() == (4L, 1L), snapshot().toString)

    // batch 2: (1,4) closes {1,3,4} via two OLD edges (the 1-new-edge
    // path); (2,5)+(3,5) form a new-new wedge closed by OLD (2,3) (the
    // 2-new-edge path); a replayed (1,2) must be a no-op
    mem.addData((1L, 4L), (2L, 5L), (3L, 5L), (1L, 2L))
    run()
    assert(snapshot() == (7L, 3L), snapshot().toString)

    // parity with the batch census over the accumulated edge table
    val batchCount = graft.api.Graph
      .triangleStats(spark.read.parquet(table))
      .select("n_edges", "n_triangles").as[(Long, Long)].head()
    assert(batchCount == snapshot(), s"batch=$batchCount inc=${snapshot()}")

    // batch 3: an entirely redelivered batch changes nothing
    mem.addData((1L, 2L), (2L, 3L), (1L, 3L))
    run()
    assert(snapshot() == (7L, 3L), snapshot().toString)
  }

  test("ivfIndexSink appends cell-partitioned assignments; stats derive from the index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val centroids = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("c_id", "cv")
    val mem = MemoryStream[(Long, Seq[Double])]
    val index = tmp("graft_ivf_index")
    val cp = tmp("graft_ivf_cp")
    def run(): Unit = {
      val q = Pipelines.ivfIndexSink(
        mem.toDF().toDF("vec_id", "embedding"), centroids, index, cp).start()
      q.awaitTermination()
    }
    def cells(): Map[Long, Long] =
      spark.read.parquet(index).select("vec_id", "cell")
        .as[(Long, Long)].collect().toMap

    mem.addData((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9)), (3L, Seq(2.0, 0.0)))
    run()
    assert(cells() == Map(1L -> 1L, 2L -> 2L, 3L -> 1L), cells().toString)

    // batch 2: one new vector per cell, a redelivered vec_id (dropped
    // by the index anti join), and an exact cosine tie broken by c_id
    mem.addData((4L, Seq(0.0, 3.0)), (1L, Seq(0.9, 0.1)),
      (5L, Seq(0.7, 0.7)))
    run()
    assert(cells() == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 5L -> 1L),
      cells().toString)

    // each micro-batch owns its own published dir (replay overwrites it)
    val dirs = Option(new java.io.File(index).listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("batch=")).toSet
    assert(dirs == Set("batch=0", "batch=1"), dirs.toString)

    // the balance diagnostic derives from the index — one source of truth
    val stats = Pipelines.ivfCellStats(spark, index)
      .as[(Long, Long)].collect().toSeq
    assert(stats == Seq((1L, 3L), (2L, 2L)), stats.toString)

    // the cell a probe would search reads a strict subset of the index
    val c2 = spark.read.parquet(index).filter(col("cell") === 2L)
      .select("vec_id").as[Long].collect().toSet
    assert(c2 == Set(2L, 4L), c2.toString)
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      Files.copy(p, java.nio.file.Paths.get(to).resolve(src.relativize(p)))
      ()
    } finally walk.close()
  }

  /** Runs the two-batch triangle scenario, snapshots both artifacts as
    * they stood after batch 1, lets `crash` turn the finished batch-2
    * state into an on-disk crash state, replays batch 2 from its
    * offsets and checks the result is exact.
    */
  private def triangleReplay(
      crash: (String, String, String, String) => Unit): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val root = tmp("graft_tri_crash")
    val (table, counts, cp) = (s"$root/edges", s"$root/counts", s"$root/ckpt")
    val mem = MemoryStream[(Long, Long)]
    def run(): Unit = Pipelines.trianglesSink(
      mem.toDS().map { case (a, b) => Pipelines.CoEdge(a, b) },
      table, counts, cp).start().awaitTermination()
    def snapshot(): (Long, Long) =
      spark.read.parquet(counts)
        .select("n_edges", "n_triangles").as[(Long, Long)].head()
    mem.addData((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (1L, 2L), (3L, 1L))
    run()
    copyTree(table, s"$root/pre_edges")
    copyTree(counts, s"$root/pre_counts")
    mem.addData((1L, 4L), (2L, 5L), (3L, 5L), (1L, 2L))
    run()
    assert(snapshot() == (7L, 3L), snapshot().toString)
    crash(table, counts, s"$root/pre_edges", s"$root/pre_counts")
    forceReplay(cp)
    run()
    assert(snapshot() == (7L, 3L), s"replay gave ${snapshot()}")
    val batchCount = graft.api.Graph
      .triangleStats(spark.read.parquet(table))
      .select("n_edges", "n_triangles").as[(Long, Long)].head()
    assert(batchCount == (7L, 3L), s"edge table census gave $batchCount")
  }

  private def restore(live: String, withCopy: String): Unit = {
    Publish.deleteTree(live)
    copyTree(withCopy, live)
  }

  test("trianglesSink replay after the count publish, before the edge publish, counts each triangle once") {
    // the counts publish first, so this crash leaves batch 2's counts
    // next to the batch-1 edge table
    triangleReplay { (table, _, preEdges, _) => restore(table, preEdges) }
  }

  test("trianglesSink replay recovers a crash between the two renames of either artifact") {
    // counts: live copy renamed aside, staged copy not yet renamed in;
    // the edge table is still the batch-1 one
    triangleReplay { (table, counts, preEdges, preCounts) =>
      restore(table, preEdges)
      copyTree(counts, Publish.staging(counts))
      Publish.deleteTree(counts)
      copyTree(preCounts, Publish.aside(counts))
    }
    // edges: the counts are published, the edge table sits aside
    triangleReplay { (table, _, preEdges, _) =>
      copyTree(table, Publish.staging(table))
      Publish.deleteTree(table)
      copyTree(preEdges, Publish.aside(table))
    }
  }

  test("trianglesSink replay after both publishes, before the checkpoint commit, changes nothing") {
    triangleReplay { (_, _, _, _) => () }
  }

  test("ivfIndexSink replay after the publish, before the checkpoint commit, keeps the batch's vectors") {
    implicit val sqlCtx = spark.sqlContext
    val centroids = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("c_id", "cv")
    val mem = MemoryStream[(Long, Seq[Double])]
    val index = tmp("graft_ivf_replay")
    val cp = tmp("graft_ivf_replay_cp")
    def run(): Unit = Pipelines.runToCompletion(Pipelines.ivfIndexSink(
      mem.toDF().toDF("vec_id", "embedding"), centroids, index, cp))
    def stats(): Seq[(Long, Long)] =
      Pipelines.ivfCellStats(spark, index).as[(Long, Long)].collect().toSeq
    def ids(): Set[Long] =
      spark.read.parquet(index).select("vec_id").as[Long].collect().toSet

    mem.addData((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9)), (3L, Seq(2.0, 0.0)))
    run()
    mem.addData((4L, Seq(0.0, 3.0)), (1L, Seq(0.9, 0.1)), (5L, Seq(0.7, 0.7)))
    run()
    val (statsBefore, idsBefore) = (stats(), ids())
    assert(statsBefore == Seq((1L, 3L), (2L, 2L)), statsBefore.toString)
    assert(idsBefore == Set(1L, 2L, 3L, 4L, 5L), idsBefore.toString)

    forceReplay(cp)
    run()
    assert(stats() == statsBefore, s"replay changed cell stats: ${stats()}")
    assert(ids() == idsBefore, s"replay changed vec_ids: ${ids()}")
  }

  test("stream-static broadcast enrichment equals the batch join per closed window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val base = java.sql.Timestamp.valueOf("2024-03-01 08:00:00")
    def at(min: Int) = new java.sql.Timestamp(base.getTime + min * 60000L)

    val dim = spark.createDataFrame(Seq(
      (1L, "BUILDING"), (2L, "MACHINERY"))).toDF("cust_key", "segment")
    val enriched = mem.toDF().toDF("ts", "user_id", "value")
      .withColumn("cust_key", col("user_id") % 2 + 1)
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), "cust_key")
      .groupBy(window(col("ts"), "10 minutes"), col("segment"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total"))
      .select(col("window.start").as("ws"), col("segment"), col("cnt"),
        col("total"))

    val sink = tmp("graft_enrich_sink")
    val cp = tmp("graft_enrich_cp")
    val q = enriched.writeStream
      .outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .start()
    // users 0 and 2 -> key 1 BUILDING; user 1 -> key 2 MACHINERY
    mem.addData((at(0), 0L, 1.5), (at(4), 1L, 2.0), (at(8), 2L, 0.25))
    q.processAllAvailable()
    mem.addData((at(45), 1L, 9.0)) // advances watermark past the first window
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(sink)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(rows == Set(
      (at(0), "BUILDING", 2L, 1.75),
      (at(0), "MACHINERY", 1L, 2.0)), rows.toString)
  }

  // ---- crash-replay coverage for the round-12 sinks (qs12/qs13/qs14):
  // a kill between the sink's data writes and the checkpoint commit
  // replays the batch on restart. Simulated faithfully by deleting the
  // checkpoint's newest commit marker — Structured Streaming then
  // re-executes that epoch with the same offsets and batch id.
  private def forceReplay(checkpoint: String): Unit = {
    val commits = new java.io.File(checkpoint, "commits")
    val latest = new java.io.File(commits, Pipelines.committedBatches(checkpoint).max.toString)
    assert(latest.delete(), s"could not delete commit marker $latest")
    // the local checkpoint FS is a ChecksumFileSystem: a stale
    // .N.crc sidecar makes the replay's rename-into-place throw
    // FileAlreadyExistsException (surfaced as "multiple streaming
    // queries concurrently using"), so the kill simulation must drop
    // the sidecar with the marker
    val crc = new java.io.File(commits, s".${latest.getName}.crc")
    if (crc.exists()) assert(crc.delete(), s"could not delete $crc")
  }

  test("A/B exposure restart: replayed fold recomputes identical state; window and exposure rules hold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_ab_replay")
    val mem = MemoryStream[(Long, String, Long)]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.abExposureSink(
        mem.toDF().toDF("user_id", "event_type", "us"),
        s"$root/table", s"$root/ckpt", windowUs = 100L))
    def state(): Set[(Long, Long, Long)] =
      spark.read.parquet(s"$root/table").as[(Long, Long, Long)]
        .collect().toSet
    // wave 1: u1 exposed at 10; u2's purchase precedes any exposure —
    // dropped (can never qualify under in-order ingest)
    mem.addData((1L, "view", 10L), (2L, "purchase", 20L))
    run()
    assert(state() == Set((1L, 10L, 0L)))
    // wave 2 (later event times): u1 converts inside the window
    // (50 ≤ 10+100); u2 becomes exposed; u1's later view must not
    // move its first-exposure time
    mem.addData((1L, "purchase", 50L), (2L, "view", 60L), (1L, "view", 70L))
    run()
    assert(state() == Set((1L, 10L, 1L), (2L, 60L, 0L)))
    // kill between batch 2's publish and its checkpoint commit: the
    // restart replays the batch against the already-published state —
    // min/greatest absorb it, nothing double-converts or regresses
    forceReplay(s"$root/ckpt")
    run()
    assert(state() == Set((1L, 10L, 1L), (2L, 60L, 0L)))
    // out-of-window purchase (200 > 60+100) never converts u2
    mem.addData((2L, "purchase", 200L))
    run()
    assert(state() == Set((1L, 10L, 1L), (2L, 60L, 0L)))
  }

  test("gst state restart: conversion-time registers min-merge across runs and absorb a replayed batch (qs29 sink)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_gst_replay")
    val mem = MemoryStream[(Long, String, Long)]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.gstStateSink(
        mem.toDF().toDF("user_id", "event_type", "us"),
        s"$root/table", s"$root/ckpt", windowUs = 100L))
    def state(): Set[(Long, Long, Option[Long])] =
      spark.read.parquet(s"$root/table").as[(Long, Long, Option[Long])]
        .collect().toSet
    // wave 1: u1 exposed at 10, unconverted (conv_us NULL, not 0 —
    // the flag sink's 0 would alias a real epoch); u2's purchase
    // precedes any exposure — dropped
    mem.addData((1L, "view", 10L), (2L, "purchase", 20L))
    run()
    assert(state() == Set((1L, 10L, None)))
    // wave 2: u1's TWO qualifying purchases keep the earliest (50);
    // u2 becomes exposed; u1's later view must not move v_us
    mem.addData((1L, "purchase", 50L), (1L, "purchase", 80L),
      (2L, "view", 60L), (1L, "view", 70L))
    run()
    assert(state() == Set((1L, 10L, Some(50L)), (2L, 60L, None)))
    // kill between batch 2's publish and its checkpoint commit, plus
    // mid-publish (live renamed aside): restart recovers the table,
    // then replays the batch — min-merge recomputes identical state
    forceReplay(s"$root/ckpt")
    assert(new java.io.File(s"$root/table")
      .renameTo(new java.io.File(Publish.aside(s"$root/table"))))
    run()
    assert(state() == Set((1L, 10L, Some(50L)), (2L, 60L, None)))
    // out-of-window purchase (200 > 60+100) never converts u2; a
    // second window for u1 (already converted) keeps the stored min
    mem.addData((2L, "purchase", 200L), (1L, "purchase", 105L))
    run()
    assert(state() == Set((1L, 10L, Some(50L)), (2L, 60L, None)))
  }

  test("chunk store restart: a replayed half-applied batch converges, no duplicate chunks") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Long, Array[Byte])]
    val store = tmp("graft_chunk_replay") + "/store"
    val cp = tmp("graft_chunk_replay_cp")
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.chunkStoreSink(mem.toDF().toDF("media_id", "payload"),
        store, cp, chunkBytes = 4))
    def md5(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    mem.addData((1L, "AAAABBBB".getBytes("UTF-8")))
    run()
    mem.addData((2L, "BBBBCCCC".getBytes("UTF-8")))
    run()
    // crash AFTER batch 1's store publish but BEFORE its checkpoint
    // commit — and mid-publish on top (live renamed aside, the exact
    // between-renames window): restart must first recover the store,
    // then replay batch 1 idempotently (its chunks are all known)
    forceReplay(cp)
    assert(new java.io.File(store)
      .renameTo(new java.io.File(Publish.aside(store))))
    run()
    val hs = spark.read.parquet(store).select("h").as[String].collect()
    assert(hs.toSet == Set(md5("AAAA"), md5("BBBB"), md5("CCCC")),
      hs.mkString(","))
    assert(hs.length == 3, s"replay duplicated chunks: ${hs.length}")
  }

  test("dedup gate restart: replayed batch re-appends the same decisions; index stays decision-stable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_gate_replay")
    val corpus = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val (cshs, csig) = graft.api.Dedup.incrementalCorpusIndex(corpus)
    cshs.write.parquet(s"$root/base/shingles")
    csig.write.parquet(s"$root/base/sig")
    val mem = MemoryStream[(Long, String)]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.dedupGateSink(mem.toDF().toDF("doc_id", "text"),
        s"$root/base", s"$root/delta", s"$root/decisions", s"$root/ckpt",
        threshold = 0.5))
    def decisions(): Seq[(Long, Int, Long)] =
      spark.read.parquet(s"$root/decisions")
        .as[(Long, Int, Long)].collect().toSeq
    mem.addData((1L, "completely different words describing another topic entirely"))
    run()
    mem.addData((2L, "unrelated second subject matter with fresh vocabulary inside"))
    run()
    // kill between batch 1's appends and its commit; restart replays it
    forceReplay(s"$root/ckpt")
    run()
    // decisions leg is at-least-once: doc 2's row may appear twice but
    // with IDENTICAL values — the distinct set is the contract
    val d = decisions()
    assert(d.distinct.toSet == Set((1L, 1, -1L), (2L, 1, -1L)),
      d.mkString(","))
    assert(d.count(_._1 == 2L) == 2, "replay should re-append doc 2's row")
    // the index's duplicated signatures change no future decision:
    // a dup of the replay-admitted doc 2 still rejects with dup_of=2
    mem.addData((3L, "unrelated second subject matter with fresh vocabulary inside"))
    run()
    assert(decisions().distinct.count(_._1 == 3L) == 1)
    assert(decisions().find(_._1 == 3L).contains((3L, 0, 2L)),
      decisions().mkString(","))
  }

  test("router restart: replayed batch overwrites its own partition, exactly-once effective") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_router_replay")
    val mem = MemoryStream[(Long, Long)]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.routedSink(mem.toDF().toDF("id", "v"),
        routes = Seq(
          "neg" -> (col("v") < 0),
          "small" -> (col("v") < 10)),
        basePath = s"$root/routes", checkpoint = s"$root/ckpt"))
    def rows(route: String): Seq[Long] = {
      val d = new java.io.File(s"$root/routes/$route")
      if (!d.isDirectory) Seq.empty
      else spark.read.parquet(d.getPath).select("id").as[Long]
        .collect().toSeq.sorted
    }
    mem.addData((1L, -5L), (2L, 3L))
    run()
    mem.addData((3L, -1L), (4L, 50L))
    run()
    assert(rows("neg") == Seq(1L, 3L) && rows("dead_letter") == Seq(4L))
    // kill after batch 1's route writes but before its commit: the
    // replay must OVERWRITE batch=1's directories, not append — the
    // per-batch partition layout is what makes the fan-out
    // exactly-once effective without a multi-table transaction
    forceReplay(s"$root/ckpt")
    run()
    assert(rows("neg") == Seq(1L, 3L), rows("neg").mkString(","))
    assert(rows("small") == Seq(2L), rows("small").mkString(","))
    assert(rows("dead_letter") == Seq(4L), rows("dead_letter").mkString(","))
  }

  test("router replay whose route write fails keeps that route's earlier batch readable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_router_write_fail")
    val mem = MemoryStream[(Long, Long)]
    // while armed, the route predicate throws on its SECOND look at the
    // row v = 50. That row heads the batch and matches no route, so the
    // route's emptiness probe takes the first look, and the second one
    // falls inside the route's write job.
    val neg = udf { (v: Long) =>
      if (v == 50L && RouteWriteFault.armed.get &&
          RouteWriteFault.looks.incrementAndGet() > 1)
        throw new IllegalStateException("injected route write failure")
      v < 0L
    }
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.routedSink(mem.toDF().toDF("id", "v"),
        routes = Seq("neg" -> neg(col("v"))),
        basePath = s"$root/routes", checkpoint = s"$root/ckpt"))
    def rows(route: String): Seq[Long] =
      spark.read.parquet(s"$root/routes/$route").select("id").as[Long]
        .collect().toSeq.sorted
    mem.addData((1L, -5L))
    run()
    mem.addData((4L, 50L), (3L, -1L))
    run()
    assert(rows("neg") == Seq(1L, 3L) && rows("dead_letter") == Seq(4L))
    forceReplay(s"$root/ckpt")
    RouteWriteFault.looks.set(0)
    RouteWriteFault.armed.set(true)
    try intercept[Exception](run())
    finally RouteWriteFault.armed.set(false)
    assert(rows("neg") == Seq(1L, 3L),
      s"a failed replay write lost the route's batch=1 rows: ${rows("neg")}")
    run()
    assert(rows("neg") == Seq(1L, 3L) && rows("dead_letter") == Seq(4L))
  }

  // ---- crash-replay coverage for the remaining stateful sink
  // families (round-14 VERDICT item 7): qs3 upsert, qs5 CDC, and the
  // qs9/qs10 flatMapGroupsWithState state stores. Same kill model as
  // above — delete the newest commit marker, restart replays that
  // epoch with the same offsets and batch id (and, for the state ops,
  // the state store restored to the pre-batch version).

  test("upsert restart (qs3 family): replayed merge is idempotent, latest row per key survives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_upsert_replay")
    val mem = MemoryStream[(Long, Long, String)]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.upsertSink(mem.toDF().toDF("k", "ver", "v"),
        s"$root/table", s"$root/ckpt", key = "k", orderCol = "ver"))
    mem.addData((1L, 1L, "a"), (2L, 1L, "b"))
    run()
    mem.addData((1L, 2L, "a2"), (3L, 1L, "c"))
    run()
    // kill between batch 1's publish and its commit; the replay
    // re-merges the SAME latest-per-key rows into a table that
    // already carries them — replace-by-key must absorb it
    forceReplay(s"$root/ckpt")
    run()
    val rows = spark.read.parquet(s"$root/table")
      .as[(Long, Long, String)].collect().toSet
    assert(rows == Set((1L, 2L, "a2"), (2L, 1L, "b"), (3L, 1L, "c")),
      rows.toString)
  }

  test("upsert merge: equal-orderCol updates resolve deterministically (full-row-hash tie-break)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two updates for key 1 with the SAME version but different
    // payloads in ONE batch: without the hash tie-break the survivor
    // is arbitrary per run — drive the identical batch into two
    // independent tables and require the same pick
    def drive(tag: String): Set[(Long, Long, String)] = {
      val root = tmp(s"graft_upsert_tie_$tag")
      val mem = MemoryStream[(Long, Long, String)]
      mem.addData((1L, 1L, "left"), (1L, 1L, "right"), (2L, 1L, "only"))
      Pipelines.runToCompletion(
        Pipelines.upsertSink(mem.toDF().toDF("k", "ver", "v"),
          s"$root/table", s"$root/ckpt", key = "k", orderCol = "ver"))
      spark.read.parquet(s"$root/table")
        .as[(Long, Long, String)].collect().toSet
    }
    val a = drive("a")
    val b = drive("b")
    assert(a == b, s"tie resolved differently across identical runs: $a vs $b")
    assert(a.size == 2 && a.exists(_._1 == 2L), a.toString)
  }

  test("cdc restart (qs5 family): replayed delete stays deleted, no row resurrection") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = tmp("graft_cdc_replay")
    val mem = MemoryStream[(Long, Long, String, String)]
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.cdcSink(mem.toDF().toDF("k", "ord", "op", "v"),
        s"$root/table", s"$root/ckpt", key = "k", orderCol = "ord"))
    mem.addData((1L, 1L, "U", "a"), (2L, 1L, "U", "b"))
    run()
    mem.addData((1L, 2L, "U", "a2"), (2L, 2L, "D", ""), (3L, 1L, "U", "c"))
    run()
    // replay the delete-carrying batch against the already-applied
    // table: the delete must no-op (key 2 is gone), the updates must
    // replace with identical values
    forceReplay(s"$root/ckpt")
    run()
    val rows = spark.read.parquet(s"$root/table")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a2"), (3L, "c")), rows.toString)
  }

  test("rfm state restart (qs9 family): replayed epoch recomputes from the restored state version") {
    import spark.implicits._
    val root = tmp("graft_rfm_replay")
    Seq((1L, 100L, 500L), (2L, 50L, 300L), (1L, 200L, 700L))
      .toDF("user_id", "us", "cents").write.parquet(s"$root/input")
    val sch = spark.read.parquet(s"$root/input").schema
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.stateUpsertSink(
        Pipelines.rfmFeatures(
          spark.readStream.schema(sch).parquet(s"$root/input")
            .as[Pipelines.PurchaseEvent]).toDF(),
        s"$root/table", s"$root/ckpt",
        key = "user_id", orderCol = "frequency"))
    run()
    Seq((2L, 150L, 100L), (3L, 10L, 50L))
      .toDF("user_id", "us", "cents")
      .write.mode("append").parquet(s"$root/input")
    run()
    // kill after batch 1's table publish, before its commit: the
    // restart restores the state store to the PRE-batch version and
    // re-folds the same files — the cumulative rows must come out
    // identical (no double-count of batch 1 into user 2's frequency)
    forceReplay(s"$root/ckpt")
    run()
    val rows = spark.read.parquet(s"$root/table")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rows == Set(
      (1L, 200L, 2L, 1200L),
      (2L, 150L, 2L, 400L),
      (3L, 10L, 1L, 50L)), rows.toString)
  }

  test("token budget restart (qs10 family): replayed admissions are byte-identical decisions") {
    import spark.implicits._
    val root = tmp("graft_budget_replay")
    Seq(("s", 1L, 600L), ("s", 2L, 300L))
      .toDF("source", "doc_id", "n_tokens").write.parquet(s"$root/input")
    val sch = spark.read.parquet(s"$root/input").schema
    def run(): Unit = Pipelines.runToCompletion(
      Pipelines.stateUpsertSink(
        Pipelines.tokenBudget(
          spark.readStream.schema(sch).parquet(s"$root/input")
            .as[Pipelines.BudgetDoc], budget = 1000L).toDF(),
        s"$root/table", s"$root/ckpt",
        key = "doc_id", orderCol = "cum_tokens"))
    run()
    Seq(("s", 3L, 200L)).toDF("source", "doc_id", "n_tokens")
      .write.mode("append").parquet(s"$root/input")
    run()
    // replay batch 1 (doc 3): the running total must restart from the
    // restored 900, land on 1100 again, and reject again — a replay
    // that resumed from the POST-batch state (1100) would read 1300
    // and flip nothing here but double-count everywhere downstream
    forceReplay(s"$root/ckpt")
    run()
    val rows = spark.read.parquet(s"$root/table")
      .select("doc_id", "admitted", "cum_tokens")
      .as[(Long, Boolean, Long)].collect().toSet
    assert(rows == Set((1L, true, 600L), (2L, true, 900L),
      (3L, false, 1100L)), rows.toString)
  }

  test("hllRho matches the oracle's 55 - bitlength formula on real hash draws (qs22 kernel)") {
    // boundary pins: zero window -> 55; one-bit window -> 54; the
    // widest 54-bit window -> 1
    assert(Pipelines.hllRho(0L) == 55)
    assert(Pipelines.hllRho(1L) == 54)
    assert(Pipelines.hllRho((1L << 54) - 1) == 1)
    // the scalar must equal the mirrored SQL expression on the same
    // md5 hash draws qs22/r34 feed it
    val sample = spark.range(1, 2000)
      .select(expr(
        "CAST(conv(substr(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS BIGINT)")
        .as("h"))
      .select(expr("h div 64").as("rest"),
        expr("""CASE WHEN h div 64 = 0 THEN 55
                |     ELSE 55 - length(conv(h div 64, 10, 2)) END""".stripMargin)
          .as("want"))
      .collect()
    sample.foreach { r =>
      assert(Pipelines.hllRho(r.getLong(0)) == r.getInt(1),
        s"rest=${r.getLong(0)}")
    }
  }

  test("histogramQuantiles: exact-boundary crossings, sparse bins, clamp bin (qs25 kernel)") {
    import spark.implicits._
    // type x: cum at bin 0 = 50 (50·100 = 50·tot EXACTLY → p50 is bin
    // 0, the ≥-boundary case), cum at bin 2 = 90 (again exact for
    // p90), p99 lands on the clamp bin 31; bins 1, 3..30 absent —
    // zero-count cells must not shift any crossing
    val regs = Seq(("x", 0L, 50L), ("x", 2L, 40L), ("x", 31L, 10L),
      ("y", 5L, 1L)).toDF("event_type", "bin", "n")
    val got = graft.ops.StreamQueries.histogramQuantiles(regs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
    assert(got.toSeq == Seq(
      // (type, n, p50_bin, p90_bin, p99_bin, p50_lo, p90_lo, p99_lo)
      ("x", 100L, 0, 2, 31, 0, 32, 496),
      ("y", 1L, 5, 5, 5, 80, 80, 80)), got.mkString(","))
  }

  test("momentStats: register pivot, mirrored-IEEE mean and population std (qs27 kernel)") {
    import spark.implicits._
    // type x: cents {10,20,30,40} → n=4, s1=100, s2=3000;
    // mean = 100/4/100 = 0.25; var num = 4·3000 − 100² = 2000,
    // std = sqrt(2000)/4/100. type y: constant cents 5 → std 0 exactly
    val regs = Seq(
      ("x", "s1", 4L, 100L), ("x", "s2", 4L, 3000L),
      ("y", "s1", 2L, 10L), ("y", "s2", 2L, 50L))
      .toDF("event_type", "reg", "n_rows", "s")
    val got = graft.ops.StreamQueries.momentStats(regs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      ("x", 4L, 100L, 3000L, 0.25, math.sqrt(2000.0) / 4 / 100),
      ("y", 2L, 10L, 50L, 0.05, 0.0)), got.mkString(","))
  }

  test("momentCentsGuard: passes the exact range, FIRES loudly past 2^26.5 cents (qs27 ingest guard)") {
    import spark.implicits._
    val ok = Seq(0L, 94906265L, -94906265L).toDF("cents")
      .filter(graft.ops.StreamQueries.momentCentsGuard(col("cents")))
    assert(ok.count() == 3, "in-range rows must pass the guard untouched")
    val bad = Seq(1L, 94906266L).toDF("cents")
      .filter(graft.ops.StreamQueries.momentCentsGuard(col("cents")))
    val e = intercept[Exception] { bad.count() }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("2^26.5")),
      s"guard must fail with its own message, got: ${msgs(e).mkString(" | ")}")
  }

  test("spikeAlerts: one-sided mean + 3-sigma rule over the dense series (qs28 kernel)") {
    import spark.implicits._
    // type x: eleven quiet hours of 1 plus one hour of 50 —
    // mean 61/12, std sqrt(12·2511 − 61²)/12 → threshold ≈ 45.7, so
    // ONLY the 50 flags; type y: constant series, std 0, c > mean is
    // false at every hour (c == mean), nothing flags
    val grid = ((0L to 10L).map(h => ("x", h, 1L)) :+ (("x", 11L, 50L))) ++
      (0L to 3L).map(h => ("y", h, 7L))
    val got = graft.ops.StreamQueries.spikeAlerts(
      grid.toDF("event_type", "hr", "c")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.count(_._4 == 1) == 1 && got.find(_._4 == 1).get ==
      (("x", 11L, 50L, 1)), got.mkString(","))
    assert(got.filter(_._1 == "y").forall(_._4 == 0))
  }

  test("property: momentStats equals the scalar mean/std mirror on random cents multisets (qs27 kernel)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val sets = Gen.listOfN(6, Gen.nonEmptyListOf(Gen.choose(0L, 5000L)))
      .apply(Gen.Parameters.default, Seed(37L))
      .getOrElse(fail("generator produced no sample"))
    val regs = sets.zipWithIndex.flatMap { case (cs, i) =>
      val n = cs.size.toLong
      Seq((s"t$i", "s1", n, cs.sum), (s"t$i", "s2", n, cs.map(c => c * c).sum))
    }.toDF("event_type", "reg", "n_rows", "s")
    val got = graft.ops.StreamQueries.momentStats(regs).collect()
      .map(r => r.getString(0) -> ((r.getDouble(4), r.getDouble(5)))).toMap
    sets.zipWithIndex.foreach { case (cs, i) =>
      val n = cs.size.toLong; val s1 = cs.sum; val s2 = cs.map(c => c * c).sum
      val mean = s1.toDouble / n / 100
      val std = math.sqrt((n * s2 - s1 * s1).toDouble) / n / 100
      assert(got(s"t$i") == ((mean, std)), s"t$i: ${got(s"t$i")}")
    }
  }

  test("property: spikeAlerts equals the scalar mean+3-sigma mirror on random hourly grids (qs28 kernel)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val series = Gen.listOfN(3, Gen.listOfN(20, Gen.choose(0L, 60L)))
      .apply(Gen.Parameters.default, Seed(41L))
      .getOrElse(fail("generator produced no sample"))
    val grid = series.zipWithIndex.flatMap { case (cs, i) =>
      cs.zipWithIndex.map { case (c, h) => (s"t$i", h.toLong, c) } }
      .toDF("event_type", "hr", "c")
    val got = graft.ops.StreamQueries.spikeAlerts(grid).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(3)).toMap
    series.zipWithIndex.foreach { case (cs, i) =>
      val n = cs.size.toLong; val sc = cs.sum
      val scc = cs.map(c => c * c).sum
      val mean = sc.toDouble / n
      val std = math.sqrt((n * scc - sc * sc).toDouble) / n
      cs.zipWithIndex.foreach { case (c, h) =>
        val want = if (c.toDouble > mean + 3 * std) 1 else 0
        assert(got((s"t$i", h.toLong)) == want, s"t$i hr $h c $c")
      }
    }
  }

  test("property: histogramQuantiles == the expanded multiset's ceil(q·n/100)-th smallest, on 60 random histograms") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genHist = for {
      k <- Gen.choose(1, 6)
      bins <- Gen.listOfN(k, Gen.zip(Gen.choose(0L, 31L),
        Gen.choose(1L, 50L)))
    } yield bins.groupBy(_._1).map { case (b, xs) => (b, xs.map(_._2).sum) }
      .toList
    val samples = Gen.listOfN(60, genHist)
      .apply(Gen.Parameters.default, Seed(5L))
      .getOrElse(fail("generator produced no sample"))
    val regs = samples.zipWithIndex
      .flatMap { case (h, i) => h.map { case (b, n) => (f"t$i%03d", b, n) } }
      .toDF("event_type", "bin", "n")
    val got = graft.ops.StreamQueries.histogramQuantiles(regs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))).toMap
    samples.zipWithIndex.foreach { case (h, i) =>
      val expanded = h.flatMap { case (b, n) => Seq.fill(n.toInt)(b) }
        .sorted
      val n = expanded.size
      def q(p: Int): Int = {
        // smallest bin whose cum·100 ≥ p·n == the ceil(p·n/100)-th
        // smallest element (1-indexed) of the expanded multiset
        val rank = (p * n + 99) / 100
        expanded(rank - 1).toInt
      }
      val (gn, g50, g90, g99) = got(f"t$i%03d")
      assert(gn == n.toLong && g50 == q(50) && g90 == q(90) &&
        g99 == q(99), s"hist $h got ${got(f"t$i%03d")}")
    }
  }

  test("applyMinViewBatch: min-merge across batches, new keys appear, replays are no-ops (qs26 kernel)") {
    import spark.implicits._
    val table =
      graft.io.Scratch.runRoot("minview-spec", "spec", "table")
    def view(): Map[String, Long] = spark.read.parquet(table).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Pipelines.applyMinViewBatch(spark, table,
      Seq(("a", 5L), ("b", 7L)).toDF("cell", "register"), "cell", 0L)
    assert(view() == Map("a" -> 5L, "b" -> 7L))
    // batch 1: a improves, b regresses (kept at 7), c is new
    Pipelines.applyMinViewBatch(spark, table,
      Seq(("a", 3L), ("b", 9L), ("c", 1L)).toDF("cell", "register"),
      "cell", 1L)
    assert(view() == Map("a" -> 3L, "b" -> 7L, "c" -> 1L))
    // replayed batch 1 with DIFFERENT values: the high-water mark must
    // make it a structural no-op (not merely value-harmless)
    Pipelines.applyMinViewBatch(spark, table,
      Seq(("a", 0L)).toDF("cell", "register"), "cell", 1L)
    assert(view() == Map("a" -> 3L, "b" -> 7L, "c" -> 1L))
  }

  /** One entity stream: its raw fixture and schema, its streaming
    * cleaner, and the batch cleaner it must equal (the streams' pin fill
    * is the constant 1000).
    */
  private case class Entity(name: String, raw: SparkSession => DataFrame,
      schema: StructType, stream: DataFrame => DataFrame,
      batch: DataFrame => DataFrame, eventTime: Option[String])

  private val entities = Seq(
    Entity("pin", PinFixtures.pinRaw(_), Schemas.pinRaw, Pipelines.cleanPinStream,
      Cleaners.cleanPin(_, fillFollower = Some(1000)), None),
    Entity("geo", PinFixtures.geoRaw(_), Schemas.geoRaw, Pipelines.cleanGeoStream(_),
      Cleaners.cleanGeo(_), Some("timestamp")),
    Entity("user", PinFixtures.userRaw(_), Schemas.userRaw, Pipelines.cleanUserStream(_),
      Cleaners.cleanUser(_), Some("date_joined")))

  /** Append `raw` to `dir` as one file of envelope rows. */
  private def appendEnvelopes(dir: String, raw: DataFrame): Unit =
    PinFixtures.envelope(raw).coalesce(1).write.mode("append").json(dir)

  /** The stream of `e` over the envelope files in `in`, one file per
    * micro-batch, into a parquet sink under `out`.
    */
  private def entitySink(session: SparkSession, e: Entity, in: String, out: String) = {
    val p = Sources.IoProfile.localFiles(in)
    Pipelines.sink(
      e.stream(Sources.streamEnvelopeVia(session,
        p.copy(sourceOptions = p.sourceOptions + ("maxFilesPerTrigger" -> "1")))),
      s"$out/sink", s"$out/ckpt")
  }

  test("the clean*Stream sinks start no process: checkpoint, state and sink I/O stay in the JVM") {
    val root = tmp("graft_nofork")
    entities.foreach { e =>
      val raw = e.raw(spark)
      (1 to 2).foreach(_ => appendEnvelopes(s"$root/in/${e.name}", raw))
    }
    def drive(run: String): Unit = entities.foreach { e =>
      Pipelines.runToCompletion(
        entitySink(spark, e, s"$root/in/${e.name}", s"$root/$run/${e.name}"))
    }
    drive("warm") // one-time process starts (Hadoop's shell probes) happen here
    val file = java.nio.file.Paths.get(root, "process_start.jfr")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try drive("measured")
    finally { rec.stop(); rec.dump(file); rec.close() }
    def frames(ev: jdk.jfr.consumer.RecordedEvent): Seq[String] =
      Option(ev.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
    // Spark deletes a dropped session's artifact directory with `rm -rf`
    // when the GC finds the session (each query runs on a clone of its
    // own). That happens on the JDK's cleaner thread, once per dropped
    // clone and whenever the GC runs: not part of a micro-batch.
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
      .filterNot(frames(_).exists(_.startsWith("jdk.internal.ref.CleanerImpl.")))
    assert(starts.isEmpty, s"${starts.size} processes started, e.g. " +
      starts.take(3).map { ev =>
        val site = frames(ev).filterNot(_.startsWith("java.")).take(4).mkString(" < ")
        s"`${ev.getString("command")}` from $site"
      }.mkString("; "))
  }

  /** A session on the shared context whose streams keep their state in
    * one partition, as a small per-stream deployment does.
    */
  private lazy val onePartition: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "1")
    s
  }

  /** The input plan of each streaming dedup in the query's last batch. */
  private def dedupInputs(q: StreamingQuery): Seq[SparkPlan] =
    q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      .collect { case d: BaseStreamingDeduplicateExec => d.child }

  private def coalesced(input: SparkPlan): Boolean =
    input.exists(_.isInstanceOf[CoalesceExec]) &&
      !input.exists(_.isInstanceOf[ShuffleExchangeExec])

  test("one state partition: each clean*Stream dedup reads a coalesce, no shuffle; with 4 partitions and in batch, the plan is unchanged") {
    val bounded = Entity("pin_bounded", PinFixtures.pinRaw(_), Schemas.pinRaw,
      Pipelines.cleanPinStreamBounded(_), identity, None)
    for ((session, one) <- Seq(onePartition -> true, spark -> false);
         e <- entities :+ bounded) {
      val root = tmp("graft_coalesce")
      appendEnvelopes(s"$root/in", e.raw(session))
      val q = entitySink(session, e, s"$root/in", root).start()
      q.awaitTermination()
      val inputs = dedupInputs(q)
      assert(inputs.size == 1, s"${e.name}: ${inputs.size} dedups")
      if (one) assert(coalesced(inputs.head), s"${e.name}:\n${inputs.head}")
      else assert(!inputs.head.exists(_.isInstanceOf[CoalesceExec]) &&
        inputs.head.exists(_.isInstanceOf[ShuffleExchangeExec]), s"${e.name}:\n${inputs.head}")
    }
    val batch = PinFixtures.pinRaw(onePartition).dropDuplicates().queryExecution
    assert(!batch.optimizedPlan.exists(_.isInstanceOf[Repartition]), batch.optimizedPlan.toString)
    assert(!batch.executedPlan.exists(_.isInstanceOf[CoalesceExec]), batch.executedPlan.toString)
  }

  test("one state partition: a restart from the checkpoint drops a repeated first-run row and equals batch cleaning") {
    val root = tmp("graft_coalesce_restart")
    entities.foreach { e =>
      val in = s"$root/in/${e.name}"
      val out = s"$root/${e.name}"
      val raw = e.raw(onePartition)
      def frame(rows: Seq[Row]): DataFrame =
        onePartition.createDataFrame(onePartition.sparkContext.parallelize(rows, 1), raw.schema)
      val rows = raw.collect().toSeq
      // the second run's new rows carry the three latest event times, so
      // none is behind the first run's watermark
      val (first, later) = e.eventTime match {
        case Some(c) =>
          val at = (r: Row) => r.getTimestamp(r.fieldIndex(c)).getTime
          val latest = rows.map(at).distinct.sorted.takeRight(3).toSet
          rows.partition(r => !latest(at(r)))
        case None => rows.splitAt(rows.size / 2)
      }
      // the first run's latest row: still in the dedup state after it
      val repeated = e.eventTime.fold(first.head)(c =>
        first.maxBy(r => r.getTimestamp(r.fieldIndex(c)).getTime))

      appendEnvelopes(in, frame(first))
      val q1 = entitySink(onePartition, e, in, out).start()
      q1.awaitTermination()
      appendEnvelopes(in, frame(repeated +: later))
      val q2 = entitySink(onePartition, e, in, out).start()
      q2.awaitTermination()
      assert(Pipelines.committedBatches(s"$out/ckpt").size >= 2, e.name)
      assert(dedupInputs(q2).forall(coalesced), s"${e.name}: the restart lost the coalesce")

      val envelope = onePartition.read
        .schema(StructType(Seq(StructField("data", StringType)))).json(in)
      val want = e.batch(Pipelines.decode(envelope, e.schema))
      val got = onePartition.read.parquet(s"$out/sink").select(want.columns.toSeq.map(col): _*)
      assert(got.count() == want.count(),
        s"${e.name}: sink ${got.count()} rows, batch cleaning ${want.count()}")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, e.name)
    }
  }
}

/** Arms the injected route-write failure in [[StreamingSpec]]; an object
  * so the predicate UDF reads it without capturing the suite.
  */
private object RouteWriteFault {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  val looks = new java.util.concurrent.atomic.AtomicInteger(0)
}
