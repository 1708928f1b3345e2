package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.clean.Cleaners
import graft.fixtures.{FixtureTables, PinFixtures}
import graft.io.Publish
import graft.model.Schemas
import graft.ops.ReferenceQueries
import graft.ops.ReferenceQueries.Frames

/** The reference queries' shared cleaned frames: one persisted set per
  * (session, raw-input fingerprint), rebuilt when the raw files change,
  * persisted again after a cache sweep, never shared across sessions.
  */
class ReferenceQueriesSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  /** Order-independent row multiset. */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }

  private def cached(f: Frames): Boolean = f.all.forall(_.storageLevel != StorageLevel.NONE)

  private def fileScans(p: SparkPlan): Int =
    collectWithSubqueries(p) { case s: FileSourceScanExec => s }.size

  /** The three raw fixture tables written under a fresh temp dir. */
  private def withRawTables(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_refq").toString
    try {
      PinFixtures.pinRaw(spark).coalesce(1).write.parquet(s"$dir/pin_raw.parquet")
      PinFixtures.geoRaw(spark).coalesce(1).write.parquet(s"$dir/geo_raw.parquet")
      PinFixtures.userRaw(spark).coalesce(1).write.parquet(s"$dir/user_raw.parquet")
      body(dir)
    } finally {
      ReferenceQueries.cleaned(spark, dir).all.foreach(_.unpersist(blocking = true))
      Publish.deleteTree(dir)
    }
  }

  /** Cleaners over the raw files read by glob: a different plan from the
    * shared frames', so the cache manager cannot answer it from them.
    */
  private def fresh(s: SparkSession, dir: String): Frames = {
    def raw(t: String, schema: org.apache.spark.sql.types.StructType) =
      s.read.schema(schema).parquet(s"$dir/$t.parquet/*.parquet")
    Frames(Cleaners.cleanPin(raw("pin_raw", Schemas.pinRaw)),
      Cleaners.cleanGeo(raw("geo_raw", Schemas.geoRaw)),
      Cleaners.cleanUser(raw("user_raw", Schemas.userRaw)))
  }

  test("rewriting one raw table rebuilds the shared frames and releases the old ones") {
    withRawTables { dir =>
      val old = ReferenceQueries.cleaned(spark, dir)
      val before = old.all.map(bag)
      assert(cached(old))
      assert(ReferenceQueries.cleaned(spark, dir) eq old, "same input must share one set")

      // keep every other user, swapped in by rename as an upstream writer
      // replaces a table: a Spark write to the path itself would refresh
      // the caches over it, a rename does not
      val users = PinFixtures.userRaw(spark).filter(col("ind") % 2 === 0)
      Publish(s"$dir/user_raw.parquet")(users.coalesce(1).write.parquet(_))

      val now = ReferenceQueries.cleaned(spark, dir)
      val expected = fresh(spark, dir)
      for ((name, (got, want)) <- Seq("pin", "geo", "user").zip(now.all.zip(expected.all))) {
        assert(fileScans(want.queryExecution.executedPlan) > 0,
          s"$name: the reference pipeline must read the files")
        assert(bag(got) == bag(want), s"$name after the rewrite")
      }
      assert(bag(now.user) != before(2), "the user frame must see the rewrite")
      assert(!(now eq old), "a changed input must not serve the old frames")
      assert(old.all.forall(_.storageLevel == StorageLevel.NONE),
        old.all.map(_.storageLevel).mkString(", "))
      assert(cached(now))
    }
  }

  test("concurrent first calls share one set of frames") {
    withRawTables { dir =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        val got = (1 to 4).map(_ => pool.submit(new java.util.concurrent.Callable[Frames] {
          def call(): Frames = ReferenceQueries.cleaned(spark, dir)
        })).map(_.get())
        assert(got.forall(_ eq got.head))
      } finally pool.shutdown()
    }
  }

  test("after the Verify/Bench cache sweep the next query re-caches the same frames") {
    val q = ReferenceQueries.qr4
    val want = bag(q.fn(spark, ""))
    val frames = ReferenceQueries.cleaned(spark, FixtureTables.dir)
    assert(cached(frames))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    assert(frames.all.forall(_.storageLevel == StorageLevel.NONE))
    assert(bag(q.fn(spark, "")) == want)
    assert(ReferenceQueries.cleaned(spark, FixtureTables.dir) eq frames)
    assert(cached(frames), frames.all.map(_.storageLevel).mkString(", "))
  }

  test("warm shared frames: no reference query plan scans a file") {
    for (q <- ReferenceQueries.all) {
      val df = q.fn(spark, "")
      df.collect()
      val p = df.queryExecution.executedPlan
      assert(fileScans(p) == 0, s"${q.name} re-reads raw parquet:\n$p")
      assert(collectWithSubqueries(p) { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"${q.name} does not read the shared frames:\n$p")
    }
  }

  test("every reference query gives the same rows with ANSI on, over its own session's frames") {
    for (q <- ReferenceQueries.all)
      assert(bag(q.fn(TestSpark.ansi, "")) == bag(q.fn(spark, "")), q.name)
    val plain = ReferenceQueries.cleaned(spark, FixtureTables.dir)
    val ansi = ReferenceQueries.cleaned(TestSpark.ansi, FixtureTables.dir)
    assert(plain.all.forall(_.sparkSession eq spark))
    assert(ansi.all.forall(_.sparkSession eq TestSpark.ansi))
  }
}
