package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.DerivedCache

/** Derived-artifact staleness: every target/-cached build (bucketed
  * twins, partitioned/zone-mapped layouts, media staging, edge list)
  * must rebuild when its source fixture changes — a regenerated
  * fixture serving stale derived data into a value-oracled query is
  * the silent-wrong-answer failure class round 7 hit.
  */
class DerivedCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fingerprint tracks source file changes and table sets") {
    val dir = Files.createTempDirectory("graft_dc").toString
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val fp1 = DerivedCache.fingerprint(dir, Seq("t"))
    assert(fp1 == DerivedCache.fingerprint(dir, Seq("t")), "not stable")
    assert(fp1 != DerivedCache.fingerprint(dir, Seq("missing")),
      "absent table must fingerprint differently")
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(fp1 != DerivedCache.fingerprint(dir, Seq("t")),
      "rewrite must change the fingerprint")
  }

  /** A source dir holding table `t` (a plain file: the fingerprint only
    * lists names, sizes and mtimes), and an artifact path beside it.
    */
  private def fixture(prefix: String): (String, String) = {
    val dir = Files.createTempDirectory(prefix).toString
    writeSource(dir, "v1")
    (dir, s"$dir/artifact")
  }

  private def writeSource(dir: String, content: String): Unit = {
    Files.writeString(Paths.get(dir, "t.parquet"), content)
    ()
  }

  private def readData(loc: String): String =
    Files.readString(Paths.get(loc, "data"))

  test("ensure rebuilds an unstamped artifact and a changed source, and only those") {
    val (dir, loc) = fixture("graft_dc_ensure")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def ensure(): String = DerivedCache.ensure(loc, dir, Seq("t")) { out =>
      builds.incrementAndGet()
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(out, "data"),
        Files.readString(Paths.get(dir, "t.parquet")))
    }
    // an artifact built before stamping (data, no _FINGERPRINT) is stale
    Files.createDirectories(Paths.get(loc))
    Files.writeString(Paths.get(loc, "data"), "pre-guard")
    assert(ensure() == loc && builds.get == 1 && readData(loc) == "v1",
      "unstamped artifact must count as stale")
    ensure()
    assert(builds.get == 1, "a stamped, unchanged artifact must not rebuild")
    writeSource(dir, "v2, regenerated")
    ensure()
    assert(builds.get == 2 && readData(loc) == "v2, regenerated",
      "changed source fingerprint must invalidate")
  }

  test("a build that throws leaves the artifact stale; the next call rebuilds it") {
    val (dir, loc) = fixture("graft_dc_throw")
    def build(out: String): Unit = {
      Files.createDirectories(Paths.get(out))
      Files.writeString(Paths.get(out, "data"),
        Files.readString(Paths.get(dir, "t.parquet")))
      ()
    }
    DerivedCache.ensure(loc, dir, Seq("t"))(build)
    writeSource(dir, "v2, regenerated")
    intercept[IllegalStateException] {
      DerivedCache.ensure(loc, dir, Seq("t")) { out =>
        Files.writeString(Paths.get(out, "data"), "partial")
        throw new IllegalStateException("build crashed")
      }
    }
    assert(!Files.exists(Paths.get(loc, "_FINGERPRINT")),
      "a failed build must leave the artifact unstamped")
    var rebuilt = false
    DerivedCache.ensure(loc, dir, Seq("t")) { out => rebuilt = true; build(out) }
    assert(rebuilt && readData(loc) == "v2, regenerated")
  }

  test("8 threads ensuring one fresh artifact run the build once and all read complete data") {
    val (dir, loc) = fixture("graft_dc_race")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val payload = "x" * 100000
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val reads = (1 to 8).map { _ =>
        Future {
          start.await()
          val out = DerivedCache.ensure(loc, dir, Seq("t")) { out =>
            builds.incrementAndGet()
            Files.createDirectories(Paths.get(out))
            // written in pieces, so an unguarded reader would see a prefix
            val w = Files.newBufferedWriter(Paths.get(out, "data"))
            try payload.grouped(1000).foreach { chunk =>
              w.write(chunk); w.flush(); Thread.sleep(1)
            } finally w.close()
          }
          readData(out)
        }
      }
      start.countDown()
      val seen = Await.result(Future.sequence(reads), 120.seconds)
      assert(builds.get == 1, s"${builds.get} builds")
      assert(seen.forall(_ == payload), "a caller read incomplete data")
    } finally pool.shutdownNow()
  }

  test("a nested ensure (an artifact built from another) finishes") {
    val (dir, loc) = fixture("graft_dc_nested")
    val inner = s"$dir/inner"
    val done = Future {
      DerivedCache.ensure(loc, dir, Seq("t")) { out =>
        val from = DerivedCache.ensure(inner, dir, Seq("t")) { in =>
          Files.createDirectories(Paths.get(in))
          Files.writeString(Paths.get(in, "data"), "inner")
          ()
        }
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(out, "data"), readData(from) + "+outer")
        ()
      }
    }(ExecutionContext.global)
    val out = Await.result(done, 60.seconds)
    assert(readData(out) == "inner+outer")
  }

  test("ensurePartitioned rebuilds when the events fixture is regenerated") {
    val dir = Files.createTempDirectory("graft_dc_part").toString
    def writeEvents(ids: Seq[Long]): Unit =
      ids.map(i => (i, i * 1000000000L, i, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    try {
      writeEvents(Seq(1L, 2L))
      val loc = graft.ops.JoinOps.ensurePartitioned(spark, dir)
      assert(spark.read.parquet(loc).count() == 2L)
      writeEvents(Seq(3L, 4L, 5L))
      assert(spark.read.parquet(graft.ops.JoinOps.ensurePartitioned(spark, dir))
        .count() == 3L, "stale partitioned layout served after regeneration")
    } finally TestSpark.dropCache("partitioned", dir)
  }

  test("media staging clears stale payload files on rebuild") {
    val dir = Files.createTempDirectory("graft_dc_media").toString
    def writeDocs(ids: Seq[Long]): Unit =
      ids.map(i => (i, s"text-$i", "en", "web", 6L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      writeDocs(Seq(10L, 20L, 11L))
      val out = graft.ops.Multimodal.ensureMediaFiles(spark, dir)
      def bins(): Set[String] =
        Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
          .map(_.getName).filter(_.endsWith(".bin")).toSet
      assert(bins() == Set("media_10.bin", "media_20.bin"))
      writeDocs(Seq(30L, 31L))
      graft.ops.Multimodal.ensureMediaFiles(spark, dir)
      assert(bins() == Set("media_30.bin"),
        "stale media payloads leaked into the staging dir after regeneration")
    } finally TestSpark.dropCache("media", dir)
  }
}
