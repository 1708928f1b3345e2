package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.clean.Cleaners
import graft.fixtures.PinFixtures
import graft.model.Schemas

/** Cleaning-layer parity with the reference notebooks (SURVEY.md §2.2),
  * golden-checked over the deterministic fixtures. Every test runs
  * twice: on the shared session, and on one with ANSI mode on — the
  * cleaning layer must not depend on the caller's session settings.
  */
class CleanersSpec extends AnyFunSuite {

  cleanerTests("", () => TestSpark.spark)
  cleanerTests(" (ANSI on)", () => TestSpark.ansi)

  private def cleanerTests(suffix: String, session: () => SparkSession): Unit = {
    lazy val spark = session()
    lazy val pinClean = Cleaners.cleanPin(PinFixtures.pinRaw(spark))
    lazy val geoClean = Cleaners.cleanGeo(PinFixtures.geoRaw(spark))
    lazy val userClean = Cleaners.cleanUser(PinFixtures.userRaw(spark))

    test(s"cleaned schemas match the reference projections$suffix") {
      assert(pinClean.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        Schemas.pinClean.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(geoClean.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        Schemas.geoClean.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(userClean.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        Schemas.userClean.fields.map(f => (f.name, f.dataType)).toSeq)
    }

    test(s"exact duplicate rows are dropped (P7)$suffix") {
      // fixture appends 10 exact duplicate rows to 120 distinct ones
      assert(pinClean.count() == 120)
      assert(geoClean.count() == 120)
      assert(userClean.count() == 120)
    }

    test(s"placeholders normalize to null then fill to Unknown (P4/P5)$suffix") {
      val titles = pinClean.select("title").distinct().collect().map(_.getString(0))
      assert(!titles.contains(""))
      assert(!titles.contains("N/A"))
      assert(titles.contains("Unknown"))
      val posters = pinClean.select("poster_name").distinct().collect().map(_.getString(0))
      assert(posters.contains("Unknown") && !posters.contains(null))
    }

    test(s"multi-video canonicalizes to video (P6)$suffix") {
      val kinds = pinClean.select("is_image_or_video").distinct()
        .collect().map(_.getString(0)).toSet
      assert(kinds == Set("image", "video", "unknown"))
    }

    test(s"save_location prefix stripped (F3)$suffix") {
      assert(pinClean.filter(col("save_location").startsWith("Local save in")).count() == 0)
      assert(pinClean.filter(col("save_location").startsWith("/data/")).count() > 0)
    }

    test(s"follower_count parses human formats to int (U1)$suffix") {
      val parsed = pinClean.select("follower_count").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet
      // "25"->25, "532k"->532000, "25.5k"->25500, "1M"->1e6, "0.9M"->900000,
      // "2B"-> overflow -> null, "14K"->14000, "7m"->7000000, bad -> null
      assert(parsed.contains(Some(532000)))
      assert(parsed.contains(Some(25500)))
      assert(parsed.contains(Some(1000000)))
      assert(parsed.contains(Some(900000)))
      assert(parsed.contains(Some(14000)))
      assert(parsed.contains(Some(7000000)))
      assert(parsed.contains(None)) // "", "NA", "abc", null, "2B"
    }

    test(s"median fill replaces nulls when requested (batch path)$suffix") {
      val withFill = Cleaners.cleanPin(PinFixtures.pinRaw(spark), fillFollower = Some(1234))
      assert(withFill.filter(col("follower_count").isNull).count() == 0)
      assert(withFill.filter(col("follower_count") === 1234).count() > 0)
    }

    test(s"medianFollower computes a plausible scalar$suffix") {
      val m = Cleaners.medianFollower(PinFixtures.pinRaw(spark))
      assert(m.exists(v => v >= 25 && v <= 7000000))
    }

    test(s"geo coordinates assembled as [lat, lon] floats (F5)$suffix") {
      val row = Cleaners.cleanGeo(PinFixtures.geoRaw(spark))
        .filter(col("ind") === 0).select("coordinates").head()
      val coords = row.getSeq[Float](0)
      assert(coords.length == 2)
      assert(coords(0) == 10.0f && coords(1) == -20.0f)
    }

    test(s"user_name concatenated, lenient age cast (F4/P9)$suffix") {
      val users = userClean.collect()
      assert(users.forall(r => r.getString(1).contains(" ")))
      // "not-a-number" age -> null, boundary ages preserved
      val ages = userClean.select("age").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getInt(0))).toSet
      assert(ages.contains(None))
      assert(ages.contains(Some(17)) && ages.contains(Some(51)))
    }

    test(s"age buckets honor the reference boundaries (MOUNT:313-318)$suffix") {
      import spark.implicits._
      val got = Seq(17, 18, 24, 25, 35, 36, 50, 51).toDF("age")
        .select(Cleaners.ageGroup(col("age")).as("g"))
        .collect().map(_.getString(0)).toSeq
      assert(got == Seq("unknown", "18-24", "18-24", "25-35", "25-35", "36-50", "36-50", "+50"))
    }

    test(s"inferred-schema JSON path converges with explicit-schema path after cleaning$suffix") {
      val dir = java.nio.file.Files.createTempDirectory("graft_json").toString
      PinFixtures.pinRaw(spark).write.mode("overwrite").json(dir)
      val explicit = Cleaners.cleanPin(
        graft.io.Sources.json(spark, dir, Schemas.pinRaw))
      val inferred = Cleaners.cleanPin(
        graft.io.Sources.inferJson(spark, dir)
          // inference reads index/downloaded as long and follower as string;
          // align the two raw frames like the reference's cast step does
          .selectExpr("CAST(index AS INT) AS index", "unique_id", "title",
            "description", "poster_name", "CAST(follower_count AS STRING) AS follower_count",
            "tag_list", "is_image_or_video", "image_src",
            "CAST(downloaded AS INT) AS downloaded", "save_location", "category"))
      assert(explicit.exceptAll(inferred).isEmpty && inferred.exceptAll(explicit).isEmpty)
    }
  }
}
