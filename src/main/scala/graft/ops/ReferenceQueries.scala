package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.clean.Cleaners
import graft.fixtures.FixtureTables
import graft.io.DerivedCache
import graft.model.Schemas

/** The reference's seven analytics queries (SURVEY.md §3.4) on the real
  * pin/geo/user data model, end to end: raw wire-schema parquet ->
  * cleaning layer -> query, with the DuckDB oracle re-implementing the
  * whole pipeline (null normalization, human-count parse, dedup, casts,
  * joins, windows) independently in SQL over the same raw bytes. These
  * queries deliberately ignore the sfDir argument — their input is the
  * fixture corpus (the driver's star schema has no pin-shaped entities).
  *
  * Clean once, query many, as the reference notebook does: the ten
  * queries share one set of cleaned pin/geo/user frames per (session,
  * input fingerprint) — [[DerivedCache.fingerprint]] of the three raw
  * tables — plus the pin⋈geo and pin⋈user joins that eight of them
  * start from. The frames are persisted on first use, persisted again
  * when a cache sweep drops them, and released and rebuilt when the raw
  * files change (see [[cleaned]]). Each query still runs alone: the
  * first one to run persists the frames, and each frame is computed by
  * the first query that reads it. So a pass of the ten queries reads
  * each raw table once and joins each pair once, and a repeated pass
  * over unchanged input does neither: a warm query is a scan of one
  * cached frame plus its own aggregation. A caller that sweeps the
  * cache after every query (Bench, Verify) reuses nothing and pays the
  * cache build in each query.
  *
  * The memory trade of the two joins: each holds one row per matched
  * pin with the pin columns plus the geo (or user) columns, so the
  * cached bytes grow by about one pin frame plus one geo and one user
  * frame; in return every warm join query skips its join's exchanges
  * and jobs.
  *
  * Reference call sites: Q1 `MOUNT:227-248`, Q2 `MOUNT:250-268`,
  * Q3 `MOUNT:270-289`, Q3b `MOUNT:292-300`, Q4 `MOUNT:302-331`,
  * Q5 `MOUNT:333-363`, Q6 `MOUNT:365-381`, Q7 `MOUNT:400-445`.
  */
object ReferenceQueries {

  // ---- shared DuckDB cleaning CTEs (the oracle's own implementation) ----

  private val pinCleanSql =
    s"""pin_n AS (
       |  SELECT index, unique_id,
       |         CASE WHEN trim(title) IN ('','NA','N/A','None','null') THEN NULL ELSE title END AS title,
       |         CASE WHEN trim(description) IN ('','NA','N/A','None','null') THEN NULL ELSE description END AS description,
       |         CASE WHEN trim(poster_name) IN ('','NA','N/A','None','null') THEN NULL ELSE poster_name END AS poster_name,
       |         CASE WHEN trim(follower_count) IN ('','NA','N/A','None','null') THEN NULL ELSE follower_count END AS follower_count,
       |         CASE WHEN trim(tag_list) IN ('','NA','N/A','None','null') THEN NULL ELSE tag_list END AS tag_list,
       |         CASE WHEN trim(is_image_or_video) IN ('','NA','N/A','None','null') THEN NULL ELSE is_image_or_video END AS is_image_or_video,
       |         CASE WHEN trim(image_src) IN ('','NA','N/A','None','null') THEN NULL ELSE image_src END AS image_src,
       |         downloaded,
       |         CASE WHEN trim(save_location) IN ('','NA','N/A','None','null') THEN NULL ELSE save_location END AS save_location,
       |         CASE WHEN trim(category) IN ('','NA','N/A','None','null') THEN NULL ELSE category END AS category
       |  FROM read_parquet('${FixtureTables.pinPath}/*.parquet')
       |), pin_fc AS (
       |  SELECT *,
       |    CASE WHEN follower_count IS NULL THEN NULL
       |         WHEN lower(substr(trim(follower_count), length(trim(follower_count)), 1)) IN ('k','m','b')
       |         THEN CASE WHEN try_cast(substr(trim(follower_count), 1, length(trim(follower_count)) - 1) AS DOUBLE) IS NULL THEN NULL
       |              ELSE trunc(try_cast(substr(trim(follower_count), 1, length(trim(follower_count)) - 1) AS DOUBLE)
       |                   * CASE lower(substr(trim(follower_count), length(trim(follower_count)), 1))
       |                          WHEN 'k' THEN 1e3 WHEN 'm' THEN 1e6 ELSE 1e9 END) END
       |         WHEN regexp_matches(trim(follower_count), '^[+-]?[0-9]+$$')
       |         THEN CAST(trim(follower_count) AS DOUBLE)
       |         ELSE NULL END AS fc_raw
       |  FROM pin_n
       |), pin_filled AS (
       |  SELECT CAST(index AS INT) AS ind, unique_id,
       |         coalesce(title, 'Unknown') AS title,
       |         coalesce(description, 'Unknown') AS description,
       |         CASE WHEN fc_raw BETWEEN -2147483648 AND 2147483647 THEN CAST(fc_raw AS INT) ELSE NULL END AS follower_count,
       |         coalesce(poster_name, 'Unknown') AS poster_name,
       |         tag_list,
       |         CASE WHEN is_image_or_video = 'multi-video(story page format)' THEN 'video'
       |              ELSE coalesce(is_image_or_video, 'unknown') END AS is_image_or_video,
       |         image_src, downloaded,
       |         regexp_replace(save_location, '^Local save in ', '') AS save_location,
       |         coalesce(category, 'Unknown') AS category
       |  FROM pin_fc
       |), pin_clean AS (
       |  SELECT ind, unique_id, title, description, follower_count, poster_name,
       |         tag_list, is_image_or_video, image_src, save_location, category
       |  FROM (SELECT DISTINCT * FROM pin_filled)
       |)""".stripMargin

  private val geoCleanSql =
    s"""geo_clean AS (
       |  SELECT DISTINCT CAST(ind AS INT) AS ind, country, timestamp,
       |         latitude, longitude
       |  FROM read_parquet('${FixtureTables.geoPath}/*.parquet')
       |  WHERE ind IS NOT NULL
       |)""".stripMargin

  private val userCleanSql =
    s"""user_clean AS (
       |  SELECT DISTINCT CAST(ind AS INT) AS ind,
       |         first_name || ' ' || last_name AS user_name,
       |         try_cast(age AS INT) AS age,
       |         date_joined
       |  FROM read_parquet('${FixtureTables.userPath}/*.parquet')
       |  WHERE ind IS NOT NULL
       |)""".stripMargin

  private val ageGroupSql =
    """CASE WHEN age BETWEEN 18 AND 24 THEN '18-24'
      |     WHEN age BETWEEN 25 AND 35 THEN '25-35'
      |     WHEN age BETWEEN 36 AND 50 THEN '36-50'
      |     WHEN age > 50 THEN '+50'
      |     ELSE 'unknown' END""".stripMargin

  // ---- shared Spark-side cleaned frames ----

  /** The cleaned pin/geo/user frames the queries read, and the two joins
    * eight of them share: pin⋈geo (qr1, qr2, qr3, qr3b) and pin⋈user
    * (qr4, qr5, qr7a, qr7b).
    */
  private[graft] final case class Frames(pin: DataFrame, geo: DataFrame, user: DataFrame) {
    val pinGeo: DataFrame = pin.join(geo, Seq("ind"))
    val pinUser: DataFrame = pin.join(user, Seq("ind"))
    /** In persist order: a join's cache is planned over the cleaned
      * frames' caches, so those come first.
      */
    def all: Seq[DataFrame] = Seq(pin, geo, user, pinGeo, pinUser)
  }

  private val rawTables = Seq("pin_raw", "geo_raw", "user_raw")

  private final case class Entry(dir: String, fingerprint: String, frames: Frames)

  /** One entry per session: sessions share one cache manager but not
    * their conf, so a frame analyzed under one session's settings is
    * never handed to another. A session asking for another dir or
    * another input version replaces (and unpersists) its entry; the
    * entries of stopped sessions are dropped on the next call.
    */
  private val shared = mutable.Map.empty[SparkSession, Entry]

  /** The cleaned frames over the raw tables under `dir`, built and
    * persisted once per (session, input fingerprint):
    *  - same dir and fingerprint: the same persisted frames; any of them
    *    whose cache entry was dropped since (`clearCache`, an `unpersist`
    *    of a same-result plan) is persisted again;
    *  - otherwise: the old frames are unpersisted and rebuilt from a
    *    fresh read.
    * Persisted, not checkpointed: callers that sweep the cache between
    * queries (Verify, Bench) unpersist every RDD, and a checkpoint
    * would leave no lineage to rebuild from.
    */
  private[graft] def cleaned(spark: SparkSession, dir: String): Frames = synchronized {
    shared.keys.filter(_.sparkContext.isStopped).toList.foreach(shared.remove)
    val fp = DerivedCache.fingerprint(dir, rawTables)
    shared.get(spark) match {
      case Some(Entry(`dir`, `fp`, frames)) =>
        frames.all.filter(_.storageLevel == StorageLevel.NONE).foreach(_.persist())
        frames
      case stale =>
        stale.foreach(_.frames.all.foreach(_.unpersist(blocking = false)))
        // the cache manager matches file scans by path, not content; the
        // fingerprint as a read option makes each input version its own
        // plan, so no cached entry of an older version can answer it
        def raw(t: String, schema: StructType) = spark.read.schema(schema)
          .option("graft.inputFingerprint", fp).parquet(s"$dir/$t.parquet")
        val frames = Frames(
          Cleaners.cleanPin(raw("pin_raw", Schemas.pinRaw)),
          Cleaners.cleanGeo(raw("geo_raw", Schemas.geoRaw)),
          Cleaners.cleanUser(raw("user_raw", Schemas.userRaw)))
        frames.all.foreach(_.persist())
        shared(spark) = Entry(dir, fp, frames)
        frames
    }
  }

  private def reference(name: String, sql: String, doc: String)(
      body: Frames => DataFrame): OpQuery =
    OpQuery.oracled(name, sql, doc) { (spark, _) =>
      FixtureTables.ensureWritten(spark)
      body(cleaned(spark, FixtureTables.dir))
    }

  private def topOne(df: DataFrame, part: String, order: Seq[org.apache.spark.sql.Column]) =
    StarQueries.topOnePerGroup(df, Seq(part), order)

  /** Q1: most popular category per country. */
  val qr1 = reference("qr1_top_category_per_country",
    s"""WITH $pinCleanSql, $geoCleanSql,
       |counts AS (
       |  SELECT country, category, count(*) AS cnt
       |  FROM pin_clean JOIN geo_clean USING (ind)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT country, category, cnt,
       |         row_number() OVER (PARTITION BY country
       |                            ORDER BY cnt DESC, category ASC) AS rn
       |  FROM counts
       |)
       |SELECT country, category, cnt FROM ranked WHERE rn = 1
       |ORDER BY country""".stripMargin,
    doc = "reference Q1 end-to-end over the pin/geo data model (MOUNT:227-248)") { f =>
    val counts = f.pinGeo
      .groupBy("country", "category").agg(count(lit(1)).as("cnt"))
    topOne(counts, "country", Seq(col("cnt").desc, col("category").asc))
      .select("country", "category", "cnt")
      .orderBy("country")
  }

  /** Q2: category counts per post year, 2018-2022. */
  val qr2 = reference("qr2_category_per_post_year",
    s"""WITH $pinCleanSql, $geoCleanSql
       |SELECT CAST(year(timestamp) AS INT) AS post_year, category, count(*) AS cnt
       |FROM pin_clean JOIN geo_clean USING (ind)
       |WHERE year(timestamp) BETWEEN 2018 AND 2022
       |GROUP BY 1, 2
       |ORDER BY post_year, category""".stripMargin,
    doc = "reference Q2 end-to-end (MOUNT:250-268)") { f =>
    f.pinGeo
      .withColumn("post_year", year(col("timestamp")))
      .filter(col("post_year").between(2018, 2022))
      .groupBy("post_year", "category").agg(count(lit(1)).as("cnt"))
      .orderBy("post_year", "category")
  }

  /** Q3: top poster by summed follower_count per country. */
  val qr3 = reference("qr3_top_poster_per_country",
    s"""WITH $pinCleanSql, $geoCleanSql,
       |spend AS (
       |  SELECT country, poster_name,
       |         CAST(sum(follower_count) AS BIGINT) AS total_followers
       |  FROM pin_clean JOIN geo_clean USING (ind)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT country, poster_name, total_followers,
       |         row_number() OVER (PARTITION BY country
       |                            ORDER BY total_followers DESC NULLS LAST, poster_name ASC) AS rn
       |  FROM spend
       |)
       |SELECT country, poster_name, total_followers FROM ranked WHERE rn = 1
       |ORDER BY country""".stripMargin,
    doc = "reference Q3 end-to-end (MOUNT:270-289)") { f =>
    val spend = f.pinGeo
      .groupBy("country", "poster_name")
      .agg(sum(col("follower_count")).as("total_followers"))
    topOne(spend, "country",
      Seq(col("total_followers").desc_nulls_last, col("poster_name").asc))
      .select("country", "poster_name", "total_followers")
      .orderBy("country")
  }

  /** Q3b: country of the single top poster (TakeOrdered, not a global
    * window — SURVEY.md §4).
    */
  val qr3b = reference("qr3b_top_poster_country",
    s"""WITH $pinCleanSql, $geoCleanSql
       |SELECT country, poster_name, CAST(sum(follower_count) AS BIGINT) AS total_followers
       |FROM pin_clean JOIN geo_clean USING (ind)
       |GROUP BY 1, 2
       |ORDER BY total_followers DESC NULLS LAST, poster_name ASC, country ASC
       |LIMIT 1""".stripMargin,
    doc = "reference Q3b end-to-end (MOUNT:292-300)") { f =>
    f.pinGeo
      .groupBy("country", "poster_name")
      .agg(sum(col("follower_count")).as("total_followers"))
      .orderBy(col("total_followers").desc_nulls_last, col("poster_name").asc, col("country").asc)
      .limit(1)
  }

  /** Q4: most popular category per age group. */
  val qr4 = reference("qr4_top_category_per_age_group",
    s"""WITH $pinCleanSql, $userCleanSql,
       |counts AS (
       |  SELECT $ageGroupSql AS age_group, category, count(*) AS cnt
       |  FROM pin_clean JOIN user_clean USING (ind)
       |  GROUP BY 1, 2
       |), ranked AS (
       |  SELECT age_group, category, cnt,
       |         row_number() OVER (PARTITION BY age_group
       |                            ORDER BY cnt DESC, category ASC) AS rn
       |  FROM counts
       |)
       |SELECT age_group, category, cnt FROM ranked WHERE rn = 1
       |ORDER BY age_group""".stripMargin,
    doc = "reference Q4 end-to-end (MOUNT:302-331)") { f =>
    val counts = f.pinUser
      .withColumn("age_group", Cleaners.ageGroup(col("age")))
      .groupBy("age_group", "category").agg(count(lit(1)).as("cnt"))
    topOne(counts, "age_group", Seq(col("cnt").desc, col("category").asc))
      .select("age_group", "category", "cnt")
      .orderBy("age_group")
  }

  /** Q5: exact median follower_count per age group (the reference used
    * percentile_approx; the oracled form is the exact percentile —
    * SURVEY.md §7.4.2).
    */
  val qr5 = reference("qr5_median_followers_per_age_group",
    s"""WITH $pinCleanSql, $userCleanSql
       |SELECT $ageGroupSql AS age_group,
       |       quantile_cont(follower_count, 0.5) AS median_followers
       |FROM pin_clean JOIN user_clean USING (ind)
       |WHERE follower_count IS NOT NULL
       |GROUP BY 1
       |ORDER BY age_group""".stripMargin,
    doc = "reference Q5 end-to-end, exact median (MOUNT:333-363)") { f =>
    f.pinUser
      .withColumn("age_group", Cleaners.ageGroup(col("age")))
      .filter(col("follower_count").isNotNull)
      .groupBy("age_group")
      .agg(percentile(col("follower_count"), lit(0.5)).as("median_followers"))
      .orderBy("age_group")
  }

  /** Q6: users joined per year 2015-2020. */
  val qr6 = reference("qr6_users_joined_per_year",
    s"""WITH $userCleanSql
       |SELECT CAST(year(date_joined) AS INT) AS join_year, count(*) AS n_users
       |FROM user_clean
       |WHERE year(date_joined) BETWEEN 2015 AND 2020
       |GROUP BY 1
       |ORDER BY join_year""".stripMargin,
    doc = "reference Q6 end-to-end (MOUNT:365-381)") { f =>
    f.user
      .withColumn("join_year", year(col("date_joined")))
      .filter(col("join_year").between(2015, 2020))
      .groupBy("join_year").agg(count(lit(1)).as("n_users"))
      .orderBy("join_year")
  }

  /** Q7: median follower_count by join year and by (join year, age
    * group).
    */
  val qr7a = reference("qr7a_median_followers_per_join_year",
    s"""WITH $pinCleanSql, $userCleanSql
       |SELECT CAST(year(date_joined) AS INT) AS join_year,
       |       quantile_cont(follower_count, 0.5) AS median_followers
       |FROM pin_clean JOIN user_clean USING (ind)
       |WHERE follower_count IS NOT NULL
       |GROUP BY 1
       |ORDER BY join_year""".stripMargin,
    doc = "reference Q7 (by join year) end-to-end (MOUNT:400-410)") { f =>
    f.pinUser
      .withColumn("join_year", year(col("date_joined")))
      .filter(col("follower_count").isNotNull)
      .groupBy("join_year")
      .agg(percentile(col("follower_count"), lit(0.5)).as("median_followers"))
      .orderBy("join_year")
  }

  val qr7b = reference("qr7b_median_followers_year_age",
    s"""WITH $pinCleanSql, $userCleanSql
       |SELECT CAST(year(date_joined) AS INT) AS join_year,
       |       $ageGroupSql AS age_group,
       |       quantile_cont(follower_count, 0.5) AS median_followers
       |FROM pin_clean JOIN user_clean USING (ind)
       |WHERE follower_count IS NOT NULL
       |GROUP BY 1, 2
       |ORDER BY join_year, age_group""".stripMargin,
    doc = "reference Q7 (by join year + age group) end-to-end (MOUNT:423-445)") { f =>
    f.pinUser
      .withColumn("join_year", year(col("date_joined")))
      .withColumn("age_group", Cleaners.ageGroup(col("age")))
      .filter(col("follower_count").isNotNull)
      .groupBy("join_year", "age_group")
      .agg(percentile(col("follower_count"), lit(0.5)).as("median_followers"))
      .orderBy("join_year", "age_group")
  }

  /** Generator over the pin tag_list (the reference never explodes it;
    * the generalized operator set does — SURVEY.md §2.8).
    */
  val qr8 = reference("qr8_tag_frequencies",
    s"""WITH $pinCleanSql
       |SELECT tag, count(*) AS cnt
       |FROM (SELECT unnest(string_split(tag_list, ',')) AS tag
       |      FROM pin_clean WHERE tag_list IS NOT NULL)
       |GROUP BY 1
       |ORDER BY tag""".stripMargin,
    doc = "tag_list explode generator (generalized §2.8)") { f =>
    f.pin.filter(col("tag_list").isNotNull)
      .select(explode(split(col("tag_list"), ",")).as("tag"))
      .groupBy("tag").agg(count(lit(1)).as("cnt"))
      .orderBy("tag")
  }

  val all: Seq[OpQuery] = Seq(qr1, qr2, qr3, qr3b, qr4, qr5, qr6, qr7a, qr7b, qr8)
}
