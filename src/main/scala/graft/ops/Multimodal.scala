package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{DerivedCache, Scratch, Sources}

/** Multimodal column plumbing: media payloads ride as opaque `binary`
  * columns with typed metadata; decode / feature-extraction runs
  * batch-wise inside `mapPartitions` (the JVM twin of a Pandas
  * `mapInPandas` UDF: one iterator in, one iterator out, vectorizable
  * batch shape).
  *
  * The decode step is a clearly-marked deterministic STUB — no image or
  * audio codecs exist in this environment — but everything Spark-level
  * is real and tested: the schema, the binary column, the partition-wise
  * batch processing, and the downstream aggregation over extracted
  * features.
  */
object Multimodal {

  /** One media record: opaque payload + typed metadata. */
  case class MediaRecord(
      media_id: Long,
      media_type: String,
      payload: Array[Byte],
      width: Int,
      height: Int)

  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Int,
      // 16-bin byte histogram, L1-normalized — the stubbed "embedding"
      features: Array[Float])

  /** Synthesize a deterministic media corpus from the documents table:
    * the text bytes play the role of an encoded image. At 100 TB the
    * payloads would come from a binary-file datasource
    * (`spark.read.format("binaryFile")`) with identical downstream code.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Sources.table(spark, dir, "documents")
      .select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"))
      .as[MediaRecord]
  }

  /** Ensure the per-SF media directory for `dir` exists: every 10th
    * document's text bytes become `media_<doc_id>.bin` (one opaque file
    * per sampled document — the on-disk shape a real media corpus has
    * in an object store). The files are written by the EXECUTORS
    * (`foreachPartition`, exactly how a real cluster job would stage
    * media into a shared store) — never collected to the driver.
    * Content is a pure function of the documents table, guarded by
    * [[DerivedCache]]: a regeneration clears and restages.
    */
  def ensureMediaFiles(spark: SparkSession, dir: String): String =
    DerivedCache.ensure(Scratch.cache("media", dir), dir,
        Seq("documents")) { out =>
      import java.nio.file.{Files, Paths}
      // a stale rebuild must CLEAR the directory first: leftover
      // media_<id>.bin files from the old fixture would survive the
      // overwrite (ids change) and leak into the binaryFile glob
      graft.io.Publish.deleteTree(out)
      Files.createDirectories(Paths.get(out))
      Sources.table(spark, dir, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .foreachPartition { rows: java.util.Iterator[org.apache.spark.sql.Row] =>
          rows.forEachRemaining { row =>
            Files.write(
              Paths.get(s"$out/media_${row.getLong(0)}.bin"),
              row.getAs[Array[Byte]](1))
          }
        }
    }

  /** The scale path: payloads read through the `binaryFile` datasource
    * (path/length/content columns straight off the store — the same
    * reader that serves a 100 TB image corpus), metadata joined from
    * the documents table by the id parsed out of the filename.
    */
  def mediaFromBinaryFiles(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    val path = ensureMediaFiles(spark, dir)
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(path)
      .select(
        regexp_extract(col("path"), "media_(\\d+)\\.bin$", 1)
          .cast("long").as("media_id"),
        col("content").as("payload"))
    val meta = Sources.table(spark, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
      .select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"))
    bin.join(meta, Seq("media_id"))
      .select(col("media_id"), col("media_type"), col("payload"),
        col("width"), col("height"))
      .as[MediaRecord]
  }

  /** STUB decode: a real pipeline would decode JPEG/PCM/frames here
    * (per-partition, so codec state is initialized once per partition,
    * not once per row). The stub extracts a 16-bin byte histogram —
    * deterministic, so tests can golden-check the plumbing.
    */
  private def decodeStub(payload: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < payload.length) {
      hist((payload(i) & 0xff) >> 4) += 1f
      i += 1
    }
    val n = math.max(payload.length, 1).toFloat
    hist.map(_ / n)
  }

  /** Partition-wise feature extraction — mapPartitions so per-partition
    * setup (codec init, model load) amortizes across the batch, exactly
    * like a Pandas UDF's batch shape.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition init would go here (codec / model handles)
      it.map { m =>
        MediaFeatures(m.media_id, m.media_type, m.payload.length, decodeStub(m.payload))
      }
    }
  }

  /** End-to-end media profile: binaryFile datasource -> mapPartitions
    * feature extraction -> aggregate — ORACLED, stub and all. The
    * oracle reproduces the byte histogram from the blob itself: a
    * byte's high nibble is the odd-position hex digit of `hex(blob)`,
    * so bin-7 counts are substring matches — no codec, no UDF, valid
    * for arbitrary bytes. The float-normalized feature the stub emits
    * round-trips exactly back to the integer count (count <= n_bytes
    * <= a few KB, and float's 2^-24 relative error stays far below the
    * 0.5 rounding margin), which pins the WHOLE pipeline — staged .bin
    * files, binaryFile reader, metadata join, mapPartitions batch,
    * normalization — to a DuckDB-checkable integer.
    */
  val m02 = OpQuery.oracled("m02_media_feature_profile",
    """WITH med AS (
      |  SELECT doc_id AS media_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS media_type,
      |         text::BLOB AS payload
      |  FROM read_parquet('{SFDIR}/documents.parquet') WHERE doc_id % 10 = 0
      |), h AS (
      |  SELECT media_id, media_type, octet_length(payload) AS n_bytes,
      |         hex(payload) AS hx
      |  FROM med
      |), b AS (
      |  SELECT media_id, media_type, n_bytes,
      |         len(list_filter(generate_series(1, n_bytes),
      |             i -> substr(hx, 2 * i - 1, 1) = '7')) AS bin7
      |  FROM h
      |)
      |SELECT media_type, CAST(count(*) AS BIGINT) AS n_media,
      |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |       CAST(sum(bin7) AS BIGINT) AS total_bin7
      |FROM b GROUP BY 1
      |ORDER BY media_type""".stripMargin,
    doc = "multimodal plumbing: binaryFile source -> mapPartitions feature extraction -> aggregate (oracled via hex-nibble histogram)") { (spark, dir) =>
    import spark.implicits._
    val feats = extractFeatures(mediaFromBinaryFiles(spark, dir))
    feats.toDF()
      .groupBy("media_type")
      .agg(
        count(lit(1)).cast("bigint").as("n_media"),
        sum(col("n_bytes")).cast("bigint").as("total_bytes"),
        // features[7] (1-based element 8) is the L1-normalized bin-7
        // weight; * n_bytes recovers the exact integer count
        sum(round(element_at(col("features"), 8) * col("n_bytes")))
          .cast("bigint").as("total_bin7"))
      .orderBy("media_type")
  }.copy(prepare = (spark, dir) => { ensureMediaFiles(spark, dir); () })

  /** Binary column metadata — the SQL-visible half of the multimodal
    * surface (octet length + content hash), oracle-checked.
    */
  val m01 = OpQuery.oracled("m01_binary_payload_meta",
    """SELECT doc_id,
      |       CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
      |       sha256(text) AS content_sha,
      |       substr(md5(text), 1, 16) AS content_key
      |FROM read_parquet('{SFDIR}/documents.parquet')
      |ORDER BY doc_id""".stripMargin,
    doc = "opaque binary payload metadata (length + content hash)") { (spark, dir) =>
    Sources.table(spark, dir, "documents")
      .select(
        col("doc_id"),
        octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
        sha2(col("text"), 256).as("content_sha"),
        substring(md5(col("text")), 1, 16).as("content_key"))
      .orderBy("doc_id")
  }

  /** Media near-duplicate pairs over the extracted features — the
    * perceptual-hash dedup a real image pipeline runs, on the stub's
    * 16-bin histogram standing in for the pHash. Blocking key =
    * (dominant bin, size band): candidate pairs form only inside a
    * block (the LSH trade — cross-band near-dups are missed, same
    * contract as d04/s02), then the exact integer L1 distance over all
    * 16 bins verifies, keeping pairs with L1 <= 2.5% of the combined
    * byte count (40 * L1 <= bytes_a + bytes_b). Counts are recovered exactly from the float features
    * (m02's round-trip argument), so the oracle — which re-derives the
    * histograms from hex nibbles of the blob, never seeing the stub —
    * hash-matches the distances.
    */
  val m03 = OpQuery.oracled("m03_media_near_dup_pairs", {
    // DuckDB's hex() emits UPPERCASE digits — a lowercase 'a'..'f' here
    // would silently zero bins 10-15 for any non-ASCII byte (latent on
    // this all-ASCII fixture, fatal on a real corpus)
    val bins = (0 until 16).map(d =>
      s"len(list_filter(generate_series(1, n_bytes), i -> substr(hx, 2*i-1, 1) = '${d.toHexString.toUpperCase}')) AS c$d")
      .mkString(",\n      |         ")
    s"""WITH med AS (
      |  SELECT doc_id AS media_id, text::BLOB AS payload
      |  FROM read_parquet('{SFDIR}/documents.parquet') WHERE doc_id % 10 = 0
      |), h AS (
      |  SELECT media_id, octet_length(payload) AS n_bytes, hex(payload) AS hx FROM med
      |), c AS (
      |  SELECT media_id, n_bytes,
      |         $bins
      |  FROM h
      |), sig AS (
      |  SELECT media_id, n_bytes,
      |         list_value(${(0 until 16).map("c" + _).mkString(", ")}) AS cs
      |  FROM c
      |), key AS (
      |  SELECT media_id, n_bytes, cs,
      |         list_position(cs, list_max(cs)) AS amax, n_bytes // 64 AS szb
      |  FROM sig
      |)
      |SELECT a.media_id AS media_a, b.media_id AS media_b,
      |       CAST(list_sum(list_transform(generate_series(1, 16),
      |            i -> abs(a.cs[i] - b.cs[i]))) AS BIGINT) AS l1_dist
      |FROM key a JOIN key b
      |  ON a.amax = b.amax AND a.szb = b.szb AND a.media_id < b.media_id
      |WHERE 40 * list_sum(list_transform(generate_series(1, 16),
      |            i -> abs(a.cs[i] - b.cs[i]))) <= a.n_bytes + b.n_bytes
      |ORDER BY media_a, media_b""".stripMargin
  },
    doc = "media near-dup pairs: (dominant-bin, size-band) blocking + exact integer L1 verify over the stub features")
  { (spark, dir) =>
    val sig = extractFeatures(mediaFromBinaryFiles(spark, dir)).toDF()
      .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
        expr("""transform(sequence(1, 16),
          |  i -> CAST(round(element_at(features, i) * n_bytes) AS BIGINT))""".stripMargin)
          .as("cs"))
      .withColumn("amax", array_position(col("cs"), array_max(col("cs"))))
      .withColumn("szb", expr("n_bytes div 64"))
      .persist()
    val a = sig.select(col("media_id").as("media_a"), col("n_bytes").as("na"),
      col("cs").as("acs"), col("amax"), col("szb"))
    val b = sig.select(col("media_id").as("media_b"), col("n_bytes").as("nb"),
      col("cs").as("bcs"), col("amax").as("bmax"), col("szb").as("bszb"))
    a.join(b, col("amax") === col("bmax") && col("szb") === col("bszb") &&
        col("media_a") < col("media_b"))
      // codegen'd exact L1 (expr/VectorExprs.LongL1Expr) — value-identical
      // to the interpreted fold `aggregate(zip_with(acs, bcs, (x, y) ->
      // abs(x - y)), 0L, (acc, v) -> acc + v)`; the HOF form runs
      // interpreted per candidate pair (the s21 long_dot precedent)
      .withColumn("l1_dist",
        graft.expr.VectorExprs.long_l1(col("acs"), col("bcs")))
      .filter(lit(40) * col("l1_dist") <= col("na") + col("nb"))
      .select(col("media_a"), col("media_b"),
        col("l1_dist").cast("bigint").as("l1_dist"))
      .orderBy("media_a", "media_b")
  }.copy(prepare = (spark, dir) => { ensureMediaFiles(spark, dir); () })

  /** Frame-sampling plan for the video payloads: given per-media
    * duration metadata (40 ms/frame, i.e. 25 fps), emit the decode
    * schedule — one frame per second plus its frame index — WITHOUT
    * touching payload bytes. This is the half of video ingestion that
    * is genuinely Spark's job at 100 TB: the schedule is a zero-shuffle
    * map + generator stage (sequence/explode), partitioned exactly like
    * the media table, and each row then drives one bounded decode task
    * downstream (the decode itself being the m02-style stubbed batch
    * step). Billions of frames never materialize anywhere except as
    * this lazily-generated plan.
    */
  val m04 = OpQuery.oracled("m04_frame_sample_plan",
    """SELECT media_id, ts_ms, ts_ms // 40 AS frame_idx,
      |       CAST(n_frames AS BIGINT) AS n_frames
      |FROM (
      |  SELECT doc_id AS media_id,
      |         unnest(generate_series(0, n_chars * 40 - 1, 1000)) AS ts_ms,
      |         n_chars AS n_frames
      |  FROM read_parquet('{SFDIR}/documents.parquet')
      |  WHERE doc_id % 3 = 2
      |)
      |ORDER BY media_id, ts_ms""".stripMargin,
    doc = "video decode schedule: 1 fps sample timestamps + frame indices from duration metadata (zero-shuffle generator stage)") { (spark, dir) =>
    Sources.table(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2) // the "video" stripe of the corpus
      .select(col("doc_id").as("media_id"),
        (col("n_chars") * 40L).as("duration_ms"),
        col("n_chars").as("n_frames"))
      .select(col("media_id"),
        explode(expr("sequence(0L, duration_ms - 1, 1000L)")).as("ts_ms"),
        col("n_frames"))
      .select(col("media_id"), col("ts_ms"),
        expr("ts_ms DIV 40").as("frame_idx"),
        col("n_frames").cast("bigint").as("n_frames"))
      .orderBy("media_id", "ts_ms")
  }

  /** Corpus modality mix: per media type, item count, byte volume and
    * exact payload-size percentiles — the composition report a
    * multimodal training set is balanced against (time and storage
    * budgets are byte-driven, not row-driven). One partial-agg shuffle
    * on the (tiny) modality key; sizes are exact integers so the
    * percentiles reproduce across engines.
    */
  val m05 = OpQuery.oracled("m05_modality_mix",
    """WITH m AS (
      |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS media_type,
      |         CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes
      |  FROM read_parquet('{SFDIR}/documents.parquet')
      |)
      |SELECT media_type,
      |       count(*) AS n_items,
      |       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |       CAST(quantile_cont(n_bytes, 0.5) AS DOUBLE) AS median_bytes,
      |       CAST(quantile_cont(n_bytes, 0.9) AS DOUBLE) AS p90_bytes
      |FROM m GROUP BY 1 ORDER BY media_type""".stripMargin,
    doc = "modality mix report (per-type counts, byte volume, exact size percentiles)") { (spark, dir) =>
    Sources.table(spark, dir, "documents")
      .select(
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        octet_length(encode(col("text"), "UTF-8")).cast("bigint").as("n_bytes"))
      .groupBy("media_type")
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_bytes")).cast("bigint").as("total_bytes"),
        percentile(col("n_bytes"), lit(0.5)).cast("double").as("median_bytes"),
        percentile(col("n_bytes"), lit(0.9)).cast("double").as("p90_bytes"))
      .orderBy("media_type")
  }

  /** Byte-budget admission per modality — t26's token-budget mixture
    * draw transposed to multimodal assembly, where recipes say "N GB of
    * video", not "N rows": admit each modality's items in deterministic
    * doc_id order while the running byte total stays within budget. One
    * running-sum window per media type; the modality key is the unit of
    * parallelism and nothing else shuffles.
    */
  val m06 = OpQuery.oracled("m06_byte_budget_mixture",
    """WITH m AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS media_type,
      |         CAST(octet_length(text::BLOB) AS BIGINT) AS n_bytes
      |  FROM read_parquet('{SFDIR}/documents.parquet')
      |), c AS (
      |  SELECT media_type, doc_id, n_bytes,
      |         CAST(sum(n_bytes) OVER (PARTITION BY media_type ORDER BY doc_id) AS BIGINT) AS cum_bytes
      |  FROM m
      |)
      |SELECT media_type, doc_id, n_bytes, cum_bytes
      |FROM c WHERE cum_bytes <= 20000
      |ORDER BY media_type, doc_id""".stripMargin,
    doc = "per-modality byte-budget admission (two-phase prefix sum; the 'N GB of video' mixture draw)") { (spark, dir) =>
    val typed = Sources.table(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"),
        octet_length(encode(col("text"), "UTF-8")).cast("bigint").as("n_bytes"))
    // t26's rule transposed to bytes — same admission operator, so the
    // same two-phase prefix sum (3 media types would otherwise cap
    // parallelism at 3)
    graft.api.Corpus.tokenBudget(typed, group = "media_type",
        order = "doc_id", nTokens = "n_bytes", budget = 20000L)
      .withColumnRenamed("cum_tokens", "cum_bytes")
      .select("media_type", "doc_id", "n_bytes", "cum_bytes")
      .orderBy("media_type", "doc_id")
  }

  /** Media near-dup component histogram — m03's verified pairs fed to
    * the shared transitive-closure kernel ([[graft.api.Graph.components]]),
    * the cross-family composition: blocking+verify finds PAIRS, but the
    * dedup decision (keep one per group) needs COMPONENTS, whatever the
    * payload modality. The oracle stacks the recursive-CTE closure on
    * top of m03's own oracle text, so the whole chain — stub features,
    * blocking, L1 verify, closure, histogram — is hash-checked end to
    * end (the p01 splicing pattern).
    */
  val m07 = OpQuery.oracled("m07_media_dup_components", {
    s"""WITH RECURSIVE mpairs AS (
      |  SELECT media_a, media_b FROM (
      |${m03.oracle.get}
      |  )
      |), edges AS (
      |  SELECT media_a AS u, media_b AS v FROM mpairs
      |  UNION ALL
      |  SELECT media_b AS u, media_a AS v FROM mpairs
      |), reach AS (
      |  SELECT u, u AS l FROM (SELECT DISTINCT u FROM edges)
      |  UNION
      |  SELECT e.u, r.l FROM edges e JOIN reach r ON r.u = e.v
      |), lab AS (
      |  SELECT u AS node, min(l) AS comp FROM reach GROUP BY 1
      |), comps AS (
      |  SELECT comp, count(*) AS comp_size FROM lab GROUP BY 1
      |)
      |SELECT CAST(comp_size AS BIGINT) AS comp_size,
      |       count(*) AS n_components
      |FROM comps GROUP BY 1
      |ORDER BY comp_size""".stripMargin
  },
    doc = "media near-dup component histogram (m03 pairs through the shared transitive-closure kernel)") { (spark, dir) =>
    graft.api.Graph.components(
        m03.fn(spark, dir)
          .select(col("media_a").as("pa"), col("media_b").as("pb")))
      .select("cluster_id", "cluster_size").distinct()
      .groupBy(col("cluster_size").as("comp_size"))
      .agg(count(lit(1)).as("n_components"))
      .orderBy("comp_size")
  }

  /** Cross-video clip detection: which video PAIRS share sampled-frame
    * signatures — the scene-level overlap question (reaction clips,
    * re-uploads, shared intros) that whole-media near-dup (m03) cannot
    * see, because two videos sharing a 10-second clip are nowhere near
    * duplicates overall. Pipeline: m04's 1-fps decode schedule → a
    * per-frame signature (the decode+perceptual-hash step, stubbed
    * deterministically as an md5-hex slice of the payload — ASCII by
    * construction, so substring semantics agree across engines) → the
    * per-video DISTINCT signature set (collapses still scenes — and
    * bounds every downstream row count by the signature alphabet, not
    * the frame count) → signature-equality self-join (the blocking
    * key is the signature itself: exact-match blocking at frame
    * granularity, the d02 idea applied per-frame) → per-pair shared
    * count, thresholded. The signature alphabet is deliberately
    * coarse (256 values) so the key distribution is uniform-bounded
    * and no single signature bucket skews the shuffle — the flip side
    * is that the 256-value space SATURATES as the corpus grows, so
    * the |videos|²/256 pair-candidate count per signature grows
    * quadratically with data (Bench excludes m08/m10 from the big
    * curve rung for exactly this). A deployment widens the signature
    * to 64 bits, keeping blocks bounded; the plan shape is identical
    * at any signature width.
    */
  val m08 = OpQuery.oracled("m08_shared_clip_pairs",
    """WITH frames AS (
      |  SELECT doc_id AS media_id,
      |         unnest(generate_series(0, n_chars * 40 - 1, 1000)) // 40
      |           AS frame_idx,
      |         md5(text) AS h
      |  FROM read_parquet('{SFDIR}/documents.parquet')
      |  WHERE doc_id % 3 = 2
      |), sigs AS (
      |  SELECT DISTINCT media_id,
      |         substr(h, (frame_idx % 28) + 1, 2) AS sig
      |  FROM frames
      |)
      |SELECT a.media_id AS media_a, b.media_id AS media_b,
      |       CAST(count(*) AS BIGINT) AS n_shared
      |FROM sigs a JOIN sigs b
      |  ON a.sig = b.sig AND a.media_id < b.media_id
      |GROUP BY 1, 2
      |HAVING count(*) >= 5
      |ORDER BY n_shared DESC, media_a, media_b""".stripMargin,
    doc = "cross-video clip detection: per-frame signature sets, exact-match frame blocking, thresholded shared-signature pair counts") { (spark, dir) =>
    val sigs = Sources.table(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"),
        (col("n_chars") * 40L).as("duration_ms"), md5(col("text")).as("h"))
      .select(col("media_id"), col("h"),
        explode(expr("sequence(0L, duration_ms - 1, 1000L)")).as("ts_ms"))
      .select(col("media_id"),
        col("h").substr(lit(1) + (expr("ts_ms DIV 40") % 28).cast("int"),
          lit(2)).as("sig"))
      .distinct()
    sigs.as("a")
      .join(sigs.as("b"),
        col("a.sig") === col("b.sig") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("media_a"),
        col("b.media_id").as("media_b"))
      .agg(count(lit(1)).cast("bigint").as("n_shared"))
      .filter(col("n_shared") >= 5)
      .orderBy(col("n_shared").desc, col("media_a"), col("media_b"))
  }

  /** Clip ALIGNMENT by offset voting — m08 finds that two videos share
    * material; this estimates WHERE: every matching frame-signature
    * pair casts a vote for its time offset (ts_a - ts_b), and the
    * modal offset with its support is the alignment hypothesis (the
    * standard audio/video fingerprint-alignment step — Shazam-style
    * histogram voting, public technique). A genuine shared clip
    * concentrates votes on one offset; coincidental signature
    * collisions scatter. Same 256-value bounded signature alphabet as
    * m08 (the blocking bound at scale), votes are exact integer
    * (pair, offset) counts, and the winning offset per pair goes
    * through the bounded-heap GroupTopK operator (ties break to the
    * smallest offset) — never a per-pair full sort. Pairs must have
    * support >= 2 frames at the winning offset (this synthetic corpus
    * has no genuinely copied clips, so the query surfaces the
    * coincidence floor — on real video the histogram peak towers over
    * it).
    */
  val m10 = OpQuery.oracled("m10_clip_alignment",
    """WITH frames AS (
      |  SELECT doc_id AS media_id, ts_ms,
      |         substr(md5(text), ((ts_ms // 40) % 28) + 1, 2) AS sig
      |  FROM (
      |    SELECT doc_id, text,
      |           unnest(generate_series(0, n_chars * 40 - 1, 1000)) AS ts_ms
      |    FROM read_parquet('{SFDIR}/documents.parquet')
      |    WHERE doc_id % 3 = 2)
      |), votes AS (
      |  SELECT a.media_id AS media_a, b.media_id AS media_b,
      |         a.ts_ms - b.ts_ms AS offset_ms,
      |         CAST(count(*) AS BIGINT) AS support
      |  FROM frames a JOIN frames b
      |    ON a.sig = b.sig AND a.media_id < b.media_id
      |  GROUP BY 1, 2, 3
      |), best AS (
      |  SELECT media_a, media_b, offset_ms, support,
      |         row_number() OVER (PARTITION BY media_a, media_b
      |                            ORDER BY support DESC, offset_ms ASC) AS rk
      |  FROM votes
      |)
      |SELECT media_a, media_b, CAST(offset_ms AS BIGINT) AS offset_ms,
      |       support
      |FROM best WHERE rk = 1 AND support >= 2
      |ORDER BY media_a, media_b""".stripMargin,
    doc = "clip alignment by offset voting (Shazam-style histogram over matching frame signatures; modal offset per pair via GroupTopK)") { (spark, dir) =>
    val frames = Sources.table(spark, dir, "documents")
      .filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id"),
        (col("n_chars") * 40L).as("duration_ms"), md5(col("text")).as("h"))
      .select(col("media_id"), col("h"),
        explode(expr("sequence(0L, duration_ms - 1, 1000L)")).as("ts_ms"))
      .select(col("media_id"), col("ts_ms"),
        col("h").substr(lit(1) + (expr("ts_ms DIV 40") % 28).cast("int"),
          lit(2)).as("sig"))
    val votes = frames.as("a")
      .join(frames.as("b"),
        col("a.sig") === col("b.sig") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("media_a"),
        col("b.media_id").as("media_b"),
        (col("a.ts_ms") - col("b.ts_ms")).as("offset_ms"))
      .agg(count(lit(1)).cast("bigint").as("support"))
    graft.api.Windows.topKPerGroup(votes,
        group = Seq("media_a", "media_b"),
        order = Seq(("support", true), ("offset_ms", false)),
        k = 1)
      .filter(col("support") >= 2)
      .select(col("media_a"), col("media_b"),
        col("offset_ms").cast("bigint").as("offset_ms"), col("support"))
      .orderBy("media_a", "media_b")
  }

  /** Modality-interleaved training batches: each batch of 6 draws 2
    * image, 2 audio, 2 video rows (in doc_id order per modality) while
    * all three modalities last — the batch composer a multimodal
    * trainer actually consumes, complementing m05 (what's the mix) and
    * m06 (how much fits the budget) with WHICH ROWS SIT TOGETHER. The
    * oracle is the canonical single-window row_number form; the engine
    * runs [[graft.api.Corpus.interleaveBatches]]' two-phase ordinals
    * (no one-task-per-modality sort), and hash-parity proves the
    * decomposition slot-identical.
    */
  val m09 = OpQuery.oracled("m09_interleaved_batches",
    """WITH m AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS media_type
      |  FROM read_parquet('{SFDIR}/documents.parquet')
      |), o AS (
      |  SELECT doc_id, media_type,
      |         row_number() OVER (PARTITION BY media_type ORDER BY doc_id) - 1 AS ord
      |  FROM m
      |), g AS (
      |  SELECT media_type,
      |         row_number() OVER (ORDER BY media_type) - 1 AS gidx,
      |         (SELECT count(DISTINCT media_type) FROM m) AS ng
      |  FROM (SELECT DISTINCT media_type FROM m)
      |)
      |SELECT o.media_type, o.doc_id,
      |       CAST((o.ord * g.ng + g.gidx) // 6 AS BIGINT) AS batch_id,
      |       CAST((o.ord * g.ng + g.gidx) % 6 AS BIGINT) AS pos
      |FROM o JOIN g USING (media_type)
      |ORDER BY batch_id, pos""".stripMargin,
    doc = "round-robin modality-interleaved batch composer (2 of each modality per batch of 6; two-phase ordinals vs single-window oracle)") { (spark, dir) =>
    val typed = Sources.table(spark, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("media_type"))
    graft.api.Corpus.interleaveBatches(typed, group = "media_type",
        order = "doc_id", batchSize = 6)
      .select("media_type", "doc_id", "batch_id", "pos")
      .orderBy("batch_id", "pos")
  }

  /** Content-addressed chunk-level dedup — the storage-layer dedup a
    * 100 TB media lake runs BELOW whole-file identity (m03's level):
    * every payload splits into fixed 64-byte chunks, each chunk is
    * addressed by its md5, and storage cost is counted once per
    * distinct chunk. Reports, per modality: chunk counts, distinct
    * chunk counts, logical vs stored bytes, and the dedup ratio (the
    * fraction of chunk writes a content-addressed store would elide).
    *
    * The engine slices the BINARY payload (`substring` on binary +
    * `md5`, both codegen'd builtins); the oracle slices the documents
    * TEXT the payloads are encoded from — byte-identical because the
    * corpus is pure ASCII (asserted when this landed: octet_length ==
    * length for every document; a non-ASCII corpus would need the
    * oracle to chunk a BLOB, which DuckDB's substring does not take).
    *
    * Scale shape: one explode bounded by payload_bytes/64 per record
    * (linear in corpus bytes), one (type, hash) aggregation — chunk
    * hashes shard uniformly so the shuffle has no hot keys by
    * construction; nothing driver-side.
    */
  val m11 = OpQuery.oracled("m11_chunk_dedup",
    """WITH m AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio'
      |              ELSE 'video' END AS media_type,
      |         text
      |  FROM read_parquet('{SFDIR}/documents.parquet')
      |), ch AS (
      |  SELECT m.media_type,
      |         md5(substring(m.text, u.s, 64)) AS h,
      |         length(substring(m.text, u.s, 64)) AS len
      |  FROM m, unnest(range(1, length(m.text)::BIGINT + 1, 64)) u(s)
      |), per_chunk AS (
      |  SELECT media_type, h, count(*) AS n, max(len) AS len
      |  FROM ch GROUP BY 1, 2
      |), media_counts AS (
      |  SELECT media_type, count(*) AS n_media FROM m GROUP BY 1
      |)
      |SELECT p.media_type, mc.n_media,
      |       CAST(sum(p.n) AS BIGINT) AS n_chunks,
      |       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
      |       CAST(sum(p.n * p.len) AS BIGINT) AS logical_bytes,
      |       CAST(sum(p.len) AS BIGINT) AS stored_bytes,
      |       CAST(sum(p.n) - count(*) AS DOUBLE) / sum(p.n) AS dedup_ratio
      |FROM per_chunk p JOIN media_counts mc USING (media_type)
      |GROUP BY 1, 2
      |ORDER BY media_type""".stripMargin,
    doc = "content-addressed 64-byte-chunk dedup over binary payloads: per-modality chunk counts, logical vs stored bytes, dedup ratio") { (spark, dir) =>
    chunkDedupStats(mediaFromDocuments(spark, dir).toDF())
      .orderBy("media_type")
  }

  /** m11's kernel over any (media_type, payload[binary]) frame —
    * shared with MultimodalSpec's hand-built duplicate-chunk corpus.
    */
  /** Fixed-size content-addressed chunking of a binary `payload`
    * column: one row per chunk with its md5 address and byte length,
    * all other columns carried through. Shared by m11's stats and the
    * streaming chunk-store sink ([[graft.stream.Pipelines.chunkStoreSink]]).
    */
  private[graft] def payloadChunks(media: DataFrame, chunkBytes: Int): DataFrame =
    media
      // a zero-length payload has no chunks: filter it out BEFORE the
      // sequence — Spark's sequence(1, 0, k) throws on the illegal
      // bounds, whereas the oracle's range(1, length+1, k) silently
      // yields nothing; the guard aligns the engine with the oracle
      // and keeps empty payloads from crashing chunkStoreSink batches
      .filter(octet_length(col("payload")) > 0)
      .withColumn("s",
        explode(sequence(lit(1), octet_length(col("payload")), lit(chunkBytes))))
      .withColumn("h", md5(expr(s"substring(payload, s, $chunkBytes)")))
      .withColumn("len", octet_length(expr(s"substring(payload, s, $chunkBytes)")))
      .drop("s", "payload")

  private[graft] def chunkDedupStats(media: DataFrame, chunkBytes: Int = 64): DataFrame = {
    val chunks = payloadChunks(media, chunkBytes)
      .select("media_type", "h", "len")
    val perChunk = chunks.groupBy("media_type", "h")
      .agg(count(lit(1)).as("n"), max(col("len")).as("len"))
    val mediaCounts = media.groupBy("media_type")
      .agg(count(lit(1)).as("n_media"))
    perChunk.groupBy("media_type")
      .agg(
        sum(col("n")).cast("bigint").as("n_chunks"),
        count(lit(1)).cast("bigint").as("n_distinct_chunks"),
        sum(col("n") * col("len")).cast("bigint").as("logical_bytes"),
        sum(col("len")).cast("bigint").as("stored_bytes"),
        ((sum(col("n")) - count(lit(1))).cast("double") / sum(col("n")))
          .as("dedup_ratio"))
      .join(broadcast(mediaCounts), "media_type")
      .select(col("media_type"), col("n_media"), col("n_chunks"),
        col("n_distinct_chunks"), col("logical_bytes"), col("stored_bytes"),
        col("dedup_ratio"))
  }

  /** Mark-and-sweep GARBAGE COLLECTION report for the content-addressed
    * chunk store — the operational completion of m11/qs13: once a
    * retention purge deletes payloads (here `media_id % 7 = 0`, the
    * stand-in for an expired-consent sweep), chunks referenced by NO
    * surviving payload are reclaimable. MARK is one distinct over the
    * surviving payloads' chunk refs (a shuffle on the content hash);
    * SWEEP is one anti-join of the store against the live set — no
    * pairwise work anywhere, so the pass scales with chunk count, not
    * payload pairs. Reports store/live/garbage chunk counts, exact
    * reclaimable bytes, and the garbage ratio. On a real lake this is
    * the compaction planner's input; the anti-join output IS the
    * delete manifest.
    */
  val m12 = OpQuery.oracled("m12_chunk_store_gc",
    """WITH m AS (
      |  SELECT doc_id, text FROM read_parquet('{SFDIR}/documents.parquet')
      |), ch AS (
      |  SELECT m.doc_id,
      |         md5(substring(m.text, u.s, 64)) AS h,
      |         length(substring(m.text, u.s, 64)) AS len
      |  FROM m, unnest(range(1, length(m.text)::BIGINT + 1, 64)) u(s)
      |), store AS (
      |  SELECT h, max(len) AS len FROM ch GROUP BY 1
      |), live AS (
      |  SELECT DISTINCT h FROM ch WHERE doc_id % 7 <> 0
      |), garbage AS (
      |  SELECT s.h, s.len FROM store s
      |  LEFT JOIN live l ON l.h = s.h WHERE l.h IS NULL
      |)
      |SELECT CAST((SELECT count(*) FROM store) AS BIGINT) AS n_store,
      |       CAST((SELECT count(*) FROM live) AS BIGINT) AS n_live,
      |       CAST(count(*) AS BIGINT) AS n_garbage,
      |       CAST(coalesce(sum(len), 0) AS BIGINT) AS bytes_reclaimable,
      |       CAST(count(*) AS DOUBLE)
      |         / (SELECT count(*) FROM store) AS garbage_ratio
      |FROM garbage""".stripMargin,
    doc = "chunk-store mark-and-sweep GC: distinct live refs of the " +
      "surviving payloads anti-joined against the store (exact " +
      "reclaimable bytes; one mirrored division)") { (spark, dir) =>
    val chunks = payloadChunks(
      mediaFromDocuments(spark, dir).toDF()
        .select(col("media_id").as("doc_id"), col("payload")), 64)
    val store = chunks.groupBy("h").agg(max("len").as("len"))
    val live = chunks.filter(col("doc_id") % 7 =!= 0)
      .select("h").distinct()
    val garbage = store.join(live, Seq("h"), "left_anti")
    val g = garbage.agg(count(lit(1)).as("n_garbage"),
      coalesce(sum("len"), lit(0L)).cast("bigint").as("bytes_reclaimable"))
    val s = store.agg(count(lit(1)).as("n_store"))
    val l = live.agg(count(lit(1)).as("n_live"))
    s.crossJoin(broadcast(l)).crossJoin(broadcast(g))
      .select(col("n_store"), col("n_live"), col("n_garbage"),
        col("bytes_reclaimable"),
        (col("n_garbage").cast("double") / col("n_store"))
          .as("garbage_ratio"))
  }

  /** CROSS-MODAL DEDUP POLICY — the decision table a multimodal corpus
    * needs when the media leg (m03: byte-histogram L1 near-dup, order-
    * insensitive) and the caption leg (d04: shingle-Jaccard near-dup,
    * order-sensitive) DISAGREE about a pair: both dup → a true
    * duplicate record (`drop_dup`); media dup with distinct captions →
    * keep one media, merge captions (`recaption`); caption dup with
    * distinct media → the caption is boilerplate or the media was
    * re-encoded (`reencode`). The caption leg is d04's verified pairs
    * restricted to the media-sampled stripe (media_id = doc_id), so
    * the two legs align on the same identity space. Emitted pair-grain
    * with both flags as data — policy counts are one aggregate away,
    * and the oracle re-proves the classification on every pair.
    *
    * Scale shape: both pair sets are blocked, never all-pairs; the
    * policy join is pair-grain (full outer on the two bounded lists).
    */
  val m13 = OpQuery.oracled("m13_crossmodal_dedup_policy", {
    s"""WITH m AS (
      |${m03.oracle.get}
      |), c0 AS (
      |${graft.ops.DedupOps.d04.oracle.get}
      |), c AS (
      |  SELECT doc_a, doc_b FROM c0
      |  WHERE doc_a % 10 = 0 AND doc_b % 10 = 0
      |)
      |SELECT coalesce(m.media_a, c.doc_a) AS id_a,
      |       coalesce(m.media_b, c.doc_b) AS id_b,
      |       CAST(CASE WHEN m.media_a IS NOT NULL THEN 1 ELSE 0 END AS INT)
      |         AS media_dup,
      |       CAST(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS INT)
      |         AS caption_dup,
      |       CASE WHEN m.media_a IS NOT NULL AND c.doc_a IS NOT NULL
      |              THEN 'drop_dup'
      |            WHEN m.media_a IS NOT NULL THEN 'recaption'
      |            ELSE 'reencode' END AS policy
      |FROM m FULL JOIN c ON c.doc_a = m.media_a AND c.doc_b = m.media_b
      |ORDER BY id_a, id_b""".stripMargin
  },
    doc = "cross-modal dedup policy: m03's media near-dup pairs full-outer-joined with d04's caption near-dup pairs on the shared identity stripe — drop_dup / recaption / reencode classification emitted per pair") { (spark, dir) =>
    val media = m03.fn(spark, dir)
      .select(col("media_a"), col("media_b")).withColumn("mdup", lit(1))
    val caps = graft.ops.DedupOps.d04.fn(spark, dir)
      .filter(col("doc_a") % 10 === 0 && col("doc_b") % 10 === 0)
      .select(col("doc_a"), col("doc_b")).withColumn("cdup", lit(1))
    media.join(caps,
        col("doc_a") === col("media_a") && col("doc_b") === col("media_b"),
        "full_outer")
      .select(
        coalesce(col("media_a"), col("doc_a")).as("id_a"),
        coalesce(col("media_b"), col("doc_b")).as("id_b"),
        coalesce(col("mdup"), lit(0)).cast("int").as("media_dup"),
        coalesce(col("cdup"), lit(0)).cast("int").as("caption_dup"),
        when(col("mdup").isNotNull && col("cdup").isNotNull, "drop_dup")
          .when(col("mdup").isNotNull, "recaption")
          .otherwise("reencode").as("policy"))
      .orderBy("id_a", "id_b")
  }

  val all: Seq[OpQuery] = Seq(m01, m02, m03, m04, m05, m06, m07, m08, m09,
    m10, m11, m12,
    m13.copy(prepare = (s, d) => {
      ensureMediaFiles(s, d)
      graft.ops.DedupOps.ensureNearDupPairs(s, d)
      ()
    }))
}
