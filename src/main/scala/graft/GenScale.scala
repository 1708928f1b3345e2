package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic sf1 generator for the third bench-curve rung: scales
  * the sf0.1 fixture 10× by REPLICATION WITH KEY OFFSETS — replica r
  * (0..9) shifts every entity key by r × (max_key + 1), so
  * foreign-key joins stay consistent within each replica and group
  * cardinalities grow 10× while per-group sizes stay fixed (the "more
  * data = more entities" growth model, which is how these tables grow
  * in reality). Offsets are multiples of 10^4-scale table sizes, so
  * every arithmetic sparsifier in the registry (`% 10`, `% 25`,
  * `% 50`, `% 250` classes) keeps its selectivity. Event timestamps
  * get +r µs jitter so replicas don't collide on exact instants.
  *
  * Usage: `runMain graft.GenScale [srcDir] [outDir]` (defaults
  * /root/testdata/sf0.1 → target/sf1). Timing-only data: the
  * correctness oracle never reads it; Bench auto-detects the outDir
  * as the big rung of the cross-SF curve.
  *
  * Content columns are regenerated per replica (documents.text from a
  * 50k-token Zipf vocabulary with planted exact/near duplicates, a
  * dimension rotation for embeddings — see `mutateContent`) so the
  * scaled corpus does not consist of 10 exact twins of every entity
  * AND the text rung has a realistic term-frequency distribution
  * (the base fixture's 31-token vocabulary makes term-join keys
  * viral and caps the retrieval recall dials); `n_chars` is
  * recomputed from the synthesized text.
  *
  * Known bias of the growth model: replication grows ENTITY COUNT at
  * fixed per-entity density, so operators whose cost is super-linear
  * in per-entity structure (wedge censuses, per-order basket
  * expansion) scale LINEARLY on this data — the big rung tests "10×
  * more entities", which is the dominant real growth axis, not "10×
  * denser entities". The sf0.01→sf0.1 rung (driver-generated, both
  * axes grow) keeps covering the density axis.
  *
  * Second known bias, TEXT ONLY: because sf1 text is resynthesized
  * from the 50k Zipf vocabulary while the primary rung keeps the
  * fixture's 31-token vocabulary, cross-rung ratios for the
  * text/dedup family (t27, t36, t37, p07, d06, t38 and friends)
  * measure the DESIGNED 50k-vocab workload at 10× scale, not
  * same-distribution scaling: term-join keys that are viral at
  * sf0.1 are rare at sf1, so a text operator's ratio can move in
  * either direction without a scale bug (and conversely, the
  * superlinear flag for this family certifies the realistic-vocab
  * workload, which is the deployment-relevant one — the 31-token
  * rung is the degenerate case). Non-text columns are replicated
  * unchanged, so every other family's ratios remain
  * same-distribution.
  */
object GenScale {

  private val Replicas = 10

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "target/sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, out)
    spark.stop()
  }

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Build `out` from `src` iff absent or STALE (source fingerprint
    * mismatch — a driver-side fixture regeneration must invalidate the
    * scaled twin, or the bench's big rung silently compares fresh
    * sf0.1 timings against data scaled from the OLD fixture), under
    * the [[graft.io.DerivedCache]] guard. Returns `out`. Requires a UTC
    * session (the NTZ event-time cast).
    */
  def ensure(spark: SparkSession, src: String, out: String): String =
    graft.io.DerivedCache.ensure(out, src, tables)(run(spark, src, _))

  def run(spark: SparkSession, src: String, out: String): Unit = {

    // (table, key columns to offset, ts column to jitter or null)
    val plan: Seq[(String, Seq[String], Option[String])] = Seq(
      ("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), None),
      ("orders", Seq("o_orderkey", "o_custkey"), None),
      ("customer", Seq("c_custkey"), None),
      ("part", Seq("p_partkey"), None),
      ("supplier", Seq("s_suppkey"), None),
      ("nation", Seq(), None),
      ("region", Seq(), None),
      ("events", Seq("event_id", "user_id"), Some("ts")),
      ("documents", Seq("doc_id"), None),
      ("embeddings", Seq("vec_id"), None))

    // Content columns must NOT replicate verbatim: 10 byte-identical
    // copies of every document/vector would hand the near-dup and
    // shared-payload operators a corpus where EVERY entity has 9 exact
    // twins — cross-replica pair expansion is then quadratic in the
    // replica count and the first big-rung run flagged exactly that
    // (d06/m08/m10 at 14-54x). Replica r instead gets:
    //  - documents.text: SYNTHESIZED from a 50k-token Zipf vocabulary
    //    (see zipfText below) — the base fixture's 31-token vocabulary
    //    makes every term-join key viral at 10x scale (t36/t37/p07
    //    posting lists grow with the corpus instead of with the term's
    //    true frequency) and caps the retrieval recall dials; a
    //    realistic Zipf df distribution is what those operators are
    //    DESIGNED for. Near-dup structure is planted deterministically
    //    (1% exact copies, 2.5% mutated near-copies) so the dedup
    //    family keeps real work at this rung.
    //  - embeddings.embedding: dimensions cyclically shifted by 7r —
    //    norms and within-replica geometry are preserved exactly
    //    (a permutation is an isometry); random vectors decorrelate
    //    across replicas.
    //
    // zipfText: token rank = floor(exp(u * ln(V))) over a portable
    // md5 uniform u — the inverse-CDF draw of the density p(rank) ∝
    // 1/rank on [1, V) (Zipf s=1, the canonical natural-language fit),
    // so 'w1' behaves like a stopword (~6% of positions) and the tail
    // is a long sea of rare terms. Doc length is uniform 10..100
    // tokens (the base fixture's range). Every draw is keyed on
    // (seed doc id, position), so the corpus is bit-reproducible:
    //  - doc_id % 100 == 1 -> EXACT copy of doc_id-1 (keeps d01-d09's
    //    exact-dup collapse honest at this rung);
    //  - doc_id % 40 == 2 -> near-copy of doc_id-1 with every 10th
    //    token redrawn under a doc-unique salt (~90% shingle overlap,
    //    the LSH verify path's real workload). The two residue classes
    //    are disjoint (1 mod 100 vs 2 mod 40 clash mod 20).
    def mutateContent(table: String, df: DataFrame): DataFrame = table match {
      case "documents" =>
        val vocab = 50000
        val sid = when(col("doc_id") % 100 === 1 || col("doc_id") % 40 === 2,
          col("doc_id") - 1).otherwise(col("doc_id"))
        val mutated = col("doc_id") % 40 === 2
        val uLen =
          expr("CAST(conv(substr(md5(concat('len:', CAST(__sid AS STRING))), 1, 15), 16, 10) AS BIGINT) / 1152921504606846976.0")
        val df2 = df
          .withColumn("__sid", sid)
          .withColumn("__mut", mutated)
          .withColumn("__n", (lit(10) + floor(uLen * 91)).cast("int"))
        df2
          .withColumn("text", expr(
            s"""array_join(transform(sequence(1, __n), i ->
               |  concat('w', CAST(floor(exp(
               |    (CAST(conv(substr(md5(
               |       CASE WHEN __mut AND i % 10 = 0
               |            THEN concat('mut:', CAST(doc_id AS STRING), ':', CAST(i AS STRING))
               |            ELSE concat('tok:', CAST(__sid AS STRING), ':', CAST(i AS STRING)) END
               |    ), 1, 15), 16, 10) AS BIGINT) / 1152921504606846976.0)
               |    * ln($vocab))) AS INT))), ' ')""".stripMargin))
          .withColumn("n_chars", length(col("text")))
          .drop("__sid", "__mut", "__n")
      case "embeddings" =>
        df.withColumn("embedding",
          transform(sequence(lit(0), size(col("embedding")) - 1),
            i => element_at(col("embedding"),
              (i + lit(7) * col("_r")) % size(col("embedding")) + 1)))
      case _ => df
    }

    plan.foreach { case (table, keys, tsCol) =>
      val base = spark.read.parquet(s"$src/$table.parquet")
      val scaled: DataFrame =
        if (keys.isEmpty) base // dimensions don't scale
        else {
          val strides: Map[String, Long] = keys.map { k =>
            k -> (base.agg(max(col(k))).head.getAs[Number](0).longValue() + 1L)
          }.toMap
          val withR = base.withColumn("_r",
            explode(sequence(lit(0), lit(Replicas - 1))))
          val keyed = strides.foldLeft(withR) { case (df, (k, stride)) =>
            df.withColumn(k,
              (col(k).cast("long") + col("_r").cast("long") * lit(stride))
                .cast(base.schema(k).dataType))
          }
          val mutated = mutateContent(table, keyed)
          tsCol.fold(mutated) { c =>
            // fixture ts may be TIMESTAMP or TIMESTAMP_NTZ depending on
            // driver writer version; round-trip through LTZ under the
            // UTC session tz (exact) and restore the on-disk type
            val dt = base.schema(c).dataType
            keyed.withColumn(c, timestamp_micros(
              unix_micros(col(c).cast("timestamp")) + col("_r").cast("long"))
              .cast(dt))
          }.drop("_r")
        }
      // select in original column order so the schema round-trips
      scaled.select(base.columns.map(col).toIndexedSeq: _*)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[genscale] $table -> $out (${if (keys.isEmpty) "1" else Replicas.toString}x)")
    }
  }
}
