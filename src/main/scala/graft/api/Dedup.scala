package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.api.Checkpoints.LineageOps

import graft.expr.WordShingles.word_shingles

/** Public DataFrame-level deduplication API — the library surface a
  * user calls on their own tables (the named queries in
  * [[graft.ops.DedupOps]] are thin wrappers over these).
  *
  * Every function takes a documents frame plus the id/text column names
  * and returns a plain DataFrame, so it composes with arbitrary
  * upstream cleaning and downstream joins.
  *
  * Caching contract: functions whose plan reuses a subtree more than
  * once ([[nearDupPairs]], [[tokenJaccardPairs]]) persist that subtree
  * at MEMORY_AND_DISK. The blocks stay cached until the caller drops
  * them — after the terminal action, call `spark.catalog.clearCache()`
  * (or `unpersist` the returned frame's cached lineage) in long-lived
  * applications; the bundled Bench/Verify drivers do exactly that
  * between queries.
  */
object Dedup {

  /** Exact duplicate groups keyed by content hash, with the
    * deterministic keeper (min id). Join back on `text_hash` to drop
    * copies.
    */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper"))
      .filter(col("n_copies") > 1)

  /** Exploded distinct word n-gram shingles: (id, sh). */
  def shingles(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame =
    docs
      .withColumn("_sh", word_shingles(col(textCol), n))
      .filter(size(col("_sh")) > 0)
      .select(col(idCol), explode(col("_sh")).as("sh"))

  // Kirsch-Mitzenmacher double hashing: one md5 per shingle, split into
  // two 60-bit halves h1/h2 (15 hex chars each); seeded hash i =
  // (h1 + i*h2) mod 2^60 — i*h2 stays under 2^63 for i <= 7.
  private val mod60 = 1152921504606846976L // 2^60

  /** Input cap for [[allPairsCosine]], the labeled exact baseline —
    * far above every fixture rung (sf1 ≈ 600k docs) but a hard stop
    * before an accidental quadratic join at deployment scale.
    */
  private val ExactBaselineMaxDocs = 2000000L

  /** Projects the two md5 halves ONCE per shingle row before the
    * signature aggregation: each of the `seeds` min-aggregates below
    * consumes the halves, and aggregate input expressions are not
    * subexpression-eliminated — inlining the md5 into every aggregate
    * would hash each shingle 2*seeds times instead of once.
    */
  private def withHashHalves(shs: DataFrame, idCol: String,
      keepShingle: Boolean = false): DataFrame = {
    // md5_u60 reads each 60-bit half straight off the digest bytes —
    // same values as the conv(substr(md5)) hex round-trip (Md5U60Spec),
    // ~2x cheaper per row on the shingle-grain stream every banded
    // path pays (guide §4)
    val base = Seq(col(idCol),
      expr("md5_u60(sh)").as("_h1"),
      expr("md5_u60(sh, 16)").as("_h2"))
    val cols = if (keepShingle) base :+ col("sh") else base
    shs.select(cols: _*)
  }

  private def minAggs(nSeeds: Int): Seq[Column] =
    (0 until nSeeds).map(i =>
      min(expr(s"(_h1 + $i * _h2) % $mod60")).as(s"mh$i"))

  /** MinHash signatures over word n-gram shingles:
    * (id, mh0..mh{seeds-1}). One zero-shuffle codegen'd map
    * ([[graft.expr.MinHashSigExpr]]) — a signature is a per-document
    * value, so the explode + shuffle + groupBy the relational
    * formulation pays ([[minhashSignaturesRelational]], kept as the
    * executable spec) buys nothing. Docs with fewer than n tokens have
    * no shingles and are dropped, matching the relational form.
    */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, seeds: Int = 8): DataFrame = {
    val sig = docs.select(col(idCol),
      graft.expr.MinHashSig.min_hash_sig(col(textCol), n, seeds).as("_mh"))
      .filter(col("_mh").isNotNull)
    sig.select(col(idCol) +:
      (0 until seeds).map(i => element_at(col("_mh"), i + 1).as(s"mh$i")): _*)
  }

  /** The relational MinHash formulation (explode shingles -> seeded
    * min aggregates) — semantically identical to [[minhashSignatures]];
    * kept as the executable specification the expression is tested
    * against, and as the shape d04 reuses where the exploded shingle
    * frame is genuinely needed downstream.
    */
  private[graft] def minhashSignaturesRelational(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, seeds: Int = 8): DataFrame = {
    val shs = shingles(docs, idCol, textCol, n)
    val aggs = minAggs(seeds)
    withHashHalves(shs, idCol).groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding CALIBRATION report — the empirical S-curve a dedup
    * owner reads before picking (seeds, bandSize, threshold): for the
    * overlapping pairs of a bounded probe batch (pairs sharing at
    * least one shingle — zero-overlap pairs carry no calibration
    * signal and only collide by hash accident), the exact shingle
    * jaccard is computed, pairs are bucketed by jaccard decile
    * (`floor(j·10)`, decile 10 = exact-duplicate), and each bucket
    * reports how many of its pairs the banded MinHash index would
    * have surfaced (≥1 shared band key). Low-decile buckets with high
    * collision rates mean wasted candidate verification; high-decile
    * buckets below 100% mean missed near-dups — the two failure
    * modes the (b, r) choice trades off.
    *
    * Scale shape: the probe side is a bounded batch (the d06/d09
    * contract), the overlap join is shingle-keyed (d11's shape), the
    * band join is band-keyed, and everything aggregates to ≤11 decile
    * rows. The jaccard is one IEEE division of exact integer counts
    * and the decile is `floor` of it — bit-stable cross-engine.
    * Returns (bucket, n_pairs, n_collided, collision_rate).
    */
  def lshCalibration(docs: DataFrame, probe: Column,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, seeds: Int = 8, bandSize: Int = 2): DataFrame = {
    val shs = shingles(docs, idCol, textCol, n).persist()
    val probeIds = docs.filter(probe).select(idCol)
    // pairs are normalized with least/greatest, NOT by requiring the
    // probe side to carry the smaller id: calibrating a new ingest
    // batch means the probe ids are typically the HIGHEST in the
    // corpus, and an a.id < b.id restriction would silently exclude
    // nearly every probe-vs-corpus pair, biasing the S-curve sample.
    // The distinct collapses the double-counted both-probes case so
    // every overlapping probe pair contributes exactly once.
    val common = shs.join(probeIds, idCol).as("a")
      .join(shs.as("b"),
        col("b.sh") === col("a.sh") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_b"),
        col("a.sh").as("sh"))
      .distinct()
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("c"))
    val sizes = shs.groupBy(idCol).agg(count(lit(1)).as("n"))
    val sig = minhashSignatures(docs, idCol, textCol, n, seeds)
    def bandsOf(s: DataFrame): DataFrame =
      s.select(col(idCol), explode(bandKeyArray(seeds, bandSize)).as("bk"))
    val coll = bandsOf(sig.join(probeIds, idCol)).as("a")
      .join(bandsOf(sig).as("b"),
        col("b.bk") === col("a.bk") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("doc_b"))
      .distinct()
    val j = col("c").cast("double") /
      (col("sa.n") + col("sb.n") - col("c"))
    common
      .join(sizes.as("sa"), col(s"sa.$idCol") === col("doc_a"))
      .join(sizes.as("sb"), col(s"sb.$idCol") === col("doc_b"))
      .join(coll.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
      .select(floor(j * 10).cast("int").as("bucket"),
        coalesce(col("hit"), lit(0)).as("hit"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("hit")).cast("bigint").as("n_collided"),
        (sum(col("hit")).cast("double") / count(lit(1)))
          .as("collision_rate"))
  }

  /** The `seeds/bandSize` banded keys of a signature frame (mh0..mhN),
    * as one array column to explode — shared by every banded-LSH path
    * in this file (and the streaming twin in
    * [[graft.stream.Pipelines.streamNearDups]]) so the banding scheme
    * cannot silently diverge.
    */
  private[graft] def bandKeyArray(seeds: Int, bandSize: Int): Column = {
    require(seeds % bandSize == 0,
      s"seeds ($seeds) must be a multiple of bandSize ($bandSize)")
    val keys = (0 until seeds / bandSize).map { b =>
      val parts = (0 until bandSize).flatMap(k =>
        Seq(lit(":"), col(s"mh${bandSize * b + k}").cast("string"))).tail
      concat((lit(b + ":") +: parts): _*)
    }
    array(keys: _*)
  }

  /** Shared banded-LSH candidate + verify machinery: capped exploded
    * shingles -> signature (+ size) -> band self-join -> exact
    * common-shingle counts. Returns one row per candidate pair:
    * (doc_a, doc_b, n_common, na, nb), id-ordered — every pair metric
    * (jaccard, containment) is a pure projection of these three
    * integers, which is why the metric-specific public functions are
    * one select each.
    */
  private def bandedCommonCounts(docs: DataFrame, idCol: String,
      textCol: String, n: Int, seeds: Int, bandSize: Int,
      maxShingleFreq: Option[Long]): (DataFrame, DataFrame) = {
    // the exploded shingle set feeds the signature, the sizes, and the
    // verify join (twice) — eagerly checkpointed so the explode runs
    // once AND the plan under every reference is a block scan, not a
    // replicated explode subtree (lazy persist caches execution but
    // leaves the plan tree to grow with each reuse)
    val shsRaw = shingles(docs, idCol, textCol, n)
    val shs = (maxShingleFreq match {
      case Some(cap) =>
        val ok = shsRaw.groupBy("sh").agg(count(lit(1)).as("_f"))
          .filter(col("_f") <= cap).select("sh")
        shsRaw.join(ok, "sh").select(col(idCol), col("sh"))
      case None => shsRaw
    }).cutLineage
    // one shuffle on the doc key yields the signature AND the shingle
    // count (the later metric denominators) — no separate sizes pass.
    // (Probed this round: collecting the shingle SET here and verifying
    // candidates with `size(array_intersect)` at pair grain measured a
    // wash-to-regression at sf0.1 — per-pair string-array intersection
    // costs more CPU than the codegen'd occurrence-grain hash joins
    // save in exchanges. Negative result recorded so it isn't re-tried;
    // see OPTIMIZATION_r16.md.)
    val aggs = minAggs(seeds) :+ count(lit(1)).as("n")
    val sig = withHashHalves(shs, idCol)
      .groupBy(idCol).agg(aggs.head, aggs.tail: _*).cutLineage
    val bands = sig.select(col(idCol),
      explode(bandKeyArray(seeds, bandSize)).as("bk"))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.bk") === col("b.bk") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
      .distinct()
    val sizes = sig.select(col(idCol), col("n"))
    val common = cand
      .join(shs.as("s1"), col(s"s1.$idCol") === col("doc_a"))
      .join(shs.as("s2"),
        col(s"s2.$idCol") === col("doc_b") && col("s2.sh") === col("s1.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    val counts = common
      .join(sizes.as("sa"), col(s"sa.$idCol") === col("doc_a"))
      .join(sizes.as("sb"), col(s"sb.$idCol") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
    (counts, sizes)
  }

  /** MinHash-LSH near-duplicate pairs with exact-jaccard verification:
    * (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    *
    * `seeds` hashes banded into `seeds/bandSize` bands; a pair becomes a
    * candidate when any band matches, then its true shingle jaccard is
    * computed. The band join keys are uniform hashes (no hot
    * partitions); `maxShingleFreq` drops degenerate shingles (boiler-
    * plate shared by a large fraction of a 100 TB corpus) before the
    * verify join.
    *
    * Exact duplicates are collapsed BEFORE shingling: identical texts
    * (by content hash) send one representative (min id) through the
    * shingle/signature/band/verify pipeline, and verified pairs expand
    * back to members afterward — members of the same group pair up at
    * jaccard 1.0, members of two verified groups inherit the
    * representatives' jaccard (identical text ⇒ identical shingle set).
    * At 100 TB this is the difference between linear and quadratic: a
    * k-copy boilerplate family costs the band join and the verify join
    * ONE document instead of k (and k² candidate collisions); the O(k²)
    * pair expansion is output-inherent and happens as a cheap post-join
    * on the membership table, never against the shingle store.
    * Consequence: `maxShingleFreq` counts a shingle's document
    * frequency over DISTINCT texts, so mass-copying a page cannot push
    * its shingles over the boilerplate cap.
    */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, seeds: Int = 8,
      bandSize: Int = 2, threshold: Double = 0.5,
      maxShingleFreq: Option[Long] = None): DataFrame = {
    // eagerly checkpointed, not persisted: the membership and group
    // frames are referenced 3-4 times each across the expansion joins,
    // and a lazy persist leaves the md5 subtree REPLICATED in the plan
    // under every reference (~275 Exchanges in d04's audited plan
    // string; execution was cached, planning was not). Both frames are
    // (id, hash) grain — tiny next to the shingle work this function
    // exists to bound.
    val mem = docs.select(col(idCol).as("_m_id"), md5(col(textCol)).as("_th"))
      .cutLineage
    val grp = mem.groupBy("_th")
      .agg(min(col("_m_id")).as("_rep"), count(lit(1)).as("_k"))
      .cutLineage
    val repDocs = docs.join(grp.select(col("_rep")), col(idCol) === col("_rep"))
      .select(col(idCol), col(textCol))
    val (counts, sizes) =
      bandedCommonCounts(repDocs, idCol, textCol, n, seeds, bandSize, maxShingleFreq)
    val j = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    val repPairs = counts
      .select(col("doc_a"), col("doc_b"), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val memRep = mem.join(grp, "_th").select(col("_m_id"), col("_rep"))
    val cross = repPairs
      .join(memRep.select(col("_rep").as("_ra"), col("_m_id").as("_ia")),
        col("_ra") === col("doc_a"))
      .join(memRep.select(col("_rep").as("_rb"), col("_m_id").as("_ib")),
        col("_rb") === col("doc_b"))
      .select(least(col("_ia"), col("_ib")).as("doc_a"),
        greatest(col("_ia"), col("_ib")).as("doc_b"), col("jaccard"))
    // within-group pairs exist only where the representative survived
    // shingling + the frequency cap (otherwise the uncollapsed pipeline
    // would never have banded the copies either)
    val liveMem = mem
      .join(grp.filter(col("_k") > 1), "_th")
      .join(sizes.select(col(idCol).as("_live")), col("_rep") === col("_live"))
      .select(col("_th"), col("_m_id"))
    val within = liveMem.select(col("_th").as("_t1"), col("_m_id").as("_ia"))
      .join(liveMem.select(col("_th").as("_t2"), col("_m_id").as("_ib")),
        col("_t1") === col("_t2") && col("_ia") < col("_ib"))
      .select(col("_ia").as("doc_a"), col("_ib").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** MinHash-LSH near-CONTAINMENT pairs: (doc_a, doc_b, containment,
    * jaccard), id-ordered, where containment = |A∩B| / min(|A|, |B|)
    * — the share of the SMALLER document's shingles found in the
    * larger. Jaccard misses subsumption (a paragraph quoted inside a
    * 100x larger page scores near zero); containment is the metric
    * that catches it, and is what quote/boilerplate screens in a
    * training-data pipeline actually want. Candidate generation is the
    * same banded-MinHash join as [[nearDupPairs]] (same uniform-key
    * scale contract, same `maxShingleFreq` boilerplate cap); only the
    * verify metric differs, so a contained-but-not-similar pair must
    * still collide on a band to be seen — the documented recall trade
    * of LSH-by-jaccard candidates (full-recall containment needs an
    * inclusion-probe index; out of scope).
    */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, seeds: Int = 8,
      bandSize: Int = 2, threshold: Double = 0.6,
      maxShingleFreq: Option[Long] = None): DataFrame = {
    val cont = col("n_common").cast("double") / least(col("na"), col("nb"))
    val j = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    bandedCommonCounts(docs, idCol, textCol, n, seeds, bandSize, maxShingleFreq)
      ._1
      .select(col("doc_a"), col("doc_b"), cont.as("containment"),
        j.as("jaccard"))
      .filter(col("containment") >= threshold)
  }

  /** Incremental near-duplicate detection: which documents of a NEW
    * batch are near-dups of an EXISTING corpus — the production path
    * (dedup runs per ingest batch, not as a global recompute). Returns
    * (doc_new, doc_dup, jaccard) with jaccard >= threshold.
    *
    * Same banded-MinHash machinery as [[nearDupPairs]], but the two
    * sides are asymmetric and that is the scale story: the corpus
    * side's signatures/bands are a write-once INDEX (persisted as a
    * table and reused every batch — build it with
    * [[incrementalCorpusIndex]] and probe with
    * [[incrementalNearDupsIndexed]]), while the incoming batch is
    * small — so its band keys broadcast, candidates are bounded by
    * real band collisions, and the corpus's shingle store is only
    * touched on the candidate doc ids (AQE broadcasts the candidate
    * set; the corpus side never fully shuffles).
    *
    * This overload re-derives the corpus index inline for callers who
    * want one self-contained query; per-batch production use should
    * persist the index once and call the indexed variant.
    */
  def incrementalNearDups(incoming: DataFrame, corpus: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, seeds: Int = 8, bandSize: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val (coShs, coSig) =
      incrementalCorpusIndex(corpus, idCol, textCol, n, seeds)
    incrementalNearDupsIndexed(incoming, coShs.persist(), coSig.persist(),
      idCol, textCol, n, seeds, bandSize, threshold)
  }

  /** The write-once corpus-side index [[incrementalNearDupsIndexed]]
    * probes: (exploded shingles (id, sh), signatures
    * (id, mh0..mh{seeds-1}, n)). Persist both as tables; each ingest
    * batch then pays only its own shingling plus a band join against
    * the signature table and a candidate-pruned join against the
    * shingle table — the corpus is never re-shingled.
    */
  def incrementalCorpusIndex(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, seeds: Int = 8)
      : (DataFrame, DataFrame) = {
    val shs = shingles(corpus, idCol, textCol, n)
    val aggs = minAggs(seeds) :+ count(lit(1)).as("n")
    val sig = withHashHalves(shs, idCol)
      .groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    (shs, sig)
  }

  /** LSH index COMPACTION / GC report — the lifecycle leg of the
    * [[incrementalCorpusIndex]] story (d20): a write-once signature
    * index only ever grows, but documents get deleted, redacted, or
    * superseded, and a production index is periodically compacted —
    * tombstoned docs' band entries dropped, emptied buckets
    * reclaimed. Per band, the report carries the GC accounting
    * (entries before/tombstoned/after, distinct buckets
    * before/after/emptied — the m12 chunk-GC discipline at signature
    * grain) AND the probe-continuity accounting: the candidate pairs
    * a probe batch raises against the full index, against the
    * compacted index, and the difference (pairs only a tombstoned doc
    * produced — exactly the set compaction is ALLOWED to lose). The
    * band join runs once with the tombstone flag carried through, so
    * full-vs-compacted comparison costs one probe pass, not two.
    *
    * Scale shape: one join of the corpus band frame against the
    * tombstone set on the doc id (AQE picks the strategy), one
    * band-bucket probe join — the d09 candidate path — and two
    * band-grain aggregates; nothing touches shingle grain.
    */
  def indexCompactionReport(corpusSig: DataFrame, tombstones: DataFrame,
      probeSig: DataFrame, idCol: String = "doc_id",
      seeds: Int = 8, bandSize: Int = 2): DataFrame = {
    def bands(sig: DataFrame): DataFrame =
      sig.select(col(idCol),
          posexplode(bandKeyArray(seeds, bandSize)).as(Seq("band", "bk")))
    val corpus = bands(corpusSig)
      .join(tombstones.select(col(idCol)).distinct()
        .withColumn("_tomb", lit(1)), Seq(idCol), "left")
      .select(col("band"), col("bk"),
        coalesce(col("_tomb"), lit(0)).as("tomb"))
      .persist() // feeds the GC stats and the probe-continuity join
    val stats = corpus.groupBy("band").agg(
      count(lit(1)).cast("bigint").as("n_entries_before"),
      sum(col("tomb")).cast("bigint").as("n_tombstoned"),
      countDistinct(col("bk")).cast("bigint").as("n_buckets_before"),
      countDistinct(when(col("tomb") === 0, col("bk"))).cast("bigint")
        .as("n_buckets_after"))
    val cands = bands(probeSig).select(col("band"), col("bk"))
      .join(corpus, Seq("band", "bk"))
      .groupBy("band").agg(
        count(lit(1)).cast("bigint").as("n_probe_cand_full"),
        sum(when(col("tomb") === 0, 1L).otherwise(0L)).cast("bigint")
          .as("n_probe_cand_after"))
    stats.join(cands, Seq("band"), "left")
      .select(col("band").cast("int").as("band"),
        col("n_entries_before"), col("n_tombstoned"),
        (col("n_entries_before") - col("n_tombstoned")).cast("bigint")
          .as("n_entries_after"),
        col("n_buckets_before"), col("n_buckets_after"),
        (col("n_buckets_before") - col("n_buckets_after")).cast("bigint")
          .as("n_buckets_emptied"),
        coalesce(col("n_probe_cand_full"), lit(0L)).cast("bigint")
          .as("n_probe_cand_full"),
        coalesce(col("n_probe_cand_after"), lit(0L)).cast("bigint")
          .as("n_probe_cand_after"),
        (coalesce(col("n_probe_cand_full"), lit(0L)) -
          coalesce(col("n_probe_cand_after"), lit(0L))).cast("bigint")
          .as("n_probe_cand_reclaimed"))
      .orderBy("band")
  }

  /** Probe a new ingest batch against a prebuilt corpus index (see
    * [[incrementalCorpusIndex]]) — the per-batch production path.
    * `corpusShingles`/`corpusSig` are typically parquet scans of the
    * persisted index, so only candidate doc ids are ever read from
    * the shingle store.
    */
  def incrementalNearDupsIndexed(incoming: DataFrame,
      corpusShingles: DataFrame, corpusSig: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, seeds: Int = 8, bandSize: Int = 2,
      threshold: Double = 0.5): DataFrame =
    incrementalNearDupsTracked(incoming, corpusShingles, corpusSig,
      idCol, textCol, n, seeds, bandSize, threshold)._1

  /** [[incrementalNearDupsIndexed]] plus the list of frames the probe
    * persisted internally (the batch shingle cache), so a long-running
    * caller (the streaming dedup gate) can unpersist EXACTLY its own
    * caches after consuming the result. The previous gate swept the
    * global persisted-RDD diff, which could evict a concurrent query's
    * freshly persisted frames on the shared SparkSession.
    */
  private[graft] def incrementalNearDupsTracked(incoming: DataFrame,
      corpusShingles: DataFrame, corpusSig: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, seeds: Int = 8, bandSize: Int = 2,
      threshold: Double = 0.5): (DataFrame, Seq[DataFrame]) = {
    val inShs = shingles(incoming, idCol, textCol, n).persist()
    val aggs = minAggs(seeds) :+ count(lit(1)).as("n")
    val inSig = withHashHalves(inShs, idCol)
      .groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    val coShs = corpusShingles
    val coSig = corpusSig
    def bandsOf(sig: DataFrame): DataFrame =
      sig.select(col(idCol), explode(bandKeyArray(seeds, bandSize)).as("bk"))
    // the self-pair guard makes a REPLAYED ingest batch idempotent:
    // a crash between the gate's index append and its checkpoint
    // commit re-probes docs whose own signatures are already indexed —
    // without the guard each would match ITSELF at jaccard 1.0 and
    // flip from admitted to rejected-as-its-own-dup. Identical ids
    // mean "the same document redelivered", never a duplicate pair.
    // For disjoint incoming/corpus id spaces (d09) this is a no-op.
    val cand = bandsOf(inSig).as("a")
      .join(bandsOf(coSig).as("b"),
        col("a.bk") === col("b.bk") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("doc_new"), col(s"b.$idCol").as("doc_old"))
      .distinct()
    // SET semantics end-to-end, so the probe is exact even when the
    // index carries duplicate rows for a doc (an at-least-once gate
    // replay re-appends an admitted doc's shingles + signature):
    // count(*) would double n_common per extra copy and push the
    // jaccard denominator `na + nb - c` to 0 — and long division by
    // zero is NULL in non-ANSI Spark, so the one TRUE duplicate would
    // silently pass the gate. countDistinct over the shared shingles
    // is immune to copies on either side; the final dropDuplicates
    // collapses the identical rows the duplicated signature join
    // emits (signature rows for one doc are identical by
    // construction, so this is exact, and it runs on the bounded
    // candidate output, never the index).
    val common = cand
      .join(inShs.as("s1"), col(s"s1.$idCol") === col("doc_new"))
      .join(coShs.as("s2"),
        col(s"s2.$idCol") === col("doc_old") && col("s2.sh") === col("s1.sh"))
      .groupBy("doc_new", "doc_old")
      .agg(countDistinct(col("s1.sh")).as("n_common"))
    val j = col("n_common").cast("double") /
      (col("sa.n") + col("sb.n") - col("n_common"))
    // max() per pair, not dropDuplicates: identical replayed index
    // rows make every fanned-out jaccard equal (so either collapses
    // them exactly), but a doc_id RE-INDEXED with CHANGED text gives
    // the sa.n/sb.n fan-out DIFFERING jaccards per pair — max keeps
    // the most-duplicate reading deterministically (the conservative
    // choice for an admission gate) where dropDuplicates kept an
    // arbitrary-per-run row. Runs on the bounded candidate output.
    val result = common
      .join(inSig.select(col(idCol), col("n")).as("sa"),
        col(s"sa.$idCol") === col("doc_new"))
      .join(coSig.select(col(idCol), col("n")).as("sb"),
        col(s"sb.$idCol") === col("doc_old"))
      .select(col("doc_new"), col("doc_old").as("doc_dup"), j.as("jaccard"))
      .groupBy("doc_new", "doc_dup").agg(max("jaccard").as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (result, Seq(inShs))
  }

  /** SimHash: 64-bit fingerprint (16 hex chars) by bitwise majority
    * vote over the distinct-token hashes: (id, simhash). One
    * zero-shuffle codegen'd map stage ([[graft.expr.SimHashExpr]]) —
    * the d05 oracle and `ExprSpec` pin it to the relational
    * explode-two-shuffle formulation ([[simhashRelational]]) it
    * replaced for scale.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.expr.SimHash.sim_hash(col(textCol)).as("simhash"))

  /** The relational SimHash formulation (explode distinct tokens ->
    * md5 -> per-nibble majority vote): semantically identical to
    * [[simhash]] but pays two shuffles over a 16x-exploded token frame.
    * Kept as the executable specification the custom expression is
    * tested against.
    */
  private[graft] def simhashRelational(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), explode(array_distinct(split(col(textCol), " "))).as("t"))
      .withColumn("h", md5(col("t")))
      .select(col(idCol), col("h"), explode(expr("sequence(1, 16)")).as("p"))
      .withColumn("d", expr("instr('0123456789abcdef', substr(h, p, 1)) - 1"))
      .groupBy(col(idCol), col("p"))
      .agg(
        count(lit(1)).as("n"),
        sum(expr("shiftright(d, 3) & 1")).as("s3"),
        sum(expr("shiftright(d, 2) & 1")).as("s2"),
        sum(expr("shiftright(d, 1) & 1")).as("s1"),
        sum(expr("d & 1")).as("s0"))
      .withColumn("c", expr(
        """substr('0123456789abcdef',
          |       1 + (CASE WHEN 2*s3 > n THEN 8 ELSE 0 END
          |          + CASE WHEN 2*s2 > n THEN 4 ELSE 0 END
          |          + CASE WHEN 2*s1 > n THEN 2 ELSE 0 END
          |          + CASE WHEN 2*s0 > n THEN 1 ELSE 0 END), 1)""".stripMargin))
      .groupBy(idCol)
      .agg(expr("array_join(transform(array_sort(collect_list(struct(p, c))), x -> x.c), '')")
        .as("simhash"))

  /** Transitive near-duplicate clusters from a pair list (e.g.
    * [[nearDupPairs]] output): every document that appears in a pair is
    * assigned the smallest doc id reachable through the pair graph —
    * connected components via iterative min-label propagation, the
    * standard way to turn pairwise near-dup evidence into "keep one per
    * cluster" decisions (A~B and B~C must dedup to ONE survivor even
    * when A~C was never tested).
    *
    * Distributed shape — seed, CONTRACT, then iterate on the contracted
    * graph (the two-phase components algorithm of production systems):
    *
    *  1. seed: label0(u) = min(u, N(u)) — one aggregation over the
    *     symmetric edge list (the same single shuffle a plain distinct
    *     node-list would cost already buys one full round of progress);
    *  2. contract: rewrite each ORIGINAL edge to its endpoints' seed
    *     labels, drop self-loops, dedupe — two E-joins and a distinct,
    *     all on uniform keys. The label graph has one node per
    *     surviving seed label, and for real dedup graphs (dense local
    *     clusters) it is orders of magnitude smaller than the input:
    *     every subsequent round now costs proportional to the
    *     CONTRACTED size, not E;
    *  3. solve the label graph: when it has collapsed below
    *     [[SmallLabelGraphEdges]] (every measured dedup graph does),
    *     driver-side union-find — per-round job scheduling costs more
    *     than the entire remaining problem. Otherwise iterate min-label
    *     propagation (two hook hops + a pointer jump per round, unioned
    *     into a single min-aggregate) until the label sum stops moving
    *     — labels are doc ids and non-increasing, so the overflow-safe
    *     DECIMAL(38,0) sum strictly decreases until the fixpoint,
    *     replacing a prev-vs-next comparison join; lineage is cut with
    *     localCheckpoint per round;
    *  4. relabel: components of the label graph key a broadcast-sized
    *     (usually) map from seed label to component minimum; one join
    *     carries it back to the nodes.
    *
    * Correctness of the contraction: seed labels are node ids; two seed
    * labels are connected in the label graph iff some original edge
    * connects differently-labeled nodes, so label-graph components
    * partition exactly like node components, and the component's
    * minimum node id m always survives as a label (m is smaller than
    * all its neighbors, so label0(m) = m) — cluster ids are unchanged
    * by the rewrite.
    *
    * If `maxRounds` is hit before the fixpoint, the labels are NOT yet
    * connected components — this throws rather than silently returning
    * partially-merged clusters.
    *
    * Returns (doc_id, cluster_id, cluster_size).
    */
  /** Label-graph size (in edges) below which [[nearDupClusters]]
    * finishes on the driver with union-find instead of distributed
    * rounds: ~16 MB collected, vs ~0.7 s of per-round scheduling for a
    * graph this small. Above it, the distributed fixpoint runs.
    */
  private val SmallLabelGraphEdges = 1000000L

  def nearDupClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxRounds: Int = 32,
      // injectable so specs can force the distributed fixpoint path
      // (the production cutoff leaves it unreachable at fixture sizes)
      smallCutoff: Long = SmallLabelGraphEdges): DataFrame = {
    // eager: evaluate the (often expensive) pair pipeline exactly once —
    // a lazy persist would race its two union branches in one job
    val fwd = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .cutLineage
    // seed labels from the symmetric neighborhood minimum
    val labels0 = fwd
      .unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
      .groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("label"))
      .select(col("u").as("doc_id"), col("label"))
      .cutLineage
    // contract: original edges -> seed-label edges (directed half is
    // enough; the fixpoint resymmetrizes), self-loops out, deduped
    val byId = labels0.select(col("doc_id"), col("label"))
    val eC = fwd
      .join(byId.select(col("doc_id").as("u"), col("label").as("lu")), "u")
      .join(byId.select(col("doc_id").as("v"), col("label").as("lv")), "v")
      .filter(col("lu") =!= col("lv"))
      .select(col("lu").as("u"), col("lv").as("v"))
      .distinct()
      .cutLineage
    val nC = eC.count()
    val labels =
      if (nC == 0) labels0 // every component collapsed at the seed
      else if (nC <= smallCutoff) {
        // the contracted label graph fits the driver: finish with
        // union-find instead of paying per-round job scheduling on a
        // near-empty cluster — the bail-out every production CC takes
        // once contraction has done its job. Bounded by construction:
        // nC edges of two longs, <= ~16 MB at the cutoff.
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        eC.collect().foreach { e =>
          val (ra, rb) = (find(e.getAs[Number](0).longValue()),
            find(e.getAs[Number](1).longValue()))
          if (ra != rb) { // min root keeps cluster_id = component min id
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        val comp = parent.keys.toSeq.map(k => (k, find(k)))
        val sess = labels0.sparkSession
        import sess.implicits._
        labels0.join(broadcast(comp.toDF("label", "_c")), Seq("label"), "left")
          .select(col("doc_id"),
            coalesce(col("_c"), col("label")).as("label"))
      } else {
        val comp = minLabelFixpoint(eC, maxRounds)
        labels0
          .join(comp.select(col("doc_id").as("label"), col("label").as("_c")),
            Seq("label"), "left")
          .select(col("doc_id"),
            coalesce(col("_c"), col("label")).as("label"))
      }
    val sizes = labels.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.select(col("doc_id"), col("label").as("cluster_id"))
      .join(sizes, "cluster_id")
      .select("doc_id", "cluster_id", "cluster_size")
  }

  /** Min-label propagation to the fixpoint over a directed edge half
    * (resymmetrized and persisted pre-partitioned on the probe key here)
    * — the iterative core of [[nearDupClusters]], run on the CONTRACTED
    * label graph. Each round unions self + two hook hops + a pointer
    * jump into one min-aggregate; the decimal label-sum (labels
    * non-increasing) is the fixpoint test. Returns (doc_id, label).
    */
  private def minLabelFixpoint(fwd: DataFrame, maxRounds: Int): DataFrame = {
    val edges = fwd
      .unionByName(fwd.select(col("v").as("u"), col("u").as("v")))
      .repartition(col("v"))
      .persist()
    var labels = edges.groupBy(col("u"))
      .agg(least(min(col("v")), col("u")).as("label"))
      .select(col("u").as("doc_id"), col("label"))
      .cutLineage
    def labelSum(): java.math.BigDecimal = {
      val v = labels.agg(sum(col("label").cast("decimal(38,0)"))).head().get(0)
      if (v == null) java.math.BigDecimal.ZERO
      else v.asInstanceOf[java.math.BigDecimal]
    }
    var prevSum = labelSum()
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      val n1 = edges
        .join(labels.select(col("doc_id").as("v"), col("label")), "v")
        .select(col("u").as("doc_id"), col("label"))
      val n1m = n1.groupBy("doc_id").agg(min("label").as("label"))
      val n2 = edges
        .join(n1m.select(col("doc_id").as("v"), col("label")), "v")
        .select(col("u").as("doc_id"), col("label"))
      val j2 = labels.as("a")
        .join(labels.as("b"), col("a.label") === col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.label").as("label"))
      val next = labels.select("doc_id", "label")
        .unionByName(n1m).unionByName(n2).unionByName(j2)
        .groupBy("doc_id").agg(min("label").as("label"))
        .cutLineage
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpointed(labels)
      labels = next
      val s = labelSum()
      changed = s.compareTo(prevSum) != 0
      prevSum = s
      round += 1
    }
    edges.unpersist(blocking = false)
    if (changed)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxRounds rounds " +
          "(labels still moving); raise maxRounds")
    labels
  }

  /** Token-set jaccard pairs of probe docs vs the corpus:
    * (doc_a, doc_b, jaccard) with doc_a matching `probe` and
    * jaccard >= threshold.
    *
    * Skew design for the raw-token join key ("the" is in nearly every
    * document — a planet-sized hot key at 100 TB):
    *
    *  - `maxTokenDfFraction` drops tokens whose document frequency
    *    exceeds that fraction of the corpus (IR's classic max_df). A
    *    fraction — not an absolute count — because absolute caps don't
    *    survive a corpus-size change: at 100 TB even rare informative
    *    tokens appear in millions of documents. Dropped tokens leave
    *    BOTH the join and the jaccard denominator (sizes are computed
    *    on the capped sets), so the result stays an exact jaccard — of
    *    the informative-token sets. The cutoff count is derived inside
    *    the plan (broadcast 1-row corpus count), never collected.
    *  - `maxTokenFreq` is the absolute variant for when the caller
    *    knows the corpus; both may be set (tighter wins).
    *  - The allow-list of surviving tokens is one row per DISTINCT
    *    vocabulary token (not per occurrence), so it is force-broadcast:
    *    the cap is applied as a map-side hash-join against the exploded
    *    occurrences, never by shuffling the occurrence table on the
    *    Zipf-skewed token key (natural-language vocabularies are
    *    millions of tokens — tens of MB — at any corpus size; the
    *    OCCURRENCE table is what grows with the corpus).
    *  - `prefixFilter` switches candidate generation to the
    *    AllPairs/PPJoin rare-token prefix join (lossless for
    *    jaccard >= t, see the inline lemma): each document only indexes
    *    its floor((1-t)*n)+1 rarest tokens in global df-ascending
    *    order, and the exact overlap is verified only for candidate
    *    pairs. Use it when the probe side is itself corpus-scale
    *    (all-pairs dedup): the direct token join's fan-out is
    *    Σ_probe-tokens df(t), quadratic when probe ≈ corpus. For a
    *    BOUNDED ingest batch (the d09 contract — a batch screened
    *    against the corpus has fixed size) the direct join is the
    *    faster plan: the probe token set broadcasts, candidate
    *    counting is one map-side pass over the corpus occurrences plus
    *    a partial-aggregated count, while the prefix variant pays a
    *    full-corpus per-document window to rank tokens it will mostly
    *    never join. Measured at the 10×-scale rung (50k-doc Zipf
    *    corpus, 10-doc probe): direct 5.8 s vs prefix 8.4 s cold,
    *    3.1 s direct min-of-2 — which is why the default is off.
    *  - `broadcastProbe` (opt-in) force-broadcasts the probe-side token
    *    set so the corpus side never shuffles — correct ONLY when the
    *    caller knows the probe set fits an executor (Spark hard-fails
    *    broadcasts past its table limit rather than falling back). The
    *    default lets AQE decide from the probe's actual runtime size:
    *    a fractional probe of a 100 TB corpus is itself TB-sized, and
    *    a forced broadcast of it would kill the job.
    */
  def tokenJaccardPairs(docs: DataFrame, probe: Column,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.95,
      maxTokenFreq: Option[Long] = None,
      maxTokenDfFraction: Option[Double] = None,
      broadcastProbe: Boolean = false,
      prefixFilter: Boolean = false): DataFrame = {
    val tokRaw = docs.select(col(idCol),
      explode(array_distinct(split(col(textCol), " "))).as("t"))
    // one vocabulary-grain frequency aggregation feeds BOTH the df cap
    // and (when enabled) the prefix canonical order; map-side partial
    // aggregation absorbs the Zipf head before the exchange, and the
    // result is one row per distinct token — broadcast material.
    val tf = tokRaw.groupBy("t").agg(count(lit(1)).as("_df"))
    val tok = (if (maxTokenFreq.isEmpty && maxTokenDfFraction.isEmpty)
      tokRaw
    else {
      val nDocs = docs.agg(count(lit(1)).as("_nd"))
      val capCol = least(
        maxTokenFreq.map(lit(_)).getOrElse(lit(Long.MaxValue)),
        maxTokenDfFraction
          .map(f => ceil(lit(f) * col("_nd")).cast("long"))
          .getOrElse(lit(Long.MaxValue)))
      val ok = tf
        .crossJoin(broadcast(nDocs))
        .filter(col("_df") <= capCol).select("t")
      // the allow-list joins map-side: the occurrence table keeps its
      // scan partitioning, and the viral keys the cap removes never
      // become shuffle keys anywhere in this plan
      tokRaw.join(broadcast(ok), "t").select(col(idCol), col("t"))
      // persisted: the token table feeds sizes + both join legs (and the
      // prefix path's verify); an unpersist here would have to eagerly
      // materialize the result first. The blocks are swept between
      // queries by the harness (clearCache + getPersistentRDDs
      // unpersist); library callers in long-lived sessions own that
      // sweep, as with every persist-returning operator in this API.
    }).persist()
    val sizes = tok.groupBy(idCol).agg(count(lit(1)).as("n"))
    val common = if (!prefixFilter) {
      // direct candidate counting — the bounded-ingest-batch plan: the
      // probe token set is small, so the join is map-side against the
      // corpus occurrences and the (doc_a, doc_b) count partial-aggs
      val probeTok = tok.as("a").filter(probe)
      (if (broadcastProbe) broadcast(probeTok) else probeTok)
        .join(tok.as("b"),
          col("a.t") === col("b.t") && col(s"a.$idCol") < col(s"b.$idCol"))
        .groupBy(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
        .agg(count(lit(1)).as("c"))
    } else {
      // Rare-token prefix filter (AllPairs/PPJoin Lemma 1, the same
      // pruning [[allPairsCosine]] uses) — LOSSLESS for J >= t: a pair
      // with jaccard >= t shares c >= ceil(t*|A|) and >= ceil(t*|B|)
      // tokens, and its rarest shared token sits within position
      // |X| - c + 1 <= |X| - floor(t*|X|) + 1 of BOTH documents under
      // any common total order. So the candidate join only keys on
      // each document's floor((1-t)*n)+1 RAREST tokens (df-ascending)
      // — at t = 0.95 that is ~5% of each document, all from the rare
      // tail of the vocabulary. floor (not ceil) of an IEEE product
      // under-estimates the true overlap bound by at most one token,
      // so FP rounding can only lengthen the prefix — never drop a
      // true pair.
      val wPos = org.apache.spark.sql.expressions.Window
        .partitionBy(idCol).orderBy(col("_df"), col("t"))
      val pos = tok.join(broadcast(tf), "t")
        .select(col(idCol), col("t"),
          row_number().over(wPos).as("_pos"),
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(idCol)).as("_n"))
      val ovMin = greatest(lit(1L),
        floor(lit(threshold) * col("_n")).cast("long"))
      val pref = pos.filter(col("_pos") <= col("_n") - ovMin + 1)
        .select(col(idCol), col("t"), col("_n"))
      val probePref = pref.as("a").filter(probe)
      val cand = (if (broadcastProbe) broadcast(probePref) else probePref)
        .join(pref.as("b"),
          col("a.t") === col("b.t") && col(s"a.$idCol") < col(s"b.$idCol"))
        // size filter: J >= t forces t*|A| <= |B| and t*|B| <= |A|
        .filter(col("b._n") >= floor(lit(threshold) * col("a._n")) &&
          col("a._n") >= floor(lit(threshold) * col("b._n")))
        .select(col(s"a.$idCol").as("doc_a"), col(s"b.$idCol").as("doc_b"))
        .distinct()
      // exact verify over the (bounded) candidate set: the join keys
      // are (doc, token) pairs — uniform, no vocabulary hot keys
      cand
        .join(tok.as("s1"), col(s"s1.$idCol") === col("doc_a"))
        .join(tok.as("s2"),
          col(s"s2.$idCol") === col("doc_b") && col("s2.t") === col("s1.t"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    }
    val j = col("c").cast("double") / (col("sa.n") + col("sb.n") - col("c"))
    common
      .join(sizes.as("sa"), col(s"sa.$idCol") === col("doc_a"))
      .join(sizes.as("sb"), col(s"sb.$idCol") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Span-level exact dedup (C4/Lee-et-al style): cut each document
    * into consecutive non-overlapping `spanTokens`-token spans, drop
    * every span whose exact text occurs more than once in the corpus
    * (boilerplate, licence headers, templated markup), and reassemble
    * what is left. The trailing partial span (< `spanTokens` tokens)
    * is never a dedup candidate and is excluded from the span count —
    * fixed-length spans are what make the "same text ⇒ same span
    * boundaries" guarantee hold, which is the whole trick that turns
    * suffix-array substring dedup into a hash aggregation.
    *
    * Returns one row per input document:
    * (id, n_spans, n_kept, n_dropped, kept_md5) where kept_md5 hashes
    * the space-joined surviving spans in document order (md5('') for a
    * document that loses everything or is shorter than one span).
    *
    * Scale shape — two shuffles, no joins on the span key:
    *  - the keep decision is ONE hash aggregation on the span text:
    *    `groupBy(span).agg(count, first(id), first(pos))` keeps a
    *    span's sole location exactly when count == 1, so no join back
    *    onto the exploded spans is needed (the classic formulation
    *    joins counts back on span text — re-shuffling the hot
    *    boilerplate keys the operator exists to remove). Map-side
    *    partial aggregation absorbs viral spans before the exchange.
    *  - reassembly shuffles the SURVIVORS (not all spans) by doc id;
    *    `sort_array` over (pos, span) structs restores document order
    *    without an ordered-window exchange.
    */
  def spanDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", spanTokens: Int = 10): DataFrame = {
    val toks = split(col(textCol), " ")
    val base = docs.select(col(idCol),
      floor(size(toks) / spanTokens).cast("long").as("n_spans"))
    val spans = docs
      .select(col(idCol), toks.as("_t"),
        floor(size(toks) / spanTokens).cast("long").as("_nsp"))
      .filter(col("_nsp") >= 1)
      .select(col(idCol), col("_t"),
        explode(sequence(lit(1L), col("_nsp"))).as("pos"))
      .select(col(idCol), col("pos"),
        concat_ws(" ", slice(col("_t"),
          ((col("pos") - 1) * spanTokens + 1).cast("int"),
          lit(spanTokens))).as("span"))
    val kept = spans.groupBy("span")
      .agg(count(lit(1)).as("_cnt"),
        first(col(idCol)).as(idCol), first(col("pos")).as("pos"))
      .filter(col("_cnt") === 1)
    val reassembled = kept
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(
            sort_array(collect_list(struct(col("pos"), col("span")))),
            s => s.getField("span")),
          " ")).as("kept_md5"))
    base.join(reassembled, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** Cross-corpus span SCRUBBING — the decontamination ACTION, where
    * the contamination checks (t08/t19) only detect: every fixed-
    * boundary `spanTokens`-token span of a training document that
    * appears ANYWHERE in the eval corpus is removed, and the document
    * is reassembled from its surviving spans (the benchmark-
    * decontamination step an LLM training pipeline runs before
    * training — span removal rather than whole-document dropping keeps
    * the document's clean remainder). Same fixed span boundaries as
    * [[spanDedup]], so duplicated text hashes to identical spans and
    * the scrub is one anti join, not a pairwise comparison.
    *
    * Scale shape: the eval span set is benchmark-sized (tiny next to a
    * 100 TB corpus) and broadcasts into the anti join; the training
    * side is one explode + one per-doc aggregate. Returns per training
    * doc: (id, n_spans, n_kept, n_scrubbed, kept_md5) — kept_md5 is
    * the md5 of the reassembled text, md5('') for fully-scrubbed or
    * span-less docs.
    */
  def spanScrub(train: DataFrame, evalDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      spanTokens: Int = 10): DataFrame = {
    def spansOf(df: DataFrame): DataFrame = {
      val toks = split(col(textCol), " ")
      df.select(col(idCol), toks.as("_t"),
          floor(size(toks) / spanTokens).cast("long").as("_nsp"))
        .filter(col("_nsp") >= 1)
        .select(col(idCol), col("_t"),
          explode(sequence(lit(1L), col("_nsp"))).as("pos"))
        .select(col(idCol), col("pos"),
          concat_ws(" ", slice(col("_t"),
            ((col("pos") - 1) * spanTokens + 1).cast("int"),
            lit(spanTokens))).as("span"))
    }
    val toks = split(col(textCol), " ")
    val base = train.select(col(idCol),
      floor(size(toks) / spanTokens).cast("long").as("n_spans"))
    val evalSpans = spansOf(evalDocs).select("span").distinct()
    val kept = spansOf(train)
      .join(broadcast(evalSpans), Seq("span"), "left_anti")
    val reassembled = kept
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(
            sort_array(collect_list(struct(col("pos"), col("span")))),
            s => s.getField("span")),
          " ")).as("kept_md5"))
    base.join(reassembled, Seq(idCol), "left")
      .select(col(idCol), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_scrubbed"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
  }

  /** EXACT sparse-cosine similarity self-join over binary shingle
    * vectors — AllPairs/PPJoin prefix filtering (Bayardo et al.,
    * "Scaling Up All Pairs Similarity Search", WWW'07; Xiao et al.,
    * PPJoin, WWW'08). Returns EVERY pair with
    * cosine(A,B) = |A∩B| / sqrt(|A|·|B|) >= tNum/tDen — unlike the
    * banded-MinHash paths ([[nearDupPairs]]), whose recall is
    * probabilistic, this join's candidate pruning is lossless, so it is
    * the acceptance baseline LSH recall is measured against.
    *
    * The threshold is a rational tNum/tDen and every comparison is
    * integer (`tDen² · ov² >= tNum² · |A|·|B|`), so the result is
    * bit-stable across engines — no sqrt, no float thresholds.
    *
    * Why this scales where the naive token join explodes:
    *  - tokens get a global canonical order (document frequency
    *    ascending, shingle text tie-break) — no dense global rank is
    *    materialized; the (df, sh) tuple IS the order, so positions
    *    come from a per-document window (uniform doc-id keys);
    *  - a document of size n only indexes its PREFIX — the first
    *    n - ⌈t²·n⌉ + 1 tokens, i.e. its RAREST shingles (PPJoin
    *    Lemma 1: two sets with |A∩B| >= m must collide inside their
    *    (size - m + 1)-prefixes under any shared total order; cosine
    *    >= t forces m >= ⌈t²·size⌉ on each side). At t = 0.8 that
    *    indexes ~36% of each document, all from the rare end of the
    *    vocabulary, so the candidate join's keys are the LEAST viral
    *    shingles in the corpus — the opposite of the raw token join's
    *    stopword hot keys;
    *  - a size filter (t²·|A| <= |B| <= |A|/t²) prunes candidates
    *    before the verify join; `maxShingleFreq` additionally drops
    *    boilerplate shingles exactly as in [[nearDupPairs]] (sizes and
    *    overlap are then exact over the capped sets).
    *
    * Output: (doc_a, doc_b, n_common, size_a, size_b), doc_a < doc_b,
    * one row per qualifying pair.
    */
  def allPairsCosine(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3,
      tNum: Int = 4, tDen: Int = 5,
      maxShingleFreq: Option[Long] = None,
      maxInputRows: Long = ExactBaselineMaxDocs): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen must be in (0, 1]")
    // SCALE GUARDRAIL — this is the labeled EXACT baseline: prefix
    // filtering is lossless but worst-case quadratic in near-duplicate
    // density, so a 100×-scale caller must not reach it by accident.
    // The cap sits far above every fixture rung (sf1 is ~600k docs);
    // one narrow linear count enforces it in the code path, where the
    // label used to live only in docs.
    val nDocs = docs.select(col(idCol)).count()
    require(nDocs <= maxInputRows,
      s"allPairsCosine is the labeled EXACT quadratic baseline: $nDocs " +
        s"input docs exceed the $maxInputRows cap. At scale use the " +
        "banded/blocked siblings (nearDupPairs/d04, simhash/d05, " +
        "semantic cells/d14), or pass a higher maxInputRows deliberately.")
    val num2 = tNum.toLong * tNum
    val den2 = tDen.toLong * tDen
    val shsRaw = shingles(docs, idCol, textCol, n)
    val shs = (maxShingleFreq match {
      case Some(cap) =>
        val ok = shsRaw.groupBy("sh").agg(count(lit(1)).as("_f"))
          .filter(col("_f") <= cap).select("sh")
        shsRaw.join(ok, "sh").select(col(idCol), col("sh"))
      case None => shsRaw
    }).persist()
    // canonical order = global document frequency (asc, shingle text
    // tie-break); one aggregation + a join back on sh. The join's key
    // skew is bounded: with the cap active no key exceeds it, and
    // without, the df side is one row per distinct shingle.
    val dfreq = shs.groupBy("sh").agg(count(lit(1)).as("_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("_df"), col("sh"))
    val pos = shs.join(dfreq, "sh")
      .select(col(idCol), col("sh"),
        row_number().over(w).as("_pos"),
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(idCol)).as("_n"))
    // prefix = first (n - ceil(t^2 * n) + 1) tokens in canonical order.
    // The prefix frame feeds both sides of the candidate self-join; the
    // plan TEXT shows the ranked-prefix chain twice, but at runtime the
    // two join-input exchanges are canonically identical and Spark's
    // ReuseExchange executes the chain ONCE — measured this round:
    // materializing pref with an eager lineage cut (to "deduplicate"
    // the chain) ran 6.7 → 10.0 s at sf0.1, because the cut replaced a
    // reused exchange with a serial checkpoint barrier + two scans.
    // Negative result recorded so it isn't re-tried (OPTIMIZATION_r16.md).
    val ovMin = expr(s"(_n * $num2 + ${den2 - 1}) DIV $den2")
    val pref = pos.filter(col("_pos") <= col("_n") - ovMin + 1)
    val cand = pref.select(col(idCol).as("doc_a"), col("sh"), col("_n").as("na"))
      .join(pref.select(col(idCol).as("doc_b"), col("sh"), col("_n").as("nb")),
        Seq("sh"))
      .filter(col("doc_a") < col("doc_b") &&
        col("nb") * den2 >= col("na") * num2 &&
        col("na") * den2 >= col("nb") * num2)
      .select("doc_a", "doc_b").distinct()
    val sizes = shs.groupBy(idCol).agg(count(lit(1)).as("n"))
    val common = cand
      .join(shs.as("s1"), col(s"s1.$idCol") === col("doc_a"))
      .join(shs.as("s2"),
        col(s"s2.$idCol") === col("doc_b") && col("s2.sh") === col("s1.sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.as("sa"), col(s"sa.$idCol") === col("doc_a"))
      .join(sizes.as("sb"), col(s"sb.$idCol") === col("doc_b"))
      .filter(col("n_common") * col("n_common") * den2 >=
        col("sa.n") * col("sb.n") * num2)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sa.n").as("size_a"), col("sb.n").as("size_b"))
  }

  /** SemDeDup-style semantic near-duplicate pairs over an embedding
    * column: every vector is assigned to its nearest centroid from the
    * codebook, candidate pairs are generated only WITHIN a cell, and
    * the exact quantized cosine verifies each candidate.
    *
    * Scale shape: the codebook ships once per executor inside a
    * codegen'd [[graft.expr.NearestCellExpr]], so assignment is one
    * projected Long per vector — no N×k joined rows, no aggregate (the
    * round-11 curve flagged the old crossJoin+max_by formulation at
    * 12.9× for exactly that row explosion). The scan inside the
    * expression is two-level (~√k group representatives, then the
    * winning group's fines — see [[graft.expr.CellIndex]] for the
    * deterministic grouping rule the oracle mirrors), so a codebook
    * sized k ∝ N/S costs N·O(√k) dots, not N·k. Pair generation is a
    * self-join on the cell id — with per-cell population S bounded,
    * candidates are ~N·S/2 instead of N²/2. Tie-breaks everywhere go to
    * the smaller centroid id, keeping the assignment deterministic.
    *
    * At k ≤ [[graft.expr.CellIndex.gsize]] (all small fixtures) the
    * two-level scan degenerates to the exact flat argmax, identical to
    * the streaming twin [[graft.stream.Pipelines.streamSemanticDups]].
    *
    * `vecs` must carry (idCol: integral, vecCol: array<double>);
    * `centroids` carries (cidCol, cvecCol array<double>). Returns
    * (vec_a, vec_b, cell, cos_sim), vec_a < vec_b, cosine computed
    * with the engine's truncation-quantized dot product
    * (order-insensitive, bit-reproducible across engines).
    */
  def semanticDupPairs(vecs: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "v",
      cidCol: String = "c_id", cvecCol: String = "cv",
      threshold: Double = 0.9): DataFrame = {
    val cells = assignedCells(vecs, centroids, idCol, vecCol, cidCol, cvecCol)
      .persist()
    val a = cells.select(col("_id").as("vec_a"), col("cell"),
      col("_v").as("_va"), col("_nrm").as("_na"))
    val b = cells.select(col("_id").as("vec_b"), col("cell"),
      col("_v").as("_vb"), col("_nrm").as("_nb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", expr("quantized_dot(_va, _vb) / (_na * _nb)"))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cell"), col("cos_sim"))
  }

  /** Cell-blocked exact k-NN GRAPH — every vector's top-`k` neighbors
    * WITHIN its codebook cell, the construction step under graph ANN
    * indexes (NN-descent / HNSW base layer) and SemDeDup's
    * within-cluster ranking. Same blocking as [[semanticDupPairs]]
    * (broadcast-codebook assignment via the codegen'd
    * [[graft.expr.NearestCellExpr]] — one projection, no row
    * explosion), but the verify keeps a per-vector TOP-K (bounded
    * GroupTopK heap) instead of a threshold cut, so the output is a
    * complete neighbor list even where nothing clears a similarity
    * bar. Scale: the self-join is per-cell (never all-pairs — cell
    * population is the knob, exactly the IVF trade), the heap bounds
    * the rank memory, and the rank column is computed on the ≤k-row
    * per-vector output, not the scored frame. Cosines are the
    * bit-reproducible quantized dot, ties to the smaller neighbor id.
    * Returns (`idCol`, rank, neighbor_id, cos_sim).
    */
  def knnGraphWithinCells(vecs: DataFrame, centroids: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      cidCol: String = "c_id", cvecCol: String = "cv"): DataFrame = {
    require(k >= 1, s"bad k $k")
    val cells = assignedCells(vecs, centroids, idCol, vecCol, cidCol, cvecCol)
      .persist()
    val a = cells.select(col("_id").as(idCol), col("cell"),
      col("_v").as("_va"), col("_nrm").as("_na"))
    val b = cells.select(col("_id").as("neighbor_id"), col("cell"),
      col("_v").as("_vb"), col("_nrm").as("_nb"))
    val scored = a.join(b, Seq("cell"))
      .filter(col(idCol) =!= col("neighbor_id"))
      .withColumn("cos_sim", expr("quantized_dot(_va, _vb) / (_na * _nb)"))
      .select(col(idCol), col("neighbor_id"), col("cos_sim"))
    val topk = graft.api.Windows.topKPerGroup(scored, Seq(idCol),
      Seq(("cos_sim", true), ("neighbor_id", false)), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    topk.withColumn("rank", row_number().over(w).cast("int"))
      .select(col(idCol), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Nearest-cell assignment over a broadcast-sized codebook — the
    * shared first stage of [[semanticDupPairs]] and the
    * cluster-balanced sampler (p08): one projected cell id per vector
    * through the codegen'd two-level [[graft.expr.NearestCellExpr]]
    * (see [[graft.expr.CellIndex]] for the deterministic rule the
    * oracles mirror). Returns (`idCol`, "cell") — join back on `idCol`
    * for anything per-vector.
    */
  def cellAssignments(vecs: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "v",
      cidCol: String = "c_id", cvecCol: String = "cv"): DataFrame =
    assignedCells(vecs, centroids, idCol, vecCol, cidCol, cvecCol)
      .select(col("_id").as(idCol), col("cell"))

  /** Collect a broadcast-sized codebook into the [[graft.expr.CellIndex]]
    * the assignment expression references — the same movement a
    * broadcast join plans, minus the join.
    */
  private def collectCellIndex(centroids: DataFrame,
      cidCol: String, cvecCol: String): graft.expr.CellIndex = {
    val codebook = centroids.select(col(cidCol), col(cvecCol)).collect()
      .map { r =>
        (r.getAs[Number](0).longValue(), r.getSeq[Any](1).map {
          case d: java.lang.Double => d.doubleValue()
          case f: java.lang.Float => f.doubleValue()
          case x => throw new IllegalArgumentException(
            s"cell assignment centroid element: $x")
        }.toArray)
      }
    new graft.expr.CellIndex(codebook)
  }

  /** The nearest-cell assignment as a plain COLUMN over `vec` — the
    * [[cellAssignments]] projection without the frame plumbing, so it
    * composes anywhere a stateless projection is legal, including on a
    * STREAMING frame (the codebook rides the expression reference to
    * every executor; no join, no state). Same determinism contract as
    * [[graft.expr.CellIndex]].
    */
  def cellColumn(centroids: DataFrame, vec: Column,
      cidCol: String = "c_id", cvecCol: String = "cv"): Column = {
    val index = collectCellIndex(centroids, cidCol, cvecCol)
    graft.expr.NearestCell.nearest_cell(vec,
      sqrt(graft.expr.VectorExprs.quantized_dot(vec, vec)), index)
  }

  /** (_id, _v, _nrm, cell) for every vector — internal shared stage. */
  private def assignedCells(vecs: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String,
      cidCol: String, cvecCol: String): DataFrame = {
    graft.expr.Functions.register(vecs.sparkSession)
    val index = collectCellIndex(centroids, cidCol, cvecCol)
    vecs.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_nrm", expr("sqrt(quantized_dot(_v, _v))"))
      .withColumn("cell",
        graft.expr.NearestCell.nearest_cell(col("_v"), col("_nrm"), index))
  }
}
