package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Checkpoints, Dedup}
import graft.expr.ShingleSketch

/** The public dedup API on synthetic corpora with KNOWN duplicate
  * structure — exact, near (one-word edit), and unrelated docs.
  */
class DedupApiSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat near the river bank today"), // near dup (1 word)
    (4L, "completely different content about spark query engines and shuffles here"),
    (5L, "another unrelated document mentioning window functions and broadcast joins")
  ).toDF("doc_id", "text")

  test("exactDupGroups finds the exact pair with min-id keeper") {
    val groups = Dedup.exactDupGroups(corpus).collect()
    assert(groups.length == 1)
    assert(groups.head.getLong(1) == 2L) // n_copies
    assert(groups.head.getLong(2) == 1L) // keeper = min(doc_id)
  }

  test("nearDupPairs surfaces exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.nearDupPairs(corpus, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), s"exact dup pair missing: ${pairs.mkString(",")}")
    // the one-word edit shares most 3-gram shingles with 1 and 2
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L)),
      s"near dup pairs missing: ${pairs.mkString(",")}")
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L || p._1 == 5L || p._2 == 5L),
      "unrelated docs must not pair")
    val exact = pairs.find(p => (p._1, p._2) == ((1L, 2L))).get
    assert(exact._3 == 1.0)
  }

  test("minhashSignatures: identical docs get identical signatures") {
    val sig = Dedup.minhashSignatures(corpus).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(4L))
  }

  test("simhash: near dups differ in few nibbles, unrelated in many") {
    val sh = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def hexHamming(a: String, b: String): Int =
      a.zip(b).map { case (x, y) =>
        Integer.bitCount(Integer.parseInt(x.toString, 16) ^ Integer.parseInt(y.toString, 16))
      }.sum
    assert(sh(1L) == sh(2L))
    assert(hexHamming(sh(1L), sh(3L)) < hexHamming(sh(1L), sh(4L)),
      s"near dup ${hexHamming(sh(1L), sh(3L))} vs unrelated ${hexHamming(sh(1L), sh(4L))}")
  }

  test("frequency cap drops boilerplate shingles from the verify join") {
    // df counts DISTINCT texts (exact-dup collapse): a cap of 1 drops
    // every shingle shared across two different texts, so no cross-text
    // pair survives — but the exact-dup pair (1,2) is immune to the cap
    // (its copies count once) and still reports at jaccard 1.0
    val pairs = Dedup.nearDupPairs(corpus, threshold = 0.1, maxShingleFreq = Some(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("tokenJaccardPairs respects the probe predicate") {
    val pairs = Dedup.tokenJaccardPairs(corpus, probe = col("doc_id") === 1L,
      threshold = 0.5).collect()
    assert(pairs.forall(_.getLong(0) == 1L))
    assert(pairs.map(_.getLong(1)).toSet == Set(2L, 3L))
  }

  test("tokenJaccardPairs fractional df cap drops ubiquitous tokens") {
    // "the" appears in 3/5 docs = 0.6 df; a 0.5 cap drops it but keeps
    // the informative tokens, so 1-2 (identical) still pair at 1.0
    // while 1-3's jaccard shifts because the shared stopwords are gone
    val capped = Dedup.tokenJaccardPairs(corpus, probe = col("doc_id") === 1L,
      threshold = 0.9, maxTokenDfFraction = Some(0.5))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(capped.keySet == Set(2L), s"only the exact dup survives 0.9: $capped")
    assert(capped(2L) == 1.0)
    // a cap of 1.0 keeps everything: same result as uncapped
    val full = Dedup.tokenJaccardPairs(corpus, probe = col("doc_id") === 1L,
      threshold = 0.5).collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    val capped1 = Dedup.tokenJaccardPairs(corpus, probe = col("doc_id") === 1L,
      threshold = 0.5, maxTokenDfFraction = Some(1.0))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(capped1 == full)
  }

  test("tokenJaccardPairs prefix filter is lossless (matches direct join)") {
    // the AllPairs prefix candidates must reproduce the direct join's
    // pairs EXACTLY at every threshold, including ones low enough that
    // the prefix covers most of each document and high enough that it
    // is a couple of tokens — and with the df cap interacting
    for (t <- Seq(0.2, 0.5, 0.95); cap <- Seq(None, Some(0.5))) {
      val direct = Dedup.tokenJaccardPairs(corpus, probe = lit(true),
        threshold = t, maxTokenDfFraction = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefixed = Dedup.tokenJaccardPairs(corpus, probe = lit(true),
        threshold = t, maxTokenDfFraction = cap, prefixFilter = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefixed == direct, s"t=$t cap=$cap: $prefixed != $direct")
    }
  }

  test("nearDupClusters resolves transitive chains to one component") {
    // a long chain (10..18) needs several propagation rounds; a
    // triangle with an extra edge (1-2, 2-3, 1-3) and an isolated pair
    // (5-6) exercise cycles and trivial components
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (14L, 15L), (15L, 16L), (16L, 17L), (17L, 18L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val chain = (10L to 18L).map(id => (id, 10L, 9L)).toSet
    val want = Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (5L, 5L, 2L), (6L, 5L, 2L)) ++ chain
    assert(got == want, s"got $got")
  }

  test("nearDupClusters: distributed fixpoint path agrees with the union-find bail-out") {
    // the production cutoff (1M label-graph edges) makes the
    // distributed rounds unreachable at fixture sizes — force them
    // with smallCutoff = 0 and pin equality against the default path.
    // Descending long chain: seed labels only collapse one hop, so the
    // contracted label graph is itself a long path and the fixpoint
    // must genuinely iterate (hooks + jumps over multiple rounds).
    val pairs = (
      (30L to 58L).map(id => (id + 1, id)) ++ // descending-ish chain
        Seq((1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L))
      ).toDF("doc_a", "doc_b")
    def run(cutoff: Long) = Dedup.nearDupClusters(pairs, smallCutoff = cutoff)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val viaFixpoint = run(0L)
    val viaUnionFind = run(Long.MaxValue)
    assert(viaFixpoint == viaUnionFind,
      s"paths disagree:\n fixpoint $viaFixpoint\n unionfind $viaUnionFind")
    val chain = (30L to 59L).map(id => (id, 30L, 30L)).toSet
    assert(viaFixpoint == chain ++ Set((1L, 1L, 3L), (2L, 1L, 3L),
      (3L, 1L, 3L), (5L, 5L, 2L), (6L, 5L, 2L)), viaFixpoint.toString)
  }

  test("incrementalNearDups matches new-batch docs against the corpus only") {
    // corpus: docs 1 and 4; incoming: an exact dup of 1, a near dup of
    // 1, a novel doc, and a near-dup PAIR WITHIN the batch (6,7) that
    // must NOT be reported (in-batch dedup is nearDupPairs' job)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (4L, "completely different content about spark query engines and shuffles here")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (11L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (12L, "the quick brown fox jumps over the lazy cat near the river bank today"),
      (13L, "a wholly novel document with no overlap to anything stored before now"),
      (6L, "window functions and broadcast joins explained for engine developers"),
      (7L, "window functions and broadcast joins explained for engine developers")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(incoming, corpus, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = got.map(p => (p._1, p._2)).toSet
    assert(keys.contains((11L, 1L)), s"exact dup missed: ${got.mkString(",")}")
    assert(keys.contains((12L, 1L)), s"near dup missed: ${got.mkString(",")}")
    assert(!keys.exists(p => p._1 == 13L), "novel doc must not match")
    assert(!keys.exists(p => p._1 == 6L || p._1 == 7L || p._2 == 6L || p._2 == 7L),
      "in-batch pairs must not be reported")
    assert(got.find(p => (p._1, p._2) == ((11L, 1L))).get._3 == 1.0)
  }

  test("spanDedup drops corpus-repeated spans, keeps order, handles short docs") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "a b c d e f g"),        // spans: "a b c"(dup), "d e f"; tail "g" ignored
      (2L, "a b c x y z p q r"),    // spans: "a b c"(dup), "x y z", "p q r"
      (3L, "x y"),                  // shorter than one span
      (4L, "m n o m n o")           // within-doc repeat: both spans dropped
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(docs, spanTokens = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got(1L) == ((2L, 1L, 1L, md5hex("d e f"))))
    assert(got(2L) == ((3L, 2L, 1L, md5hex("x y z p q r"))))
    assert(got(3L) == ((0L, 0L, 0L, md5hex(""))))
    assert(got(4L) == ((2L, 0L, 2L, md5hex(""))))
  }

  test("spanScrub removes exactly the eval-set spans, keeps the clean remainder") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val train = Seq(
      (1L, "a b c d e f g h i"),  // spans "a b c"(eval), "d e f", "g h i"
      (2L, "x y z q r s"),        // fully clean
      (3L, "a b c a b c")         // fully contaminated
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, "a b c")).toDF("doc_id", "text")
    val got = Dedup.spanScrub(train, eval_, spanTokens = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(got(1L) == ((3L, 2L, 1L, md5hex("d e f g h i"))), got(1L).toString)
    assert(got(2L) == ((2L, 2L, 0L, md5hex("x y z q r s"))), got(2L).toString)
    assert(got(3L) == ((2L, 0L, 2L, md5hex(""))), got(3L).toString)
  }

  test("containmentPairs catches subsumption that jaccard dilutes") {
    // doc 2 is doc 1 verbatim inside 3x more surrounding text: shingle
    // containment of 1-in-2 is high while jaccard is well under 0.5
    val small = "the quick brown fox jumps over the lazy dog near the river"
    val filler = (1 to 15).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, small),
      (2L, s"$filler $small ${(16 to 30).map(i => s"w$i").mkString(" ")}"),
      (3L, "completely different content about spark query engines here")
    ).toDF("doc_id", "text")
    // bandSize=1 (8 single-hash bands) is the max-recall banding a
    // subsumption screen wants: candidate probability 1-(1-J)^8 instead
    // of the jaccard-squared suppression of 2-hash bands
    val got = Dedup.containmentPairs(docs, threshold = 0.6, bandSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.length == 1, got.mkString(","))
    val (a, b, cont, jac) = got.head
    assert((a, b) == ((1L, 2L)))
    assert(cont > 0.8, s"containment $cont")
    assert(jac < 0.5, s"jaccard should be diluted, got $jac")
  }

  test("allPairsCosine equals the brute-force quadratic join (lossless pruning)") {
    // random corpus + one-word mutants: the prefix/size filters must
    // not lose a single qualifying pair relative to brute force
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 60).map(i => s"w$i")
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val mutated = (0 until 12).map { i =>
      val toks = base(i)._2.split(" ")
      toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
      (100L + i, toks.mkString(" "))
    }
    val all = base ++ mutated
    val got = Dedup.allPairsCosine(all.toDF("doc_id", "text"), tNum = 7, tDen = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    def shingleSet(t: String): Set[String] = {
      val w = t.split(" ")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val sets = all.map { case (id, t) => id -> shingleSet(t) }
    val expect = (for {
      (ia, sa) <- sets
      (ib, sb) <- sets
      if ia < ib
      ov = (sa intersect sb).size.toLong
      if 100L * ov * ov >= 49L * sa.size * sb.size
    } yield (ia, ib, ov, sa.size.toLong, sb.size.toLong)).toSet
    assert(expect.nonEmpty, "fixture must plant qualifying pairs")
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("allPairsCosine boilerplate cap removes every shared shingle here") {
    // cap 1: any shingle in 2+ docs is dropped, so no overlap survives
    val pairs = Dedup.allPairsCosine(corpus, tNum = 1, tDen = 2,
      maxShingleFreq = Some(1L))
    assert(pairs.count() == 0)
  }

  test("semanticDupPairs pairs only within the assigned cell, above threshold") {
    // two well-separated directions (x-axis, y-axis); 1&2 nearly
    // parallel (dup), 3 same cell but ~26 deg away, 4 in the other cell
    val vecs = Seq(
      (1L, Array(1.0, 0.0)),
      (2L, Array(0.999, 0.01)),  // cos(1,2) ~ 0.99995
      (3L, Array(0.9, 0.44)),    // x-cell, cos(1,3) ~ 0.898 < 0.95
      (4L, Array(0.0, 1.0))      // y-cell
    ).toDF("vec_id", "v")
    val cent = Seq((10L, Array(1.0, 0.0)), (20L, Array(0.0, 1.0)))
      .toDF("c_id", "cv")
    val got = Dedup.semanticDupPairs(vecs, cent, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 10L)),
      s"expected only the planted (1,2) pair in cell 10, got ${got.mkString(",")}")
  }

  test("CellIndex two-level assignment follows the documented rule at k > gsize") {
    import graft.expr.{CellIndex, VectorExprs}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // 20 deterministic pseudo-random centroids, dim 6 -> gsize =
    // max(8, ceil(sqrt(20))) = 8, reps at ranks {0, 8, 16}: a REAL
    // three-group hierarchy (the driver fixtures never exceed one group)
    def vec(seed: Long, dim: Int): Array[Double] =
      Array.tabulate(dim) { i =>
        val h = java.util.Objects.hash(seed.toInt, i).toDouble
        math.sin(h) // in [-1, 1], deterministic, no RNG state
      }
    val cents = (0 until 20).map(i => (i * 7L, vec(i * 31L, 6))).toArray
    val idx = new CellIndex(cents)
    assert(idx.gsize == 8)
    // independent brute mirror of the documented rule
    val sorted = cents.sortBy(_._1).map { case (cid, cv) =>
      (cid, cv, math.sqrt(VectorExprs.quantizedDotArr(cv, cv)))
    }
    val reps = sorted.zipWithIndex.collect { case (f, i) if i % 8 == 0 => f }
    def argmax(v: Array[Double], nrm: Double,
        cands: Seq[(Long, Array[Double], Double)]): Long =
      cands.map { case (cid, cv, cnrm) =>
        (VectorExprs.quantizedDotArr(v, cv) / (nrm * cnrm), cid)
      }.minBy { case (cos, cid) => (-cos, cid) }._2
    val grouped = sorted.groupBy(f => argmax(f._2, f._3, reps.toSeq))
    def expected(v: Array[Double]): Long = {
      val nrm = math.sqrt(VectorExprs.quantizedDotArr(v, v))
      argmax(v, nrm, grouped(argmax(v, nrm, reps.toSeq)).toSeq)
    }
    (0 until 40).foreach { s =>
      val v = vec(1000L + s, 6)
      val nrm = math.sqrt(VectorExprs.quantizedDotArr(v, v))
      assert(idx.cell(new GenericArrayData(v), nrm) == expected(v),
        s"two-level assignment diverged from the documented rule at seed $s")
    }
  }

  test("CellIndex degenerates to the exact flat argmax at k <= gsize") {
    import graft.expr.{CellIndex, VectorExprs}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def vec(seed: Long, dim: Int): Array[Double] =
      Array.tabulate(dim)(i => math.sin(java.util.Objects.hash(seed.toInt, i).toDouble))
    val cents = (0 until 7).map(i => (i * 3L, vec(i * 13L, 5))).toArray
    val idx = new CellIndex(cents)
    val sorted = cents.sortBy(_._1).map { case (cid, cv) =>
      (cid, cv, math.sqrt(VectorExprs.quantizedDotArr(cv, cv)))
    }
    (0 until 20).foreach { s =>
      val v = vec(500L + s, 5)
      val nrm = math.sqrt(VectorExprs.quantizedDotArr(v, v))
      val flat = sorted.map { case (cid, cv, cnrm) =>
        (VectorExprs.quantizedDotArr(v, cv) / (nrm * cnrm), cid)
      }.minBy { case (cos, cid) => (-cos, cid) }._2
      assert(idx.cell(new GenericArrayData(v), nrm) == flat)
    }
  }

  test("semanticDupPairs tie-breaks equal centroid scores on min c_id") {
    // duplicate centroids: every vector scores both equally; the
    // deterministic assignment must pick c_id 10, never 20
    val vecs = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.999, 0.01)))
      .toDF("vec_id", "v")
    val cent = Seq((20L, Array(1.0, 0.0)), (10L, Array(1.0, 0.0)))
      .toDF("c_id", "cv")
    val got = Dedup.semanticDupPairs(vecs, cent, threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 2L, 10L)), got.mkString(","))
  }

  test("portable hamming expression matches scalar popcount (d16)") {
    import org.apache.spark.sql.functions.expr
    def scalarHamming(a: String, b: String): Int =
      a.zip(b).map { case (x, y) =>
        Integer.bitCount(
          Integer.parseInt(x.toString, 16) ^ Integer.parseInt(y.toString, 16))
      }.sum
    // fixed edge cases + deterministic pseudo-random signatures (the
    // d16 fast path decodes each side to one long and xor-popcounts;
    // both forms must agree with the scalar and each other, including
    // the high-bit half where the shiftleft recombination goes negative)
    val rnd = new scala.util.Random(1016L)
    def hex16(): String =
      (1 to 16).map(_ => "0123456789abcdef"(rnd.nextInt(16))).mkString
    val cases = Seq(
      ("0000000000000000", "0000000000000000"), // 0 bits
      ("0000000000000000", "0000000000000001"), // 1 bit
      ("ffffffffffffffff", "0000000000000000"), // 64 bits
      ("a5a5a5a5a5a5a5a5", "5a5a5a5a5a5a5a5a"), // alternating
      ("0123456789abcdef", "0123456789abcdee")) ++
      (1 to 50).map(_ => (hex16(), hex16()))
    val df = cases.toDF("sa", "sb")
      .withColumn("h", expr(graft.ops.DedupOps.hammingSql("sa", "sb")))
      .withColumn("ha", expr(graft.ops.DedupOps.simhashBitsSql("sa")))
      .withColumn("hb", expr(graft.ops.DedupOps.simhashBitsSql("sb")))
      .withColumn("hx", expr("bit_count(ha ^ hb)"))
    val got = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getInt(2), r.getInt(5)))
    got.foreach { case (a, b, h, hx) =>
      assert(h == scalarHamming(a, b), s"$a vs $b: nibble form got $h")
      assert(hx == h, s"$a vs $b: xor form $hx != nibble form $h")
    }
  }

  test("lshCalibration buckets exact dups at decile 10 with certain collision") {
    // doc 0 and its exact copy 1 (jaccard 1.0 -> bucket 10, identical
    // signatures -> every band collides); doc 2 shares one shingle of
    // 0's four via a common 3-token prefix (low decile); doc 3 is
    // disjoint from everything (no overlap pair at all)
    val base = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, base), (1L, base),
      (2L, "alpha beta gamma unrelated trailing words here"),
      (3L, "completely different vocabulary nothing shared")
    ).toDF("doc_id", "text")
    val got = graft.api.Dedup.lshCalibration(docs, probe = lit(true))
      .orderBy("bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // pair (0,1): jaccard 1.0 -> bucket 10, collided; pairs (0,2) and
    // (1,2): 1 shared of 4+5-1 shingles -> j=0.125 -> bucket 1,
    // almost surely no band collision (identical minhashes would need
    // all 8 seeded mins to coincide on the shared shingle)
    assert(got.last == ((10, 1L, 1L)), got.mkString(","))
    assert(got.head._1 == 1 && got.head._2 == 2L, got.mkString(","))
    // doc 3 never appears: zero-overlap pairs carry no signal
    assert(got.map(_._2).sum == 3L, got.mkString(","))
  }

  test("indexed probe is exact against duplicate index rows (replay tolerance)") {
    // an at-least-once gate replay re-appends an admitted doc's
    // shingles + signature; with multiset counting the doubled
    // n_common pushes the jaccard denominator na+nb-c to 0, and long
    // division by zero is NULL in non-ANSI Spark — the one TRUE
    // duplicate would silently pass the gate. Set-semantics counting
    // must make the duplicated index behave exactly like the clean one.
    val d2 = Seq((2L, "unrelated second subject matter with fresh vocabulary inside"))
      .toDF("doc_id", "text")
    val (shs, sig) = graft.api.Dedup.incrementalCorpusIndex(d2)
    val probe = Seq((3L, "unrelated second subject matter with fresh vocabulary inside"))
      .toDF("doc_id", "text")
    def rows(cs: org.apache.spark.sql.DataFrame,
        cg: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
      graft.api.Dedup.incrementalNearDupsIndexed(probe, cs, cg,
          threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val clean = rows(shs, sig)
    val doubled = rows(shs.unionByName(shs), sig.unionByName(sig))
    assert(clean == Seq((3L, 2L, 1.0)), clean.mkString(","))
    assert(doubled == clean, s"duplicated index diverged: $doubled")
  }

  test("lshCalibration counts probe pairs regardless of id order") {
    // the production shape: a NEW ingest batch carries the HIGHEST
    // ids — an a.id < b.id pair restriction would exclude every
    // probe-vs-corpus pair here; least/greatest normalization keeps
    // each exactly once (and the both-probes case is not doubled)
    val base = "alpha beta gamma delta epsilon zeta"
    val docs = Seq((0L, base), (99L, base)).toDF("doc_id", "text")
    val high = graft.api.Dedup.lshCalibration(docs,
        probe = col("doc_id") === 99L)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(high.toSeq == Seq((10, 1L, 1L)), high.mkString(","))
    val both = graft.api.Dedup.lshCalibration(docs, probe = lit(true))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(both.toSeq == Seq((10, 1L, 1L)), both.mkString(","))
  }

  test("allPairsCosine refuses an over-cap corpus (d13 scale guardrail)") {
    val docs = corpus.toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.allPairsCosine(docs, maxInputRows = 2L)
    }
    assert(e.getMessage.contains("EXACT quadratic baseline"), e.getMessage)
    // under the cap the guard is invisible: same pairs as ever
    assert(Dedup.allPairsCosine(docs, maxInputRows = 5L).count() ==
      Dedup.allPairsCosine(docs).count())
  }

  test("indexCompactionReport: GC accounting and probe continuity per band (d20 kernel)") {
    import spark.implicits._
    // seeds=4 / bandSize=2 -> 2 bands; signatures hand-built so every
    // bucket membership is known. A and B share band-0's bucket; every
    // band-1 bucket is distinct except probe P matching A.
    val corpusSig = Seq(
      (1L, 1L, 2L, 3L, 4L),  // A
      (2L, 1L, 2L, 9L, 9L),  // B -> tombstoned
      (3L, 5L, 5L, 7L, 7L))  // C
      .toDF("doc_id", "mh0", "mh1", "mh2", "mh3")
    val probeSig = Seq((10L, 1L, 2L, 3L, 4L)) // P = A's signature
      .toDF("doc_id", "mh0", "mh1", "mh2", "mh3")
    val tomb = Seq(2L).toDF("doc_id")
    val got = Dedup.indexCompactionReport(corpusSig, tomb, probeSig,
        seeds = 4, bandSize = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getLong(9))).toSeq
    assert(got == Seq(
      // band 0: buckets {A,B}, {C}; B's tombstone empties nothing
      // (A keeps the shared bucket); P hits A (live) and B (reclaimed)
      (0, 3L, 1L, 2L, 2L, 2L, 0L, 2L, 1L, 1L),
      // band 1: buckets {A},{B},{C}; B's bucket is emptied; P hits
      // only A, so the probe loses nothing to compaction
      (1, 3L, 1L, 2L, 3L, 2L, 1L, 1L, 1L, 0L)), got.toString)
  }

  test("editDistanceVerify: classic distances, identical docs, floor-ppm rule, prefix cap (d19 kernel)") {
    import spark.implicits._
    val docs = Seq((1L, "kitten"), (2L, "sitting"), (3L, "kitten"))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 0.8), (1L, 3L, 1.0))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = graft.ops.DedupOps.editDistanceVerify(pairs, docs, 400)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      // kitten→sitting is the textbook 3; ppm = (7-3)*1e6 div 7
      (1L, 2L, 3, 571428L),
      (1L, 3L, 0, 1000000L)), got.mkString(","))
    // the prefix cap is real: at cap 4 only "kitt" vs "sitt" is
    // compared — distance 1 on max-length 4
    val capped = graft.ops.DedupOps.editDistanceVerify(pairs, docs, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3),
        r.getLong(4)))
    assert(capped.toSeq == Seq(
      (1L, 2L, 1, 750000L),
      (1L, 3L, 0, 1000000L)), capped.mkString(","))
  }

  test("editDistanceVerify: code-point edit units on non-ASCII text (d19 character-unit contract)") {
    import spark.implicits._
    // Spark's levenshtein edits CODE POINTS; DuckDB's edits BYTES
    // ('café'→'cafe': 1 vs 2 — measured, r14 ADVICE). The engine's
    // code-point semantics is the contract this spec pins: one
    // accented char or one emoji is ONE edit regardless of its UTF-8
    // width. d19's ORACLE parity additionally requires the corpus be
    // ASCII (where byte == code point); see the editPrefixChars note.
    val docs = Seq((1L, "café"), (2L, "cafe"), (3L, "ab😀cd"),
      (4L, "abcd")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 0.9), (3L, 4L, 0.9))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = graft.ops.DedupOps.editDistanceVerify(pairs, docs, 400)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    assert(got(1L) == 1, s"café→cafe must be one code-point edit, got ${got(1L)}")
    assert(got(3L) == 1, s"deleting one emoji must be one edit, got ${got(3L)}")
  }

  test("property: editDistanceVerify equals the textbook Wagner-Fischer DP on 120 random string pairs (d19 kernel)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    // short strings over a 3-letter alphabet make interesting edit
    // scripts (transpositions, shared prefixes) likely; empty strings
    // included — lev("", y) must be |y|
    val genStr = Gen.choose(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val ps = Gen.listOfN(120, Gen.zip(genStr, genStr))
      .apply(Gen.Parameters.default, Seed(19L))
      .getOrElse(fail("generator produced no sample"))
    val docs = ps.zipWithIndex.flatMap { case ((x, y), i) =>
      Seq((2L * i, x), (2L * i + 1, y)) }.toDF("doc_id", "text")
    val pairs = ps.indices.map(i => (2L * i, 2L * i + 1, 1.0))
      .toDF("doc_a", "doc_b", "jaccard")
    val got = graft.ops.DedupOps.editDistanceVerify(pairs, docs, 400)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    ps.zipWithIndex.foreach { case ((x, y), i) =>
      assert(got(2L * i) == lev(x, y), s"'$x' vs '$y'")
    }
  }

  // ---- pair-grain verify: equivalence, job budget, session independence ----

  private val base = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val promo = "click here to subscribe now"

  /** Exact-copy families, one- and two-word edits, a superset and a
    * prefix of the base text, boilerplate shared by several texts, and
    * documents without shingles (null, empty, one and two tokens).
    */
  private val mixedDocs: Seq[(Long, String)] = Seq(
    1L -> base, 2L -> base, 3L -> base,
    4L -> base.replace("dog", "cat"), 6L -> base.replace("dog", "cat"),
    5L -> base.replace("dog", "cat").replace("river", "lake"),
    7L -> s"$base and then it went home to sleep in a warm bed by the fire",
    8L -> s"another unrelated document mentioning window functions $promo",
    9L -> s"another unrelated document mentioning window functions $promo",
    10L -> "the quick brown fox jumps over the lazy",
    11L -> null, 12L -> "hello world", 13L -> "x", 14L -> "",
    15L -> "completely different content about spark query engines and shuffles",
    16L -> s"window functions and broadcast joins $promo",
    17L -> s"spark shuffles are expensive $promo")

  private def mixed(s: SparkSession): DataFrame =
    s.createDataFrame(mixedDocs).toDF("doc_id", "text")

  private def shingleSet(text: String): Set[String] =
    if (text == null) Set.empty
    else text.split(" ", -1).sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  /** The 8-seed signature of a shingle set through the hex form of md5. */
  private def signature(set: Set[String]): Seq[Long] = {
    val halves = set.toSeq.map { sh =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(sh.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16),
        java.lang.Long.parseLong(hex.substring(16, 31), 16))
    }
    (0 until 8).map(i => halves.map { case (h1, h2) => (h1 + i * h2) % (1L << 60) }.min)
  }

  /** Brute force over every id-ordered pair: (a, b, common, na, nb) for
    * the pairs whose capped sets are non-empty and share a 2-hash band.
    * `df` counts each shingle once per text in `dfTexts`.
    */
  private def brutePairs(cap: Option[Long], dfTexts: Seq[String])
      : Seq[(Long, Long, Int, Int, Int)] = {
    val df = dfTexts.flatMap(shingleSet).groupBy(identity).map { case (k, v) => k -> v.size }
    val sets = mixedDocs.map { case (id, t) =>
      id -> cap.fold(shingleSet(t))(c => shingleSet(t).filter(df(_) <= c))
    }.filter(_._2.nonEmpty)
    val sigs = sets.map { case (id, set) => id -> signature(set) }.toMap
    for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      if sigs(a).grouped(2).zip(sigs(b).grouped(2)).exists { case (x, y) => x == y }
    } yield (a, b, (sa intersect sb).size, sa.size, sb.size)
  }

  private def jaccard(c: Int, na: Int, nb: Int): Double = c.toDouble / (na + nb - c)

  test("nearDupPairs and containmentPairs equal brute-force shingle-set jaccard/containment") {
    val docs = mixed(spark)
    for (cap <- Seq(None, Some(2L)); t <- Seq(0.0, 0.5, 0.9)) {
      // nearDupPairs counts a shingle's frequency over distinct texts
      val near = brutePairs(cap, mixedDocs.map(_._2).distinct)
        .map { case (a, b, c, na, nb) => (a, b, jaccard(c, na, nb)) }
        .filter(_._3 >= t).toSet
      val gotNear = Dedup.nearDupPairs(docs, threshold = t, maxShingleFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(gotNear.length == gotNear.toSet.size, s"duplicate rows, cap=$cap t=$t")
      assert(gotNear.toSet == near, s"nearDupPairs cap=$cap t=$t")
      // containmentPairs counts it over every row
      val cont = brutePairs(cap, mixedDocs.map(_._2))
        .map { case (a, b, c, na, nb) =>
          (a, b, c.toDouble / math.min(na, nb), jaccard(c, na, nb)) }
        .filter(_._3 >= t).toSet
      val gotCont = Dedup.containmentPairs(docs, threshold = t, maxShingleFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      assert(gotCont.toSet == cont && gotCont.length == cont.size,
        s"containmentPairs cap=$cap t=$t")
    }
    // the corpus exercises what it is meant to: exact families, the
    // boilerplate cap, and a contained prefix below the jaccard bar
    val all = brutePairs(None, mixedDocs.map(_._2).distinct)
    assert(all.exists(p => (p._1, p._2) == ((1L, 2L))))
    assert(brutePairs(Some(2L), mixedDocs.map(_._2).distinct).size < all.size)
    assert(all.exists { case (a, b, c, na, nb) =>
      (a, b) == ((3L, 10L)) && c == math.min(na, nb) && jaccard(c, na, nb) < 0.9 })
  }

  test("shingle sketch: signatures equal the relational form; hashes re-derive them") {
    val docs = mixed(spark)
    val relational = Dedup.minhashSignaturesRelational(docs).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val sk = docs.select(col("doc_id"),
        ShingleSketch.shingle_sketch(col("text"), 3, 8).as("sk"))
      .collect().map(r => r.getLong(0) -> Option(r.getStruct(1))).toMap
    assert(sk.collect { case (id, Some(_)) => id }.toSet == relational.keySet)
    for ((id, Some(row)) <- sk) {
      val mh = row.getSeq[Long](0)
      val hs = row.getSeq[Long](1)
      assert(mh == relational(id), s"doc $id signature")
      assert(mh == signature(shingleSet(mixedDocs.toMap.apply(id))), s"doc $id hex form")
      assert(hs.length == 2 * shingleSet(mixedDocs.toMap.apply(id)).size)
      // the same digests, unordered, give the same sketch
      val pairs = hs.grouped(2).map(p => (p(0), p(1))).toSeq.reverse
      val again = Seq(Tuple1(pairs)).toDF("p")
        .select(ShingleSketch.hash_sketch(col("p"), 8).as("sk")).head().getStruct(0)
      assert(again.getSeq[Long](0) == mh && again.getSeq[Long](1) == hs, s"doc $id")
    }
  }

  test("sketch kernels: generated code compiles and equals interpreted evaluation") {
    // Spark falls back to interpreted evaluation when generated code does
    // not compile; these sessions turn that fallback off, then on alone
    def run(conf: (String, String)*): Set[Seq[Any]] = {
      val s = spark.newSession()
      conf.foreach { case (k, v) => s.conf.set(k, v) }
      val sk = mixed(s).select(col("doc_id").as("id"),
          ShingleSketch.shingle_sketch(col("text"), 3, 8).as("sk"))
        .filter(col("sk").isNotNull)
      // x's digests as array<struct<hi, lo>>, the input hash_sketch takes
      val hs = col("x.sk.hs")
      val digests = transform(sequence(lit(0), (size(hs) / 2).cast("int") - 1),
        i => struct(element_at(hs, i * 2 + 1), element_at(hs, i * 2 + 2)))
      sk.as("x").crossJoin(sk.as("y"))
        .select(col("x.id"), col("y.id"), col("x.sk"),
          ShingleSketch.hash_sketch(digests, 8),
          ShingleSketch.common_count(col("x.sk.hs"), col("y.sk.hs")))
        .collect().map(_.toSeq).toSet
    }
    val generated = run("spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
    val interpreted = run("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(generated.size == 13 * 13)
    assert(generated == interpreted)
  }

  /** Jobs `body` starts on `s`'s context, counted by job group so that
    * concurrent suites do not count.
    */
  private def jobsOf[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val group = s"job-budget-${java.util.UUID.randomUUID}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job budget")
    try {
      val r = body
      GraftSqlBridge.flushListenerBus(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("job budget: nearDupPairs runs one cut at call time, nearDupClusters one collect") {
    val docs = mixed(spark)
    val (_, cutJobs) = jobsOf(spark)(Checkpoints.cut(
      docs.groupBy(md5(col("text"))).agg(min(col("doc_id")), count(lit(1)),
        min(col("text")))))
    val (pairs, pairJobs) = jobsOf(spark)(Dedup.nearDupPairs(docs))
    assert(pairJobs <= cutJobs, s"nearDupPairs ran $pairJobs jobs, one cut runs $cutJobs")
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("doc_a", "doc_b")
    val (clusters, clusterJobs) = jobsOf(spark)(Dedup.nearDupClusters(edges))
    assert(clusterJobs <= 2, s"nearDupClusters ran $clusterJobs jobs")
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(clusters)
    assert(got.map(_._1) == edges.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet)
    assert(got.contains((3L, 1L, got.count(_._2 == 1L).toLong)), got.toString)
    assert(got == rows(Dedup.nearDupClusters(edges, smallCutoff = 0L)))
  }

  test("nearDupClusters keeps the input id type on both paths") {
    val pairs = Seq((1, 2), (2, 3), (7, 9), (10, 9)).toDF("doc_a", "doc_b")
    for (cutoff <- Seq(0L, 1000L)) {
      val out = Dedup.nearDupClusters(pairs, smallCutoff = cutoff)
      assert(out.schema("doc_id").dataType == IntegerType, s"cutoff $cutoff")
      assert(out.schema("cluster_id").dataType == IntegerType, s"cutoff $cutoff")
      assert(out.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet ==
        Set((1, 1, 3L), (2, 1, 3L), (3, 1, 3L), (7, 7, 3L), (9, 7, 3L), (10, 7, 3L)))
    }
  }

  test("the pair and cluster functions give the same rows with ANSI on") {
    def bag(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
    def runs(s: SparkSession): Seq[DataFrame] = {
      val docs = mixed(s)
      val pairs = Dedup.nearDupPairs(docs, threshold = 0.3)
      Seq(pairs,
        Dedup.nearDupPairs(docs, threshold = 0.3, maxShingleFreq = Some(2L)),
        Dedup.containmentPairs(docs, threshold = 0.5),
        Dedup.containmentPairs(docs, threshold = 0.5, maxShingleFreq = Some(2L)),
        Dedup.nearDupClusters(pairs),
        Dedup.nearDupClusters(pairs, smallCutoff = 0L))
    }
    for (((plain, ansi), i) <- runs(spark).zip(runs(TestSpark.ansi)).zipWithIndex) {
      assert(bag(plain).nonEmpty, s"run $i is empty")
      assert(bag(ansi) == bag(plain), s"run $i")
    }
  }
}
