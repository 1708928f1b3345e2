package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.GraphOps

/** Triangle counting must agree with hand-counted graphs, including the
  * degree-tie cases where the orientation falls back to the id order.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def stats(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val df = spark.createDataFrame(edges).toDF("pa", "pb")
    val r = GraphOps.triangleStats(df).collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("K4 plus a pendant edge: 4 triangles") {
    // complete graph on {1,2,3,4} (every degree equal — all ties) + 4-5
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(stats(k4 :+ (4L, 5L)) == (5L, 7L, 4L))
  }

  test("triangle-free star and path: 0 triangles") {
    assert(stats(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))) == (5L, 4L, 0L))
    assert(stats(Seq((1L, 2L), (2L, 3L), (3L, 4L))) == (4L, 3L, 0L))
  }

  test("two triangles sharing an edge") {
    // {1,2,3} and {2,3,4}: mixed degrees (2,3,3,2)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(stats(e) == (4L, 5L, 2L))
  }

  test("clustering coefficients on K4 plus a pendant edge") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val df = spark.createDataFrame(k4 :+ (4L, 5L)).toDF("pa", "pb")
    val got = GraphOps.clusteringCoefficients(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // nodes 1-3: every neighbor pair closed (coeff 1); node 4: the
    // pendant opens 3 of its 6 neighbor pairs; node 5: deg 1, excluded
    assert(got == Map(
      1L -> ((3L, 3L, 1.0)), 2L -> ((3L, 3L, 1.0)), 3L -> ((3L, 3L, 1.0)),
      4L -> ((4L, 3L, 0.5))), got.toString)
  }

  test("label spread on a path: labels move exactly one hop per round") {
    import org.apache.spark.sql.functions.col
    // path 1-2-3-4-5-6, seeds at the ends: 1 labeled 10, 6 labeled 60
    val path = spark.createDataFrame(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))).toDF("pa", "pb")
    val seeds = spark.createDataFrame(Seq((1L, 10L), (6L, 60L)))
      .toDF("node", "label")
    def run(rounds: Int): Map[Long, Long] =
      graft.api.Graph.labelSpread(path, seeds, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one round: only the direct neighbors are reached (synchronous
    // update — an in-place variant would leak further)
    assert(run(1) == Map(1L -> 10L, 2L -> 10L, 5L -> 60L, 6L -> 60L))
    // three rounds: node 4 (3 hops from seed 1, 2 from seed 6) has
    // heard both labels; MIN wins. Node 5 (4 hops from seed 1) still
    // holds 60 — 10 hasn't arrived yet.
    assert(run(3) == Map(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 10L,
      5L -> 60L, 6L -> 60L))
    // four rounds: 10 reaches node 5
    assert(run(4)(5L) == 10L)
    // seeds are pinned: 6 keeps 60 even after 10 reaches it
    assert(run(5)(6L) == 60L)
  }

  test("personalized PageRank: seed-only teleport, locality, exact picoranks") {
    // path 1-2-3-4, seed {1}: rank can only have reached distance k
    // after k iterations, and every value is hand-computable in exact
    // integer arithmetic
    val path = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
      .toDF("pa", "pb")
    val seeds = spark.createDataFrame(Seq(Tuple1(1L))).toDF("node")
    def run(iters: Int): Map[Long, Long] =
      graft.api.Graph.personalizedPageRank(path, seeds, iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // iter 1: seed keeps only its teleport share 0.15; neighbor 2 gets
    // 0.85 * (1.0 / deg(1)=1)
    assert(run(1) == Map(1L -> 150000000000L, 2L -> 850000000000L),
      run(1).toString)
    // iter 2: 1 <- 0.85*(0.85/2) + 0.15; 2 <- 0.85*(0.15/1);
    // 3 <- 0.85*(0.85/2); node 4 (distance 3) still unreached
    assert(run(2) == Map(1L -> 511250000000L, 2L -> 127500000000L,
      3L -> 361250000000L), run(2).toString)
  }

  test("weighted PageRank: rank splits by edge weight, exact picoranks") {
    // star 2-1-3 with weights 3 and 1: node 1 sends 3/4 of its rank to
    // 2 and 1/4 to 3 (unweighted would send 1/2 each). One iteration,
    // every value hand-computable in exact integer arithmetic:
    //   r(1) = 0.15 + 0.85·(1·3/3 + 1·1/1)          = 1.85
    //   r(2) = 0.15 + 0.85·(1·3/4)                  = 0.7875
    //   r(3) = 0.15 + 0.85·(1·1/4)                  = 0.3625
    val e = spark.createDataFrame(Seq((1L, 2L, 3L), (1L, 3L, 1L)))
      .toDF("pa", "pb", "w")
    val got = graft.api.Graph.weightedPageRank(e, iterations = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1850000000000L, 2L -> 787500000000L,
      3L -> 362500000000L), got.toString)
  }

  test("link features on two triangles sharing an edge") {
    // {1,2,3} + {2,3,4}: the only distance-2 non-edge is (1,4) with
    // common neighborhood {2,3}; deg(1)=deg(4)=2 -> jaccard 2/(2+2-2)=1
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val df = spark.createDataFrame(e).toDF("pa", "pb")
    val got = graft.api.Graph.linkFeatures(df, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 4L, 2L, 1.0)), got.mkString(","))
  }

  test("linkFeatures connector cap: pairs linked only through a barred hub drop out") {
    // star center 9 connects 1..4; also a direct wedge 1-5-2. With the
    // hub barred (cap 3 < deg(9)=4), pairs whose ONLY connector is the
    // hub — (3,4) and the other star pairs — drop out; (1,2) survives
    // via connector 5 and (5,9) via connectors 1 and 2.
    val e = Seq((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L),
      (1L, 5L), (5L, 2L))
    val df = spark.createDataFrame(e).toDF("pa", "pb")
    val capped = graft.api.Graph.linkFeatures(df, topK = 100,
        maxConnectorDegree = Some(3L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L), (5L, 9L)), capped.toString)
    val uncapped = graft.api.Graph.linkFeatures(df, topK = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((3L, 4L)) && uncapped.contains((1L, 2L)))
  }

  test("kCore peels to the exact core and throws when rounds are too few") {
    import graft.api.Graph
    // K4 {1,2,3,4} is a 3-core; 5 starts at degree 3 (edges to 4, 6,
    // 7) so it survives round one — only after its leaves 6 and 7
    // peel does round two remove it. A genuinely iterative case.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = k4 ++ Seq((4L, 5L), (5L, 6L), (5L, 7L))
    val df = spark.createDataFrame(e).toDF("pa", "pb")
    val core = Graph.kCore(df, k = 3, maxRounds = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core == k4.toSet, core.toString)
    // k=4: nothing survives (K4 degrees are 3) — empty core, converged
    assert(Graph.kCore(df, k = 4, maxRounds = 10).count() == 0L)
    // the production contract refuses a partial peel: one round is not
    // enough (5 only drops below k after 6 and 7 do)
    val ex = intercept[IllegalStateException] {
      Graph.kCore(df, k = 3, maxRounds = 1).count()
    }
    assert(ex.getMessage.contains("not converged"), ex.getMessage)
    // bounded-round mode returns the 1-round peel instead of throwing:
    // 6 and 7 are gone, 5 still hangs on via the (4,5) edge
    val oneRound = Graph.kCore(df, k = 3, maxRounds = 1,
        toFixpoint = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneRound == k4.toSet + ((4L, 5L)), oneRound.toString)
  }

  test("hyperBall: r-round max-merge equals the HLL of the exact r-ball membership") {
    import graft.api.Graph
    // irregular graph: K4 core, a 2-chain off node 4, a pendant at 3
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val e = k4 ++ Seq((4L, 5L), (5L, 6L), (3L, 7L))
    val adj = e.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    def ball(v: Long, r: Int): Set[Long] =
      (1 to r).foldLeft(Set(v)) { (acc, _) => acc ++ acc.flatMap(adj(_)) }
    // the same md5 register arithmetic the engine uses, on the JVM
    def sNum(members: Set[Long]): (Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val regs = members.toSeq.map { m =>
        val hex = md.digest(m.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = BigInt(hex.take(15), 16).longValue
        val w = h / 16
        val rho = if (w == 0) 57 else 57 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        (h % 16) -> rho
      }.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
      val present = regs.values.map(r => 1L << (57 - r)).sum
      val s = present + (16L - regs.size) * (1L << 57)
      (s, 16L - regs.size)
    }
    val df = spark.createDataFrame(e).toDF("pa", "pb")
    for (radius <- Seq(1, 2)) {
      val got = Graph.hyperBall(df, radius).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val want = adj.keys.map(v => v -> sNum(ball(v, radius))).toMap
      assert(got == want,
        s"radius $radius: " + got.keys.toSeq.sorted
          .map(v => s"$v got=${got(v)} want=${want(v)}")
          .mkString("; "))
    }
  }

  test("materialized edge cache matches the inline derivation and " +
    "rebuilds when the source lineitem changes") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_edge_cache").toString
    import spark.implicits._
    def writeLineitem(rows: Seq[(Long, Long)]): Unit =
      rows.toDF("l_orderkey", "l_partkey")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/lineitem.parquet")
    def cached(): Set[(Long, Long)] =
      spark.read.parquet(GraphOps.ensureEdges(spark, dir))
        .select(col("pa").cast("long"), col("pb").cast("long"))
        .as[(Long, Long)].collect().toSet
    def inline(): Set[(Long, Long)] =
      GraphOps.deriveEdges(spark, dir)
        .select(col("pa").cast("long"), col("pb").cast("long"))
        .as[(Long, Long)].collect().toSet

    try {
      // pa ≡ pb (mod 10) pairs survive the sparsifier: (10,20), (3,13)
      writeLineitem(Seq((1L, 10L), (1L, 20L), (1L, 7L), (2L, 3L), (2L, 13L)))
      assert(cached() == inline() && cached() == Set((10L, 20L), (3L, 13L)))
      // regenerated source (different rows) must invalidate the cache
      writeLineitem(Seq((5L, 40L), (5L, 50L)))
      assert(cached() == Set((40L, 50L)), "stale edge cache served after " +
        "the source lineitem was regenerated")
    } finally TestSpark.dropCache("edges", dir)
  }

  test("hash-directed walks follow the scalar md5 argmin (g15 kernel)") {
    import org.apache.spark.sql.functions.col
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // triangle {1,2,3} plus pendant 3-4; walk from seed 1, 3 steps
    val edges = spark.createDataFrame(Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))).toDF("pa", "pb")
    val seeds = spark.createDataFrame(Seq(Tuple1(1L))).toDF("node")
    val got = graft.api.Graph.hashWalks(edges, seeds, steps = 3)
      .orderBy("step").collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap

    // scalar re-derivation with the same neighbor lists
    val nbrs = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L),
      3L -> Seq(1L, 2L, 4L), 4L -> Seq(3L))
    var node = 1L
    val want = scala.collection.mutable.Map(0 -> 1L)
    for (s <- 1 to 3) {
      node = nbrs(node).minBy(v => (md5hex(s"1|$s|$node|$v"), v))
      want(s) = node
    }
    assert(got == want.toMap, s"got $got want $want")
  }

  test("item CF similarity on a hand-built incidence (g14 kernel)") {
    import org.apache.spark.sql.functions.col
    // u1:{1,2,3} u2:{1,2} u3:{1,2,4} u4:{3,4} — only (1,2) repeats
    val ui = spark.createDataFrame(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 3L), (4L, 4L))).toDF("u", "p")

    val strict = graft.api.Graph.itemCfSimilarity(ui, minShared = 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // co(1,2)=3 shared users; n1=n2=3 -> cosine 3/(√3·√3), which in
    // IEEE is 1.0000000000000002 (√3·√3 rounds just below 3)
    val one = 3.0 / (math.sqrt(3.0) * math.sqrt(3.0))
    assert(strict.toSet == Set((1L, 2L, 3L, one), (2L, 1L, 3L, one)), strict.mkString(","))

    // minShared=1: item 1's neighbors rank 2 (cos 1.0) above the tied
    // 3 and 4 (1/(√3·√2) each), tie broken by neighbor id
    val loose = graft.api.Graph.itemCfSimilarity(ui, minShared = 1, k = 2)
      .filter(col("item") === 1L).orderBy(col("cosine").desc, col("neighbor"))
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    assert(loose.map(_._1).toSeq == Seq(2L, 3L), loose.mkString(","))
    assert(loose(1)._2 == 1.0 / (math.sqrt(3.0) * math.sqrt(2.0)))
  }

  test("assumeDeduped skips the distinct without changing either CF kernel (g14/g25 incidence materialization)") {
    // duplicate rows must be invisible to the default path, and a
    // pre-deduped input under assumeDeduped must match it exactly —
    // the contract that lets g14/g25 read the DerivedCache incidence
    val dup = spark.createDataFrame(Seq(
      (1L, 1L), (1L, 1L), (1L, 2L), (1L, 3L),
      (2L, 1L), (2L, 2L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 4L),
      (4L, 3L), (4L, 4L), (4L, 4L))).toDF("u", "p")
    val ded = dup.distinct()
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(
      rows(graft.api.Graph.itemCfSimilarity(dup, minShared = 2, k = 3)) ==
        rows(graft.api.Graph.itemCfSimilarity(ded, minShared = 2, k = 3,
          assumeDeduped = true)))
    assert(
      rows(graft.api.Graph.dimsumPairEstimates(dup, Seq(1, 100))) ==
        rows(graft.api.Graph.dimsumPairEstimates(ded, Seq(1, 100),
          assumeDeduped = true)))
  }

  test("g14 support prune: output-identical, cap binds on unpruned size, auto-enables on a tailed catalog") {
    // Head items 1..4 shared across users; tail items 201..215 bought
    // by exactly ONE user each (below minShared=2). Tail rows = 15 of
    // 28 (share 0.54 ≥ 0.5), so AUTO must enable the prune. Full
    // basket sizes: u1/u3/u5 = 6 (3 head + 3 tail), u2/u4 = 5.
    val ui = spark.createDataFrame(Seq(
      (1L, 1L), (1L, 2L), (1L, 3L), (1L, 201L), (1L, 202L), (1L, 203L),
      (2L, 1L), (2L, 2L), (2L, 204L), (2L, 205L), (2L, 206L),
      (3L, 1L), (3L, 2L), (3L, 4L), (3L, 207L), (3L, 208L), (3L, 209L),
      (4L, 3L), (4L, 4L), (4L, 210L), (4L, 211L), (4L, 212L),
      (5L, 1L), (5L, 3L), (5L, 4L), (5L, 213L), (5L, 214L), (5L, 215L)))
      .toDF("u", "p")
    def run(prune: Option[Boolean], cap: Option[Long]): Seq[(Long, Long, Long, Double)] =
      graft.api.Graph.itemCfSimilarity(ui, minShared = 2, k = 3,
          maxBasket = cap, supportPrune = prune)
        .orderBy("item", "neighbor").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    // pruned == unpruned, uncapped: the a-priori identity
    val unpruned = run(Some(false), None)
    assert(unpruned.nonEmpty)
    assert(run(Some(true), None) == unpruned)

    // the cap must bind on the UNPRUNED basket size: with cap=5 only
    // u2/u4 survive (full size 5) and no pair reaches co >= 2, so the
    // result is EMPTY — a cap read on the pruned size would readmit
    // u1/u3/u5 (pruned size 3) and emit pairs
    assert(run(Some(false), Some(5L)).isEmpty)
    assert(run(Some(true), Some(5L)).isEmpty)

    // AUTO: tailed catalog enables the prune (semi-join in the plan)
    // and matches the explicit runs; a flat catalog (tail = 0) keeps
    // the direct expansion
    val auto = graft.api.Graph.itemCfSimilarity(ui, minShared = 2, k = 3)
    assert(auto.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "auto should prune a tailed catalog")
    assert(auto.orderBy("item", "neighbor").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      == unpruned)
    val flat = spark.createDataFrame(Seq(
      (1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L))).toDF("u", "p")
    val flatDf = graft.api.Graph.itemCfSimilarity(flat, minShared = 2, k = 3)
    assert(!flatDf.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "auto must keep the direct expansion on a flat catalog")
  }

  test("exact census baselines refuse over-cap edge lists (g01/g02 scale guardrail)") {
    val edges = spark.createDataFrame(Seq((1L, 2L), (2L, 3L), (1L, 3L)))
      .toDF("pa", "pb")
    val e1 = intercept[IllegalArgumentException] {
      graft.api.Graph.triangleStats(edges, maxEdges = 1L)
    }
    assert(e1.getMessage.contains("EXACT census baseline"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      graft.api.Graph.clusteringCoefficients(edges, maxEdges = 1L)
    }
    assert(e2.getMessage.contains("EXACT census baseline"), e2.getMessage)
    // under the cap the guard is invisible: triangle {1,2,3} counted
    val row = graft.api.Graph.triangleStats(edges).collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((3L, 3L, 1L)))
  }

  test("modularity on a hand-built two-community graph (g17 kernel)") {
    // triangle {1,2,3} + edge {4,5}: m = 4, both communities contribute
    // e_c/m - (d_c/2m)^2 = 3/4 - (6/8)^2 = 1/4 - (2/8)^2 = 0.1875
    val edges = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L))).toDF("pa", "pb")
    val labels = spark.createDataFrame(Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))).toDF("node", "label")
    val got = graft.api.Graph.modularity(edges, labels)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val q1 = 3.0 / 4 - (6.0 / 8) * (6.0 / 8)
    val q4 = 1.0 / 4 - (2.0 / 8) * (2.0 / 8)
    assert(got(1L) == ((3L, 3L, 6L, q1)), got.toString)
    assert(got(4L) == ((2L, 1L, 2L, q4)), got.toString)
    // a split that cuts the triangle must score strictly worse
    val worse = spark.createDataFrame(Seq(
      (1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L))).toDF("node", "label")
    val qSum = graft.api.Graph.modularity(edges, worse)
      .collect().map(_.getDouble(4)).sum
    assert(qSum < q1 + q4, s"cut triangle scored $qSum >= ${q1 + q4}")
  }

  test("weighted SSSP: cheaper multi-hop path beats the direct edge; rounds bound the hops") {
    // 1-2 costs 10 but 1-3-2 costs 5; node 5 is 4 cheap hops away, so
    // within 3 rounds only the expensive 1-2-4-5 route (12) can reach it
    val e = spark.createDataFrame(Seq(
      (1L, 2L, 10L), (1L, 3L, 2L), (2L, 3L, 3L), (2L, 4L, 1L),
      (4L, 5L, 1L))).toDF("pa", "pb", "c")
    val seeds = spark.createDataFrame(Seq(Tuple1(1L))).toDF("node")
    val got = graft.api.Graph.weightedSssp(e, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 2L, 4L -> 6L, 5L -> 12L),
      got.toString)
  }

  test("weighted SSSP: multi-seed distances take the minimum over seeds") {
    val e = spark.createDataFrame(Seq(
      (1L, 2L, 4L), (2L, 3L, 4L), (3L, 4L, 4L))).toDF("pa", "pb", "c")
    val seeds = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(4L))).toDF("node")
    val got = graft.api.Graph.weightedSssp(e, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 4L, 3L -> 4L, 4L -> 0L), got.toString)
  }

  test("weighted SSSP delta frontier matches the full relaxation round-for-round") {
    import org.apache.spark.sql.functions.{col, lit, min}
    // A graph where a node's dist improves in a LATE round (2's direct
    // cost 10 beaten by 1-3-2 at round 2, then 4 re-improves via 2 at
    // round 3) so the delta frontier must keep re-offering exactly the
    // re-improved rows; plus rounds > diameter to exercise early exit.
    val e = spark.createDataFrame(Seq(
      (1L, 2L, 10L), (1L, 3L, 2L), (2L, 3L, 3L), (2L, 4L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L))).toDF("pa", "pb", "c")
    val seeds = spark.createDataFrame(Seq(Tuple1(1L))).toDF("node")
    // inline full-relaxation reference: union the WHOLE dist set with
    // every edge offer each round (the pre-round-13 body)
    def full(rounds: Int): Map[Long, Long] = {
      val sym = e.select(col("pa").as("u"), col("pb").as("v"), col("c"))
        .unionAll(e.select(col("pb").as("u"), col("pa").as("v"), col("c")))
      var dist = seeds.select(col("node"), lit(0L).as("dist"))
      for (_ <- 1 to rounds)
        dist = dist.unionAll(
          sym.join(dist.select(col("node").as("u"), col("dist")), "u")
            .select(col("v").as("node"), (col("dist") + col("c")).as("dist")))
          .groupBy("node").agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
      dist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    for (rounds <- 1 to 8) { // 8 > diameter: the delta loop saturates
      val delta = graft.api.Graph.weightedSssp(e, seeds, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(delta == full(rounds), s"rounds=$rounds: $delta")
    }
  }

  test("edge support: K4 edges carry 2 triangles each; the pendant is a bridge") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val df = spark.createDataFrame(k4 :+ (4L, 5L)).toDF("pa", "pb")
    val got = graft.api.Graph.edgeSupport(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expect = k4.map(e => e -> 2L).toMap + ((4L, 5L) -> 0L)
    assert(got == expect, got.toString)
  }

  test("ktruss peel: the K4 core survives, wedge-riding triangles peel away") {
    // K4 on {1..4} (every edge in 2 triangles) + a triangle {4,5,6}
    // hanging off one vertex (its edges sit in exactly 1 triangle) + a
    // pendant edge (support 0). 4-truss (sup >= 2): round 1 drops the
    // hanging triangle and the pendant; round 2 confirms the K4 is
    // already the fixpoint — all 6 surviving edges still at support 2.
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val extra = Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    val e = spark.createDataFrame(k4 ++ extra).toDF("pa", "pb")
    val got = graft.api.Graph.ktrussPeel(e, k = 4, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == k4.map(_ -> 2L).toMap, got.toString)
    // one round on this graph already reaches the fixpoint: the
    // hanging triangle's edges lose their support TOGETHER
    val one = graft.api.Graph.ktrussPeel(e, k = 4, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(one == got, one.toString)
    // a 5-truss (sup >= 3) peels even the K4
    assert(graft.api.Graph.ktrussPeel(e, k = 5, rounds = 1).count() == 0L)
  }

  test("edge support: two triangles sharing an edge concentrate on it") {
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val got = graft.api.Graph.edgeSupport(
        spark.createDataFrame(e).toDF("pa", "pb")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L), got.toString)
  }

  test("HITS on a hand bipartite graph: hand-computed L1 fixed point (g21 kernel)") {
    // customers {1,2} → parts {10,11}: 1 buys both, 2 buys only 10.
    // Round 1: a = (2e6, 1e6), Sa = 3e6 → a' = (666666, 333333);
    //          h = (999999, 666666), Sh = 1666665 → h' = (600000, 400000)
    //          (both divisions land exactly — picked so round 1 is
    //          floor-free and round 2 exercises real floors).
    // Round 2: a = (1000000, 600000), Sa = 1.6e6 → a' = (625000, 375000);
    //          h = (1000000, 625000), Sh = 1.625e6
    //          → h' = (615384, 384615) — both floored.
    val e = spark.createDataFrame(Seq(
      (1L, 10L), (1L, 11L), (2L, 10L))).toDF("src", "dst")
    val got = graft.api.Graph.hitsScores(e, iterations = 2).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("hub", 1L) -> 615384L, ("hub", 2L) -> 384615L,
      ("authority", 10L) -> 625000L, ("authority", 11L) -> 375000L),
      got.toString)
    // mutual reinforcement: the hub buying the better basket outranks
    // the other even though both have an edge to the top authority
    assert(got(("hub", 1L)) > got(("hub", 2L)))
  }

  test("SCC: cycles group, bridges and chains stay singletons (g22 kernel)") {
    // {1,2,3} 3-cycle → scc 1; bridge 3→4; {4,5} 2-cycle → scc 4;
    // 5→6 (6 is a sink singleton); 7→3 (7 a source singleton);
    // 10→9→8 a separate weak component that is a pure chain — its own
    // Tarjan shard, all singletons
    val e = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L),
      (5L, 6L), (7L, 3L), (10L, 9L), (9L, 8L))).toDF("src", "dst")
    val got = graft.api.Graph.stronglyConnectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L,
      6L -> 6L, 7L -> 7L,
      8L -> 8L, 9L -> 9L, 10L -> 10L), got.toString)
  }

  test("tarjanScc: a 100k-deep path cannot overflow the task stack (explicit-stack kernel); cycle at the bottom found") {
    // path 100000 → 99999 → … → 3 → (2 ⇄ 1): recursion would blow the
    // default JVM stack around ~10⁴ frames; the explicit-stack kernel
    // must walk it and still find the 2-cycle at the far end
    val n = 100000L
    val chain = (3L to n).map(i => (i, i - 1L))
    val edges = chain ++ Seq((2L, 1L), (1L, 2L))
    val got = graft.api.Graph.tarjanScc(edges).toMap
    assert(got.size == n)
    assert(got(1L) == 1L && got(2L) == 1L)
    assert((3L to n).forall(i => got(i) == i))
  }

  test("property: tarjanScc == brute Floyd-Warshall mutual reachability on 150 random digraphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val n = nodes.size
      val reach = Array.fill(n, n)(false)
      edges.foreach { case (u, v) => reach(idx(u))(idx(v)) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      nodes.map { v =>
        val i = idx(v)
        val mutual = nodes.filter { u =>
          val j = idx(u); u == v || (reach(i)(j) && reach(j)(i))
        }
        v -> mutual.min
      }.toMap
    }
    val genGraph = for {
      n <- Gen.choose(2, 10)
      m <- Gen.choose(1, 2 * n)
      // self-loops allowed on purpose: they must not affect membership
      edges <- Gen.listOfN(m, Gen.zip(Gen.choose(1L, n.toLong),
        Gen.choose(1L, n.toLong)))
    } yield edges
    val samples = Gen.listOfN(150, genGraph)
      .apply(Gen.Parameters.default, Seed(42L))
      .getOrElse(fail("generator produced no sample"))
    samples.foreach { edges =>
      val got = graft.api.Graph.tarjanScc(edges).toMap
      assert(got == brute(edges), s"edges $edges")
    }
  }

  test("SCC: two nested cycles sharing a node form ONE component; a one-way ladder does not") {
    // figure-eight: 1→2→1 and 2→3→2 share node 2 → all of {1,2,3}
    // is one SCC (mutual through 2); ladder 3→4, 4→5 with NO return
    // path stays acyclic → singletons
    val e = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L), (4L, 5L)))
      .toDF("src", "dst")
    val got = graft.api.Graph.stronglyConnectedComponents(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L),
      got.toString)
  }

  test("pageRankConvergence: hand-computed picorank deltas on the 3-path (g24 kernel)") {
    import spark.implicits._
    // path 1-2-3, all ranks start at 1e12:
    // round 1: r(1)=r(3)=575e9, r(2)=1850e9 → L1 = 2·425e9 + 850e9
    // round 2: r(1)=r(3)=936.25e9, r(2)=1127.5e9 → L1 = 2·361.25e9
    //          + 722.5e9 — every operand an exact div-floored BIGINT
    val e = Seq((1L, 2L), (2L, 3L)).toDF("pa", "pb")
    val got = graft.api.Graph.pageRankConvergence(e, iterations = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, 1700000000000L, 850000000000L, 3L),
      (2, 1445000000000L, 722500000000L, 3L)), got.mkString(","))
  }

  test("effectiveDiameterProfile: order-free floor-micros NF, 90% cross-multiply rule (g23 kernel)") {
    import spark.implicits._
    // exact-binary estimates so floor-micros is unambiguous:
    // r1 NF = 1.5 + 2.5 = 4.0M micros (53% of horizon — below 90%),
    // r2 NF = 3.0 + 4.5 = 7.5M micros (the horizon — flags)
    val prof = Seq((1, 1.5), (1, 2.5), (2, 3.0), (2, 4.5))
      .toDF("radius", "ball_estimate")
    val got = graft.ops.GraphOps.effectiveDiameterProfile(prof, horizon = 2)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    assert(got.toSeq == Seq(
      (1, 2L, 4000000L, 533333L, 0),
      (2, 2L, 7500000L, 1000000L, 1)), got.mkString(","))
  }

  test("dimsumPairEstimates: census at large gamma equals brute cosine; sample is gamma-monotone; cap binds (g25 kernel)") {
    import spark.implicits._
    // 5 users over 4 items; co/n by hand:
    // n(1)=4, n(2)=4, n(3)=3, n(4)=1
    // co(1,2)=3, co(1,3)=3, co(2,3)=2, co(1,4)=1, co(3,4)=1
    val inc = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L), (12L, 3L),
      (13L, 1L), (13L, 3L), (13L, 4L),
      (14L, 2L) // singleton basket: no pairs
    ).toDF("u", "p")
    // gamma = 100 ≥ every √n_a·√n_b → p = 1: the sample IS the census
    // and the estimate IS the exact cosine (the p=1 branch)
    val census = graft.api.Graph.dimsumPairEstimates(inc, Seq(100))
      .collect()
      .map(r => ((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getDouble(4))))
      .toMap
    val expect = Map(
      (1L, 2L) -> (3L, 3.0 / (math.sqrt(4.0) * math.sqrt(4.0))),
      (1L, 3L) -> (3L, 3.0 / (math.sqrt(4.0) * math.sqrt(3.0))),
      (2L, 3L) -> (2L, 2.0 / (math.sqrt(4.0) * math.sqrt(3.0))),
      (1L, 4L) -> (1L, 1.0 / (math.sqrt(4.0) * math.sqrt(1.0))),
      (3L, 4L) -> (1L, 1.0 / (math.sqrt(3.0) * math.sqrt(1.0))))
    assert(census == expect, census.toString)
    // smaller gamma keeps a SUBSET of the same md5 draw, pairwise
    // c(gamma_small) <= c(gamma_large), and the two dial settings ride
    // one expansion (the fan-out path) — whatever survives must carry
    // the else-branch estimate c/gamma when den > gamma
    val both = graft.api.Graph.dimsumPairEstimates(inc, Seq(1, 100))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)), r.getLong(3),
        r.getDouble(4)))
    val g1 = both.filter(_._1 == 1)
    g1.foreach { case (_, pair, c, est) =>
      assert(c <= census(pair)._1, s"$pair over-sampled at gamma=1")
      val den = math.sqrt(expectN(pair._1)) * math.sqrt(expectN(pair._2))
      val want = if (den <= 1.0) c / den else c / 1.0
      assert(est == want, s"$pair est $est want $want")
    }
    // the basket cap excludes the fat user from the EXPANSION but its
    // items keep their true popularity in the denominator
    val capped = graft.api.Graph
      .dimsumPairEstimates(inc, Seq(100), maxBasket = Some(2L))
      .collect()
      .map(r => ((r.getLong(1), r.getLong(2)), r.getLong(3))).toMap
    // only users 11 (2 items) and 14 (1) survive the cap → one pair
    assert(capped == Map((1L, 2L) -> 1L), capped.toString)
  }

  private def expectN(p: Long): Double =
    Map(1L -> 4.0, 2L -> 4.0, 3L -> 3.0, 4L -> 1.0)(p)

  test("property: dimsumPairEstimates census equals the brute co/(sqrt na * sqrt nb) on 40 random incidences (g25 kernel)") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // small random bipartite incidences; gamma = 10^6 makes every
    // p = 1, so the estimator must reproduce the exact census — the
    // branch equality that anchors every sampled reading
    val genInc = for {
      nu <- Gen.choose(2, 8)
      ni <- Gen.choose(2, 6)
      rows <- Gen.listOfN(25,
        Gen.zip(Gen.choose(0L, nu.toLong - 1), Gen.choose(1L, ni.toLong)))
    } yield rows.distinct
    val cases = Gen.listOfN(40, genInc)
      .apply(Gen.Parameters.default, Seed(25L))
      .getOrElse(fail("generator produced no sample"))
    // one frame, one job: tag each case as its own universe by
    // offsetting ids (items stay disjoint across cases)
    val rows = cases.zipWithIndex.flatMap { case (inc, i) =>
      inc.map { case (u, p) => (i * 1000L + u, i * 1000L + p) }
    }
    val est = graft.api.Graph
      .dimsumPairEstimates(rows.toDF("u", "p"), Seq(1000000))
      .collect()
      .map(r => ((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getDouble(4))))
      .toMap
    val brute: Map[(Long, Long), (Long, Double)] = {
      val inc = rows.distinct
      val n = inc.groupBy(_._2).map { case (p, xs) => p -> xs.size.toLong }
      inc.groupBy(_._1).values.flatMap { basket =>
        val ps = basket.map(_._2).sorted
        for (a <- ps; b <- ps if a < b) yield (a, b)
      }.groupBy(identity).map { case (pair, occ) =>
        pair -> (occ.size.toLong,
          occ.size.toDouble /
            (math.sqrt(n(pair._1).toDouble) * math.sqrt(n(pair._2).toDouble)))
      }
    }
    assert(est.keySet == brute.keySet,
      s"pair sets differ: extra=${est.keySet -- brute.keySet} " +
        s"missing=${brute.keySet -- est.keySet}")
    est.foreach { case (pair, (c, cos)) =>
      assert((c, cos) == brute(pair), s"$pair: got ($c,$cos) want ${brute(pair)}")
    }
  }
}
