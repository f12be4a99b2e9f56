package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Contracts of the graph operators on graphs with known closed-form
  * answers, plus the orientation-invariance property the g2 oracle
  * relies on (Spark counts via degree-oriented wedges, DuckDB via
  * id-oriented enumeration — they must agree on ANY input). */
class GraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def sym(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    val p = pairs.toDF("src", "dst")
    p.union(p.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("pageRank: ranks sum to 1 and are uniform on a cycle") {
    val n = 7L
    val cycle = sym((0L until n).map(i => (i, (i + 1) % n)))
    val r = Graph.pageRank(cycle, "src", "dst", iterations = 5).collect()
    assert(r.length == n)
    val total = r.map(_.getDouble(1)).sum
    assert(math.abs(total - 1.0) < 1e-9, s"mass $total")
    // a vertex-transitive graph stays exactly uniform under iteration
    r.foreach(row => assert(math.abs(row.getDouble(1) - 1.0 / n) < 1e-12))
    Caches.release(spark)
  }

  test("pageRank: star center outranks leaves; 0 iterations = uniform start") {
    val star = sym(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    val r5 = Graph.pageRank(star, "src", "dst", iterations = 5)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r5(0L) > r5(1L), s"center ${r5(0L)} vs leaf ${r5(1L)}")
    // leaves are symmetric — identical rank
    assert(Seq(1L, 2L, 3L, 4L).map(r5).distinct.size == 1)
    val r0 = Graph.pageRank(star, "src", "dst", iterations = 0)
      .collect().map(_.getDouble(1))
    r0.foreach(v => assert(math.abs(v - 0.2) < 1e-12))
    Caches.release(spark)
  }

  test("bfsHops: path graph distances; nodes beyond maxHops absent") {
    import spark.implicits._
    // 0-1-2-3-4 path, seed {0}, maxHops 3 → node 4 unreached
    val path = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)))
    val seeds = Seq(0L).toDF("id")
    val got = Graph.bfsHops(path, "src", "dst", seeds, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    Caches.release(spark)
  }

  test("bfsHops: cycles don't revisit; multi-source takes the min distance") {
    import spark.implicits._
    // triangle + pendant: seeds {0, 4}; node 2 is 1 hop from 0 (not 2
    // via the other arc), pendant 3-4 gives 3 hops=1 from seed 4
    val g = sym(Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L)))
    val seeds = Seq(0L, 4L).toDF("id")
    val got = Graph.bfsHops(g, "src", "dst", seeds, maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got ==
      Map(0L -> 0L, 4L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
    Caches.release(spark)
  }

  test("adamicAdar: C4 closed form — diagonals score 2/ln 2, edges excluded") {
    // square 0-1-2-3: non-adjacent pairs (0,2) and (1,3) share two
    // degree-2 neighbors each → score 2/ln(2); adjacent pairs must
    // not appear
    val c4 = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L)))
    val got = Graph.adamicAdar(c4, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val want = BigDecimal(2.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map((0L, 2L) -> want, (1L, 3L) -> want), got.toString)
    Caches.release(spark)
  }

  test("adamicAdar pivot sampling keeps only sampled pivots' wedges") {
    // path 1-2-3 with pivot mod 2: pivot 2 is the only wedge center
    // and 2 % 2 == 0 → (1,3) survives; with the path shifted to
    // 1-3-5 the only pivot (3) is dropped → empty
    val keep = sym(Seq((1L, 2L), (2L, 3L)))
    assert(Graph.adamicAdar(keep, "src", "dst", pivotSampleMod = 2)
      .count() == 1)
    val drop = sym(Seq((1L, 3L), (3L, 5L)))
    assert(Graph.adamicAdar(drop, "src", "dst", pivotSampleMod = 2)
      .count() == 0)
    Caches.release(spark)
  }

  test("pageRank on an empty edge list returns an empty frame, not 1/0") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val r = Graph.pageRank(empty, "src", "dst", iterations = 3)
    assert(r.columns.toSeq == Seq("id", "rank") && r.count() == 0)
    Caches.release(spark)
  }

  test("triangleCount: closed forms (triangle=1, C4=0, K4=4, K5=10)") {
    import spark.implicits._
    def undirected(pairs: Seq[(Long, Long)]) = pairs.toDF("src", "dst")
    assert(Graph.triangleCount(
      undirected(Seq((1L, 2L), (2L, 3L), (1L, 3L))), "src", "dst") == 1L)
    assert(Graph.triangleCount(
      undirected(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))), "src", "dst") == 0L)
    def complete(n: Int) = for {
      a <- 0 until n; b <- (a + 1) until n
    } yield (a.toLong, b.toLong)
    assert(Graph.triangleCount(undirected(complete(4)), "src", "dst") == 4L)
    assert(Graph.triangleCount(undirected(complete(5)), "src", "dst") == 10L)
    Caches.release(spark)
  }

  test("triangleCount is orientation-invariant: degree-oriented ≡ id-oriented on a seeded random graph") {
    import spark.implicits._
    // deterministic G(n, p)-ish edge set with a planted skew hub so the
    // two orientations genuinely differ
    val rnd = new scala.util.Random(42)
    val n = 40
    val edges = (for {
      a <- 0 until n; b <- (a + 1) until n
      if rnd.nextDouble() < 0.15 || a == 0 // node 0 is a hub
    } yield (a.toLong, b.toLong)).distinct
    val df = edges.toDF("src", "dst")
    val viaDegree = Graph.triangleCount(df, "src", "dst")
    // straight-line reference: enumerate a<b<c triples locally
    val set = edges.toSet
    def has(a: Long, b: Long) = set.contains((a min b, a max b))
    val naive = (for {
      a <- 0L until n; b <- (a + 1) until n; c <- (b + 1) until n
      if has(a, b) && has(b, c) && has(a, c)
    } yield 1).size.toLong
    assert(viaDegree == naive, s"degree-oriented $viaDegree vs naive $naive")
    Caches.release(spark)
  }

  test("orientByDegree: one oriented edge per undirected edge, pivot out-degrees bounded") {
    import spark.implicits._
    val star = (1L to 30L).map(i => (0L, i)) ++ Seq((1L, 2L), (2L, 3L))
    val o = Graph.orientByDegree(star.toDF("src", "dst"), "src", "dst")
    val rows = o.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == star.length)
    // the hub (node 0, degree 30) must be a SINK from every leaf:
    // its out-degree is 0, so no wedge ever pivots on it
    assert(!rows.exists(_._1 == 0L))
    Caches.release(spark)
  }

  /** Straight-line synchronous LPA with the library's deterministic
    * rule: adopt the most frequent in-neighbor label, ties to the
    * smallest label; isolated-in nodes keep theirs. */
  private def lpaRef(
      symEdges: Seq[(Long, Long)], iterations: Int): Map[Long, Long] = {
    val nodes = symEdges.flatMap(e => Seq(e._1, e._2)).distinct
    var labels = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iterations) {
      val next = symEdges.groupBy(_._2).map { case (dst, es) =>
        val votes = es.map(e => labels(e._1))
          .groupBy(identity).map { case (l, xs) => (l, xs.size) }
        dst -> votes.toSeq.minBy { case (l, v) => (-v, l) }._1
      }
      labels = nodes.map(n => n -> next.getOrElse(n, labels(n))).toMap
    }
    labels
  }

  test("labelPropagation ≡ straight-line sync LPA on random graphs") {
    import org.scalacheck.Gen
    val edgeGen = for {
      a <- Gen.chooseNum(0L, 11L)
      b <- Gen.chooseNum(0L, 11L) if a != b
    } yield (math.min(a, b), math.max(a, b))
    SparkTestSession.forAll(Gen.listOfN(20, edgeGen).map(_.distinct), n = 5) { pairs =>
      if (pairs.nonEmpty) {
        val symSeq = pairs ++ pairs.map(p => (p._2, p._1))
        val got = Graph.labelPropagation(sym(pairs), "src", "dst", 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == lpaRef(symSeq, 3))
        Caches.release(spark)
      }
    }
  }

  test("labelPropagation: two disjoint triangles collapse to per-clique labels") {
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val got = Graph.labelPropagation(sym(tri), "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // communities never mix across components
    val left = Set(0L, 1L, 2L).map(got)
    val right = Set(10L, 11L, 12L).map(got)
    assert(left.subsetOf(Set(0L, 1L, 2L)))
    assert(right.subsetOf(Set(10L, 11L, 12L)))
    // and sync-LPA on a K3 stabilizes at the min id by round 2
    assert(left == Set(1L) || left == Set(0L))
    Caches.release(spark)
  }

  test("pageRankConverged: dangling graph conserves rank mass = 1") {
    import spark.implicits._
    // 0→1→2, 2 is a sink (dangling), 3→0 — arbitrary digraph with a
    // node that has in-edges only and a node with out-edges only
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 0L)).toDF("src", "dst")
    for (iters <- Seq(1, 5, 20)) {
      val r = Graph.pageRankConverged(edges, "src", "dst", iters).collect()
      assert(r.length == 4, "every endpoint gets a rank")
      val total = r.map(_.getDouble(1)).sum
      assert(math.abs(total - 1.0) < 1e-9,
        s"mass $total after $iters iterations")
    }
    // and the fixed-point favors the sink's chain over the source
    val r = Graph.pageRankConverged(edges, "src", "dst", 30)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    assert(r(2L) > r(3L), s"sink ${r(2L)} should outrank source ${r(3L)}")
    Caches.release(spark)
  }

  test("personalizedPageRank: mass = 1 on dangling digraphs, restarts at seeds") {
    import spark.implicits._
    // 0→1→2 with sink 2, plus 3→0: dangling mass must restart at the
    // seed, not spread uniformly
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 0L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    for (iters <- Seq(1, 5, 20)) {
      val r = Graph.personalizedPageRank(edges, "src", "dst", seeds, iters)
        .collect()
      assert(r.length == 4, "every endpoint gets a rank")
      val total = r.map(_.getDouble(1)).sum
      assert(math.abs(total - 1.0) < 1e-9,
        s"mass $total after $iters iterations")
      Caches.release(spark)
    }
    val r = Graph.personalizedPageRank(edges, "src", "dst", seeds, 30)
      .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
    // 3 has no in-edges and is not a seed: teleport share exactly 0
    assert(r(3L) == 0.0, s"non-seed source kept mass ${r(3L)}")
    // proximity ordering from the seed: 0 ≥ 1 ≥ 2's chain holds
    assert(r(0L) > r(2L), s"seed ${r(0L)} must outrank 2-hop ${r(2L)}")
    Caches.release(spark)
  }

  test("personalizedPageRank: uniform seeds ≈ standard PageRank") {
    import spark.implicits._
    val g = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L)))
    val all = Seq(0L, 1L, 2L, 3L).toDF("id")
    val p = Graph.personalizedPageRank(g, "src", "dst", all,
        maxIterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Caches.release(spark)
    val s = Graph.pageRankConverged(g, "src", "dst", maxIterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p.keySet == s.keySet)
    // p = 1/N makes the teleport term algebraically identical;
    // (1−d)·(1/n) vs (1−d)/n differ only in op order, so approximate
    p.foreach { case (id, v) =>
      assert(math.abs(v - s(id)) < 1e-12, s"node $id: $v vs ${s(id)}") }
    Caches.release(spark)
  }

  test("personalizedPageRank: off-graph seeds ignored, zero seeds rejected") {
    import spark.implicits._
    val g = sym(Seq((0L, 1L), (1L, 2L)))
    val withPhantom = Graph.personalizedPageRank(g, "src", "dst",
        Seq(0L, 99L).toDF("id"), maxIterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Caches.release(spark)
    val without = Graph.personalizedPageRank(g, "src", "dst",
        Seq(0L).toDF("id"), maxIterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(withPhantom == without,
      "a seed absent from the graph must not dilute the teleport vector")
    Caches.release(spark)
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(g, "src", "dst",
        Seq(99L).toDF("id"), maxIterations = 3)
    }
    Caches.release(spark)
  }

  test("pageRankConverged ≡ pageRank bit-for-bit on symmetric graphs") {
    val g = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L)))
    val a = Graph.pageRank(g, "src", "dst", iterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Caches.release(spark)
    val b = Graph.pageRankConverged(g, "src", "dst", maxIterations = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    // the dangling term contributes exactly +0.0 here, so equality is
    // EXACT, not approximate — any arithmetic divergence between the
    // two forms fails loudly
    a.foreach { case (id, v) => assert(v == b(id), s"node $id: $v vs ${b(id)}") }
    Caches.release(spark)
  }

  test("PageRank family: rank bits are pinned") {
    import spark.implicits._
    // SHA-256 over (id, raw rank bits) in id order, recorded before the
    // three PageRank forms shared one step and one checkpointed loop
    def digest(df: org.apache.spark.sql.DataFrame): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
        .foreach { case (id, v) =>
          md.update(java.nio.ByteBuffer.allocate(16).putLong(id)
            .putLong(java.lang.Double.doubleToRawLongBits(v)).array())
        }
      md.digest().map("%02x".format(_)).mkString
    }
    // sinks 5 and 6; 4 has no in-edges
    val dangling = Seq((0L, 1L), (1L, 2L), (3L, 0L), (1L, 3L), (4L, 2L),
      (4L, 5L), (2L, 5L), (0L, 6L)).toDF("src", "dst")
    val g = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L),
      (3L, 4L), (4L, 5L)))
    val (conv, iters) = Graph.pageRankConvergedWithIters(dangling,
      "src", "dst", maxIterations = 40, tol = 1e-6, checkpointEvery = 3)
    val got = Seq(
      s"converged $iters " + digest(conv),
      "personalized " + digest(Graph.personalizedPageRank(dangling,
        "src", "dst", Seq(0L, 4L).toDF("id"), maxIterations = 15)),
      "pageRank " + digest(Graph.pageRank(g, "src", "dst", iterations = 8)),
      "lazy " + digest(Graph.pageRankConverged(g, "src", "dst",
        maxIterations = 10, checkpointEvery = 3)))
    assert(got == Seq(
      "converged 21 1db0f3b76f181661826f42ec29cc8c3d5cbe5f6c22f301d3d4d7938d214d8e5d",
      "personalized a05acbe6dce7f28b935d85435930480b7b1a5e1e8f050057a0f60274ba641f93",
      "pageRank 2abba17ccca3f25963a4ec72c090eed589b6512e0711f95f01ff888d6d4cd6b0",
      "lazy e0867ad0759e09b745cb8caff7d4654355e6cfe1c83c1821e1bc15c9b70e934d"), got.mkString("\n"))
    Caches.release(spark)
  }

  test("the PageRank family has one edge build, one step and one checkpointed loop") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/operators/Graph.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val section = src.substring(
      src.indexOf("  def pageRank("), src.indexOf("  def hits("))
    def sites(re: String) = re.r.findAllIn(section).size
    assert(sites("""\.join\(\w+\(rankw\)""") == 1, "rank-weight step sites")
    assert(sites("""repartition\([^)]*col\("_dst"\)""") == 1,
      "_dst repartitions of the PageRank edges")
    assert(sites("""\.localCheckpoint\(true\)""") == 1, "checkpointed loops")
    // a localCheckpoint is freed through GraftShim.releaseLocalCheckpoint;
    // Dataset.unpersist cannot reach its blocks
    assert(sites("""unpersist\(""") == 0, "unpersist in the PageRank section")
  }

  test("pageRankConverged: 50 checkpointed iterations complete and converge") {
    val n = 6L
    val cycle = sym((0L until n).map(i => (i, (i + 1) % n)))
    // 50 iterations with checkpoint-every-10: without lineage
    // truncation the 50-level join+agg plan makes analysis time blow
    // up superlinearly; with it this completes in seconds
    val t0 = System.nanoTime()
    val r = Graph.pageRankConverged(cycle, "src", "dst",
      maxIterations = 50, checkpointEvery = 10).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(r.length == n)
    assert(math.abs(r.map(_.getDouble(1)).sum - 1.0) < 1e-9)
    assert(secs < 120, s"50 checkpointed iterations took $secs s")
    Caches.release(spark)
  }

  test("pageRankConverged: tol termination stops before maxIterations") {
    val n = 5L
    // vertex-transitive cycle: the uniform start IS the fixed point,
    // so the first delta is ~0 and a tol run must stop immediately
    val cycle = sym((0L until n).map(i => (i, (i + 1) % n)))
    val (df, iters) = Graph.pageRankConvergedWithIters(
      cycle, "src", "dst", maxIterations = 40, tol = 1e-12)
    assert(iters == 1, s"expected immediate convergence, ran $iters")
    df.collect().foreach(row =>
      assert(math.abs(row.getDouble(1) - 1.0 / n) < 1e-12))
    Caches.release(spark)
    // a star is NOT at its fixed point initially: it must iterate
    // several times, then stop before the cap once deltas shrink
    // geometrically below tol. Deltas contract at the damping rate, so
    // d = 0.5 converges in ~20 steps — d = 0.85 would need ~130 and a
    // per-step driver job each, pointlessly slow for a unit test
    val star = sym(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    val (_, starIters) = Graph.pageRankConvergedWithIters(
      star, "src", "dst", maxIterations = 60, damping = 0.5, tol = 1e-8)
    assert(starIters > 1 && starIters < 60,
      s"star should converge between 2 and 59 iterations, ran $starIters")
    Caches.release(spark)
  }

  test("kCore: pendant peels off a K4; 3-core is exactly the clique") {
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val edges = sym(k4 :+ (0L, 9L)) // pendant node 9 on clique node 0
    val core = Graph.kCore(edges, "src", "dst", k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    Caches.release(spark)
  }

  test("kCore: a path fully peels at k=2 (deep multi-round case)") {
    // endpoints have degree 1; each round exposes the next layer —
    // the fixed-point loop must run ~n/2 rounds, not stop early
    val path = sym((0L until 9L).map(i => (i, i + 1)))
    assert(Graph.kCore(path, "src", "dst", k = 2).count() === 0L)
    // ...while closing the path into a cycle makes everything degree 2
    val cycle = sym((0L until 10L).map(i => (i, (i + 1) % 10)))
    val core = Graph.kCore(cycle, "src", "dst", k = 2).collect()
    assert(core.length === 10 && core.forall(_.getLong(1) == 2L))
    Caches.release(spark)
  }

  test("hits: hand-computed bipartite example; both sides sum to 1") {
    import spark.implicits._
    // c1→{s1,s2}, c2→{s1}; by hand with L1 normalization:
    //  h0: c1=1, c2=1
    //  a1 raw: s1=2, s2=1 → a1: s1=2/3, s2=1/3
    //  h1 raw: c1=1, c2=2/3 → h1: c1=3/5, c2=2/5
    //  a2 raw: s1=1, s2=3/5 → a2: s1=5/8, s2=3/8
    val edges = Seq((1L, 10L), (1L, 20L), (2L, 10L)).toDF("src", "dst")
    val (hubs, auths) = Graph.hits(edges, "src", "dst", iterations = 2)
    val a = auths.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(a(10L) - 0.625) < 1e-12 &&
      math.abs(a(20L) - 0.375) < 1e-12, a.toString)
    val h = hubs.collect().map(_.getDouble(1))
    assert(math.abs(a.values.sum - 1.0) < 1e-12)
    assert(math.abs(h.sum - 1.0) < 1e-12)
    Caches.release(spark)
  }

  test("hits: uniform-fan bipartite graph stays uniform") {
    import spark.implicits._
    // every customer buys from every supplier — symmetry forces
    // uniform authorities and hubs at every iteration
    val edges = (for (c <- 1L to 3L; s <- 10L to 14L) yield (c, s))
      .toDF("src", "dst")
    val (hubs, auths) = Graph.hits(edges, "src", "dst", iterations = 3)
    auths.collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - 1.0 / 5) < 1e-12))
    hubs.collect().foreach(r =>
      assert(math.abs(r.getDouble(1) - 1.0 / 3) < 1e-12))
    Caches.release(spark)
  }
}
