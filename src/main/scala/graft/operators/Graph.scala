package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.QuerySpec.sql

/** Distributed graph analytics over edge lists — the co-occurrence /
  * link-structure face of a training-data pipeline (domain authority
  * for source weighting, item graphs for hard-negative mining).
  *
  * Scale stance: the graph lives as a plain (src, dst) DataFrame.
  * PageRank builds its edge input ONCE ([[rankInputs]]): the (src,
  * dst) pairs hash-partitioned on dst and persisted (O(E), the
  * iterative-algorithm analogue of GraphX's materialized edge
  * partitions) plus the O(V) out-degree table. Every step
  * ([[rankMass]]) then broadcasts only the O(V) rank-weight side to
  * the edges, and the dst-keyed mass aggregate reuses the cache's
  * partitioning — no exchange at all per step while that side fits
  * Spark's broadcast limits ([[rankSideBroadcasts]]); the corpus-sized
  * relation never moves again. Triangle counting orients edges by
  * (degree, id) before the wedge join, the standard power-law guard
  * (Schank–Wagner; Suri–Vassilvitskii's MapReduce form): every wedge
  * pivot has out-degree ≤ O(sqrt(E)), so no reducer sees a heavy
  * hitter's full neighborhood squared.
  */
object Graph {

  /** PageRank over a directed edge list, the damped power-iteration
    * form: r_{t+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} r_t(u)/outdeg(u).
    * Nodes are the distinct endpoints of `edges`; requires a SYMMETRIC
    * (undirected) edge list, where every node has out-edges — use
    * [[pageRankConverged]] for arbitrary directed graphs (dangling-
    * mass redistribution), long runs (checkpointed lineage) or
    * tolerance-driven termination.
    *
    * Returns (id, rank) with Σ rank ≈ 1. `iterations` is small and
    * fixed (power iteration converges geometrically at rate d); each
    * extra iteration deepens lineage by one join+agg, so at the 5–10
    * iterations this form ships, plain lineage is cheaper than
    * checkpointing.
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val (edgesP, deg) = rankInputs(edges, srcCol, dstCol)
    // N is a scalar (one small count job over the degree table); the
    // uniform start vector and teleport term need it as a literal
    val n = deg.count()
    // empty graph: the schema-correct empty result, not 1/0 literals
    if (n == 0) return deg.select(col("id"), lit(0.0).as("rank"))
    val hint = rankSideBroadcasts(edges.sparkSession, n)
    var ranks = deg.select(col("id"), lit(1.0 / n).as("rank"))
    for (i <- 1 to iterations) {
      val next = rankMass(edgesP, deg, ranks, hint)
        .select(col("id"),
          (lit((1.0 - damping) / n) + lit(damping) * col("_mass")).as("rank"))
      // each iteration's O(V) rank table is cached but NOT forced:
      // AQE materializes every query stage exactly once and reuses
      // it, so the chain already executes one pass per step; the
      // cache guards the non-AQE / re-entrant-broadcast path (where
      // step t's broadcast would otherwise re-run the whole t-1
      // lineage, O(iterations²) edge passes) without paying a
      // synchronous count job per step. Memory is iterations × V
      // rows — trivial at ship iteration counts.
      ranks = if (i < iterations) graft.Caches.shared(next) else next
    }
    ranks
  }

  /** PageRank for ARBITRARY directed graphs with convergence-driven
    * termination — the production variant of [[pageRank]] (round-7
    * item: the fixed-iteration form requires symmetric input and small
    * iteration counts).
    *
    * Differences from [[pageRank]]:
    *  - Nodes are src ∪ dst (not just sources), so sinks exist in the
    *    rank vector, and nodes without in-edges keep their teleport
    *    mass via the left join (the groupBy-only form silently drops
    *    them from iteration 2 on).
    *  - DANGLING MASS: each step, the rank held by out-edge-less nodes
    *    is redistributed uniformly — the standard correction
    *    (Page et al. 1999) that keeps Σ rank = 1 on any digraph.
    *  - `tol` > 0 terminates when the L1 step delta ≤ tol. The delta
    *    is one O(V) join+agg job per iteration — the honest price of
    *    convergence detection (tol = 0 keeps the fully lazy fixed
    *    chain and behaves like [[pageRank]] with node completion).
    *  - `checkpointEvery` truncates lineage with an eager
    *    localCheckpoint every k steps: a 100-iteration chain otherwise
    *    accumulates 100 join+agg plan levels, and analysis/codegen
    *    time grows superlinearly.
    * The loop is [[checkpointedIteration]], shared with
    * [[personalizedPageRank]].
    *
    * On a symmetric edge list (no dangling nodes, every node a source)
    * the per-step arithmetic is identical to [[pageRank]]'s — the
    * dangling term contributes exactly +0.0 — so results are
    * bit-identical (spec-pinned). */
  def pageRankConverged(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int, damping: Double = 0.85,
      tol: Double = 0.0, checkpointEvery: Int = 20): DataFrame =
    pageRankConvergedWithIters(edges, srcCol, dstCol, maxIterations,
      damping, tol, checkpointEvery)._1

  /** [[pageRankConverged]] + the number of iterations actually run
    * (for convergence diagnostics and the early-stop spec). */
  def pageRankConvergedWithIters(
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int, damping: Double = 0.85,
      tol: Double = 0.0, checkpointEvery: Int = 20): (DataFrame, Int) = {
    require(maxIterations >= 0, "maxIterations must be non-negative")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val (edgesP, deg) = rankInputs(edges, srcCol, dstCol)
    val nodes = endpoints(edgesP)
    val n = nodes.count()
    if (n == 0) return (nodes.select(col("id"), lit(0.0).as("rank")), 0)
    checkpointedIteration(edgesP, deg, nodes,
      nodes.select(col("id"), lit(1.0 / n).as("rank")), n,
      maxIterations, tol, checkpointEvery) { (mass, danglingMass) =>
      // the dangling share dm/n is divided on the driver
      lit((1.0 - damping) / n) + lit(damping) * (mass + lit(danglingMass / n))
    }
  }

  /** Personalized PageRank (random walk with restart): the teleport
    * distribution concentrates on `seeds` instead of being uniform —
    * r_{t+1}(v) = (1−d)·p(v) + d·(Σ_{(u,v)∈E} r_t(u)/outdeg(u)
    * + danglingMass·p(v)), with p(v) = 1/|S| for v ∈ S else 0 and
    * r_0 = p. The seed-proximity score behind "rank the corpus by
    * closeness to these known-good/known-spam nodes" — quality
    * propagation, topical authority, graph-based label spreading.
    *
    * Same inputs, step and loop as [[pageRankConverged]] (nodes =
    * src ∪ dst, left-join so in-edge-less nodes keep teleport mass,
    * state via eager localCheckpoint only, optional L1 tolerance
    * stop); only the teleport and the dangling restart differ —
    * dangling mass restarts AT THE SEEDS, the RWR convention. Σ rank =
    * 1 on any digraph (spec). The _dst-partitioned edge pairs are
    * built once and cached; each step broadcasts only the O(V)
    * rank-weight side.
    *
    * `seeds` is one `id` column; seeds not present in the graph's node
    * set are ignored (their teleport share would be unreachable mass).
    * Requires at least one seed in the graph. */
  def personalizedPageRank(
      edges: DataFrame, srcCol: String, dstCol: String, seeds: DataFrame,
      maxIterations: Int, damping: Double = 0.85,
      tol: Double = 0.0, checkpointEvery: Int = 20): DataFrame = {
    require(maxIterations >= 0, "maxIterations must be non-negative")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val (edgesP, deg) = rankInputs(edges, srcCol, dstCol)
    // every node, with _s set where it is a seed: one count job over
    // this cached O(V) frame yields both N and |S ∩ nodes|
    val marked = graft.Caches.shared(
      endpoints(edgesP).join(
        seeds.select(col(seeds.columns.head).as("id")).distinct()
          .withColumn("_s", lit(1)), Seq("id"), "left"))
    val counts = marked.agg(count(lit(1)), count(col("_s"))).head()
    val (n, nSeeds) = (counts.getLong(0), counts.getLong(1))
    require(nSeeds > 0, "personalizedPageRank needs >= 1 seed in the graph")
    // the personalization vector, the teleport AND dangling-restart
    // weight of every step
    val nodesP = marked.select(col("id"),
      when(col("_s").isNotNull, lit(1.0) / nSeeds)
        .otherwise(lit(0.0)).as("_p"))
    checkpointedIteration(edgesP, deg, nodesP,
      nodesP.select(col("id"), col("_p").as("rank")), n,
      maxIterations, tol, checkpointEvery) { (mass, danglingMass) =>
      lit(1.0 - damping) * col("_p") +
        lit(damping) * (mass + lit(danglingMass) * col("_p"))
    }._1
  }

  /** The edge input every PageRank form shares, built once per call
    * (restructured round 18, ProfileQ-measured): the plain (_src,
    * _dst) pairs hash-partitioned on _dst and cached, so every step's
    * mass aggregate REUSES this partitioning — zero exchange of any
    * per-edge data per step — and the O(V) out-degree table (id,
    * _deg), cached and derived from that cache, so the caller's edge
    * derivation (often a union over an expensive pair build) is
    * scanned ONCE. The 1/outdeg weight does not ride the edges (2
    * longs per cached row): [[rankMass]] applies it per node on the
    * O(V) side. Partition count = defaultParallelism (scale-adaptive,
    * not a local constant); ANY hash partitioning on _dst satisfies
    * the aggregate's ClusteredDistribution, so the count is a width
    * choice, not a correctness one. */
  private def rankInputs(
      edges: DataFrame, srcCol: String, dstCol: String): (DataFrame, DataFrame) = {
    val edgesP = graft.Caches.shared(
      edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst"))
        .repartition(edges.sparkSession.sparkContext.defaultParallelism,
          col("_dst")))
    val deg = graft.Caches.shared(
      edgesP.groupBy(col("_src").as("id"))
        .agg(count(lit(1)).as("_deg")))
    (edgesP, deg)
  }

  /** The cached node set src ∪ dst of [[rankInputs]]' edges: sinks and
    * nodes without in-edges get a rank too. */
  private def endpoints(edgesP: DataFrame): DataFrame =
    graft.Caches.shared(
      edgesP.select(col("_src").as("id"))
        .union(edgesP.select(col("_dst").as("id"))).distinct())

  /** One PageRank step's mass, (id, _mass) = Σ_{(u,v)∈E} r(u)/outdeg(u)
    * for every v with in-edges. rank·(1.0/outdeg) is computed per NODE
    * on the O(V) side (V multiplies, not E), and that side rides an
    * EXPLICIT broadcast to the _dst-partitioned edge cache, whose
    * partitioning the _dst aggregate reuses: no exchange in the step
    * (PlanShapeSpec pins it). The hint is explicit because an AQE
    * demotion to sort-merge would re-shuffle O(E) per step. With
    * `hint` false ([[rankSideBroadcasts]]) the same joins are planned
    * without hints: O(E) re-shuffled per step, but the step completes
    * where a broadcast would fail. */
  private def rankMass(
      edgesP: DataFrame, deg: DataFrame, ranks: DataFrame,
      hint: Boolean): DataFrame = {
    def side(df: DataFrame) = if (hint) broadcast(df) else df
    val rankw = ranks
      .join(side(deg), "id")
      .select(col("id").as("_src"),
        (col("rank") * (lit(1.0) / col("_deg"))).as("_rw"))
    edgesP
      .join(side(rankw), "_src")
      .groupBy(col("_dst"))
      .agg(sum(col("_rw")).as("_mass"))
      .select(col("_dst").as("id"), col("_mass"))
  }

  /** Whether [[rankMass]]'s O(V) sides over `n` nodes fit Spark's
    * broadcast limits, decided on the driver before a step is planned:
    * `BroadcastExchangeExec` fails a build side of 512M rows or more,
    * and one whose hashed relation reaches
    * `spark.sql.maxBroadcastTableSize`. The relation size is
    * over-estimated for an integral id (every caller's; the join key
    * is then a long): its 1 MiB first page plus a small dense index,
    * and 128 bytes a row — the 24-byte two-field row and its 8-byte
    * chain link, doubled for page growth, plus up to four 8-byte
    * index slots. */
  private def rankSideBroadcasts(spark: SparkSession, n: Long): Boolean =
    n < 512000000L &&
      (2L << 20) + 128L * n < GraftShim.maxBroadcastTableBytes(spark)

  /** The power iteration of [[pageRankConverged]] and
    * [[personalizedPageRank]]. From `start` (id, rank), each step
    * left-joins [[rankMass]] onto `base` (id plus the caller's
    * columns, one row per node, so nodes without in-edges keep a rank)
    * and sets rank = step(mass, danglingMass), mass coalesced to 0.0.
    * danglingMass is the rank the out-edge-less nodes of `base` held
    * after the previous step, summed on the driver from the
    * checkpointed state (a 1-row O(V) job, only when such nodes exist
    * — a lazy broadcast-agg would put a SECOND reference to the
    * previous ranks in the step plan). `tol` > 0 stops once the L1
    * delta of a step is ≤ tol. Returns the ranks and the steps run.
    *
    * Iteration-state discipline — measured, not guessed: chaining
    * persist() across iterations nests InMemoryRelations, and
    * Spark's executed-plan STRING (rebuilt per job for the SQL
    * listener) DOUBLES per nesting level — 106 MB of plan text by
    * iteration 12, driver OOM by ~17 on a 4-node graph. So the loop
    * NEVER persists intermediate rank tables. State materializes only
    * through eager localCheckpoint (a LogicalRDD plan LEAF — resets
    * both plan depth and lineage): every step when a per-step job
    * exists anyway (dangling mass / tol delta — the job would
    * otherwise recompute the whole segment per step), else every
    * `checkpointEvery` steps, giving one execution of each segment at
    * its closing checkpoint and plans at most checkpointEvery deep.
    * A superseded checkpoint's blocks are freed (through
    * `GraftShim.releaseLocalCheckpoint`: `unpersist` cannot reach a
    * localCheckpoint) as soon as the next one materializes; the last
    * one frees with the caller's Caches.release (the house contract
    * for operator-internal state — a released localCheckpoint cannot
    * be lazily recomputed, so consume the result before releasing, as
    * Verify/Bench do). */
  private def checkpointedIteration(
      edgesP: DataFrame, deg: DataFrame, base: DataFrame, start: DataFrame,
      n: Long, maxIterations: Int, tol: Double, checkpointEvery: Int)(
      step: (Column, Double) => Column): (DataFrame, Int) = {
    val spark = base.sparkSession
    // dangling = nodes with no out-edges; O(V), two consumers per step
    val dangling = graft.Caches.shared(
      base.select("id").join(deg.select("id"), Seq("id"), "left_anti"))
    // One driver count decides the dangling path up front: with no
    // dangling nodes (every symmetric graph) the correction term is
    // identically zero and no per-step mass job ever runs.
    val nDangling = dangling.count()
    val hint = rankSideBroadcasts(spark, n)
    val eachStep = nDangling > 0 || tol > 0
    var live = Option.empty[DataFrame]
    var ranks = start
    var steps = 0
    var converged = false
    while (steps < maxIterations && !converged) {
      val danglingMass =
        if (nDangling == 0) 0.0
        else ranks.join(dangling, "id")
          .agg(coalesce(sum("rank"), lit(0.0)))
          .head().getDouble(0)
      val stepped = base
        .join(rankMass(edgesP, deg, ranks, hint), Seq("id"), "left")
        .select(col("id"),
          step(coalesce(col("_mass"), lit(0.0)), danglingMass).as("rank"))
      steps += 1
      val materialize = eachStep || steps % checkpointEvery == 0
      val next = if (materialize) stepped.localCheckpoint(true) else stepped
      if (tol > 0) {
        val delta = next.withColumnRenamed("rank", "_r2")
          .join(ranks, "id")
          .agg(sum(abs(col("_r2") - col("rank"))).as("d"))
          .head().getDouble(0)
        converged = delta <= tol
      }
      if (materialize) {
        // `next` holds its own blocks now — everything older is
        // unreachable by construction (next's plan is a leaf)
        live.foreach(GraftShim.releaseLocalCheckpoint)
        live = Some(next)
      }
      ranks = next
    }
    live.foreach(last => graft.Caches.registerCleanup(spark)(
      () => GraftShim.releaseLocalCheckpoint(last)))
    (ranks, steps)
  }

  /** HITS — Kleinberg's hubs & authorities over a DIRECTED edge list
    * (the classic shape is bipartite: queries→documents,
    * customers→suppliers). Mutual reinforcement: auth(v) = Σ hub(u)
    * over in-edges, hub(u) = Σ auth(v) over out-edges, each side
    * L1-normalized per half-step (the L2 norm of the original paper
    * only rescales — relative order and the fixed point's direction
    * are identical, and staying in +,/ keeps the float chain exactly
    * mirrorable in a SQL oracle). Returns (hubs(id, hub),
    * auths(id, auth)), each summing to 1. NOTE: run on a SYMMETRIC
    * edge list this degenerates (hub ≡ auth ≡ eigenvector
    * centrality) — the operator is for directed/bipartite graphs.
    *
    * Scale shape: the O(E) edge list is cached once and never moves;
    * each half-step is one keyed map-side-combined agg over it plus a
    * 1-row normalizer broadcast — the O(V) score table is the only
    * per-step shuffle (AQE broadcasts it while small, exactly
    * [[pageRank]]'s story). Caller owns edge dedup. Laziness means an
    * unused final half-step (e.g. hubs when only authorities are
    * consumed) never executes. */
  def hits(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): (DataFrame, DataFrame) = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = graft.Caches.shared(
      edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst")))
    var hubs = e.select(col("_src").as("id")).distinct()
      .select(col("id"), lit(1.0).as("hub"))
    var auths: DataFrame = null
    for (i <- 1 to iterations) {
      val rawAuth = e
        .join(hubs.withColumnRenamed("id", "_src"), "_src")
        .groupBy(col("_dst").as("id"))
        .agg(sum(col("hub")).as("_a"))
      auths = graft.Caches.shared(
        rawAuth.crossJoin(broadcast(rawAuth.agg(sum("_a").as("_s"))))
          .select(col("id"), (col("_a") / col("_s")).as("auth")))
      val rawHub = e
        .join(auths.withColumnRenamed("id", "_dst"), "_dst")
        .groupBy(col("_src").as("id"))
        .agg(sum(col("auth")).as("_h"))
      hubs = graft.Caches.shared(
        rawHub.crossJoin(broadcast(rawHub.agg(sum("_h").as("_s"))))
          .select(col("id"), (col("_h") / col("_s")).as("hub")))
    }
    (hubs, auths)
  }

  /** k-core decomposition by iterative peeling: the MAXIMAL subgraph
    * of a SYMMETRIC edge list in which every node has degree ≥ k —
    * the graph-density filter behind spam farms / community cores /
    * junk-page pruning. Each round drops every node whose remaining
    * degree is < k (removals expose new under-k nodes, so peeling
    * iterates to a fixed point — a path peels one layer of endpoints
    * per round, the deep case the spec exercises). Returns
    * (id, core_deg): surviving nodes with their degree INSIDE the
    * core. Empty result when the whole graph peels away.
    *
    * Scale shape: each round is one map-side-combined degree agg over
    * the LIVE edge list plus two semi-joins that shrink it; the live
    * set is localCheckpoint-materialized per round (the dupClusters
    * discipline — lineage stays O(1), previous round's blocks freed),
    * and the survivor count needed for the fixed-point test rides the
    * same materialization. Rounds are data-bounded (degeneracy
    * ordering depth), `maxRounds` is the runaway backstop. Peeling is
    * deterministic and IDEMPOTENT past convergence — the license for
    * the g8 oracle to unroll a fixed round count ≥ the data's true
    * peel depth. */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    var live = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .localCheckpoint(true)
    var prevSurvivors = -1L
    var rounds = 0
    var stable = false
    while (!stable && rounds < maxRounds) {
      val keep = live.groupBy("_s").agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k)
        .select(col("_s").as("_id"))
        .localCheckpoint(true)
      val m = keep.count()
      if (m == prevSurvivors) {
        GraftShim.releaseLocalCheckpoint(keep)
        stable = true
      } else {
        prevSurvivors = m
        val next = live
          .join(keep.withColumnRenamed("_id", "_s"), Seq("_s"), "left_semi")
          .join(keep.withColumnRenamed("_id", "_d"), Seq("_d"), "left_semi")
          .localCheckpoint(true)
        GraftShim.releaseLocalCheckpoint(live)
        GraftShim.releaseLocalCheckpoint(keep)
        live = next
        rounds += 1
      }
    }
    // never return a silently-unpeeled subgraph (the dupClusters rule)
    require(stable,
      s"kCore did not reach its fixed point in $maxRounds rounds; raise maxRounds")
    val core = live
    graft.Caches.registerCleanup(edges.sparkSession)(
      () => GraftShim.releaseLocalCheckpoint(core))
    core.groupBy(col("_s").as("id")).agg(count(lit(1)).as("core_deg"))
  }

  /** Multi-source BFS: minimum hop distance from `seeds` (a single
    * `id` column) to every node within `maxHops`, over a directed edge
    * list. Returns (id, hops) — seeds at 0; unreached nodes absent.
    *
    * Level-synchronous frontier expansion, the Pregel/BSP form: each
    * level is ONE shuffle of the frontier to the edge list's hash
    * partitioning plus a distinct and an anti-join against the
    * visited set — the O(E) edge relation is persisted once and never
    * moves. Each level's frontier is also persisted (three consumers:
    * next level's join, the anti-join, the final union) so lineage
    * stays linear in `maxHops`; deep traversals (>~20 levels) should
    * checkpoint, but BFS on real graphs saturates in a handful of
    * levels. An exhausted frontier makes remaining levels empty
    * map-side no-ops, so no per-level driver count() is needed. */
  def bfsHops(
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e = graft.Caches.shared(
      edges.select(col(srcCol).as("_s"), col(dstCol).as("_d")))
    var frontier = graft.Caches.shared(seeds.select(col("id")).distinct())
    var visited = frontier.withColumn("hops", lit(0L))
    for (h <- 1L to maxHops) {
      val next = graft.Caches.shared(
        e.join(frontier.withColumnRenamed("id", "_s"), "_s")
          .select(col("_d").as("id")).distinct()
          .join(visited.select("id"), Seq("id"), "left_anti"))
      visited = visited.union(next.withColumn("hops", lit(h)))
      frontier = next
    }
    visited
  }

  /** Fixed-round Bellman–Ford single/multi-source shortest paths over
    * a WEIGHTED edge list — the relaxation primitive bfsHops's
    * unit-cost traversal can't express (cheap high-traffic links vs
    * expensive rare ones). `rounds` bounds path length in EDGES, the
    * classic k-round Bellman–Ford semantics: dist_k(v) = cheapest
    * ≤ k-edge path from any seed (deterministic for any weights —
    * negative cycles can't bite a bounded unroll).
    *
    * Scale shape: each round relaxes via ONE join of the O(V) tentative
    * distance table against the edge list plus one min-combine keyed on
    * the node id (map-side combined); the edge list is built and cached
    * once by the caller, the distance table is the only per-round
    * shuffle — the same "only O(V) state moves per step" stance as
    * [[pageRank]]. Integer weights make every distance an exact sum, so
    * min-ties are value-identical across engines and partitionings. */
  def ssspRounds(
      edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
      seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    val e = edges.select(
      col(srcCol).as("_s"), col(dstCol).as("_d"), col(wCol).as("_w"))
    var dist = seeds.select(col("id")).distinct()
      .withColumn("d", lit(0L))
    for (i <- 1 to rounds) {
      val relaxed = e.join(dist.withColumnRenamed("id", "_s"), "_s")
        .select(col("_d").as("id"), (col("d") + col("_w")).as("d"))
      val next = dist.union(relaxed)
        .groupBy("id").agg(min("d").as("d"))
      dist = if (i < rounds) graft.Caches.shared(next) else next
    }
    dist
  }

  /** Synchronous label propagation (community detection, Raghavan et
    * al. 2007) over a SYMMETRIC edge list: every node starts labeled
    * with its own id; each round it adopts the most frequent label
    * among its in-neighbors, ties to the SMALLEST label — both rules
    * deterministic, so the fixed-iteration result is reproducible
    * across runs, engines and partitionings (classic async LPA is
    * order-dependent; the sync+tie-break form trades a possible
    * 2-cycle oscillation for determinism, which a fixed iteration
    * count makes irrelevant).
    *
    * Scale shape: the label table is O(V) and the edge list is built
    * ONCE outside; each round costs one (dst, label) vote count (map-
    * side combined) and one per-node argmax — expressed as
    * `min(struct(-votes, label))`, a plain aggregate, never a window
    * over the corpus. Nodes with no in-edges keep their initial label
    * via the left join (init = own id, so "keep previous" and "keep
    * init" coincide for them). */
  def labelPropagation(
      edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val e = graft.Caches.shared(
      edges.select(col(srcCol).as("_src"), col(dstCol).as("_dst")))
    val nodes = graft.Caches.shared(
      e.select(col("_src").as("id"))
        .union(e.select(col("_dst").as("id"))).distinct())
    var labels = nodes.select(col("id"), col("id").as("label"))
    for (_ <- 1 to iterations) {
      val votes = e
        .join(labels.withColumnRenamed("id", "_src"), "_src")
        .groupBy(col("_dst").as("id"), col("label"))
        .agg(count(lit(1)).as("votes"))
      val next = votes
        .groupBy("id")
        .agg(min(struct((-col("votes")).as("nv"), col("label"))).as("m"))
        .select(col("id"), col("m.label").as("label"))
      labels = graft.Caches.shared(
        nodes.join(next, Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label")))
    }
    labels
  }

  /** Adamic–Adar link-prediction scores over a SYMMETRIC edge list
    * (each undirected edge present in both directions, as for
    * [[pageRank]]): for each non-adjacent pair (x, y),
    * AA(x,y) = Σ_{z ∈ N(x)∩N(y)} 1 / ln(deg z). Returns (x, y, score)
    * with x < y, score rounded to 6dp, existing edges excluded.
    *
    * Enumerated as a wedge self-join on the pivot z — cost
    * Σ_z deg(z)², the same quadratic wall every common-neighbor
    * measure hits on dense graphs. `pivotSampleMod` is the standard
    * wedge-sampling estimator (Doulion-style): only pivots with
    * z % mod == 0 contribute, cutting cost by ~mod while preserving
    * ranking in expectation (multiply scores by mod for an unbiased
    * magnitude estimate). mod=1 is exact. Deterministic — the sample
    * is a pure function of the pivot id, so results are identical
    * across runs, engines and partitionings. Per-pivot fan-out is
    * deg² ≤ ~50k for real-world max degrees; a graph with
    * million-degree hubs needs a degree cap on top. */
  def adamicAdar(
      edges: DataFrame, srcCol: String, dstCol: String,
      pivotSampleMod: Int = 1): DataFrame = {
    require(pivotSampleMod >= 1, "pivotSampleMod must be >= 1")
    val sym = graft.Caches.shared(
      edges.select(col(srcCol).as("_s"), col(dstCol).as("_d")))
    val deg = sym.groupBy(col("_s").as("z")).agg(count(lit(1)).as("_dz"))
    val pivotEdges = sym.filter(pmod(col("_s"), lit(pivotSampleMod)) === 0)
    val wedges = pivotEdges.select(col("_s").as("z"), col("_d").as("x"))
      .join(pivotEdges.select(col("_s").as("z"), col("_d").as("y")), "z")
      .filter(col("x") < col("y"))
    wedges
      // deg is O(V) — AQE broadcasts it under any realistic V
      .join(deg, "z")
      .groupBy("x", "y")
      .agg(round(sum(lit(1.0) / log(col("_dz"))), 6).as("score"))
      .join(sym.filter(col("_s") < col("_d"))
          .select(col("_s").as("x"), col("_d").as("y")),
        Seq("x", "y"), "left_anti")
  }

  /** Orient an undirected edge set acyclically by (degree, id): each
    * edge points from its lower-(deg, id) endpoint to the higher. Any
    * total order yields each triangle exactly once in the wedge join;
    * degree order additionally bounds every pivot's out-degree by
    * O(sqrt(E)), which is what keeps the wedge fan-out flat on
    * power-law graphs. Input must hold each undirected edge once in
    * either direction; output holds it once, oriented. */
  def orientByDegree(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // the symmetrized edge set feeds THREE consumers (degree agg + two
    // endpoint-degree joins) — share it, or the upstream edge
    // derivation (often an expensive self-join) runs once per branch
    val sym = graft.Caches.shared(
      edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
        .distinct())
    val deg = sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("d"))
    val withDeg = sym
      .join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
    withDeg
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as(srcCol), col("b").as(dstCol))
  }

  /** Exact global triangle count via oriented wedge join: wedges
    * (u→v, v→w) matched against closing edges (u→w). Two self-joins
    * on the oriented edge list — both equi-joins, both skew-bounded
    * by [[orientByDegree]]. Orientation-invariant: the count equals
    * the naive a<b<c enumeration (each triangle has exactly one
    * acyclic orientation under any total order). */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): Long = {
    val o = graft.Caches.shared(
      orientByDegree(edges, srcCol, dstCol)
        .select(col(srcCol).as("u"), col(dstCol).as("v")))
    val wedges = o.select(col("u"), col("v"))
      .join(o.select(col("u").as("v"), col("v").as("w")), "v")
    val t = wedges
      .join(o.select(col("u"), col("v").as("w")), Seq("u", "w"))
      .count()
    // the result is a scalar — the persist is consumed; free it here
    // rather than via Caches.release, which would also drop any caches
    // the CALLER still depends on (its registered cleanup stays and
    // later runs as an idempotent no-op)
    o.unpersist(blocking = false)
    t
  }
}

/** Driver-checked graph queries over the part co-purchase graph
  * (parts appearing in the same order — the item-item graph a
  * recommender or hard-negative miner derives from transactions). */
object GraphQueries {

  /** Distinct co-purchase pairs oriented src < dst: one row per
    * undirected edge. The self-join key is l_orderkey (bounded
    * fan-out — TPC-H orders hold ≤ 7 lines, so pairs-per-order is
    * ≤ 21); DISTINCT collapses repeat co-purchases across orders. */
  /** The shared packed-pair build (one column `pk`, per-order-deduped
    * but not yet globally deduped): ONE groupBy shuffle + map-side
    * combination expansion, not a self-join — the join form
    * re-shuffles and sorts the fact twice and was ~2× slower at
    * sf0.1. Group fan-out is bounded (TPC-H orders hold ≤ 7 lines),
    * so the per-group pair array is tiny — exactly the shape
    * collect_list is safe for. Each pair is PACKED into one long
    * (src << 32 | dst; partkeys are well under 2^32) before the
    * global dedup/count: that shuffle then moves and hashes 8-byte
    * keys instead of two-field structs — measurably cheaper at 2M+
    * pairs. `array_distinct` dedups within each order BEFORE the
    * explode (no extra shuffle; a no-op for the distinct consumer,
    * the correctness prerequisite for the count consumer). */
  private def packedOrderPairs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem").select("l_orderkey", "l_partkey")
      // Round 18 (measured, ProfileQ): AQE byte-coalesced the groupBy
      // exchange (compact packed lists) to ~4 partitions at sf0.1, so
      // the list combine AND the O(k²)-per-order pair EXPANSION below
      // ran on 4 cores — ~1.7s wall for ~6s of CPU. Byte-based
      // coalescing is blind to per-row CPU in the consuming stage
      // (guide §2.5's input-skew shape one exchange later). A
      // user-pinned repartition on the grouping key BEFORE the groupBy
      // fixes it twice over: user-specified counts are exempt from AQE
      // coalescing, and the aggregate REUSES the partitioning (zero
      // further exchange), so the whole agg+expand+pack pipeline runs
      // at the session's width in one stage. (collect_list partials
      // don't shrink data, so the shuffled bytes are unchanged.)
      .repartition(s.sparkContext.defaultParallelism, col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(collect_list(col("l_partkey")).as("ps"))
      .select(explode(array_distinct(
        flatten(transform(col("ps"), (x, i) =>
          transform(slice(col("ps"), i + lit(2), size(col("ps"))), y =>
            shiftleft(least(x, y), 32).bitwiseOR(greatest(x, y)))))))
        .as("pk"))
      .filter(shiftright(col("pk"), 32) =!=
        col("pk").bitwiseAND(lit(0xFFFFFFFFL))) // drop self-pairs

  private def unpack(df: DataFrame, extra: Seq[String] = Nil): DataFrame =
    df.select(shiftright(col("pk"), 32).as("src") +:
      col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("dst") +:
      extra.map(col): _*)

  /** Distinct co-purchase pairs oriented src < dst: one row per
    * undirected edge (DISTINCT collapses repeat co-purchases). */
  private[graft] def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    unpack(packedOrderPairs(s, dir).distinct())

  /** Co-purchase pairs WITH order-count weights — the same build, the
    * global dedup replaced by a count: cnt = number of orders sharing
    * the pair, the edge weight g9 inverts into a traversal cost. */
  private[graft] def copurchaseWeighted(
      s: SparkSession, dir: String): DataFrame =
    unpack(packedOrderPairs(s, dir)
      .groupBy("pk").agg(count(lit(1)).as("cnt")), Seq("cnt"))

  val specs: Seq[QuerySpec] = Seq(
    // G9: weighted shortest paths (4-round Bellman–Ford) from the
    // % 1000 == 0 seed parts over the co-purchase graph, traversal
    // cost = 1000000 div cnt (frequently co-purchased links are cheap
    // — the "relatedness distance" used for hard-negative mining and
    // taxonomy induction). Integer costs keep every distance an exact
    // sum; the oracle unrolls the same 4 relaxation rounds as CTEs.
    // g9: the 4 Bellman–Ford relaxation rounds unrolled as CTEs over
    // the order-count-weighted symmetric edge list; integer costs, so
    // distances are exact sums in both engines.
    // Not in the bench headline, for g3's reason: its per-trial cost is
    // ~80% the same co-purchase pair build g1 already times (the 4
    // relaxation rounds move only the O(V) distance table).
    // Hash-checked at 3 SFs.
    QuerySpec("g9_weighted_sssp", (s, dir) => {
      // weight computed ONCE on the undirected pair, then both
      // directions project it — the formula can't drift asymmetric
      // integral `div`, matching the oracle's `//` by construction
      // (double-divide-then-cast only coincided for this range)
      val pairs = graft.Caches.shared(copurchaseWeighted(s, dir)
        .withColumn("w", expr("1000000 div cnt")))
      val edges = pairs.select("src", "dst", "w")
        .union(pairs.select(col("dst").as("src"), col("src").as("dst"),
          col("w")))
      val seeds = edges.filter(col("src") % 1000 === 0)
        .select(col("src").as("id")).distinct()
      Graph.ssspRounds(edges, "src", "dst", "w", seeds, rounds = 4)
        .select(col("id").as("part_id"), col("d").as("dist"))
        .orderBy("part_id")
    }, sql(
      """WITH op AS (SELECT DISTINCT a.l_orderkey AS ok,
        |   a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | wp AS (SELECT src, dst, COUNT(*) AS cnt FROM op
        |  GROUP BY src, dst),
        | we AS (SELECT src, dst, 1000000 // cnt AS w FROM wp
        |  UNION ALL SELECT dst, src, 1000000 // cnt FROM wp),
        | d0 AS (SELECT DISTINCT src AS id, 0 AS d FROM we
        |  WHERE src % 1000 = 0),
        | d1 AS (SELECT id, MIN(d) AS d FROM (
        |   SELECT id, d FROM d0 UNION ALL
        |   SELECT e.dst, p.d + e.w FROM d0 p JOIN we e ON e.src = p.id)
        |  GROUP BY id),
        | d2 AS (SELECT id, MIN(d) AS d FROM (
        |   SELECT id, d FROM d1 UNION ALL
        |   SELECT e.dst, p.d + e.w FROM d1 p JOIN we e ON e.src = p.id)
        |  GROUP BY id),
        | d3 AS (SELECT id, MIN(d) AS d FROM (
        |   SELECT id, d FROM d2 UNION ALL
        |   SELECT e.dst, p.d + e.w FROM d2 p JOIN we e ON e.src = p.id)
        |  GROUP BY id),
        | d4 AS (SELECT id, MIN(d) AS d FROM (
        |   SELECT id, d FROM d3 UNION ALL
        |   SELECT e.dst, p.d + e.w FROM d3 p JOIN we e ON e.src = p.id)
        |  GROUP BY id)
        | SELECT CAST(id AS BIGINT) AS part_id, CAST(d AS BIGINT) AS dist
        | FROM d4 ORDER BY part_id""".stripMargin.replaceAll("\n", ""))),

    // G1: 5-iteration PageRank over the symmetric co-purchase graph.
    // rank_scaled = rank × N (mean 1.0 — stable 6dp resolution);
    // rounded BEFORE the sort so both engines cut the same top 100.
    // g1 is the headline's measured floor (round-8 decomposition at
    // sf0.1, warm minima): pairs build 1.45 s + ~0.9 s fixed
    // (degree/weight build, N, top-100) + ~0.75 s per rank iteration —
    // each iteration is ONE broadcast join + ONE agg shuffle, i.e.
    // local-mode stage latency, not algorithmic waste (round 7 already
    // measured hinted shuffle/merge variants 1.2-1.3× slower and
    // pointer-jump a net loss). The oracle pins 5 iterations; a tol-cut
    // cannot reproduce the 6dp-rounded top-100 before iter 5, so fewer
    // iterations would break the hash. On a cluster the per-stage
    // latency amortizes and the same plan is the right one.
    QuerySpec("g1_part_pagerank", (s, dir) => {
      // Round 18: the symmetrized edge list is built in ONE pass — an
      // explode emitting both orientations per pair — instead of a
      // union over a cached pairs table. pageRank now consumes its
      // edge input exactly once (its dst-partitioned cache is the
      // only materialization), so the pairs cache write and the
      // second union scan of it were pure overhead (ProfileQ: the
      // 64-task union scan was 480ms wall / 13.7s CPU at sf0.1).
      val pairs = copurchasePairs(s, dir)
      val edges = pairs
        .select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      // the O(V) result is cached: the N-recovery aggregate and the
      // output projection are TWO consumers, and without this the
      // whole 5-iteration join lineage executes once per consumer
      val ranks = graft.Caches.shared(
        Graph.pageRank(edges, "src", "dst", iterations = 5))
      // recover N (one row per node in `ranks`) as a broadcast 1-row
      // aggregate — no global window, no extra scan of the edge list
      ranks
        .crossJoin(broadcast(ranks.agg(count(lit(1)).as("_n"))))
        .select(col("id").as("part_id"),
          round(col("rank") * col("_n"), 6).as("rank_scaled"))
        .orderBy(desc("rank_scaled"), asc("part_id"))
        .limit(100)
    }, sql(
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | edges AS (
        |  SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),
        | deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
        | nn AS (SELECT COUNT(*) AS n FROM deg),
        | r0 AS (SELECT src AS id, 1.0 / (SELECT n FROM nn) AS r FROM deg),
        | r1 AS (SELECT e.dst AS id,
        |    0.15 / (SELECT n FROM nn) + 0.85 * SUM(r.r / deg.d) AS r
        |   FROM edges e JOIN r0 r ON e.src = r.id JOIN deg ON deg.src = e.src
        |   GROUP BY e.dst),
        | r2 AS (SELECT e.dst AS id,
        |    0.15 / (SELECT n FROM nn) + 0.85 * SUM(r.r / deg.d) AS r
        |   FROM edges e JOIN r1 r ON e.src = r.id JOIN deg ON deg.src = e.src
        |   GROUP BY e.dst),
        | r3 AS (SELECT e.dst AS id,
        |    0.15 / (SELECT n FROM nn) + 0.85 * SUM(r.r / deg.d) AS r
        |   FROM edges e JOIN r2 r ON e.src = r.id JOIN deg ON deg.src = e.src
        |   GROUP BY e.dst),
        | r4 AS (SELECT e.dst AS id,
        |    0.15 / (SELECT n FROM nn) + 0.85 * SUM(r.r / deg.d) AS r
        |   FROM edges e JOIN r3 r ON e.src = r.id JOIN deg ON deg.src = e.src
        |   GROUP BY e.dst),
        | r5 AS (SELECT e.dst AS id,
        |    0.15 / (SELECT n FROM nn) + 0.85 * SUM(r.r / deg.d) AS r
        |   FROM edges e JOIN r4 r ON e.src = r.id JOIN deg ON deg.src = e.src
        |   GROUP BY e.dst)
        | SELECT CAST(id AS BIGINT) AS part_id,
        |   ROUND(r * (SELECT n FROM nn), 6) AS rank_scaled
        | FROM r5 ORDER BY rank_scaled DESC, part_id
        | LIMIT 100""".stripMargin.replaceAll("\n", "")), headline = true),

    // G2: graph profile — node/edge/triangle counts of the
    // co-purchase graph (the clustering-structure audit).
    // Not in the bench headline by design: triangle enumeration is
    // Θ(Σ deg²) wedge work however it's partitioned — at sf0.1 the
    // co-purchase graph yields ~20M wedges for a 1-row answer, ~10 s of
    // honest compute that would triple the headline total while
    // measuring the graph's density, not the engine. It remains
    // oracle-checked per-round (CORRECTNESS at sf0.01).
    QuerySpec("g2_triangle_count", (s, dir) => {
      import s.implicits._
      val pairs = graft.Caches.shared(copurchasePairs(s, dir))
      val nodes = pairs.select(col("src").as("id"))
        .union(pairs.select(col("dst").as("id"))).distinct().count()
      val nEdges = pairs.count()
      val tris = Graph.triangleCount(pairs, "src", "dst")
      pairs.unpersist(blocking = false)
      Seq((nodes, nEdges, tris)).toDF("n_nodes", "n_edges", "n_triangles")
    }, sql(
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        | SELECT
        |  (SELECT COUNT(*) FROM
        |    (SELECT src AS id FROM pairs UNION SELECT dst FROM pairs)) AS n_nodes,
        |  (SELECT COUNT(*) FROM pairs) AS n_edges,
        |  (SELECT COUNT(*) FROM pairs p1
        |    JOIN pairs p2 ON p1.dst = p2.src
        |    JOIN pairs p3 ON p3.src = p1.src AND p3.dst = p2.dst) AS n_triangles
        |""".stripMargin.replaceAll("\n", ""))),

    // G3: 3-hop multi-source BFS from the % 1000 == 0 seed parts —
    // hash-checked against a DuckDB recursive CTE, so the whole
    // level-synchronous traversal (frontier shuffles + visited
    // anti-joins) is pinned end-to-end, not just spec-sampled.
    // Not in the bench headline: the per-trial cost is dominated by the
    // same co-purchase pair build g1 already times — benching g3/g4 would
    // count that build thrice. Oracle-checked at 3 SFs.
    QuerySpec("g3_bfs_hops", (s, dir) => {
      val pairs = graft.Caches.shared(copurchasePairs(s, dir))
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.filter(col("src") % 1000 === 0)
        .select(col("src").as("id")).distinct()
      Graph.bfsHops(edges, "src", "dst", seeds, maxHops = 3)
        .select(col("id").as("part_id"), col("hops"))
        .orderBy("part_id")
    }, sql(
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        | walk(id, hops) AS (
        |  SELECT DISTINCT src AS id, 0 AS hops FROM edges WHERE src % 1000 = 0
        |  UNION
        |  SELECT e.dst, w.hops + 1 FROM walk w JOIN edges e ON e.src = w.id
        |  WHERE w.hops < 3)
        | SELECT CAST(id AS BIGINT) AS part_id, CAST(MIN(hops) AS BIGINT) AS hops
        | FROM walk GROUP BY id ORDER BY part_id""".stripMargin.replaceAll("\n", ""))),

    // G4: Adamic–Adar link prediction over the co-purchase graph —
    // top-100 non-adjacent part pairs by discriminative common
    // neighbors, pivot-sampled (z % 16 == 0) so the wedge stage costs
    // Σ deg²/16; the oracle applies the identical sample, keeping the
    // estimator hash-checked.
    // Not in the bench headline, for g3's reason: its per-trial cost is
    // dominated by the co-purchase pair build g1 already times.
    // Oracle-checked at 3 SFs.
    QuerySpec("g4_adamic_adar", (s, dir) => {
      val pairs = graft.Caches.shared(copurchasePairs(s, dir))
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      Graph.adamicAdar(edges, "src", "dst", pivotSampleMod = 16)
        .select(col("x").as("src"), col("y").as("dst"), col("score"))
        .orderBy(desc("score"), asc("src"), asc("dst"))
        .limit(100)
    }, sql(
      """WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        | deg AS (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY src),
        | wedge AS (
        |  SELECT e1.dst AS x, e2.dst AS y, e1.src AS z
        |  FROM edges e1 JOIN edges e2 ON e1.src = e2.src AND e1.dst < e2.dst
        |  WHERE e1.src % 16 = 0),
        | aa AS (
        |  SELECT x, y, ROUND(SUM(1.0 / LN(d)), 6) AS score
        |  FROM wedge JOIN deg ON deg.id = wedge.z GROUP BY x, y),
        | nonedge AS (
        |  SELECT a.* FROM aa a LEFT JOIN pairs p ON p.src = a.x AND p.dst = a.y
        |  WHERE p.src IS NULL)
        | SELECT CAST(x AS BIGINT) AS src, CAST(y AS BIGINT) AS dst, score
        | FROM nonedge ORDER BY score DESC, src, dst LIMIT 100""".stripMargin.replaceAll("\n", ""))),

    // G5: 3-round synchronous label propagation over the co-purchase
    // graph — community sizes of the top-100 communities. The oracle
    // unrolls the same three deterministic vote/argmax rounds as CTEs
    // (g1's unrolled-iteration pattern), so the iterative algorithm is
    // hash-checked end-to-end. Stays out of the headline for g2–g4's
    // reason: its per-trial cost is dominated by the pair build g1
    // already times.
    QuerySpec("g5_label_prop", (s, dir) => {
      val pairs = graft.Caches.shared(copurchasePairs(s, dir))
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      Graph.labelPropagation(edges, "src", "dst", iterations = 3)
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(desc("n_members"), asc("community"))
        .limit(100)
    }, sql(
      s"""WITH $g5LabelCtes
        | SELECT CAST(label AS BIGINT) AS community,
        |   COUNT(*) AS n_members
        | FROM l3 GROUP BY 1 ORDER BY n_members DESC, community
        | LIMIT 100""".stripMargin.replaceAll("\n", ""))),

    // G10: Newman–Girvan MODULARITY of g5's communities (round 14) —
    // the quality metric completing the t49/d22/t52 report pattern
    // for graph clustering: before trusting a community structure
    // (for domain grouping, near-dup blocking, recommendation
    // neighborhoods), an operator reads ONE number saying how much
    // better-than-random the partition is. Computed by the INTEGER
    // identity Q = (4m·Σm_c − Σd_c²) / (4m²) — community terms fold
    // as exact integer sums (no order-dependent float summation; one
    // final division, identical in both engines). Scale shape: the
    // degree and community-degree tables are keyed aggs, the
    // intra-edge count is two label joins on the endpoints — the
    // edges shuffle once per join, nothing quadratic.
    // g10: the SAME g5 label chain, folded into Newman–Girvan
    // modularity via the integer identity
    // Q = (4m·Σm_c − Σd_c²) / (4m²) — one division, no
    // order-dependent float summation over communities.
    QuerySpec("g10_modularity", (s, dir) => {
      val pairs = graft.Caches.shared(copurchasePairs(s, dir))
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val labels = graft.Caches.shared(
        Graph.labelPropagation(edges, "src", "dst", iterations = 3))
      val deg = edges.groupBy("src").agg(count(lit(1)).as("d"))
      val ag = broadcast(labels
        .join(deg, labels("id") === deg("src"))
        .groupBy("label").agg(sum("d").as("dsum"))
        .agg(count(lit(1)).as("n_communities"),
          sum(col("dsum") * col("dsum")).as("sum_deg_sq")))
      val mm = broadcast(pairs.agg(count(lit(1)).as("m_edges")))
      val la = labels.select(col("id").as("src"), col("label").as("la"))
      val lb = labels.select(col("id").as("dst"), col("label").as("lb"))
      val ia = broadcast(pairs.join(la, "src").join(lb, "dst")
        .filter(col("la") === col("lb"))
        .agg(count(lit(1)).as("intra_edges")))
      mm.crossJoin(ag).crossJoin(ia)
        .select(col("m_edges"), col("n_communities"), col("intra_edges"),
          col("sum_deg_sq"),
          round((lit(4L) * col("m_edges") * col("intra_edges") -
              col("sum_deg_sq")).cast("double") /
            (lit(4L) * col("m_edges") * col("m_edges")), 6)
            .as("modularity"))
    }, sql(
      s"""WITH $g5LabelCtes,
        | deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM edges GROUP BY src),
        | dc AS (SELECT l.label, CAST(SUM(deg.d) AS BIGINT) AS dsum
        |  FROM l3 l JOIN deg USING (id) GROUP BY l.label),
        | ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
        |   CAST(SUM(dsum * dsum) AS BIGINT) AS sum_deg_sq FROM dc),
        | mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM pairs),
        | ia AS (SELECT CAST(COUNT(*) AS BIGINT) AS intra_edges
        |  FROM pairs p JOIN l3 a ON p.src = a.id
        |   JOIN l3 b ON p.dst = b.id WHERE a.label = b.label)
        | SELECT m_edges, n_communities, intra_edges, sum_deg_sq,
        |  ROUND((4 * m_edges * intra_edges - sum_deg_sq)::DOUBLE
        |    / (4 * m_edges * m_edges), 6) AS modularity
        | FROM mm, ag, ia""".stripMargin.replaceAll("\n", "")),
      sf1Chains = Some((_, _) => g10Sf1Chains)),

    // G6: 5-iteration PERSONALIZED PageRank from the % 1000 == 0 seed
    // parts (g3's seed set) — proximity-to-seeds ranking, the quality/
    // spam propagation primitive. Same unrolled-CTE oracle pattern as
    // g1, with the teleport vector concentrated on the seeds and the
    // float ops mirrored term-for-term ((1.0 − 0.85)·p, rank·(1/deg)).
    // Out of the headline for g2–g5's reason (pair-build domination).
    QuerySpec("g6_personalized_pagerank", (s, dir) => {
      val pairs = graft.Caches.shared(copurchasePairs(s, dir))
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.filter(col("src") % 1000 === 0)
        .select(col("src").as("id")).distinct()
      val ranks = graft.Caches.shared(
        Graph.personalizedPageRank(edges, "src", "dst", seeds,
          maxIterations = 5))
      ranks
        .crossJoin(broadcast(ranks.agg(count(lit(1)).as("_n"))))
        .select(col("id").as("part_id"),
          round(col("rank") * col("_n"), 6).as("rank_scaled"))
        .orderBy(desc("rank_scaled"), asc("part_id"))
        .limit(100)
    }, sql({
      // unrolled like g1, with the teleport on the seed vector and the
      // step arithmetic mirrored term-for-term against
      // Graph.personalizedPageRank: (1.0 - 0.85)·p and rank·(1.0/deg)
      // reproduce Spark's exact float ops (not the algebraic
      // equivalents 0.15·p and rank/deg)
      val steps = (1 to 5).map { i =>
        s""" r$i AS (SELECT pv.id,
           |   (1.0 - 0.85) * pv.p + 0.85 * COALESCE(m.mass, 0.0) AS r
           |  FROM pv LEFT JOIN (
           |   SELECT e.dst AS id, SUM(r.r * (1.0 / deg.d)) AS mass
           |   FROM edges e JOIN r${i - 1} r ON e.src = r.id
           |    JOIN deg ON deg.src = e.src
           |   GROUP BY e.dst) m ON m.id = pv.id)""".stripMargin
      }.mkString(",")
      ("""WITH pairs AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        | deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
        | nodes AS (SELECT DISTINCT src AS id FROM edges),
        | nn AS (SELECT COUNT(*) AS n FROM nodes),
        | sd AS (SELECT id FROM nodes WHERE id % 1000 = 0),
        | ns AS (SELECT COUNT(*) AS s FROM sd),
        | pv AS (SELECT n.id,
        |   CASE WHEN s.id IS NULL THEN 0.0
        |    ELSE 1.0 / (SELECT s FROM ns) END AS p
        |  FROM nodes n LEFT JOIN sd s ON n.id = s.id),
        | r0 AS (SELECT id, p AS r FROM pv),""".stripMargin
        + steps +
        """ SELECT CAST(id AS BIGINT) AS part_id,
        |   ROUND(r * (SELECT n FROM nn), 6) AS rank_scaled
        | FROM r5 ORDER BY rank_scaled DESC, part_id
        | LIMIT 100""".stripMargin).replaceAll("\n", "")
    })),

    // G7: HITS over the bipartite customer→supplier purchase graph —
    // authorities = suppliers reinforced by strong buyers, the classic
    // Kleinberg shape (the co-purchase graph would degenerate: on a
    // symmetric edge list hub ≡ auth). 3 unrolled iterations in the
    // oracle (6 half-step CTEs), L1-normalized so every float op is a
    // +,/ chain mirrorable term-for-term; top-50 authorities, scaled
    // by the authority count like g1. Out of the headline for g2–g5's
    // reason (the lineitem⋈orders edge build dominates per-trial).
    // g7: HITS unrolled as 6 L1-normalized half-step CTEs — the same
    // +,/ float chain the engine runs (raw sum, then divide by the
    // 1-row normalizer), mirrored term-for-term.
    QuerySpec("g7_supplier_hits", (s, dir) => {
      val edges = graft.Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .join(graft.Tables.load(s, dir, "orders")
          .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        .distinct()
      val (_, auths) = Graph.hits(edges, "src", "dst", iterations = 3)
      auths
        .crossJoin(broadcast(auths.agg(count(lit(1)).as("_n"))))
        .select(col("id").as("supp_key"),
          round(col("auth") * col("_n"), 6).as("auth_scaled"))
        .orderBy(desc("auth_scaled"), asc("supp_key"))
        .limit(50)
    }, sql({
      val steps = (1 to 3).map { i =>
        s""" a${i}r AS (SELECT e.dst AS id, SUM(h.hub) AS a
           |  FROM edges e JOIN h${i - 1} h ON e.src = h.id GROUP BY e.dst),
           | a$i AS (SELECT id, a / (SELECT SUM(a) FROM a${i}r) AS auth
           |  FROM a${i}r),
           | h${i}r AS (SELECT e.src AS id, SUM(a.auth) AS h
           |  FROM edges e JOIN a$i a ON e.dst = a.id GROUP BY e.src),
           | h$i AS (SELECT id, h / (SELECT SUM(h) FROM h${i}r) AS hub
           |  FROM h${i}r)""".stripMargin
      }.mkString(",")
      ("""WITH edges AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | h0 AS (SELECT DISTINCT src AS id, 1.0 AS hub FROM edges),""".stripMargin
        + steps +
        """ SELECT CAST(id AS BIGINT) AS supp_key,
        |  ROUND(auth * (SELECT COUNT(*) FROM a3), 6) AS auth_scaled
        | FROM a3 ORDER BY auth_scaled DESC, supp_key
        | LIMIT 50""".stripMargin).replaceAll("\n", "")
    })),

    // G8: 130-core of the co-purchase graph — the density filter
    // (median degree is ~115 at sf0.01, so k=130 peels roughly 3/4 of
    // the graph and leaves a genuinely dense core). The engine peels
    // to the FIXED POINT (convergence-driven); the oracle unrolls 6
    // peel rounds, safe because peeling is idempotent past
    // convergence and this graph stabilizes in 2 (measured; a spec
    // covers the deep-peel case oracles can't — a path peels one
    // endpoint layer per round). Out of the headline for g2–g5's
    // reason (pair-build domination).
    // g8: peeling unrolled 10 rounds — each round recomputes degrees
    // on the surviving edge list and keeps ≥ 70-degree nodes. k = 70
    // is chosen NON-VACUOUS at the gate SF (sf0.01: 1996-node core;
    // sf0.1: 19674; sf0.001's fixpoint is empty — probed), and the
    // unroll depth covers the measured worst convergence (8 rounds at
    // sf0.001, ≤4 at the larger SFs) with margin; rounds past the
    // fixpoint are idempotent.
    QuerySpec("g8_kcore", (s, dir) => {
      val pairs = graft.Caches.shared(copurchasePairs(s, dir))
      val edges = pairs.union(
        pairs.select(col("dst").as("src"), col("src").as("dst")))
      Graph.kCore(edges, "src", "dst", k = 70)
        .select(col("id").as("part_id"), col("core_deg"))
        .orderBy("part_id")
    }, sql({
      // every e_i is read THREE times by round i+1 (k_i twice + the
      // edge filter) — without MATERIALIZED, DuckDB may inline the
      // reference chain and re-evaluate the pair build 3^6 times
      // (observed: >78 GB of spill at sf0.1 before running out of
      // disk). Materializing each round makes the unroll linear.
      val rounds = (1 to 11).map { i =>
        s""" k$i AS MATERIALIZED (SELECT src AS id FROM e${i - 1}
           |  GROUP BY src HAVING COUNT(*) >= 70),
           | e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN k$i a ON e.src = a.id JOIN k$i b ON e.dst = b.id)"""
          .stripMargin
      }.mkString(",")
      ("""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        | e0 AS MATERIALIZED (SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst AS src, src AS dst FROM pairs),""".stripMargin
        + rounds +
        // peeling only removes edges, so e11 ⊆ e10 and equal COUNTs ⇒
        // equal sets ⇒ round 11 was idempotent ⇒ e10 IS the fixpoint.
        // The guard compares the LAST TWO unrolled rounds, so a
        // dataset converging exactly at round 10 passes (round 11 is
        // purely the idempotence witness; the emitted result stays
        // e10). A dataset needing >10 peel rounds fails LOUDLY
        // (error()) instead of surfacing as an opaque hash mismatch.
        // The guard is a CASE in a 1-row CTE joined in, NOT an
        // `= .. OR error(..)` predicate: DuckDB does not short-circuit
        // OR in a decorrelated WHERE (measured — the OR form fired on
        // converged data), while the CASE branch is evaluated lazily.
        """, guard AS (SELECT CASE
        |   WHEN (SELECT COUNT(*) FROM e10) = (SELECT COUNT(*) FROM e11)
        |   THEN 1
        |   ELSE error('g8 oracle: peel not converged in 10 rounds')
        |  END AS ok)
        | SELECT CAST(src AS BIGINT) AS part_id,
        |  CAST(COUNT(*) AS BIGINT) AS core_deg
        | FROM e10 JOIN guard ON guard.ok = 1
        | GROUP BY src ORDER BY part_id""".stripMargin)
        .replaceAll("\n", "")
    })),
  )

  /** g5's 3-round label-propagation replay as a CTE block ending in
    * `l3` (id, label) over `pairs`/`edges` — shared by the g5 and g10
    * oracles so the modularity metric scores exactly the communities
    * the community query emits. */
  /** The co-purchase pair build alone — split from [[g5LabelCtes]]
    * (round 15) so the sf1 chain-at-a-time oracle can materialize the
    * expensive self-join ONCE and feed the LP rounds from parquet. */
  private lazy val g5PairsCte: String =
    """pairs AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""
      .stripMargin

  /** The 3 label-propagation rounds over an existing `pairs` CTE —
    * the rest of [[g5LabelCtes]]. */
  private lazy val g5LabelFromPairsCtes: String =
    """edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
      | nodes AS (SELECT DISTINCT src AS id FROM edges),
      | l0 AS (SELECT id, id AS label FROM nodes),
      | c1 AS (SELECT e.dst AS id, l.label, COUNT(*) AS votes
      |   FROM edges e JOIN l0 l ON e.src = l.id GROUP BY 1, 2),
      | w1 AS (SELECT id, label FROM c1 QUALIFY
      |   row_number() OVER (PARTITION BY id ORDER BY votes DESC, label) = 1),
      | l1 AS (SELECT n.id, COALESCE(w.label, n.id) AS label
      |   FROM nodes n LEFT JOIN w1 w USING (id)),
      | c2 AS (SELECT e.dst AS id, l.label, COUNT(*) AS votes
      |   FROM edges e JOIN l1 l ON e.src = l.id GROUP BY 1, 2),
      | w2 AS (SELECT id, label FROM c2 QUALIFY
      |   row_number() OVER (PARTITION BY id ORDER BY votes DESC, label) = 1),
      | l2 AS (SELECT n.id, COALESCE(w.label, n.id) AS label
      |   FROM nodes n LEFT JOIN w2 w USING (id)),
      | c3 AS (SELECT e.dst AS id, l.label, COUNT(*) AS votes
      |   FROM edges e JOIN l2 l ON e.src = l.id GROUP BY 1, 2),
      | w3 AS (SELECT id, label FROM c3 QUALIFY
      |   row_number() OVER (PARTITION BY id ORDER BY votes DESC, label) = 1),
      | l3 AS (SELECT n.id, COALESCE(w.label, n.id) AS label
      |   FROM nodes n LEFT JOIN w3 w USING (id))""".stripMargin

  private lazy val g5LabelCtes: String =
    s"$g5PairsCte,\n $g5LabelFromPairsCtes"

  /** g10's sf1 chain plan ([[graft.QuerySpec.sf1Chains]]): the
    * one-WITH replay (pairs self-join + 3 LP rounds) exceeds DuckDB
    * temp disk at sf1; materializing the pair build once and feeding
    * the label rounds and the rollup from parquet bounds peak temp
    * usage to one chain. */
  private def g10Sf1Chains: Seq[(String, String)] =
    Seq(
      "pairs" -> s"WITH $g5PairsCte SELECT src, dst FROM pairs",
      "labels" -> (s"WITH pairs AS (SELECT src, dst FROM __CHAIN_pairs__)," +
        s" $g5LabelFromPairsCtes SELECT id, label FROM l3")
          .replaceAll("\n", ""),
      "rollup" -> ("""WITH pairs AS (SELECT src, dst FROM __CHAIN_pairs__),
        | l3 AS (SELECT id, label FROM __CHAIN_labels__),
        | edges AS (SELECT src, dst FROM pairs
        |  UNION ALL SELECT dst, src FROM pairs),
        | deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS d
        |  FROM edges GROUP BY src),
        | dc AS (SELECT l.label, CAST(SUM(deg.d) AS BIGINT) AS dsum
        |  FROM l3 l JOIN deg USING (id) GROUP BY l.label),
        | ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
        |   CAST(SUM(dsum * dsum) AS BIGINT) AS sum_deg_sq FROM dc),
        | mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM pairs),
        | ia AS (SELECT CAST(COUNT(*) AS BIGINT) AS intra_edges
        |  FROM pairs p JOIN l3 a ON p.src = a.id
        |   JOIN l3 b ON p.dst = b.id WHERE a.label = b.label)
        | SELECT m_edges, n_communities, intra_edges, sum_deg_sq,
        |  ROUND((4 * m_edges * intra_edges - sum_deg_sq)::DOUBLE
        |    / (4 * m_edges * m_edges), 6) AS modularity
        | FROM mm, ag, ia""".stripMargin.replaceAll("\n", "")))

}
