package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.QuerySpec.sql
import graft.functions.{Embedding, VectorFunctions}
import graft.store.AnnIndexes

/** Driver-checked similarity-search queries over the embeddings table
  * (SURVEY.md §2.2 R1–R7; §2.8 Class B promoted to oracle checks).
  *
  * The DuckDB oracle computes cosine via `list_cosine_similarity` over
  * DOUBLE[]; Spark computes it with the codegen'd CosineSimilarity
  * expression. Raw doubles agree only to the last ulp (measured
  * max diff 1.1e-16), so every similarity is rounded to 6 decimals
  * *before* any filter/sort/limit on BOTH sides — filters, orderings
  * and top-k cuts then operate on identical keys, with id tie-breaks,
  * making output deterministic across engines and partitionings.
  *
  * The query vector is generated by the deterministic embedder and
  * inlined into the oracle SQL as a DOUBLE[] literal via
  * Double.toString (round-trip exact), so both engines see the
  * bit-identical vector.
  */
object VectorQueries {
  /** Deterministic probe vector in the embeddings table's dimension. */
  val Dim = 64
  lazy val probeVec: Array[Double] =
    Embedding.embed("graft similarity probe", Dim).map(_.toDouble)

  private lazy val probeLit: String =
    probeVec.map(_.toString).mkString("[", ",", "]")

  private lazy val probePrefixLit: String =
    probeVec.take(16).map(_.toString).mkString("[", ",", "]")

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  // ---------------------------------------------------------------
  // Materialized ANN indexes (built once per dataset; see
  // graft.store.AnnIndexes — index build is ingest-time work, the
  // declared queries only search the partition-pruned tables).
  // ---------------------------------------------------------------
  val LshTables = 4
  val LshBits = 8
  val IvfCells = 16

  /** The store handle of a built index. A keyed path names immutable
    * content, so the path is its own staleness key and a search never
    * re-walks the index's partition dirs. */
  private def opened(s: SparkSession, path: String): DataFrame =
    AnnIndexes.open(s, path, path)

  /** Build-once multi-table LSH index over the embeddings table. */
  def lshIndex(s: SparkSession, dir: String): String =
    AnnIndexes.materializeAtomic(s, AnnIndexes.key(s, "lsh", dir,
        "embeddings", s"_d${Dim}_t${LshTables}_b$LshBits")) { tmp =>
      Similarity.buildLshIndex(emb(s, dir), "embedding", Dim, tmp,
        tables = LshTables, bits = LshBits, seed = 42L)
    }

  /** Build-once IVF index (cell-partitioned corpus + codebook sidecar);
    * returns the index path and its (memoized) codebook. */
  def ivfIndex(s: SparkSession, dir: String): (String, Ivf.IvfModel) = {
    val path = AnnIndexes.key(s, "ivf", dir, "embeddings", s"_d${Dim}_n$IvfCells")
    (path, AnnIndexes.model(s, path) { tmp =>
      Ivf.buildIndex(emb(s, dir), "vec_id", "embedding", tmp, nlist = IvfCells)
    }(p => Ivf.loadModel(s, s"$p/_model")))
  }

  val PqM = 8
  val PqK = 16

  /** Build-once PQ index (corpus with `pq_code` + codebook sidecar);
    * returns the index path and its (memoized) codebook. */
  def pqIndex(s: SparkSession, dir: String): (String, Pq.PqModel) = {
    val path = AnnIndexes.key(s, "pq", dir, "embeddings", s"_d${Dim}_m${PqM}_k$PqK")
    (path, AnnIndexes.model(s, path) { tmp =>
      Pq.buildIndex(emb(s, dir), "vec_id", "embedding", tmp, m = PqM, k = PqK)
    }(p => Pq.loadModel(s, s"$p/_model")))
  }

  /** Build-once IVFPQ index (cell-partitioned + PQ-coded corpus with
    * coarse and fine codebook sidecars). */
  def ivfPqIndex(s: SparkSession, dir: String): (String, (Ivf.IvfModel, Pq.PqModel)) = {
    val path = AnnIndexes.key(s, "ivfpq", dir, "embeddings",
      s"_d${Dim}_n${IvfCells}_m${PqM}_k$PqK")
    (path, AnnIndexes.model(s, path) { tmp =>
      Pq.buildIvfPqIndex(emb(s, dir), "vec_id",
        "embedding", tmp, nlist = IvfCells, m = PqM, k = PqK)
    }(p => (Ivf.loadModel(s, s"$p/_coarse"), Pq.loadModel(s, s"$p/_model"))))
  }

  private def simSql(embExpr: String, qExpr: String): String =
    s"ROUND(list_cosine_similarity(CAST($embExpr AS DOUBLE[]), CAST($qExpr AS DOUBLE[])), 6)"

  // ---------------------------------------------------------------
  // Recall@k harness (v20–v23): Spark side + DuckDB reproductions
  // ---------------------------------------------------------------
  val RecallK = 10
  val RecallNprobe = 4

  /** hits = |ann ∩ exact| over the id column, recall = hits/k — one
    * row. Both inputs are bounded top-k (k rows), so the join is a
    * broadcast of k rows against k rows. */
  private def recallVs(ann: DataFrame, exact: DataFrame): DataFrame =
    ann.select("vec_id").join(exact.select("vec_id"), "vec_id")
      .agg(count(lit(1)).as("hits"))
      .select(col("hits"),
        round(col("hits") / lit(RecallK.toDouble), 2).as("recall"))

  private def exactCosineTopK(s: SparkSession, dir: String): DataFrame =
    Similarity.topK(emb(s, dir), "embedding", probeVec, k = RecallK,
      threshold = -1.0, tieBreak = Seq("vec_id"))

  private def exactL2TopK(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("dist", round(
        VectorFunctions.l2_distance(col("embedding"), typedLit(probeVec)), 6))
      .orderBy(asc("dist"), asc("vec_id"))
      .limit(RecallK)

  private def vecLit(v: Array[Double]): String =
    v.map(_.toString).mkString("[", ",", "]")

  private def dotSql(eExpr: String, v: Array[Double]): String =
    s"list_inner_product($eExpr, CAST(${vecLit(v)} AS DOUBLE[]))"

  private def l2nDriver(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** The shared oracle skeleton: `annSrc` must define a relation named
    * `cand(vec_id, e)` holding the family's candidate set; the final
    * ranking, the exact side and the recall join are identical across
    * families. `byL2` picks the family's ranking metric (cosine for
    * LSH/IVF, L2 for the PQ re-rank families). */
  private def recallSql(withClauses: String, annBody: String,
      byL2: Boolean): String = {
    val q = s"CAST($probeLit AS DOUBLE[])"
    val rank =
      if (byL2) s"ROUND(list_distance(e, $q), 6) ASC"
      else s"ROUND(list_cosine_similarity(e, $q), 6) DESC"
    s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
       |   FROM embeddings),
       | $withClauses
       | ann AS ($annBody),
       | exact AS (SELECT vec_id FROM base
       |   ORDER BY $rank, vec_id LIMIT $RecallK)
       | SELECT CAST(COUNT(*) AS BIGINT) AS hits,
       |   ROUND(CAST(COUNT(*) AS DOUBLE) / $RecallK.0, 2) AS recall
       | FROM ann JOIN exact USING (vec_id)""".stripMargin
      .replaceAll("\n", "")
  }

  /** Per-table SQL bucket expression over a DOUBLE[] column: bit i =
    * sign of dot(col, h_i) with the seed-derived hyperplane values
    * inlined — Similarity.lshBucket sign-bit by sign-bit. */
  private def bucketSqlExpr(colE: String, t: Int): String =
    Similarity.hyperplanes(LshBits, Dim, 42L + t).zipWithIndex.map {
      case (h, i) =>
        s"(CASE WHEN ${dotSql(colE, h)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** The single-probe LSH candidate condition over `e`: any table's
    * recomputed bucket lands in that table's probe set (the
    * driver-side signature ± Hamming-1, inlined as integer literals). */
  private lazy val lshCandCondSql: String =
    (0 until LshTables).map { t =>
      val buckets = Similarity.probeBuckets(
        Similarity.signatureOf(
          Similarity.hyperplanes(LshBits, Dim, 42L + t), probeVec),
        LshBits, probes = 1)
      s"(${bucketSqlExpr("e", t)}) IN (${buckets.mkString(", ")})"
    }.mkString(" OR ")

  /** v20: DuckDB re-runs the multi-table hyperplane LSH — the
    * hyperplanes are pure functions of (seed, bits, dim), so their
    * values are inlined and the bucket of every corpus vector is
    * recomputed sign-bit by sign-bit. */
  private lazy val lshRecallSql: String =
    recallSql(
      s"cand AS (SELECT vec_id, e FROM base WHERE $lshCandCondSql),",
      s"SELECT vec_id FROM cand ORDER BY ROUND(list_cosine_similarity(e, " +
        s"CAST($probeLit AS DOUBLE[])), 6) DESC, vec_id LIMIT $RecallK",
      byL2 = false)

  private val BaseClause =
    "WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), "

  /** The exact-cosine finish shared by the v6/v7 top-k oracles —
    * Similarity.topK's round→sort→cut over a relation `cand(vec_id, e)`. */
  private def cosTopKSelect(k: Int): String =
    s"SELECT vec_id, ROUND(list_cosine_similarity(e, CAST($probeLit AS " +
      s"DOUBLE[])), 6) AS similarity FROM cand " +
      s"ORDER BY similarity DESC, vec_id LIMIT $k"

  /** v6 (round 7): the LSH top-k itself is hash-checked — same
    * candidate reproduction as v20, then the exact rounded-cosine
    * rank/cut with the claimed similarities in the output. */
  private lazy val lshTopKSql: String =
    BaseClause + s"cand AS (SELECT vec_id, e FROM base WHERE " +
      s"$lshCandCondSql) " + cosTopKSelect(10)

  /** v7 (round 7): IVF top-k hash-checked — cell assignment recomputed
    * from the inlined coarse centroids (v21's cellClauses), pruned to
    * the driver-ranked nprobe cells, exact rounded-cosine finish. */
  private def ivfTopKSql(model: Ivf.IvfModel): String = {
    val probeCells = model.rankCells(l2nDriver(probeVec)).take(4)
    BaseClause + cellClauses(model) +
      s" cand AS (SELECT vec_id, e FROM assigned WHERE cell IN " +
      s"(${probeCells.mkString(", ")})) " + cosTopKSelect(10)
  }

  private lazy val emitDistSql: String =
    s"vec_id, ROUND(list_distance(e, CAST($probeLit AS DOUBLE[])), 6) AS l2_dist"

  /** v11 (round 7): PQ top-k hash-checked — pqAnnBody re-encodes every
    * row from the inlined codebooks, ADC-ranks, exact-L2 re-ranks, and
    * now also emits the claimed l2_dist for the value hash. */
  private def pqTopKSql(fine: Pq.PqModel): String =
    BaseClause + "cand AS (SELECT vec_id, e FROM base) " +
      pqAnnBody(fine, emitDistSql)

  /** v12 (round 7): IVFPQ top-k hash-checked — coarse cell pruning
    * (inlined centroids) × PQ re-encode + ADC + exact re-rank. */
  private def ivfPqTopKSql(coarse: Ivf.IvfModel, fine: Pq.PqModel): String = {
    val probeCells = coarse.rankCells(l2nDriver(probeVec)).take(4)
    BaseClause + cellClauses(coarse) +
      s" cand AS (SELECT vec_id, e FROM assigned WHERE cell IN " +
      s"(${probeCells.mkString(", ")})) " + pqAnnBody(fine, emitDistSql)
  }

  /** v8 (round 7): batch ANN hash-checked — each query's per-table
    * bucket is recomputed from its own corpus row (the query set IS
    * rows vec_id < 5), candidates are rows sharing any table's exact
    * bucket (lshTopKBatchFromIndex probes only the signature bucket),
    * then the per-query rounded-cosine rank/cut — window semantics
    * identical to the Spark row_number ≤ k. */
  private lazy val batchAnnSql: String = {
    val cB = (0 until LshTables)
      .map(t => s"(${bucketSqlExpr("e", t)}) AS b$t").mkString(", ")
    val qB = (0 until LshTables)
      .map(t => s"(${bucketSqlExpr("qv", t)}) AS b$t").mkString(", ")
    val matches = (0 until LshTables)
      .map(t => s"bc.b$t = bq.b$t").mkString(" OR ")
    BaseClause +
      s"bc AS (SELECT vec_id, e, $cB FROM base), " +
      s"bq AS (SELECT vec_id AS query_id, e AS qv, $qB FROM base " +
      s"WHERE vec_id < 5), " +
      s"cand AS (SELECT bq.query_id, bq.qv, bc.vec_id, bc.e " +
      s"FROM bc, bq WHERE $matches) " +
      s"SELECT query_id, vec_id AS neighbor_id, " +
      s"ROUND(list_cosine_similarity(e, qv), 6) AS similarity FROM cand " +
      s"QUALIFY row_number() OVER (PARTITION BY query_id " +
      s"ORDER BY similarity DESC, vec_id) <= 5 " +
      s"ORDER BY query_id, similarity DESC, neighbor_id"
  }

  /** v25: DuckDB re-runs the binary-quantized search end-to-end — the
    * sign-bit signature of every corpus vector is recomputed bit by
    * bit, the query signature is a driver-side literal, the Hamming
    * pool cut uses bit_count∘xor with the same id tie-break, and the
    * exact-cosine finish is the shared cosTopKSelect. Fully static:
    * the signature basis is the identity, nothing is trained. */
  private lazy val binaryTopKSql: String = {
    val qSig = Similarity.binarySignatureOf(probeVec)
    val sigExpr = (0 until Dim).map { j =>
      s"(CASE WHEN e[${j + 1}] >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    BaseClause +
      s"sigs AS (SELECT vec_id, e, ($sigExpr) AS sig FROM base), " +
      s"cand AS (SELECT vec_id, e FROM sigs ORDER BY " +
      s"bit_count(xor(sig, CAST($qSig AS BIGINT))), vec_id LIMIT 100) " +
      cosTopKSelect(20)
  }

  /** v26: DuckDB re-runs the MMR greedy as k unrolled CTE steps (the
    * g1 pattern): pool and pairwise sims are rounded in SQL exactly as
    * Spark rounds them, then each pick_i selects the argmax of
    * `λ·rel − (1−λ)·max sim-to-selected` with the id tie-break — the
    * score arithmetic is a fixed IEEE chain on bit-identical doubles,
    * so even the un-rounded mmr column value-hashes. */
  private lazy val mmrRerankSql: String = {
    val k = 10
    val q = s"CAST($probeLit AS DOUBLE[])"
    // every multiply-referenced CTE is MATERIALIZED: sel_i references
    // sel_{i-1} twice, so default inlining would expand pool 2^k times
    // (measured: "Too many open files" from 1024 parquet re-scans)
    val head = BaseClause +
      s"pool AS MATERIALIZED (SELECT vec_id, e, " +
      s"ROUND(list_cosine_similarity(e, $q), 6)" +
      s" AS rel FROM base ORDER BY rel DESC, vec_id LIMIT 50), " +
      s"ps AS MATERIALIZED (SELECT a.vec_id AS a_id, b.vec_id AS b_id, " +
      s"ROUND(list_cosine_similarity(a.e, b.e), 6) AS s " +
      s"FROM pool a, pool b WHERE a.vec_id <> b.vec_id), " +
      s"""sel1 AS MATERIALIZED (SELECT 1 AS "rank", vec_id, rel,""" +
      s" 0.5 * rel - 0.5 * 0.0" +
      s" AS mmr FROM pool ORDER BY mmr DESC, vec_id LIMIT 1)"
    val steps = (2 to k).map { i =>
      s""", pick$i AS (SELECT $i AS "rank", p.vec_id, p.rel, """ +
        s"0.5 * p.rel - 0.5 * (SELECT MAX(ps.s) FROM ps " +
        s"JOIN sel${i - 1} sl ON ps.b_id = sl.vec_id " +
        s"WHERE ps.a_id = p.vec_id) AS mmr " +
        s"FROM pool p WHERE p.vec_id NOT IN " +
        s"(SELECT vec_id FROM sel${i - 1}) " +
        s"ORDER BY mmr DESC, p.vec_id LIMIT 1), " +
        s"sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} " +
        s"UNION ALL SELECT * FROM pick$i)"
    }.mkString
    head + steps +
      s""" SELECT "rank", vec_id, rel AS similarity, mmr FROM sel$k""" +
      s""" ORDER BY "rank""""
  }

  /** Cell-assignment clauses shared by v21/v23: `cellv(i, cv)` holds
    * the inlined coarse centroids; each row's cell is the argmax-dot
    * centroid with ties to the smaller index — exactly Ivf.cellOf's
    * max(struct(score, -idx)) semantics, term-for-term in the same
    * float arithmetic (elementwise double products, sequential sum). */
  private def cellClauses(coarse: Ivf.IvfModel): String = {
    val values = coarse.centroids.zipWithIndex.map { case (c, i) =>
      s"($i, CAST(${vecLit(c)} AS DOUBLE[]))"
    }.mkString(", ")
    s"""cellv(i, cv) AS (SELECT * FROM (VALUES $values) t(i, cv)),
       | assigned AS (SELECT vec_id, e,
       |   (SELECT i FROM cellv
       |    ORDER BY list_inner_product(e, cv) DESC, i LIMIT 1) AS cell
       |  FROM base),""".stripMargin.replaceAll("\n", "")
  }

  private def ivfRecallSql(model: Ivf.IvfModel): String = {
    val probeCells =
      model.rankCells(l2nDriver(probeVec)).take(RecallNprobe)
    recallSql(
      cellClauses(model) +
        s" cand AS (SELECT vec_id, e FROM assigned" +
        s"  WHERE cell IN (${probeCells.mkString(", ")})),",
      s"SELECT vec_id FROM cand ORDER BY ROUND(list_cosine_similarity(e, " +
        s"CAST($probeLit AS DOUBLE[])), 6) DESC, vec_id LIMIT $RecallK",
      byL2 = false)
  }

  /** PQ clauses shared by v22/v23 over a relation `cand(vec_id, e)`:
    * re-encode every candidate (per-subspace argmax of
    * 2·x·c − ‖c‖², ties to the smaller code — exactly Pq.encodeCol,
    * with ‖c‖² inlined from the SAME driver-side doubles), ADC-score
    * via the inlined m×k lookup table, keep the top topK·refine by
    * (adc, vec_id), then exact-L2 re-rank — Pq.search step by step. */
  private def pqAnnBody(fine: Pq.PqModel, emit: String = "vec_id"): String = {
    val lut = fine.adcTable(probeVec)
    val codeExprs = (0 until fine.m).map { i =>
      val lo = i * fine.dsub + 1
      val hi = (i + 1) * fine.dsub
      val values = fine.codebooks(i).zipWithIndex.map { case (c, j) =>
        val n2 = c.map(x => x * x).sum
        s"($j, CAST(${vecLit(c)} AS DOUBLE[]), CAST($n2 AS DOUBLE))"
      }.mkString(", ")
      s"""(SELECT j FROM (VALUES $values) t(j, cv, n2)
         | ORDER BY 2 * list_inner_product(e[$lo:$hi], cv) - n2 DESC, j
         | LIMIT 1) AS c$i""".stripMargin.replaceAll("\n", "")
    }.mkString(", ")
    val lutRef = (0 until fine.m)
      .map(i => s"l[${i * fine.k} + c$i + 1]").mkString(" + ")
    s"""SELECT $emit FROM (
       |  SELECT vec_id, e FROM (
       |   SELECT vec_id, e, $lutRef AS adc
       |   FROM (SELECT vec_id, e, $codeExprs FROM cand),
       |        (SELECT CAST(${vecLit(lut)} AS DOUBLE[]) AS l))
       |  ORDER BY adc, vec_id LIMIT ${RecallK * 4})
       | ORDER BY ROUND(list_distance(e, CAST($probeLit AS DOUBLE[])), 6),
       |  vec_id LIMIT $RecallK""".stripMargin.replaceAll("\n", "")
  }

  private def pqRecallSql(fine: Pq.PqModel): String =
    recallSql("cand AS (SELECT vec_id, e FROM base),", pqAnnBody(fine),
      byL2 = true)

  private def ivfPqRecallSql(coarse: Ivf.IvfModel, fine: Pq.PqModel): String = {
    val probeCells =
      coarse.rankCells(l2nDriver(probeVec)).take(RecallNprobe)
    recallSql(
      cellClauses(coarse) +
        s" cand AS (SELECT vec_id, e FROM assigned" +
        s"  WHERE cell IN (${probeCells.mkString(", ")})),",
      pqAnnBody(fine),
      byL2 = true)
  }

  /** Fit-once PCA model per dataset, shared by v24 and its oracle: no
    * sidecar is written, the model is memoized under its key. */
  val PcaK = 4
  private def pcaModel(s: SparkSession, dir: String): Pca.PcaModel =
    AnnIndexes.memo(
        AnnIndexes.key(s, "pca", dir, "embeddings", s"_d${Dim}_k$PcaK"))(
      Pca.fit(emb(s, dir), "embedding", Dim, PcaK))

  /** The v24 oracle re-applies the trained projection: mean and
    * components are inlined as DOUBLE[] literals (Double.toString is
    * round-trip exact), so DuckDB recomputes every centered dot
    * product independently and the hash check pins the projection
    * arithmetic end-to-end. */
  private def pcaSql(m: Pca.PcaModel): String = {
    val cols = m.components.zipWithIndex.map { case (c, j) =>
      val meanDot = m.mean.zip(c).map { case (a, b) => a * b }.sum
      s"ROUND(list_inner_product(CAST(embedding AS DOUBLE[])," +
        s" CAST(${vecLit(c)} AS DOUBLE[])) - ($meanDot), 6) AS pc${j + 1}"
    }.mkString(", ")
    s"SELECT vec_id, $cols FROM embeddings ORDER BY vec_id"
  }

  /** The IVF/PQ top-k and recall oracles (v7, v11, v12, v21–v23) and
    * the PCA one (v24) inline a trained model: each takes it from the
    * same build-once index or fingerprint-keyed fit the query reads,
    * so the SQL is a function of the corpus alone. The LSH ones (v6,
    * v8, v20) are constants: their hyperplanes are seed-derived. */
  val specs: Seq[QuerySpec] = Seq(
    // V1: the reference's core retrieval shape — exact cosine top-k
    // with threshold (R1+R3+R4+R5+R6+R7) → TakeOrderedAndProject.
    QuerySpec("v1_cosine_topk", (s, dir) => {
      Similarity.topK(emb(s, dir), "embedding", probeVec,
          k = 20, threshold = -1.0, tieBreak = Seq("vec_id"))
        .select("vec_id", "label", "similarity")
    }, sql(
      s"""SELECT vec_id, label, ${simSql("embedding", probeLit)} AS similarity
         | FROM embeddings ORDER BY similarity DESC, vec_id LIMIT 20"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // V2: threshold semantics alone (R4) — exact row count ≥ t.
    QuerySpec("v2_threshold_count", (s, dir) => {
      emb(s, dir)
        .withColumn("similarity", round(
          VectorFunctions.cosine_similarity(col("embedding"), typedLit(probeVec)), 6))
        .filter(col("similarity") >= 0.1)
        .agg(count(lit(1)).as("cnt"))
    }, sql(
      s"SELECT COUNT(*) AS cnt FROM embeddings WHERE ${simSql("embedding", probeLit)} >= 0.1")),

    // V3: item-to-item neighbors — query vector drawn from the corpus
    // itself (broadcast 1-row join; no driver collect in the plan).
    QuerySpec("v3_self_neighbors", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>").as("q_emb"))
      e.join(broadcast(q))
        .withColumn("similarity", round(
          VectorFunctions.cosine_similarity(col("embedding"), col("q_emb")), 6))
        .filter(col("vec_id") =!= 0)
        .select("vec_id", "similarity")
        .orderBy(desc("similarity"), asc("vec_id"))
        .limit(10)
    }, sql(
      s"""SELECT vec_id, ${simSql("embedding",
          "(SELECT embedding FROM embeddings WHERE vec_id = 0)")} AS similarity
         | FROM embeddings WHERE vec_id <> 0
         | ORDER BY similarity DESC, vec_id LIMIT 10"""
        .stripMargin.replaceAll("\n", ""))),

    // V4: embedding-cosine near-duplicate pairs (the dedup-suite scale
    // shape): self-join restricted to the upper triangle. Exact
    // pairwise is O(N²) by construction, so — like d2 — its input is
    // BOUNDED (vec_id < 1000: the full corpus at sf≤0.01, a fixed
    // sample above) and it serves as the recall oracle for the
    // corpus-wide LSH-bucketed variant, d5.
    // Norms are hoisted out of the join (computed N times, not N²):
    // dot/(‖a‖·‖b‖) with precomputed sqrt norms is bit-identical to
    // the fused cosine expression, at a third of the pairwise flops.
    QuerySpec("v4_neardup_pairs", (s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") < 1000).select(
        col("vec_id"), col("embedding"),
        VectorFunctions.l2_norm(col("embedding")).as("nrm"))
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("nrm").as("a_nrm"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
        col("nrm").as("b_nrm"))
      a.join(b, col("a_id") < col("b_id"))
        .withColumn("similarity", round(
          when(col("a_nrm") === 0.0 || col("b_nrm") === 0.0, 0.0)
            .otherwise(VectorFunctions.dot_product(col("a_emb"), col("b_emb"))
              / (col("a_nrm") * col("b_nrm"))), 6))
        .filter(col("similarity") >= 0.3)
        .select("a_id", "b_id", "similarity")
        .orderBy("a_id", "b_id")
    }, sql(
      s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         | ${simSql("a.embedding", "b.embedding")} AS similarity
         | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         | WHERE a.vec_id < 1000 AND b.vec_id < 1000
         |   AND ${simSql("a.embedding", "b.embedding")} >= 0.3
         | ORDER BY a_id, b_id""".stripMargin.replaceAll("\n", ""))),

    // V6: approximate top-k against the materialized multi-table LSH
    // index — every table prunes parquet partitions to its probe
    // buckets, so the scan reads a small fraction of the files.
    // HASH-CHECKED (round 7): DuckDB re-runs the whole search from
    // inlined hyperplanes (see lshTopKSql); pruning spec'd in ScalaTest.
    QuerySpec("v6_lsh_topk", (s, dir) => {
      Similarity.lshTopKFromIndex(
          opened(s, lshIndex(s, dir)),
          "vec_id", "embedding",
          probeVec, k = 10, bits = LshBits, tables = LshTables,
          probes = 1, seed = 42L, tieBreak = Seq("vec_id"))
        .select("vec_id", "similarity")
    }, sql(lshTopKSql), headline = true),

    // V7: approximate top-k against the materialized IVF index — the
    // codebook is trained once at index build; the query ranks cells
    // driver-side and scans only the nprobe matching partitions.
    // HASH-CHECKED (round 7): DuckDB re-runs assignment + search from
    // the inlined codebook (ivfTopKSql); pruning spec'd in ScalaTest.
    QuerySpec("v7_ivf_topk", (s, dir) => {
      val (path, model) = ivfIndex(s, dir)
      Ivf.search(opened(s, path), "embedding",
          probeVec, model, k = 10, nprobe = 4, tieBreak = Seq("vec_id"))
        .select("vec_id", "similarity")
    }, (s, dir) => Some(ivfTopKSql(ivfIndex(s, dir)._2)), headline = true),

    // V8: many-query ANN against the materialized LSH index — the
    // distributed batch-retrieval shape (broadcast probe-bucket join,
    // no per-query driver work). HASH-CHECKED (round 7): DuckDB
    // recomputes every query's AND every corpus row's per-table bucket
    // from the inlined hyperplanes and re-runs the per-query rank/cut
    // (batchAnnSql); recall vs exact v5 stays spec'd.
    QuerySpec("v8_batch_ann", (s, dir) => {
      val queries = emb(s, dir).filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").cast("array<double>").as("qv"))
      Similarity.lshTopKBatchFromIndex(
          opened(s, lshIndex(s, dir)),
          queries, "qid", "qv",
          "vec_id", "embedding", k = 5, dim = Dim,
          bits = LshBits, tables = LshTables, seed = 42L)
        .orderBy(asc("query_id"), desc("similarity"), asc("neighbor_id"))
    }, sql(batchAnnSql), headline = true),

    // V11: PQ ANN — ADC lookup-table scan over the 8-int codes (16×
    // smaller than the float vectors) fused into TakeOrderedAndProject,
    // then exact L2 re-rank of the candidate set only. HASH-CHECKED
    // (round 7): DuckDB re-encodes every row from the inlined
    // codebooks, ADC-ranks and re-ranks (pqTopKSql); recall vs exact
    // v9 stays asserted in ScalaTest.
    QuerySpec("v11_pq_topk", (s, dir) => {
      val (path, model) = pqIndex(s, dir)
      Pq.search(opened(s, path),
          "vec_id", "embedding", probeVec, model, topK = 10, refine = 4)
        .select("vec_id", "l2_dist")
    }, (s, dir) => Some(pqTopKSql(pqIndex(s, dir)._2)), headline = true),

    // V12: composed IVFPQ — partition pruning to nprobe cells (I/O)
    // times ADC lookup scoring within them (flops), the FAISS
    // production layout. HASH-CHECKED (round 7): coarse assignment +
    // PQ re-encode + ADC + exact re-rank all reproduced in SQL from
    // inlined centroids/codebooks (ivfPqTopKSql); file-pruning spec'd.
    QuerySpec("v12_ivfpq_topk", (s, dir) => {
      val (path, (coarse, fine)) = ivfPqIndex(s, dir)
      Pq.searchIvfPq(opened(s, path),
          "vec_id", "embedding", probeVec, coarse, fine, topK = 10, nprobe = 4)
        .select("vec_id", "l2_dist")
    }, (s, dir) => {
      val (coarse, fine) = ivfPqIndex(s, dir)._2
      Some(ivfPqTopKSql(coarse, fine))
    }, headline = true),

    // V20–V23: hash-checked recall@10 per ANN family — each joins the
    // family's index search against the exact top-10 (the reference's
    // brute-force contract, src/lib/database.py:299-309) and outputs
    // (hits, recall). The DuckDB oracle RE-RUNS the approximate search
    // itself: the LSH hyperplanes are seed-derived and the IVF/PQ
    // codebooks are inlined as literals (their oracles take them from
    // the same build-once index the query reads), so bucket assignment,
    // cell argmax and ADC scoring are all reproduced independently —
    // ANN quality is a hash-checked invariant, not a spec-only bound.
    QuerySpec("v20_lsh_recall", (s, dir) => {
      recallVs(
        Similarity.lshTopKFromIndex(
          opened(s, lshIndex(s, dir)),
          "vec_id", "embedding", probeVec, k = RecallK, bits = LshBits,
          tables = LshTables,
          probes = 1, seed = 42L, tieBreak = Seq("vec_id")),
        exactCosineTopK(s, dir))
    }, sql(lshRecallSql)),

    QuerySpec("v21_ivf_recall", (s, dir) => {
      val (path, model) = ivfIndex(s, dir)
      recallVs(
        Ivf.search(opened(s, path),
          "embedding", probeVec, model, k = RecallK, nprobe = RecallNprobe,
          tieBreak = Seq("vec_id")),
        exactCosineTopK(s, dir))
    }, (s, dir) => Some(ivfRecallSql(ivfIndex(s, dir)._2))),

    QuerySpec("v22_pq_recall", (s, dir) => {
      val (path, model) = pqIndex(s, dir)
      recallVs(
        Pq.search(opened(s, path),
          "vec_id", "embedding", probeVec, model, topK = RecallK, refine = 4),
        exactL2TopK(s, dir))
    }, (s, dir) => Some(pqRecallSql(pqIndex(s, dir)._2))),

    QuerySpec("v23_ivfpq_recall", (s, dir) => {
      val (path, (coarse, fine)) = ivfPqIndex(s, dir)
      recallVs(
        Pq.searchIvfPq(opened(s, path),
          "vec_id", "embedding", probeVec, coarse, fine, topK = RecallK,
          nprobe = RecallNprobe),
        exactL2TopK(s, dir))
    }, (s, dir) => {
      val (coarse, fine) = ivfPqIndex(s, dir)._2
      Some(ivfPqRecallSql(coarse, fine))
    }),

    // V25: binary (sign-bit) quantized search — the 64×-compression
    // rung completing the storage ladder (float32 → matryoshka (v18)
    // → int8 (v16) → PQ (v11) → binary): one long per vector, Hamming
    // candidate ranking (xor + popcount), exact re-rank of the
    // bounded pool. HASH-CHECKED end-to-end (binaryTopKSql — fully
    // static, nothing trained).
    QuerySpec("v25_binary_topk", (s, dir) => {
      Similarity.binaryTopK(emb(s, dir), "embedding", probeVec,
          k = 20, pool = 100, tieBreak = Seq("vec_id"))
        .select("vec_id", "similarity")
    }, sql(binaryTopKSql), headline = true),

    // V26: MMR-diversified retrieval — the redundancy-penalized
    // re-rank a RAG pipeline applies so its k chunks don't all say
    // the same thing. Distributed pool retrieval + poolSize²-bounded
    // pairwise sims; O(k·pool) greedy on collected BOUNDED rows.
    // HASH-CHECKED including the un-rounded mmr scores (mmrRerankSql
    // re-runs the greedy as unrolled CTEs).
    QuerySpec("v26_mmr_rerank", (s, dir) => {
      Similarity.mmrRerank(emb(s, dir), "vec_id", "embedding", probeVec,
        k = 10, poolSize = 50)
    }, sql(mmrRerankSql)),

    // V9: L2-distance top-k — pgvector's `<->` operator family (the
    // reference exposes cosine only; pgvector users also rank by
    // Euclidean and inner product, so the engine covers all three).
    QuerySpec("v9_l2_topk", (s, dir) => {
      emb(s, dir)
        .withColumn("dist", round(
          VectorFunctions.l2_distance(col("embedding"), typedLit(probeVec)), 6))
        .select("vec_id", "dist")
        .orderBy(asc("dist"), asc("vec_id"))
        .limit(20)
    }, sql(
      s"""SELECT vec_id,
         | ROUND(list_distance(CAST(embedding AS DOUBLE[]), CAST($probeLit AS DOUBLE[])), 6) AS dist
         | FROM embeddings ORDER BY dist, vec_id LIMIT 20"""
        .stripMargin.replaceAll("\n", ""))),

    // V10: inner-product top-k — pgvector's `<#>`.
    QuerySpec("v10_ip_topk", (s, dir) => {
      emb(s, dir)
        .withColumn("ip", round(
          VectorFunctions.dot_product(col("embedding"), typedLit(probeVec)), 6))
        .select("vec_id", "ip")
        .orderBy(desc("ip"), asc("vec_id"))
        .limit(20)
    }, sql(
      s"""SELECT vec_id,
         | ROUND(list_inner_product(CAST(embedding AS DOUBLE[]), CAST($probeLit AS DOUBLE[])), 6) AS ip
         | FROM embeddings ORDER BY ip DESC, vec_id LIMIT 20"""
        .stripMargin.replaceAll("\n", ""))),

    // V5: many-query exact top-k via the bounded-heap Aggregator
    // (map-side partial top-k; the scalable per-key form).
    QuerySpec("v5_cross_topk", (s, dir) => {
      val e = emb(s, dir)
      val queries = e.filter(col("vec_id") < 5)
      Similarity.crossTopK(
          queries, "vec_id", "embedding", e, "vec_id", "embedding", k = 5)
        .orderBy(asc("query_id"), desc("similarity"), asc("neighbor_id"))
    }, sql(
      s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         | ${simSql("c.embedding", "q.embedding")} AS similarity
         | FROM embeddings q JOIN embeddings c ON q.vec_id < 5
         | QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |   ORDER BY ${simSql("c.embedding", "q.embedding")} DESC, c.vec_id) <= 5
         | ORDER BY query_id, similarity DESC, neighbor_id"""
        .stripMargin.replaceAll("\n", ""))),

    // V16: int8 scalar-quantized search — per-vector symmetric
    // quantization (scale = max|x|/127, codes = round(x/scale)) and
    // exact cosine over the DEQUANTIZED vectors: the 4×-smaller
    // middle rung of the storage ladder float32 → int8 → PQ → IVFPQ
    // (pgvector's halfvec/quantization analogue). Quantize + dequant +
    // cosine all run in the scan projection (codegen HOFs + the native
    // cosine kernel); the oracle reproduces the exact same arithmetic,
    // so this is hash-checked, not recall-checked.
    // V19: metadata-filtered vector search — the pgvector workload's
    // "WHERE label IN (...) ORDER BY embedding <=> q LIMIT k" shape:
    // the metadata predicate must reach the parquet scan as a pushed
    // filter (plan-pinned in PlanShapeSpec), so the cosine kernel only
    // touches surviving row groups; at scale a label-partitioned store
    // turns the same predicate into partition pruning.
    QuerySpec("v19_filtered_topk", (s, dir) => {
      Similarity.topK(
          emb(s, dir).filter(col("label").isin(1, 3, 5)),
          "embedding", probeVec, k = 20, threshold = -1.0,
          tieBreak = Seq("vec_id"))
        .select("vec_id", "label", "similarity")
    }, sql(
      s"""SELECT vec_id, label, ${simSql("embedding", probeLit)} AS similarity
         | FROM embeddings WHERE label IN (1, 3, 5)
         | ORDER BY similarity DESC, vec_id LIMIT 20"""
        .stripMargin.replaceAll("\n", ""))),

    // V18: matryoshka two-stage search — coarse top-100 by cosine over
    // the first 16 dims (4× less arithmetic/IO per row), exact 64-dim
    // re-rank of the pool to top-20. Both stages bounded top-k; the
    // storage ladder's cheap first rung beside int8 (v16) and PQ (v11).
    QuerySpec("v18_matryoshka_topk", (s, dir) => {
      Similarity.matryoshkaTopK(emb(s, dir), "embedding", probeVec,
          k = 20, prefixDim = 16, rerank = 100, tieBreak = Seq("vec_id"))
        .select("vec_id", "similarity")
    }, sql(
      s"""WITH coarse AS (SELECT vec_id, embedding,
         |  ROUND(list_cosine_similarity(CAST(embedding[1:16] AS DOUBLE[]),
         |    CAST($probePrefixLit AS DOUBLE[])), 6) AS csim
         | FROM embeddings ORDER BY csim DESC, vec_id LIMIT 100)
         | SELECT vec_id, ${simSql("embedding", probeLit)} AS similarity
         | FROM coarse ORDER BY similarity DESC, vec_id LIMIT 20"""
        .stripMargin.replaceAll("\n", ""))),

    // V17: k-NN label classification — predict each "unlabeled" query
    // vector's label by majority vote of its 5 nearest labeled train
    // neighbors (the embedding-space classifier a labeling pipeline
    // bootstraps from). The neighbor search is crossTopK's broadcast
    // probe + bounded-heap per-query aggregator (never a corpus×corpus
    // product); the vote is two tiny keyed aggs over 5·|queries| rows.
    // Ties: neighbor ties break (similarity desc, vec_id asc); vote
    // ties break to the smaller label — all deterministic.
    QuerySpec("v17_knn_classify", (s, dir) => {
      val e = emb(s, dir)
      Similarity.knnClassify(
          e.filter(col("vec_id") < 50), e.filter(col("vec_id") >= 50),
          "vec_id", "embedding", "label", k = 5)
        .orderBy("vec_id")
    }, sql(
      s"""WITH nn AS (SELECT q.vec_id AS qid, c.label
         |  FROM embeddings q JOIN embeddings c
         |   ON q.vec_id < 50 AND c.vec_id >= 50
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |   ORDER BY ${simSql("c.embedding", "q.embedding")} DESC, c.vec_id) <= 5),
         | v AS (SELECT qid, label, COUNT(*) AS votes FROM nn GROUP BY 1, 2)
         | SELECT qid AS vec_id, CAST(label AS INTEGER) AS predicted FROM v
         | QUALIFY row_number() OVER (PARTITION BY qid
         |  ORDER BY votes DESC, label) = 1
         | ORDER BY vec_id""".stripMargin.replaceAll("\n", ""))),

    QuerySpec("v16_int8_topk", (s, dir) => {
      val embD = col("embedding").cast("array<double>")
      emb(s, dir)
        .withColumn("scale",
          aggregate(embD, lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
        .withColumn("dq",
          when(col("scale") === 0.0, embD)
            .otherwise(transform(embD,
              x => floor(x / col("scale") + 0.5) * col("scale"))))
        .withColumn("similarity", round(
          VectorFunctions.cosine_similarity(col("dq"), typedLit(probeVec)), 6))
        .select("vec_id", "similarity")
        .orderBy(desc("similarity"), asc("vec_id"))
        .limit(20)
    }, sql(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
         |   FROM embeddings),
         | s AS (SELECT vec_id, emb,
         |   list_max(list_transform(emb, x -> abs(x))) / 127 AS scale FROM e),
         | d AS (SELECT vec_id, CASE WHEN scale = 0 THEN emb
         |   ELSE list_transform(emb, x -> floor(x / scale + 0.5) * scale)
         |   END AS dq FROM s)
         | SELECT vec_id, ROUND(list_cosine_similarity(dq,
         |   CAST($probeLit AS DOUBLE[])), 6) AS similarity
         | FROM d ORDER BY similarity DESC, vec_id LIMIT 20"""
        .stripMargin.replaceAll("\n", ""))),

    // V27: storage-ladder distortion audit — per quantization rung,
    // the corpus-average cosine between each vector and its
    // reconstruction: int8 (v16's symmetric per-vector scale), binary
    // (v25's sign bits as ±1), and half-dim truncation (v18's
    // matryoshka prefix, zero-padded). The report that PICKS the rung:
    // at 100 TB you choose compression by measured distortion, and
    // this computes all three in ONE corpus scan as pure map-side
    // expressions (reconstruction never materializes — each rung is a
    // transform + codegen'd cosine inside the scan projection)
    // followed by a 3-group aggregate. Per-row cosines mirror
    // term-for-term in the oracle; the averages round to 6.
    // zero-norm guards mirror graft's CosineSimilarity contract
    // (cos := 0.0 when either side has zero norm) — DuckDB's
    // list_cosine_similarity would yield NaN there. Binary/int8
    // reconstructions are zero only when e itself is; the half
    // prefix can be zero independently.
    QuerySpec("v27_distortion_ladder", (s, dir) => {
      val embD = col("embedding").cast("array<double>")
      def cos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        VectorFunctions.cosine_similarity(a, b)
      emb(s, dir).select(col("vec_id"), embD.as("e"))
        .withColumn("scale",
          aggregate(col("e"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
        .select(explode(array(
          struct(lit("binary").as("rung"),
            cos(col("e"), transform(col("e"),
              x => when(x >= 0, lit(1.0)).otherwise(lit(-1.0)))).as("c")),
          struct(lit("half").as("rung"),
            cos(col("e"), transform(sequence(lit(1), size(col("e"))),
              i => when(i <= size(col("e")) / 2,
                element_at(col("e"), i)).otherwise(lit(0.0)))).as("c")),
          struct(lit("int8").as("rung"),
            cos(col("e"), when(col("scale") === 0.0, col("e"))
              .otherwise(transform(col("e"),
                x => floor(x / col("scale") + 0.5) * col("scale"))))
              .as("c")))).as("r"))
        .groupBy(col("r.rung").as("rung"))
        .agg(round(avg(col("r.c")), 6).as("avg_cos"),
          count(lit(1)).as("n_vecs"))
        .orderBy("rung")
    }, sql(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |   FROM embeddings),
        | s AS (SELECT vec_id, e,
        |   list_max(list_transform(e, x -> abs(x))) / 127 AS scale,
        |   list_sum(list_transform(e, x -> x * x)) AS ne FROM e),
        | r AS (
        |  SELECT 'binary' AS rung, CASE WHEN ne = 0 THEN 0.0
        |   ELSE list_cosine_similarity(e,
        |    list_transform(e, x -> CASE WHEN x >= 0 THEN 1.0
        |     ELSE -1.0 END)) END AS c FROM s
        |  UNION ALL
        |  SELECT 'half', CASE WHEN ne = 0 OR list_sum(list_transform(
        |     e[1 : len(e) // 2], x -> x * x)) = 0 THEN 0.0
        |   ELSE list_cosine_similarity(e,
        |    list_transform(range(1, len(e) + 1),
        |     i -> CASE WHEN i <= len(e) // 2 THEN e[i]
        |      ELSE 0.0 END)) END FROM s
        |  UNION ALL
        |  SELECT 'int8', CASE WHEN ne = 0 THEN 0.0
        |   ELSE list_cosine_similarity(e,
        |    CASE WHEN scale = 0 THEN e
        |     ELSE list_transform(e, x -> floor(x / scale + 0.5) * scale)
        |    END) END FROM s)
        | SELECT rung, ROUND(AVG(c), 6) AS avg_cos,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs
        | FROM r GROUP BY rung ORDER BY rung"""
        .stripMargin.replaceAll("\n", ""))),

    // V15: embedding drift — per-label L2 distance between the class
    // centroids of two deterministic halves of the corpus (the
    // batch-over-batch distribution-shift monitor an embedding
    // pipeline runs after every re-embed). Two VectorMean aggregations
    // (fixed map-side buffers), a labels-sized join, and an ordered
    // zip_with fold for the distance — the corpus shuffles only
    // centroid buffers.
    QuerySpec("v15_centroid_drift", (s, dir) => {
      val mean = graft.functions.VectorAggregates.meanVector(Dim)
      val e = emb(s, dir)
      val ca = e.filter(pmod(col("vec_id"), lit(2)) === 0)
        .groupBy("label").agg(mean(col("embedding")).as("ca"))
      val cb = e.filter(pmod(col("vec_id"), lit(2)) === 1)
        .groupBy("label").agg(mean(col("embedding")).as("cb"))
      ca.join(cb, "label")
        .select(col("label"), round(sqrt(aggregate(
            zip_with(col("ca"), col("cb"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, v) => acc + v)), 6).as("drift"))
        .orderBy("label")
    }, sql(
      """WITH u AS (SELECT vec_id, label, unnest(embedding) AS x,
        |   generate_subscripts(embedding, 1) AS i FROM embeddings),
        | pa AS (SELECT label, i, AVG(x) AS c FROM u WHERE vec_id % 2 = 0
        |   GROUP BY label, i),
        | pb AS (SELECT label, i, AVG(x) AS c FROM u WHERE vec_id % 2 = 1
        |   GROUP BY label, i)
        | SELECT pa.label, ROUND(SQRT(SUM((pa.c - pb.c) * (pa.c - pb.c))), 6)
        |   AS drift
        | FROM pa JOIN pb ON pa.label = pb.label AND pa.i = pb.i
        | GROUP BY pa.label ORDER BY pa.label""".stripMargin.replaceAll("\n", ""))),

    // V14: hard-negative mining — for each query vector, the top
    // near-misses in a similarity band (similar enough to confuse,
    // below the positive bar): the contrastive-training sampler for
    // retrieval/embedding models. Scale shape: the query set
    // broadcasts (it is small by construction), the corpus is scanned
    // once, the band filter cuts candidates in the codegen stage, and
    // the per-query rank<=k compiles to WindowGroupLimit — so each
    // partition forwards at most k rows per query.
    QuerySpec("v14_hard_negatives", (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(desc("sim"), asc("vec_id"))
      e.crossJoin(broadcast(q))
        .withColumn("sim", round(
          VectorFunctions.cosine_similarity(col("embedding"), col("q_emb")), 6))
        .filter(col("sim") >= 0.1 && col("sim") < 0.5 &&
          col("vec_id") =!= col("query_id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 8)
        .select("query_id", "vec_id", "sim")
        .orderBy(asc("query_id"), desc("sim"), asc("vec_id"))
    }, sql(
      s"""SELECT q.vec_id AS query_id, c.vec_id,
         | ${simSql("c.embedding", "q.embedding")} AS sim
         | FROM embeddings c JOIN embeddings q
         |   ON q.vec_id < 5 AND c.vec_id <> q.vec_id
         | WHERE ${simSql("c.embedding", "q.embedding")} >= 0.1
         |   AND ${simSql("c.embedding", "q.embedding")} < 0.5
         | QUALIFY row_number() OVER (PARTITION BY query_id
         |   ORDER BY sim DESC, c.vec_id) <= 8
         | ORDER BY 1, 3 DESC, 2""".stripMargin.replaceAll("\n", ""))),

    // V13: per-label mean embedding (class centroids) via the
    // fixed-buffer VectorMean Aggregator — partial elementwise sums
    // combine map-side, so the shuffle carries one (dim doubles,
    // count) buffer per label per partition, NOT the corpus ×dim
    // explode the naive posexplode+groupBy(label, pos) form would
    // shuffle. The final posexplode runs on the tiny aggregated
    // result only (labels × dim rows) to give the oracle a flat
    // comparable shape.
    QuerySpec("v13_label_centroids", (s, dir) => {
      val mean = graft.functions.VectorAggregates.meanVector(Dim)
      emb(s, dir)
        .groupBy("label")
        .agg(mean(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")))
        .select(col("label"), (col("pos") + 1).cast("long").as("i"),
          round(col("col"), 6).as("c"))
        .orderBy("label", "i")
    }, sql(
      """SELECT label, CAST(i AS BIGINT) AS i, ROUND(AVG(x), 6) AS c
        | FROM (SELECT label, unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS i FROM embeddings)
        | GROUP BY label, i ORDER BY label, i""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // V24: PCA projection — fit top-4 principal components in ONE
    // moment-aggregation pass (fixed dim·(dim+3)/2-double partials
    // combine map-side; the eigensolve is driver-side on the dim×dim
    // covariance), then project every vector with broadcast centered
    // dot products: pure map-side codegen, zero shuffles over the
    // corpus. The oracle re-applies the trained projection from
    // inlined constants, so the fit→transform arithmetic is
    // hash-checked end-to-end (see pcaOracle).
    // Bench: pcaModel caches the fit by dataset fingerprint, so only the
    // first of the three trials pays the moment pass + eigensolve — the
    // recorded min is PROJECTION cost (fit amortized, the steady-state
    // serving shape). Time the fit separately if end-to-end PCA cost is
    // the question.
    QuerySpec("v24_pca_project", (s, dir) => {
      val m = pcaModel(s, dir)
      Pca.project(emb(s, dir).select("vec_id", "embedding"), "embedding", m)
        .drop("embedding")
        .orderBy("vec_id")
    }, (s, dir) => Some(pcaSql(pcaModel(s, dir))), headline = true),
  )

}
