package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Similarity search over embedding columns (SURVEY.md §2.2 R1–R7 +
  * the ANN scale path from §7.1 step 10).
  *
  * The reference's entire query surface is one exact brute-force cosine
  * top-k (reference `src/lib/database.py:299-309` — no ANN index is
  * ever created, see `config/init.sql:27-38`). That shape is ideal for
  * Spark: an embarrassingly parallel vectorized scan + codegen'd scalar
  * cosine + `TakeOrderedAndProject` (per-partition heap, driver merges
  * k rows — no global sort, no shuffle of the corpus).
  *
  * Scale design (100 TB):
  *  - single-query top-k moves only k rows off each partition;
  *  - many-query top-k uses a map-side-combining bounded-heap
  *    Aggregator (partial top-k per partition per query, merged) —
  *    never a per-key global sort, never collect_list of a corpus;
  *  - the LSH path prunes the scanned fraction: bucket equality is a
  *    pushable predicate, and a corpus written partitioned by
  *    `lsh_bucket` gets partition pruning, reading ~1/2^bits of data.
  */
object Similarity {

  /** Exact brute-force cosine top-k of `df` against one query vector.
    * Similarity is rounded to `roundTo` decimals before filter/sort so
    * results are reproducible bit-for-bit across engines and partition
    * orders (raw doubles differ in the last ulp across accumulation
    * orders). Ties break on `tieBreak`. The query vector is bound as
    * one [[graft.functions.QueryVector]], not an array literal. */
  def topK(
      df: DataFrame,
      embCol: String,
      queryVec: Array[Double],
      k: Int,
      threshold: Double = -1.0,
      tieBreak: Seq[String] = Seq.empty,
      roundTo: Int = 6): DataFrame = {
    val sim = round(VectorFunctions.cosine_similarity(
      col(embCol), VectorFunctions.query_vector(queryVec)), roundTo)
    df.withColumn("similarity", sim)
      .filter(col("similarity") >= threshold)
      .orderBy(desc("similarity") +: tieBreak.map(asc): _*)
      .limit(k)
  }

  /** k-NN majority-vote label classification: predict each query
    * row's label from the labels of its `k` nearest train neighbors
    * ([[crossTopK]] — broadcast probes + bounded per-query heaps,
    * never a corpus×corpus product), votes counted in two tiny keyed
    * aggs over k·|queries| rows. Deterministic end-to-end: neighbor
    * ties break (similarity desc, id asc) inside the heap; vote ties
    * break to the smallest label via min-struct ordering — labels may
    * be ANY orderable type (string, numeric, date); `predicted` keeps
    * the label column's own type. Output: (idCol, predicted). */
  def knnClassify(
      queries: DataFrame, train: DataFrame, idCol: String, embCol: String,
      labelCol: String, k: Int = 5): DataFrame =
    crossTopK(queries, idCol, embCol, train, idCol, embCol, k)
      .join(train.select(col(idCol).cast("long").as("neighbor_id"),
        col(labelCol).as("_lbl")), "neighbor_id")
      .groupBy(col("query_id"), col("_lbl"))
      .agg(count(lit(1)).as("votes"))
      .groupBy(col("query_id").as(idCol))
      // struct ordering: -votes asc = votes desc, then label asc — no
      // numeric negation of the label, so any orderable type works
      .agg(min(struct((-col("votes")).as("nv"), col("_lbl").as("lbl"))).as("w"))
      .select(col(idCol), col("w.lbl").as("predicted"))

  /** Matryoshka (prefix-truncation) two-stage search: coarse-rank by
    * cosine over the first `prefixDim` dimensions — dim/prefixDim less
    * arithmetic per row, and proportionally less I/O when the store
    * lays the prefix out as its own column — then exact full-dim
    * re-rank of the coarse top `rerank`. With matryoshka-trained
    * embeddings the prefix ordering approximates the full one, so the
    * recall loss concentrates at the coarse boundary and `rerank` ≫ k
    * recovers it (recall floor spec'd). Both stages are bounded
    * top-k: TakeOrderedAndProject over the scan, then over `rerank`
    * rows — never a global sort. */
  def matryoshkaTopK(
      df: DataFrame, embCol: String, queryVec: Array[Double], k: Int,
      prefixDim: Int, rerank: Int, tieBreak: Seq[String] = Seq.empty,
      roundTo: Int = 6): DataFrame = {
    require(prefixDim > 0 && prefixDim <= queryVec.length,
      s"prefixDim $prefixDim out of range for dim ${queryVec.length}")
    require(rerank >= k, "rerank pool must be at least k")
    require(tieBreak.nonEmpty,
      "matryoshkaTopK needs a tie-break column (usually the id): tied " +
        "rounded coarse similarities otherwise make the limit(rerank) " +
        "cut — and thus the result — partitioning-dependent")
    val coarse = round(VectorFunctions.cosine_similarity(
      slice(col(embCol), 1, prefixDim),
      typedLit(queryVec.take(prefixDim))), roundTo)
    df.withColumn("_csim", coarse)
      .orderBy(desc("_csim") +: tieBreak.map(asc): _*)
      .limit(rerank)
      .withColumn("similarity", round(
        VectorFunctions.cosine_similarity(col(embCol), typedLit(queryVec)),
        roundTo))
      .drop("_csim")
      .orderBy(desc("similarity") +: tieBreak.map(asc): _*)
      .limit(k)
  }

  /** (similarity, id) pair kept by the bounded heap. */
  case class Scored(similarity: Double, id: Long)

  /** Bounded top-k heap Aggregator: partial (map-side) top-k per
    * partition, merged associatively — the scalable form of
    * "top-k per query key" (never collect_list, never per-key sort of
    * the full corpus). Buffer is a sorted Vector capped at k (k is
    * small; O(k) insert is fine and keeps the buffer encodable). */
  class TopKAggregator(k: Int)
      extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {
    private def insert(buf: Seq[Scored], s: Scored): Seq[Scored] = {
      val merged = (buf :+ s).sortBy(x => (-x.similarity, x.id))
      if (merged.size > k) merged.take(k) else merged
    }
    override def zero: Seq[Scored] = Vector.empty
    override def reduce(b: Seq[Scored], a: Scored): Seq[Scored] = insert(b, a)
    override def merge(b1: Seq[Scored], b2: Seq[Scored]): Seq[Scored] =
      (b1 ++ b2).sortBy(x => (-x.similarity, x.id)).take(k)
    override def finish(r: Seq[Scored]): Seq[Scored] = r
    override def bufferEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** For every row of `queries`, the top-k most-similar rows of
    * `corpus` (exact). The small query set is broadcast against the
    * corpus scan (one pass over the corpus regardless of query count),
    * then the bounded-heap aggregator reduces map-side. Output:
    * (query_id, neighbor_id, similarity). */
  def crossTopK(
      queries: DataFrame,
      queryIdCol: String,
      queryEmbCol: String,
      corpus: DataFrame,
      corpusIdCol: String,
      corpusEmbCol: String,
      k: Int,
      roundTo: Int = 6): DataFrame = {
    // norms hoisted: computed once per row/query, not per pair —
    // bit-identical to the fused cosine (same sqrt/multiply/divide)
    val q = queries.select(
      col(queryIdCol).cast("long").as("query_id"),
      col(queryEmbCol).as("q_emb"),
      VectorFunctions.l2_norm(col(queryEmbCol)).as("q_nrm"))
    val c = corpus.select(
      col(corpusIdCol).cast("long").as("c_id"),
      col(corpusEmbCol).as("c_emb"),
      VectorFunctions.l2_norm(col(corpusEmbCol)).as("c_nrm"))
    val scored = c.join(broadcast(q))
      .select(
        col("query_id"),
        round(
          when(col("c_nrm") === 0.0 || col("q_nrm") === 0.0, 0.0)
            .otherwise(VectorFunctions.dot_product(col("c_emb"), col("q_emb"))
              / (col("c_nrm") * col("q_nrm"))),
          roundTo).as("similarity"),
        col("c_id").as("id"))
    val agg = udaf(new TopKAggregator(k), Encoders.product[Scored])
    scored
      .groupBy("query_id")
      .agg(agg(col("similarity"), col("id")).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("hit"))
      .select(
        col("query_id"),
        col("hit.id").as("neighbor_id"),
        col("hit.similarity").as("similarity"))
  }

  // ---------------------------------------------------------------
  // LSH (random hyperplane / SimHash-for-vectors) approximate path
  // ---------------------------------------------------------------

  /** Deterministic gaussian hyperplanes: seed → bits × dim matrix. */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val r = new java.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(r.nextGaussian()))
  }

  /** Signature column: bit i = (dot(v, h_i) >= 0), packed into a long.
    * Built from codegen'd DotProduct expressions — no UDF. */
  def lshBucket(embCol: Column, planes: Array[Array[Double]]): Column = {
    planes.zipWithIndex.map { case (h, i) =>
      when(VectorFunctions.dot_product(embCol, typedLit(h)) >= 0.0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Approximate top-k with OR-amplified (multi-table) hyperplane LSH:
    * `tables` independent signatures of `bits` bits each; a corpus row
    * is a candidate if ANY table's bucket matches the query's bucket
    * (or a bucket at Hamming distance ≤ `probes` — multi-probe).
    * Candidates get exact cosine + TakeOrderedAndProject.
    *
    * One scan pass; the per-table bucket equality is a codegen'd
    * integer comparison, so non-candidates skip the O(dim) cosine.
    * With the corpus pre-partitioned by table-0's bucket, the primary
    * table also prunes partitions (reads ~(1+probes·bits)/2^bits of
    * the files); the other tables then only rescue recall inside the
    * scanned fraction — at 100 TB choose bits so a single table's
    * bucket fits the latency budget and tune tables/probes for recall. */
  /** Driver-side signature of one vector under one hyperplane table.
    * `private[operators]` so the oracle-SQL generator can reproduce
    * the probe-bucket set it inlines into DuckDB. */
  private[operators] def signatureOf(planes: Array[Array[Double]], v: Array[Double]): Long =
    planes.zipWithIndex.map { case (h, i) =>
      val d = h.zip(v).map { case (a, b) => a * b }.sum
      if (d >= 0.0) 1L << i else 0L
    }.sum

  /** Multi-probe bucket set: the query's bucket plus all buckets
    * within Hamming distance ≤ `probes` (supported up to 2 — bits²/2
    * buckets is already the practical ceiling; larger probes clamp). */
  private[operators] def probeBuckets(qSig: Long, bits: Int, probes: Int): Seq[Long] = {
    val d1 = (0 until bits).map(i => qSig ^ (1L << i))
    val d2 = for (i <- 0 until bits; j <- i + 1 until bits)
      yield qSig ^ (1L << i) ^ (1L << j)
    math.min(probes, 2) match {
      case p if p <= 0 => Seq(qSig)
      case 1 => qSig +: d1
      case _ => (qSig +: d1) ++ d2
    }
  }

  def lshTopK(
      corpus: DataFrame,
      embCol: String,
      queryVec: Array[Double],
      k: Int,
      bits: Int = 8,
      tables: Int = 8,
      probes: Int = 1,
      seed: Long = 42L,
      roundTo: Int = 6,
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val dim = queryVec.length
    val candCond = (0 until tables).map { t =>
      val planes = hyperplanes(bits, dim, seed + t)
      val qSig = signatureOf(planes, queryVec)
      lshBucket(col(embCol), planes).isin(probeBuckets(qSig, bits, probes): _*)
    }.reduce(_ || _)
    topK(corpus.filter(candCond), embCol, queryVec, k,
      threshold = -1.0, tieBreak = tieBreak, roundTo = roundTo)
  }

  /** Materialize a multi-table LSH index: each corpus row is written
    * once per table under `partitionBy("table_id", "lsh_bucket")` —
    * the classic multi-table LSH layout, trading `tables`× storage for
    * I/O pruning with OR-amplified recall. One pass over the corpus
    * (the per-table (table_id, bucket) pairs are exploded, not
    * re-scanned). At query time every table prunes to its own probe
    * buckets, so the scan touches ~tables·(1+probes·bits)/2^bits of
    * the stored bytes — and a far smaller fraction of the files. */
  def buildLshIndex(
      corpus: DataFrame, embCol: String, dim: Int, path: String,
      tables: Int = 4, bits: Int = 8, seed: Long = 42L): Unit =
    writeLshIndex(corpus, embCol, dim, path, tables, bits, seed,
      org.apache.spark.sql.SaveMode.Overwrite)

  /** The one explode/partition/write pipeline behind both the full
    * build and the incremental append — a single definition so the
    * append-equals-rebuild invariant cannot silently diverge. */
  private def writeLshIndex(
      corpus: DataFrame, embCol: String, dim: Int, path: String,
      tables: Int, bits: Int, seed: Long,
      mode: org.apache.spark.sql.SaveMode): Unit = {
    val entries = array((0 until tables).map { t =>
      struct(
        lit(t).as("table_id"),
        lshBucket(col(embCol), hyperplanes(bits, dim, seed + t)).as("lsh_bucket"))
    }: _*)
    val cols = corpus.columns.map(col).toIndexedSeq
    corpus
      .withColumn("tb", explode(entries))
      .select(cols :+ col("tb.table_id") :+ col("tb.lsh_bucket"): _*)
      // one writer task per (table, bucket) → one file per partition
      // dir, not one per upstream task — the small-files guard that
      // matters as much at 100 TB (file-listing cost) as locally
      .repartition(col("table_id"), col("lsh_bucket"))
      .write.mode(mode)
      .partitionBy("table_id", "lsh_bucket")
      .parquet(path)
  }

  /** Incremental maintenance: append new corpus rows into an existing
    * LSH index without rebuilding — the same pipeline as the full
    * build in Append mode; new files land inside the matching
    * (table_id, bucket) partition dirs. Hyperplanes are seed-derived,
    * so the SAME tables/bits/seed MUST be passed (a mismatch writes
    * buckets the query's probes will never select). Like any in-place
    * table append this is an exclusive-writer step and is not atomic
    * across partitions: if the job dies mid-write, rebuild the index
    * (or re-run the append after removing the partial files) — a real
    * deployment appends into a new snapshot version instead. At 100 TB
    * it is the difference between an O(new-data) nightly job and an
    * O(corpus) rebuild; periodically compact hot partition dirs if
    * appends are frequent. */
  def appendToLshIndex(
      newRows: DataFrame, embCol: String, dim: Int, path: String,
      tables: Int = 4, bits: Int = 8, seed: Long = 42L): Unit =
    writeLshIndex(newRows, embCol, dim, path, tables, bits, seed,
      org.apache.spark.sql.SaveMode.Append)

  /** Approximate top-k against a materialized LSH index (see
    * buildLshIndex — same tables/bits/seed must be passed). The filter
    * references only the two partition columns, so the parquet scan is
    * partition-pruned to the probe buckets; candidates found by more
    * than one table are deduplicated by `idCol` before the exact
    * cosine top-k of the candidates at or above `threshold`. */
  def lshTopKFromIndex(
      index: DataFrame,
      idCol: String,
      embCol: String,
      queryVec: Array[Double],
      k: Int,
      bits: Int = 8,
      tables: Int = 4,
      probes: Int = 1,
      seed: Long = 42L,
      roundTo: Int = 6,
      tieBreak: Seq[String] = Seq.empty,
      threshold: Double = -1.0): DataFrame = {
    val dim = queryVec.length
    val candCond = (0 until tables).map { t =>
      val qSig = signatureOf(hyperplanes(bits, dim, seed + t), queryVec)
      col("table_id") === t &&
        col("lsh_bucket").isin(probeBuckets(qSig, bits, probes): _*)
    }.reduce(_ || _)
    topK(index.filter(candCond).dropDuplicates(idCol),
      embCol, queryVec, k, threshold = threshold, tieBreak = tieBreak,
      roundTo = roundTo)
  }

  /** Batch ANN: approximate top-k for MANY queries against a
    * materialized LSH index, fully distributed — no per-query driver
    * round trip. Each query row is exploded to its (table_id, bucket)
    * probe pairs (the bucket signature is a column expression, so
    * query vectors never leave the cluster); the tiny probe table is
    * broadcast and equi-joined to the index on the partition columns —
    * the join predicate is on partition columns, so Spark's dynamic
    * partition pruning can skip unprobed index partitions at runtime.
    * Per-query top-k via rank window (map-side WindowGroupLimit keeps
    * ≤k rows per query per partition before the shuffle). */
  def lshTopKBatchFromIndex(
      index: DataFrame,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      idCol: String,
      embCol: String,
      k: Int,
      dim: Int,
      bits: Int = 8,
      tables: Int = 4,
      seed: Long = 42L,
      roundTo: Int = 6): DataFrame = {
    val probes = array((0 until tables).map { t =>
      struct(
        lit(t).as("table_id"),
        lshBucket(col("_qv"), hyperplanes(bits, dim, seed + t)).as("lsh_bucket"))
    }: _*)
    val qb = queries
      .select(col(qIdCol).as("query_id"), col(qVecCol).as("_qv"))
      .withColumn("tb", explode(probes))
      .select(col("query_id"), col("_qv"),
        col("tb.table_id").as("table_id"), col("tb.lsh_bucket").as("lsh_bucket"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(desc("similarity"), asc(idCol))
    index
      .join(broadcast(qb), Seq("table_id", "lsh_bucket"))
      .dropDuplicates("query_id", idCol)
      .withColumn("similarity", round(
        graft.functions.VectorFunctions.cosine_similarity(col(embCol), col("_qv")),
        roundTo))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("similarity"))
  }

  /** Materialize a corpus with its LSH bucket — written
    * `partitionBy("lsh_bucket")` this gives partition-pruned ANN. */
  def withLshBucket(
      corpus: DataFrame, embCol: String, bits: Int = 12, dim: Int,
      seed: Long = 42L): DataFrame =
    corpus.withColumn("lsh_bucket", lshBucket(col(embCol), hyperplanes(bits, dim, seed)))

  // ---------------------------------------------------------------
  // Binary (sign-bit) quantization — the 64×-compression rung of the
  // storage ladder (float32 → matryoshka → int8 → PQ → binary): one
  // long per vector, candidate ranking by Hamming distance (one
  // xor + popcount per row), exact re-rank of the bounded pool.
  // ---------------------------------------------------------------

  /** Sign-bit signature: bit j = (v[j] >= 0), packed into a long.
    * Requires dim ≤ 64. Pure codegen (64 chained conditional adds —
    * the lshBucket shape with the identity basis); materialized as
    * its own column the signature is 8 bytes/vector, so a 100 TB
    * float corpus scans ~1.5 TB for the candidate stage. */
  def binarySignature(embCol: Column, dim: Int): Column = {
    require(dim <= 64, s"binary signature packs into one long: dim $dim > 64")
    (0 until dim).map { j =>
      when(element_at(embCol, j + 1) >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Driver-side signature of the query vector — same >= 0 convention
    * bit-for-bit as [[binarySignature]]. */
  def binarySignatureOf(v: Array[Double]): Long =
    v.zipWithIndex.map { case (x, j) => if (x >= 0.0) 1L << j else 0L }.sum

  /** Two-stage binary-quantized top-k: Hamming-rank the whole corpus
    * against the query's sign signature (cheapest possible candidate
    * metric: xor + bit_count on one long), keep the `pool` best
    * (TakeOrderedAndProject — ties broken by `tieBreak` so the cut is
    * deterministic), then exact rounded-cosine re-rank to top k.
    * Both stages are bounded top-k; nothing is globally sorted. */
  def binaryTopK(
      df: DataFrame, embCol: String, queryVec: Array[Double], k: Int,
      pool: Int, tieBreak: Seq[String], roundTo: Int = 6): DataFrame = {
    require(pool >= k, "re-rank pool must be at least k")
    require(tieBreak.nonEmpty,
      "binaryTopK needs a tie-break column: Hamming distances collide " +
        "constantly (64 possible values), so an untied pool cut would " +
        "be partitioning-dependent")
    val qSig = binarySignatureOf(queryVec)
    df.withColumn("_ham",
        bit_count(binarySignature(col(embCol), queryVec.length)
          .bitwiseXOR(lit(qSig))))
      .orderBy(asc("_ham") +: tieBreak.map(asc): _*)
      .limit(pool)
      .withColumn("similarity", round(
        VectorFunctions.cosine_similarity(col(embCol), typedLit(queryVec)),
        roundTo))
      .drop("_ham")
      .orderBy(desc("similarity") +: tieBreak.map(asc): _*)
      .limit(k)
  }

  // ---------------------------------------------------------------
  // MMR (maximal marginal relevance) — diversified retrieval
  // ---------------------------------------------------------------

  /** MMR-diversified top-k: retrieve a bounded relevance pool, then
    * greedily pick k items maximizing
    * `lambda·rel(d) − (1−lambda)·max_{s∈selected} sim(d, s)` — the
    * standard redundancy-penalized re-rank (Carbonell & Goldstein
    * 1998) a RAG pipeline applies so the k retrieved chunks don't all
    * say the same thing.
    *
    * Scale shape: the DISTRIBUTED work is the pool retrieval (exact
    * rounded-cosine top-`poolSize`, TakeOrderedAndProject over the
    * corpus scan) and the pool's pairwise similarities (a
    * poolSize²-bounded self-join — 2 500 rows at the default 50,
    * corpus-size-independent). The greedy selection itself is O(k·
    * poolSize) driver arithmetic over those collected BOUNDED rows —
    * the same driver-side-is-fine class as centroids and CLI display;
    * at 100 TB the pool is still 50 rows.
    *
    * Determinism across engines: rel and pairwise sims are
    * Spark-rounded to 6 decimals BEFORE the greedy; each step's score
    * is then a fixed IEEE chain (`lambda·rel − (1−lambda)·max`) on
    * bit-identical doubles with ties broken by id — no accumulation
    * order anywhere — so an oracle re-running the greedy in SQL from
    * the same rounded inputs reproduces the scores bit-for-bit, and
    * the emitted `mmr` column is NOT re-rounded.
    *
    * Output: (rank, id, similarity, mmr) — rank 1..k in pick order;
    * `similarity` = rel(d); max over the empty selected set is 0.0. */
  def mmrRerank(
      df: DataFrame, idCol: String, embCol: String,
      queryVec: Array[Double], k: Int, poolSize: Int,
      lambda: Double = 0.5, roundTo: Int = 6): DataFrame = {
    require(poolSize >= k, "pool must be at least k")
    val spark = df.sparkSession
    val pool = graft.Caches.shared(
      topK(df.select(col(idCol).cast("long").as("_id"), col(embCol).as("_e")),
        "_e", queryVec, poolSize, threshold = -1.0, tieBreak = Seq("_id"),
        roundTo = roundTo))
    val rel: Map[Long, Double] = pool.select("_id", "similarity").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pairwise sims computed IN Spark with the house rounded-cosine
    // expression (not re-derived driver-side), so the greedy consumes
    // exactly the values any SQL reproduction recomputes
    val a = pool.select(col("_id").as("a_id"), col("_e").as("a_e"))
    val b = pool.select(col("_id").as("b_id"), col("_e").as("b_e"))
    val psim: Map[(Long, Long), Double] = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), round(
        VectorFunctions.cosine_similarity(col("a_e"), col("b_e")), roundTo)
        .as("s"))
      .collect()
      .flatMap { r =>
        val (x, y, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((x, y) -> s, (y, x) -> s)
      }.toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.SortedSet.empty[Long] ++ rel.keys
    while (selected.size < math.min(k, rel.size)) {
      val pick = remaining.iterator.map { id =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(s => psim((id, s._1))).max
        (id, lambda * rel(id) - (1.0 - lambda) * maxSim)
      }.maxBy { case (id, score) => (score, -id) }
      selected += pick
      remaining -= pick._1
    }
    import spark.implicits._
    selected.toSeq.zipWithIndex
      .map { case ((id, mmr), i) => (i + 1, id, rel(id), mmr) }
      .toDF("rank", idCol, "similarity", "mmr")
  }
}
