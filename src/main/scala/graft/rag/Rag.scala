package graft.rag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{Embedding, VectorFunctions}
import graft.ingest.Chunker
import graft.operators.Similarity
import graft.store.{AnnIndexes, Catalog}

/** RAG retrieval + prompt assembly (SURVEY.md §2.5 G1–G5) over a chunk
  * store, plus the end-to-end import pipeline (§3.1's Spark
  * equivalent: the reference's per-chunk Python loop + per-chunk
  * transactions collapse into one distributed chunk+embed+write job).
  *
  * LLM stages are behind pluggable traits with deterministic stubs —
  * mirroring the reference's own no-CUDA degradation where the LLM is
  * silently absent (reference `src/lib/llms.py:18-19`).
  */
object Rag {

  /** E1's LLM priming + G5's generation behind one trait (reference
    * `src/lib/embedding.py:27-55`, `cli/generate_text.py:154-186`). */
  trait TextGenerator extends Serializable {
    def generate(prompt: String, maxTokens: Int, temperature: Double): String
  }

  /** Deterministic stub: echoes a digest of the prompt — referentially
    * transparent, safe on executors, stable in goldens. */
  object StubGenerator extends TextGenerator {
    def generate(prompt: String, maxTokens: Int, temperature: Double): String =
      s"[stub-generation sha=${java.security.MessageDigest.getInstance("SHA-256")
        .digest(prompt.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString}]"
  }

  /** Import pipeline (§3.1): documents → chunk (C1/C2) → embed (E2) →
    * chunk rows with deterministic ids. One narrow map job — no
    * shuffle; embedding runs inside the chunk explode projection. */
  def buildChunks(
      docs: DataFrame,
      modelId: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxTokens: Int = Chunker.LibDefaultMaxTokens,
      dim: Int = Embedding.DefaultDim): DataFrame = {
    Chunker.chunkDocuments(docs.withColumnRenamed(idCol, "source_id"),
        textCol, maxTokens)
      .withColumn("model_id", lit(modelId))
      .withColumn("id", Catalog.chunkId(col("source_id"), col("chunk_number")))
      .withColumn("embedding", Embedding.embedColumn(col("chunk_text"), dim))
  }

  /** [[buildChunks]] with a pluggable — possibly service-backed —
    * embedder: chunking stays the same narrow explode; embedding runs
    * as a batched mapPartitions ([[graft.functions.Embedders
    * .embedDocuments]]), one `embedBatch` call per `batchSize` chunks
    * per partition, so an HTTP embedder amortizes requests instead of
    * paying one round trip per chunk. With `HashEmbedder` the output
    * is bit-identical to [[buildChunks]] (spec-pinned). */
  def buildChunksWith(
      docs: DataFrame,
      modelId: Long,
      embedder: graft.functions.Embedder,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxTokens: Int = Chunker.LibDefaultMaxTokens,
      batchSize: Int = 32): DataFrame =
    graft.functions.Embedders.embedDocuments(
      Chunker.chunkDocuments(docs.withColumnRenamed(idCol, "source_id"),
          textCol, maxTokens)
        .withColumn("model_id", lit(modelId))
        .withColumn("id", Catalog.chunkId(col("source_id"), col("chunk_number"))),
      "chunk_text", "embedding", embedder, batchSize)

  /** G1: query embedding — a driver-side scalar call (the reference
    * embeds the user prompt before querying,
    * `cli/search_doc_chunks.py:68-80`). */
  def embedQuery(prompt: String, dim: Int = Embedding.DefaultDim): Array[Double] =
    Embedding.embed(prompt, dim).map(_.toDouble)

  /** G2 / R1–R7: similarity retrieval over a chunk table. */
  def searchChunks(
      chunks: DataFrame,
      queryVec: Array[Double],
      topK: Int = 10,
      threshold: Double = 0.7): DataFrame =
    Similarity.topK(chunks, "embedding", queryVec, topK, threshold,
      tieBreak = Seq("id"))

  /** Hybrid retrieval: BM25 keyword ranking over `chunk_text` fused
    * with the exact cosine ranking over `embedding` by reciprocal-rank
    * fusion (G2 extended the way production RAG stores pair pgvector
    * with Postgres full-text search). Each leg is bounded to a
    * `poolSize` candidate list before the fuse, so the merge is a join
    * of two small ranked lists; the expensive legs keep their own
    * scale shapes (BM25's filtered explode, cosine's
    * TakeOrderedAndProject). Output: (id, rrf, and the leg ranks for
    * explainability). */
  def searchChunksHybrid(
      chunks: DataFrame,
      queryText: String,
      topK: Int = 10,
      dim: Int = Embedding.DefaultDim,
      poolSize: Int = 50,
      rrfC: Int = 60): DataFrame = {
    import graft.operators.Bm25
    // terms and text are both lowercased: BM25 token match is
    // case-sensitive by contract, the retrieval layer normalizes.
    // The query tokenizes with the SAME script-aware segmentation the
    // corpus side uses (round 12) — a whitespace split would leave a
    // CJK query as one term no document token can equal.
    val terms = graft.operators.TextAnalysis
      .segTokensLocal(queryText.toLowerCase).filter(_.nonEmpty)
    val lexical = Bm25.ranked(
      Bm25.score(
          chunks.withColumn("_lc_text", lower(col("chunk_text"))),
          "_lc_text", "id", terms)
        .select(col("id"), round(col("score"), 4).as("score")),
      "id", "score", poolSize)
    val vector = Bm25.ranked(
      Similarity.topK(chunks, "embedding", embedQuery(queryText, dim),
          poolSize, threshold = -1.0, tieBreak = Seq("id"))
        .select(col("id"), col("similarity")),
      "id", "similarity", poolSize)
    Bm25.rrfFuse(lexical, vector, "id", rrfC, topK)
  }

  /** ANN retrieval over a chunk store: search a build-once multi-table
    * LSH index instead of scanning every embedding — the 100 TB form
    * of `searchChunks` (pgvector's HNSW analogue re-expressed as
    * partition pruning). The index materializes on first use under
    * `indexPath` and is keyed to the store's current file set by the
    * caller (stale after re-import → new path → rebuild). */
  def searchChunksAnn(
      chunks: DataFrame,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int = 10,
      threshold: Double = 0.7,
      tables: Int = 4,
      bits: Int = 8): DataFrame = {
    val spark = chunks.sparkSession
    graft.store.AnnIndexes.materializeAtomic(spark, indexPath) { tmp =>
      Similarity.buildLshIndex(chunks, "embedding", queryVec.length,
        tmp, tables = tables, bits = bits)
    }
    Similarity.lshTopKFromIndex(
      AnnIndexes.open(spark, indexPath), "id", "embedding", queryVec, topK,
      bits = bits, tables = tables, tieBreak = Seq("id"), threshold = threshold)
  }

  /** IVF variant of `searchChunksAnn`: cell-partitioned index + codebook
    * sidecar; nlist adapts to the store size at build (a codebook needs
    * at least as many sample rows as cells). */
  private val ivfStoreModels =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.Ivf.IvfModel]

  def searchChunksAnnIvf(
      chunks: DataFrame,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int = 10,
      threshold: Double = 0.7,
      nprobe: Int = 4): DataFrame = {
    val spark = chunks.sparkSession
    if (emptyStoreNeedsIndex(spark, chunks, indexPath))
      return Similarity.topK(chunks, "embedding", queryVec, topK, threshold,
        tieBreak = Seq("id"))
    graft.store.AnnIndexes.materializeAtomic(spark, indexPath) { tmp =>
      val n = chunks.count()
      val nlist = math.max(1, math.min(16, (n / 4).toInt))
      ivfStoreModels(indexPath) = graft.operators.Ivf.buildIndex(
        chunks, "id", "embedding", tmp, nlist = nlist)
    }
    val model = ivfStoreModels.getOrElseUpdate(indexPath,
      graft.operators.Ivf.loadModel(spark, s"$indexPath/_model"))
    graft.operators.Ivf.search(
      AnnIndexes.open(spark, indexPath), "embedding", queryVec, model,
      k = topK, nprobe = math.min(nprobe, model.nlist),
      tieBreak = Seq("id"), threshold = threshold)
  }

  private val pqStoreModels =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.Pq.PqModel]

  /** True when a quantization-trained index would have to be BUILT from
    * an empty store — Ivf/Pq codebooks need sample rows, so callers
    * short-circuit to the exact scan (same empty result the exact and
    * LSH paths return) instead of crashing in train. The isEmpty probe
    * runs only when no completed index exists, so a warm store pays no
    * extra job per search. */
  private def emptyStoreNeedsIndex(
      spark: SparkSession, chunks: DataFrame, indexPath: String): Boolean =
    !graft.store.AnnIndexes.isComplete(
      spark, new org.apache.hadoop.fs.Path(indexPath)) && chunks.isEmpty

  /** PQ-backed store search: ADC lookup-table scan over the encoded
    * chunk table (build-once, codebook sidecar), exact-cosine re-rank
    * of the candidate set — same scores and threshold semantics as the
    * exact scan, approximation only in WHICH candidates reach the
    * re-rank. Codebook size adapts to tiny stores (k ≤ rows, m chosen
    * to divide the dimension). */
  def searchChunksAnnPq(
      chunks: DataFrame,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int = 10,
      threshold: Double = 0.7,
      refine: Int = 4): DataFrame = {
    val spark = chunks.sparkSession
    if (emptyStoreNeedsIndex(spark, chunks, indexPath))
      return Similarity.topK(chunks, "embedding", queryVec, topK, threshold,
        tieBreak = Seq("id"))
    graft.store.AnnIndexes.materializeAtomic(spark, indexPath) { tmp =>
      val n = chunks.count()
      val dim = queryVec.length
      val m = Seq(8, 4, 2, 1).find(dim % _ == 0).get
      val k = math.max(1, math.min(16, n.toInt))
      val model = graft.operators.Pq.train(chunks, "id", "embedding",
        m = m, k = k)
      pqStoreModels(indexPath) = model
      graft.operators.Pq.encode(chunks, "embedding", model)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      graft.operators.Pq.saveModel(spark, model, s"$tmp/_model")
    }
    val model = pqStoreModels.getOrElseUpdate(indexPath,
      graft.operators.Pq.loadModel(spark, s"$indexPath/_model"))
    val lut = model.adcTable(queryVec)
    val cands = AnnIndexes.open(spark, indexPath)
      .withColumn("adc",
        graft.operators.Pq.adcScoreCol(col("pq_code"), lut, model.k))
      .orderBy(asc("adc"), asc("id"))
      .limit(topK * refine)
      .drop("adc")
    graft.operators.Similarity.topK(cands, "embedding", queryVec,
      topK, threshold, tieBreak = Seq("id"))
  }

  /** G3: fold the ordered top-k into one context string (reference
    * `cli/generate_text.py:68-85`). The hits' k projected rows —
    * `-similarity`, `id`, `chunk_text` and the coalesced
    * `title`/`author`/`publication_date` — are collected, then sorted
    * and formatted on the driver exactly as the Spark expression
    * `array_join(transform(array_sort(collect_list(struct(...))),
    * format_string(...)), "\n\n")` would: struct fields compare in
    * order with nulls first, doubles as Spark SQL compares them
    * (-0.0 equals 0.0, NaN is largest), strings by UTF-8 bytes; the
    * excerpt is formatted with `Locale.US`, a null text renders as
    * "null", and no hits give "". A projection over a top-k search
    * plans as one `TakeOrderedAndProject` collect: one Spark job and
    * one stage, where a single-row aggregation would add a shuffle, a
    * stage and a job for k rows. */
  def aggregateChunkText(hits: DataFrame): String = {
    // tolerate stores without source metadata joined in
    val withMeta = Seq("title", "author", "publication_date")
      .foldLeft(hits)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null: String)))
    withMeta
      .select(
        (-col("similarity")).cast("double"),
        col("id").cast("long"),
        col("chunk_text"),
        coalesce(col("title"), lit("unknown")),
        coalesce(col("author"), lit("unknown")),
        coalesce(col("publication_date").cast("string"), lit("unknown")))
      .collect()
      .map(r => (
        if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)),
        if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1)),
        r.getString(2), r.getString(3), r.getString(4), r.getString(5)))
      .sorted(excerptOrder)
      .map { case (_, _, text, title, author, pub) =>
        String.format(java.util.Locale.US,
          "Excerpt from \"%s\", by %s, published in %s: >>> %s <<<",
          title, author, pub, text)
      }
      .mkString("\n\n")
  }

  private def nullsFirst[T <: AnyRef](cmp: (T, T) => Int): Ordering[T] =
    (x, y) =>
      if (x eq null) { if (y eq null) 0 else -1 }
      else if (y eq null) 1
      else cmp(x, y)

  /** Spark SQL's ascending struct ordering over the fields
    * [[aggregateChunkText]] sorts by. */
  private val excerptOrder = {
    val strings = nullsFirst[String]((x, y) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y)))
    Ordering.Tuple6(
      nullsFirst[java.lang.Double]((x, y) => SQLOrderingUtil.compareDoubles(x, y)),
      nullsFirst[java.lang.Long]((x, y) => x.compareTo(y)),
      strings, strings, strings, strings)
  }

  /** G4: conditional prompt template (reference
    * `cli/generate_text.py:88-142`): disclaimer branch when retrieval
    * is empty, contextualized RAG branch otherwise. */
  def contextualizedPrompt(userPrompt: String, contextText: String): String =
    if (contextText.isEmpty)
      s"""The knowledge base contains no relevant information for this query.
         |Please answer from general knowledge and say that no supporting
         |excerpts were found.
         |
         |Question: $userPrompt""".stripMargin
    else
      s"""Use the following excerpts to answer the question.
         |
         |$contextText
         |
         |Question: $userPrompt""".stripMargin

  /** Full G1–G5 flow: embed → retrieve → assemble → generate. */
  def generate(
      chunks: DataFrame,
      userPrompt: String,
      topK: Int = 5,
      threshold: Double = 0.01,
      dim: Int = Embedding.DefaultDim,
      generator: TextGenerator = StubGenerator,
      maxTokens: Int = 5000,
      temperature: Double = 0.8): String = {
    val hits = searchChunks(chunks, embedQuery(userPrompt, dim), topK, threshold)
    val prompt = contextualizedPrompt(userPrompt, aggregateChunkText(hits))
    generator.generate(prompt, maxTokens, temperature)
  }
}
