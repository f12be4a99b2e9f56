package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.Demo
import graft.functions.Embedding
import graft.ingest.Chunker
import graft.store.Catalog

/** The paper's import path: `Demo.importDocs` on a corpus of
  * book-length documents into a fresh store, then the IVF index build
  * (the first `ivf` search of the store builds it). The `rag` workload
  * builds its serving store this way during setup. */
object Ingest {
  val Dim = Embedding.DefaultDim
  val MaxTokens = Chunker.LibDefaultMaxTokens
  val Model = Embedding.DefaultModel
  /** Zipf(0.6) over four million words: a store corpus of ~140k tokens
    * has ~130k distinct words, about twice what the library's
    * 65,536-entry word-vector memo holds. */
  def zipf: Inputs.Zipf = new Inputs.Zipf(4000000, 0.6)
  /** Chunks per document. */
  val MinChunks = 4
  val MaxChunks = 6

  final case class Batch(docs: Seq[Inputs.Doc], path: String, store: String)
  final case class Done(batch: Batch, importS: Double, buildS: Double,
      traced: Boolean)

  /** `n` seeded documents, written as the parquet input `Demo import
    * --docs` reads. */
  def batch(ctx: Ctx, zipf: Inputs.Zipf, n: Int): Batch = {
    val docs = Inputs.ragCorpus(ctx.seed, n, MinChunks, MaxChunks, MaxTokens, zipf)
    val path = ctx.dir("docs")
    Inputs.writeDocs(ctx.spark, docs, path, ctx.nproc)
    Batch(docs, path, ctx.work.resolve("store").toString)
  }

  /** Import `b` into its store, then build the IVF index by searching
    * it once for `prompt`. Traced, each layer is its own span. */
  def ingest(ctx: Ctx, b: Batch, prompt: String, traced: Boolean): Done =
    ctx.tracer.span("ingest") {
      val t0 = System.nanoTime()
      if (traced) tracedImport(ctx, b)
      else Demo.importDocs(ctx.spark, ctx.spark.read.parquet(b.path),
        b.store, Model, Dim, MaxTokens)
      val t1 = System.nanoTime()
      ctx.tracer.span("ivf.build") {
        Demo.search(ctx.spark, b.store, prompt, RagFlow.TopK, RagFlow.Threshold,
          Dim, "ivf").collect()
      }
      val t2 = System.nanoTime()
      Done(b, (t1 - t0) / 1e9, (t2 - t1) / 1e9, traced)
    }

  /** `Demo.importDocs` with each layer materialized at its boundary —
    * chunks, then embeddings, then the write — so every layer's time
    * and Spark work land in their own span. Same catalog calls, same
    * chunk rows as the fused import; [[check]] compares the two. */
  private def tracedImport(ctx: Ctx, b: Batch): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val meta = Seq("author", "title", "text_type", "genre", "url",
      "subgenre", "publication_date")
    val docs = meta.foldLeft(spark.read.parquet(b.path))((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast("string")))
    val models = t.span("catalog.upsert_models") {
      Catalog.upsertModels(spark, s"${b.store}/models",
        Seq((Model, Dim)).toDF("name", "embedding_dim"))
    }
    val modelId = models.filter($"name" === Model).head().getAs[Long]("id")
    val sources = t.span("catalog.upsert_sources") {
      Catalog.upsertSources(spark, s"${b.store}/sources",
        docs.select(col("author"), col("title"),
          Catalog.sourceTypeOf(col("text_type"), col("genre")).as("source_type"),
          col("url"), col("genre"), col("subgenre"),
          Catalog.yearOf(col("publication_date")).as("year"),
          lit(modelId).as("model_id")))
    }
    val mapping = docs
      .withColumn("year", Catalog.yearOf(col("publication_date")))
      .join(broadcast(sources.filter(col("model_id") === modelId).select(
          col("id").as("catalog_source_id"), col("author").as("s_a"),
          col("title").as("s_t"), col("year").as("s_y"))),
        col("author") <=> col("s_a") && col("title") <=> col("s_t") &&
          col("year") <=> col("s_y"), "left")
      .select(col("doc_id").as("doc_ref"), col("catalog_source_id"))
    val docMeta = map_filter(
      map(meta.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*),
      (_, v) => v.isNotNull)
    val chunkMeta = map_concat(docMeta, map(
      lit("chunk_tokenizer_model"), col("chunk_tokenizer_model"),
      lit("chunk_size"), lit(MaxTokens).cast("string"),
      lit("chunk_number"), col("chunk_number").cast("string"),
      lit("import_date"), lit(java.time.Instant.now().toString)))
    val chunks = t.span("chunker") {
      materialize(Chunker.chunkDocuments(
          docs.withColumnRenamed("doc_id", "source_id"), "text", MaxTokens)
        .withColumn("model_id", lit(modelId))
        .withColumn("id", Catalog.chunkId(col("source_id"), col("chunk_number"))))
    }
    val embedded = t.span("embedding") {
      materialize(chunks.withColumn("embedding",
        Embedding.embedColumn(col("chunk_text"), Dim)))
    }
    t.span("catalog.write_chunks") {
      Catalog.writeChunks(
        embedded.withColumnRenamed("source_id", "doc_ref")
          .join(broadcast(mapping), Seq("doc_ref"), "left")
          .withColumn("source_id",
            coalesce(col("catalog_source_id"), col("doc_ref")))
          .withColumn("metadata", chunkMeta)
          .select("id", "source_id", "model_id", "chunk_number",
            "chunk_size", "chunk_text", "embedding", "metadata"),
        s"${b.store}/chunks")
    }
    chunks.unpersist(); embedded.unpersist()
  }

  private def materialize(df: DataFrame): DataFrame = {
    df.persist(); df.count(); df
  }

  def expectedChunks(docs: Seq[Inputs.Doc]): Long =
    docs.map(d => math.ceil(d.text.split(" ", -1).length / MaxTokens.toDouble).toLong).sum

  /** The store holds Σ ⌈tokens / 512⌉ chunks with unique ids, each
    * embedding a 1,536-dim unit vector. A traced import must also have
    * written the catalog and chunk rows that `Demo.importDocs` writes
    * for the same batch, so the traced layers are the ones an untraced
    * run executes. */
  def check(ctx: Ctx, d: Done): Unit = {
    if (d.traced) {
      val ref = ctx.work.resolve("store-untraced").toString
      Demo.importDocs(ctx.spark, ctx.spark.read.parquet(d.batch.path), ref,
        Model, Dim, MaxTokens)
      for (table <- Seq("models", "sources", "chunks")) {
        val (got, want) = (rowsOf(ctx, s"${d.batch.store}/$table"),
          rowsOf(ctx, s"$ref/$table"))
        ctx.check(got == want, s"traced import's $table differ from " +
          s"Demo.importDocs's: ${got.diff(want).take(2)} vs ${want.diff(got).take(2)}")
      }
    }
    val rows = ctx.spark.read.parquet(s"${d.batch.store}/chunks")
      .select("id", "embedding").collect()
    val want = expectedChunks(d.batch.docs)
    ctx.check(rows.length == want,
      s"${d.batch.store}: ${rows.length} chunks, expected $want")
    ctx.check(rows.map(_.getLong(0)).distinct.length == rows.length,
      s"${d.batch.store}: duplicate chunk ids")
    val bad = rows.count { r =>
      val e = r.getSeq[Float](1)
      val n = math.sqrt(e.map(x => x.toDouble * x).sum)
      e.length != Dim || math.abs(n - 1.0) > 1e-4
    }
    ctx.check(bad == 0, s"${d.batch.store}: $bad embeddings not $Dim-dim unit vectors")
  }

  /** A store table's rows as plain values, sorted; the per-run
    * `import_date` metadata key is left out. */
  private def rowsOf(ctx: Ctx, path: String): Seq[String] =
    ctx.spark.read.parquet(path).collect().map(_.toSeq.map {
      case m: scala.collection.Map[_, _] => m.toSeq.filter(_._1 != "import_date")
        .map(_.toString).sorted.mkString("{", ",", "}")
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  def report(ctx: Ctx, d: Done): Unit = {
    val inputBytes = d.batch.docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    ctx.summary("ingest_chunks_per_s") =
      (expectedChunks(d.batch.docs) / d.importS, "chunks/s")
    ctx.summary("index_build_s") = (d.buildS, "s")
    ctx.summary("store_bytes_per_input_byte") =
      (Disk.bytesUnder(d.batch.store).toDouble / inputBytes, "ratio")
    ctx.inputs("docs") = d.batch.docs.size
    ctx.inputs("tokens") = d.batch.docs.map(_.text.count(_ == ' ') + 1L).sum
    ctx.inputs("distinct_words") = distinctWords(d.batch.docs)
    ctx.inputs("chunks") = expectedChunks(d.batch.docs)
    ctx.inputs("store_bytes") = Disk.bytesUnder(d.batch.store)
  }

  private def distinctWords(docs: Seq[Inputs.Doc]): Int =
    docs.flatMap(d => Embedding.words(d.text)).distinct.size

  val layerNames: Seq[(String, String)] = Seq(
    "chunker.s" -> "s", "chunker.chunks" -> "count",
    "embedding.s" -> "s", "embedding.ns_per_chunk" -> "ns",
    "embedding.distinct_words" -> "count",
    "catalog.upsert_models.s" -> "s", "catalog.upsert_sources.s" -> "s",
    "catalog.write_chunks.s" -> "s", "catalog.write_bytes" -> "bytes",
    "catalog.files_written" -> "count",
    "ivf.build.s" -> "s", "ivf.index_bytes" -> "bytes")

  /** Layer figures of a traced import. */
  def layers(ctx: Ctx, d: Done): Unit = {
    val t = ctx.tracer
    val chunks = expectedChunks(d.batch.docs)
    val store = d.batch.store
    ctx.layer("chunker.s") = (t.seconds("chunker"), "s")
    ctx.layer("chunker.chunks") = (chunks, "count")
    ctx.layer("embedding.s") = (t.seconds("embedding"), "s")
    ctx.layer("embedding.ns_per_chunk") = (t.seconds("embedding") * 1e9 / chunks, "ns")
    ctx.layer("embedding.distinct_words") = (distinctWords(d.batch.docs), "count")
    ctx.layer("catalog.upsert_models.s") = (t.seconds("catalog.upsert_models"), "s")
    ctx.layer("catalog.upsert_sources.s") = (t.seconds("catalog.upsert_sources"), "s")
    ctx.layer("catalog.write_chunks.s") = (t.seconds("catalog.write_chunks"), "s")
    ctx.layer("catalog.write_bytes") = (Disk.bytesUnder(s"$store/chunks"), "bytes")
    ctx.layer("catalog.files_written") =
      (Disk.countUnder(s"$store/chunks", ".parquet"), "count")
    ctx.layer("ivf.build.s") = (t.seconds("ivf.build"), "s")
    ctx.layer("ivf.index_bytes") = (Disk.bytesUnder(store, "ann_ivf_"), "bytes")
  }
}

object Disk {
  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }
  }

  /** Bytes of every file under `dir` (whose path relative to `dir`
    * starts with `prefix`, when given), Hadoop checksum files included. */
  def bytesUnder(dir: String, prefix: String = ""): Long = {
    val root = java.nio.file.Paths.get(dir)
    walk(dir).filter(p => root.relativize(p).toString.startsWith(prefix))
      .map(java.nio.file.Files.size).sum
  }

  def countUnder(dir: String, suffix: String): Long =
    walk(dir).count(_.getFileName.toString.endsWith(suffix)).toLong
}
