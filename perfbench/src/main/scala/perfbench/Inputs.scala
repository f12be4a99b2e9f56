package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Seeded input generators. Every input of a run is a pure function of
  * its seed: the same seed gives byte-identical documents, prompts and
  * tables. */
object Inputs {

  /** A RAG source document, in the column shape `Demo.importDocs` reads. */
  case class Doc(doc_id: Long, title: String, author: String,
      text_type: String, genre: String, publication_date: String,
      text: String)

  /** Zipf sampler with exponent `s` over `vocab` synthetic words. The
    * words are letter strings, so `Embedding.words` (`\b\w+\b`) and
    * the chunker's single-space split see the same tokens. */
  final class Zipf(vocab: Int, s: Double) {
    private val cdf: Array[Double] = {
      val c = new Array[Double](vocab)
      var acc = 0.0
      var i = 0
      while (i < vocab) { acc += math.pow(i + 1.0, -s); c(i) = acc; i += 1 }
      i = 0
      while (i < vocab) { c(i) /= acc; i += 1 }
      c
    }
    def rank(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Word `i` of the synthetic vocabulary: base-26 letters behind a
    * fixed prefix letter, distinct for every rank. */
  def word(i: Int): String = {
    val sb = new StringBuilder("w")
    var n = i
    while ({ sb.append(('a' + n % 26).toChar); n /= 26; n > 0 }) ()
    sb.toString
  }

  /** `n` book-length documents of `minChunks..maxChunks` chunks of
    * `chunkTokens` Zipf words each; the last chunk is partial, never
    * under 64 words, so every chunk's text is distinctive. */
  def ragCorpus(seed: Long, n: Int, minChunks: Int, maxChunks: Int,
      chunkTokens: Int, zipf: Zipf): Seq[Doc] = {
    val r = new java.util.Random(seed)
    (0 until n).map { i =>
      val chunks = minChunks + r.nextInt(maxChunks - minChunks + 1)
      val len = (chunks - 1) * chunkTokens + 64 + r.nextInt(chunkTokens - 63)
      val sb = new StringBuilder
      var t = 0
      while (t < len) {
        if (t > 0) sb.append(' ')
        sb.append(word(zipf.rank(r)))
        t += 1
      }
      val id = i + 1L
      Doc(id, s"Volume $id", s"Author ${r.nextInt(50)}", "novel",
        "science fiction", s"${1900 + r.nextInt(120)}", sb.toString)
    }
  }

  /** Prompts drawn from the corpus vocabulary (so retrieval has topical
    * overlap to rank), 6..14 words each. */
  def prompts(seed: Long, n: Int, zipf: Zipf): Seq[String] = {
    val r = new java.util.Random(seed ^ 0x5deece66dL)
    Seq.fill(n) {
      Seq.fill(6 + r.nextInt(9))(word(zipf.rank(r))).mkString(" ")
    }
  }

  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String,
      parts: Int): Unit = {
    import spark.implicits._
    docs.toDS().repartition(parts).write.mode(SaveMode.Overwrite).parquet(path)
  }

  // ---------------------------------------------------------------
  // Curation tables: the column shapes of the library's table loader
  // (documents, embeddings, lineitem), from a FIXED data seed so each
  // query's result has one recorded fingerprint.
  // ---------------------------------------------------------------

  val CurationDataSeed = 42L

  /** The 31-word technical vocabulary of the engine's text fixtures
    * (including the `dup` marker of planted near-duplicates). */
  val TextVocab: IndexedSeq[String] = IndexedSeq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window", "dup")

  case class DocRow(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)
  case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
      l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
      l_discount: Double, l_tax: Double, l_returnflag: String,
      l_linestatus: String, l_shipdate: Timestamp)

  def writeCurationTables(spark: SparkSession, dir: String, docs: Int,
      vectors: Int, orders: Int, parts: Int): Unit = {
    import spark.implicits._
    val r = new java.util.Random(CurationDataSeed)
    val langs = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
    val plain = TextVocab.init
    val docRows = scala.collection.mutable.ArrayBuffer.empty[DocRow]
    for (i <- 0 until docs) {
      // every 20th document is a near-copy of an earlier one: the
      // source text plus a trailing `dup` marker
      val text =
        if (i >= 20 && i % 20 == 0)
          docRows(r.nextInt(i)).text + " dup"
        else
          Seq.fill(10 + r.nextInt(90))(plain(r.nextInt(plain.size)))
            .mkString(" ")
      docRows += DocRow(i.toLong, text, langs(r.nextInt(langs.size)),
        s"src${i % 20}", text.length.toLong)
    }
    docRows.toSeq.toDS().write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")

    // 10 labelled clusters in 64 dims; every 25th vector is a
    // near-duplicate of its predecessor
    val dim = 64
    val centers = Array.fill(10, dim)(r.nextGaussian())
    val embRows = scala.collection.mutable.ArrayBuffer.empty[EmbRow]
    for (i <- 0 until vectors) {
      val label = r.nextInt(10)
      val v =
        if (i > 0 && i % 25 == 0)
          embRows(i - 1).embedding.map(x => (x + 0.001 * r.nextGaussian()).toFloat)
        else Array.tabulate(dim)(j =>
          (centers(label)(j) + 0.8 * r.nextGaussian()).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      embRows += EmbRow(i.toLong, v.map(x => (x / n).toFloat), label)
    }
    embRows.toSeq.toDS().write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/embeddings.parquet")

    val day = 24L * 3600 * 1000
    val t0 = 788918400000L // 1995-01-01T00:00:00Z
    val lines = (0 until orders).flatMap { o =>
      (1 to 1 + r.nextInt(7)).map { ln =>
        val qty = (1 + r.nextInt(50)).toDouble
        LineRow(o.toLong, r.nextInt(parts).toLong, r.nextInt(100).toLong,
          ln, qty, math.round(qty * (900 + r.nextInt(1100)) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          new Timestamp(t0 + r.nextInt(2500) * day))
      }
    }
    lines.toDS().write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/lineitem.parquet")
  }
}
