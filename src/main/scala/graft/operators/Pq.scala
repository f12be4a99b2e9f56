package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Product quantization (PQ) approximate nearest neighbor — the
  * memory-bound scale path beside LSH buckets and IVF cells.
  *
  * A dim-D vector is split into `m` subvectors; each subspace gets its
  * own tiny k-means codebook (k centroids), and a corpus row is stored
  * as `m` small centroid ids — 8 ints instead of 64 floats here, and
  * 16–32× smaller at production dims. Query-time scoring is
  * asymmetric-distance computation (ADC): the query precomputes an
  * m×k table of squared subvector distances ONCE on the driver
  * (O(m·k·dsub), corpus-independent), and each corpus row's
  * approximate distance is m table lookups — no float math per row.
  * The classic trade: I/O and memory drop by the compression factor,
  * scan flops drop from O(D) to O(m) lookups, recall is recovered by
  * exact re-ranking of the small ADC candidate set.
  *
  * Division of labor (same stance as Ivf): codebook training is a
  * driver-side batch job over a deterministic sample at index BUILD;
  * encoding is a narrow codegen'd map (argmin over k dot products per
  * subspace); search is a lookup-table aggregate fused into
  * TakeOrderedAndProject plus a candidate-sized exact re-rank.
  * Composes with IVF: store `(ivf_cell, pq_code)` and the pruned scan
  * does ADC only inside nprobe cells (FAISS's IVFPQ layout).
  */
object Pq {

  /** codebooks(i)(j) = centroid j of subspace i (length dsub each). */
  case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def k: Int = codebooks.head.length
    def dsub: Int = codebooks.head.head.length
    def dim: Int = m * dsub

    /** Flat m×k ADC table for `query`: entry i*k + j = squared L2
      * distance between query subvector i and codebook(i)(j). */
    def adcTable(query: Array[Double]): Array[Double] = {
      require(query.length == dim, s"query dim ${query.length} != $dim")
      val t = new Array[Double](m * k)
      var i = 0
      while (i < m) {
        var j = 0
        while (j < k) {
          var s = 0.0
          var d = 0
          while (d < dsub) {
            val diff = query(i * dsub + d) - codebooks(i)(j)(d)
            s += diff * diff
            d += 1
          }
          t(i * k + j) = s
          j += 1
        }
        i += 1
      }
      t
    }
  }

  /** Deterministic per-subspace k-means (plain L2, not spherical — PQ
    * quantizes residual geometry, not direction) on the `sampleSize`
    * lowest-id rows; init = evenly strided sample subvectors. Driver-
    * side by design: m·k·dsub doubles is a few KB, and this runs once
    * at index build. */
  def train(
      corpus: DataFrame, idCol: String, embCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 5,
      sampleSize: Int = 2048): PqModel = {
    val sample = corpus
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .orderBy(idCol)
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    require(sample.length >= k, s"sample ${sample.length} < k $k")
    val dsub = dim / m

    val codebooks = Array.tabulate(m) { i =>
      val subs = sample.map(v => v.slice(i * dsub, (i + 1) * dsub))
      var cents = Array.tabulate(k)(j => subs(j * subs.length / k))
      for (_ <- 0 until iters) {
        val assigned = subs.groupBy(s => nearest(cents, s))
        cents = Array.tabulate(k) { c =>
          assigned.get(c) match {
            case Some(vs) =>
              val acc = new Array[Double](dsub)
              vs.foreach { v =>
                var d = 0; while (d < dsub) { acc(d) += v(d); d += 1 }
              }
              acc.map(_ / vs.length)
            case None => cents(c) // empty cell keeps its centroid
          }
        }
      }
      cents
    }
    PqModel(codebooks)
  }

  private def nearest(cents: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < cents.length) {
      var s = 0.0
      var d = 0
      while (d < v.length) {
        val diff = v(d) - cents(j)(d); s += diff * diff; d += 1
      }
      if (s < bestD) { bestD = s; best = j }
      j += 1
    }
    best
  }

  /** PQ code column (array<int>, length m): per subspace, the argmin
    * centroid by squared L2 — expressed as codegen'd dot products via
    * ||x−c||² = ||x||² − 2x·c + ||c||², where ||x||² is constant
    * across the argmin and drops out. Runs once per row at index
    * build, never at query time. */
  def encodeCol(emb: Column, model: PqModel): Column =
    array((0 until model.m).map { i =>
      val sub = slice(emb.cast("array<double>"),
        i * model.dsub + 1, model.dsub)
      val scored = array(model.codebooks(i).zipWithIndex.toIndexedSeq.map {
        case (c, j) =>
          val cNorm2 = c.map(x => x * x).sum
          struct(
            (VectorFunctions.dot_product(sub, typedLit(c)) * 2.0 - cNorm2)
              .as("score"), // max(2x·c − ||c||²) = min distance
            lit(-j).as("negidx"))
      }: _*)
      (-array_max(scored).getField("negidx")).cast("int")
    }: _*)

  /** Encode the corpus (adds `pq_code`). Write the result as the PQ
    * index; store the model beside it via saveModel. */
  def encode(corpus: DataFrame, embCol: String, model: PqModel): DataFrame =
    corpus.withColumn("pq_code", encodeCol(col(embCol), model))

  /** ADC score column: m lookups into the query's flat table. The
    * code column is a stored attribute, so the lambda touches no
    * recomputable subtree (cf. TextAnalysis.letBound). */
  def adcScoreCol(codeCol: Column, lut: Array[Double], k: Int): Column =
    aggregate(
      sequence(lit(0), lit(lut.length / k - 1)),
      lit(0.0),
      (acc, i) => acc +
        element_at(typedLit(lut.toSeq), i * k + element_at(codeCol, i + 1) + 1))

  /** PQ index build: train the codebooks, write the encoded corpus to
    * `path` and the codebooks beside it (`_model`). */
  def buildIndex(corpus: DataFrame, idCol: String, embCol: String,
      path: String, m: Int, k: Int): PqModel = {
    val model = train(corpus, idCol, embCol, m, k)
    encode(corpus, embCol, model)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    saveModel(corpus.sparkSession, model, s"$path/_model")
    model
  }

  /** The ADC candidate step: the `n` rows nearest to `queryVec` by
    * lookup-table distance `adc` (ties by id), one TakeOrderedAndProject. */
  def adcCandidates(
      indexed: DataFrame, idCol: String, queryVec: Array[Double],
      model: PqModel, n: Int): DataFrame =
    indexed
      .withColumn("adc",
        adcScoreCol(col("pq_code"), model.adcTable(queryVec), model.k))
      .orderBy(asc("adc"), asc(idCol))
      .limit(n)

  /** ANN search over a PQ-encoded corpus: ADC top (k·refine)
    * candidates ([[adcCandidates]]), then exact L2 re-rank of the
    * candidates only. `refine` trades a constant factor of exact
    * distance evaluations for recall. */
  def search(
      indexed: DataFrame, idCol: String, embCol: String,
      queryVec: Array[Double], model: PqModel, topK: Int,
      refine: Int = 4, roundTo: Int = 6): DataFrame =
    adcCandidates(indexed, idCol, queryVec, model, topK * refine)
      .withColumn("l2_dist",
        round(VectorFunctions.l2_distance(
          col(embCol), typedLit(queryVec.toSeq)), roundTo))
      .orderBy(asc("l2_dist"), asc(idCol))
      .limit(topK)
      .drop("adc")

  /** IVFPQ index build — the composed layout (FAISS's production
    * shape): rows carry BOTH an IVF cell (coarse quantizer →
    * partitionBy → query-time partition pruning) and a PQ code (fine
    * quantizer → ADC scoring inside the scanned cells). A query reads
    * nprobe/nlist of the FILES and does m table lookups per surviving
    * row — I/O pruning and flop compression multiply. */
  def buildIvfPqIndex(
      corpus: DataFrame, idCol: String, embCol: String, path: String,
      nlist: Int, m: Int = 8, k: Int = 16): (Ivf.IvfModel, PqModel) = {
    val spark = corpus.sparkSession
    val coarse = Ivf.train(corpus, idCol, embCol, nlist)
    val fine = train(corpus, idCol, embCol, m, k)
    Ivf.assign(corpus, embCol, coarse)
      .withColumn("pq_code", encodeCol(col(embCol), fine))
      .repartition(col("ivf_cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("ivf_cell")
      .parquet(path)
    Ivf.saveModel(spark, coarse, s"$path/_coarse")
    saveModel(spark, fine, s"$path/_model")
    (coarse, fine)
  }

  /** IVFPQ search: prune to the query's nprobe nearest cells
    * (partition filter on the cell column — only those files are
    * read), ADC-rank the survivors, exact re-rank the candidates. */
  def searchIvfPq(
      indexed: DataFrame, idCol: String, embCol: String,
      queryVec: Array[Double], coarse: Ivf.IvfModel, fine: PqModel,
      topK: Int, nprobe: Int, refine: Int = 4,
      roundTo: Int = 6): DataFrame = {
    val q = {
      val n = math.sqrt(queryVec.map(x => x * x).sum)
      if (n == 0.0) queryVec else queryVec.map(_ / n)
    }
    val cells = coarse.rankCells(q).take(nprobe).toSeq
    search(indexed.filter(col("ivf_cell").isin(cells: _*)),
      idCol, embCol, queryVec, fine, topK, refine, roundTo)
  }

  /** Persist a codebook as (subspace, cell, centroid) parquet. */
  /** O(new-data) index maintenance for a PQ-encoded store, completing
    * the append parity with the LSH and IVF families: new vectors are
    * encoded with the FROZEN codebooks and appended — codebook drift
    * is handled by a periodic full rebuild (compaction), never per
    * batch, the same add-after-train contract as Ivf.appendToIndex.
    * Returns the loaded model so callers can search immediately. */
  def appendToIndex(
      newRows: DataFrame, embCol: String, path: String): PqModel = {
    val model = loadModel(newRows.sparkSession, s"$path/_model")
    // same column contract as the original encode() write — callers
    // pass new rows shaped like the indexed corpus, so the appended
    // files share the index schema exactly
    encode(newRows, embCol, model)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(path)
    model
  }

  def saveModel(spark: SparkSession, model: PqModel, path: String): Unit = {
    import spark.implicits._
    model.codebooks.zipWithIndex.flatMap { case (cents, i) =>
      cents.zipWithIndex.map { case (c, j) => (i, j, c.toSeq) }
    }.toSeq
      .toDF("subspace", "cell", "centroid")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Load a codebook written by saveModel. */
  def loadModel(spark: SparkSession, path: String): PqModel = {
    val rows = spark.read.parquet(path)
      .orderBy("subspace", "cell")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    PqModel(rows.groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)))
  }
}
