package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Deterministic contextual text embedding (SURVEY.md §2.4 E2, §7.4).
  *
  * Same *algorithm* as the reference's pseudo-embedder
  * (reference `src/lib/embedding.py:69-120`): a hash-seeded gaussian
  * base vector, per-word hash-seeded gaussian perturbations weighted by
  * term frequency, a length factor and a vocabulary-diversity factor,
  * and a final L2 normalization — with a documented JVM PRNG
  * (sha256/md5 → long seed → java.util.Random gaussians) instead of
  * numpy MT19937. This Scala spec is canonical; correctness bar is
  * self-consistency (determinism, unit norm, sensitivity), not
  * bit-equality with numpy (SURVEY.md §7.4 decision 1).
  *
  * Pure function of (text, dim): safe to evaluate on any executor, any
  * partitioning, any retry — a hard requirement for 100 TB runs where
  * task retries and speculative execution must not change results.
  */
object Embedding {
  val DefaultDim = 1536
  val DefaultModel = "graft/deterministic-hash-embedder-v1"

  private val WordPattern = Pattern.compile("\\b\\w+\\b")

  private def seedFrom(algo: String, s: String): Long = {
    val d = MessageDigest.getInstance(algo)
      .digest(s.toLowerCase.getBytes(StandardCharsets.UTF_8))
    // first 8 bytes, big-endian → long
    var seed = 0L
    var i = 0
    while (i < 8) { seed = (seed << 8) | (d(i) & 0xffL); i += 1 }
    seed
  }

  /** Word tokenization mirroring the reference's `\b\w+\b` regex
    * (reference `src/lib/embedding.py:77`), lowercased. */
  def words(text: String): Vector[String] = {
    val m = WordPattern.matcher(text.toLowerCase)
    val b = Vector.newBuilder[String]
    while (m.find()) b += m.group()
    b.result()
  }

  /** Weight of the whole-text random base vector relative to the
    * word-level signal. The reference inverts this ratio (base 1.0,
    * words 0.1, `src/lib/embedding.py:92-99`), which makes similarity
    * mostly hash noise; as the canonical spec (SURVEY.md §7.4) we let
    * shared vocabulary dominate so cosine ranks topical overlap. */
  val BaseWeight = 0.2

  /** Per-JVM memo of word perturbation vectors: the same word's
    * gaussian vector is re-derived for every document containing it —
    * with a Zipfian vocabulary that's the dominant embedding cost.
    * The cache is pure memoization (values are a pure function of
    * (word, dim)), so results are identical with or without it, under
    * any executor placement or retry. Bounded in bytes: cleared
    * wholesale once the cached vectors (`entries × dim × 8` bytes)
    * pass `MaxCachedBytes` — about 2,700 words at 1,536 dims, so a
    * small hot vocabulary stays resident without the memo taking a
    * large share of an executor heap. */
  private val MaxCachedBytes = 32L << 20
  private val wordVecCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Array[Double]]()
  private val cachedBytes = new java.util.concurrent.atomic.AtomicLong()

  private def wordVector(w: String, dim: Int): Array[Double] = {
    if (cachedBytes.get > MaxCachedBytes) {
      wordVecCache.clear()
      cachedBytes.set(0)
    }
    wordVecCache.computeIfAbsent((w, dim), { case (word, d) =>
      cachedBytes.addAndGet(8L * d)
      gaussians(seedFrom("MD5", word), d, 1.0)
    })
  }

  /** The first `n` gaussians of `java.util.Random(seed)`, each times
    * `scale`. */
  private def gaussians(seed: Long, n: Int, scale: Double): Array[Double] = {
    val g = new Gaussians(seed)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = scale * g.nextGaussian(); i += 1 }
    out
  }

  /** Deterministic embedding: text → L2-normalized Array[Float] of `dim`. */
  def embed(text: String, dim: Int = DefaultDim): Array[Float] = {
    // 1. base vector seeded by sha256 of the whole text
    //    (reference src/lib/embedding.py:80-85)
    val v = gaussians(seedFrom("SHA-256", text), dim, BaseWeight)
    var i = 0

    // 2. per-word md5-seeded gaussian perturbation weighted by term
    //    frequency (reference src/lib/embedding.py:88-99)
    val ws = words(text)
    val total = ws.size
    if (total > 0) {
      val tf = ws.groupMapReduce(identity)(_ => 1)(_ + _)
      tf.toSeq.sortBy(_._1).foreach { case (w, n) =>
        val weight = n.toDouble / total
        val wv = wordVector(w, dim)
        var j = 0
        while (j < dim) { v(j) += weight * wv(j); j += 1 }
      }
      // 3. length + vocabulary-diversity factors
      //    (reference src/lib/embedding.py:101-113)
      val lengthFactor = math.min(text.length / 100.0, 1.0)
      val diversity = tf.size.toDouble / total
      val scale = 0.5 + 0.5 * lengthFactor * diversity
      i = 0
      while (i < dim) { v(i) *= scale; i += 1 }
    }

    // 4. L2 normalization (reference src/lib/embedding.py:115-118)
    var norm = 0.0
    i = 0
    while (i < dim) { norm += v(i) * v(i); i += 1 }
    norm = math.sqrt(norm)
    val out = new Array[Float](dim)
    val inv = if (norm == 0.0) 1.0 else 1.0 / norm
    i = 0
    while (i < dim) { out(i) = (v(i) * inv).toFloat; i += 1 }
    out
  }

  /** Column form: embed(textCol) with a fixed dimension. */
  def embed_text(dim: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => if (text == null) null else embed(text, dim))

  def embedColumn(c: Column, dim: Int = DefaultDim): Column = embed_text(dim)(c)

  def register(spark: SparkSession, dim: Int = DefaultDim): Unit =
    spark.udf.register("embed_text", embed_text(dim))
}

/** The gaussian stream of `java.util.Random(seed).nextGaussian()`, bit
  * for bit, with its state in plain fields. `java.util.Random`'s
  * generator, `nextDouble` and polar `nextGaussian` (with `StrictMath`)
  * are fixed by its Javadoc for portability, so this is the same
  * stream; but `Random.nextGaussian` takes a monitor and every draw
  * CASes an `AtomicLong`, which cost about half of an embedding. An
  * instance is for one thread. */
private[graft] final class Gaussians(seed: Long) {
  import Gaussians._
  private var state = (seed ^ Multiplier) & Mask
  private var spare = 0.0
  private var haveSpare = false

  private def next(bits: Int): Int = {
    state = (state * Multiplier + 0xBL) & Mask
    (state >>> (48 - bits)).toInt
  }

  private def nextDouble(): Double =
    ((next(26).toLong << 27) + next(27)) * DoubleUnit

  def nextGaussian(): Double =
    if (haveSpare) { haveSpare = false; spare }
    else {
      var v1, v2, s = 0.0
      while ({
        v1 = 2 * nextDouble() - 1
        v2 = 2 * nextDouble() - 1
        s = v1 * v1 + v2 * v2
        s >= 1 || s == 0
      }) ()
      val multiplier = StrictMath.sqrt(-2 * StrictMath.log(s) / s)
      spare = v2 * multiplier
      haveSpare = true
      v1 * multiplier
    }
}

private object Gaussians {
  private val Multiplier = 0x5DEECE66DL
  private val Mask = (1L << 48) - 1
  private val DoubleUnit = 1.0 / (1L << 53)
}
