package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset splitting and sampling for training-data pipelines.
  *
  * The split must be a pure function of the row key — not of
  * partitioning, row order, or a random stream — so that it is
  * reproducible across runs, engines and cluster sizes, and so a
  * document's assignment never changes when the corpus grows (the
  * property that prevents train/test leakage between pipeline runs).
  * Hash-bucket splitting on md5 gives exactly that, and is portable
  * enough to hash-match an SQL oracle.
  */
object Sampling {

  /** Deterministic hash-bucket split label: 'train' for the first
    * `trainSixteenths`/16 of md5 key space, else 'test'. */
  def splitLabel(idCol: Column, trainSixteenths: Int = 13): Column = {
    require(trainSixteenths > 0 && trainSixteenths < 16)
    val bound = "0123456789abcdef".charAt(trainSixteenths).toString
    when(substring(md5(idCol.cast("string")), 1, 1) < bound, "train")
      .otherwise("test")
  }

  def trainTestSplit(
      df: DataFrame, idCol: String,
      trainSixteenths: Int = 13): (DataFrame, DataFrame) = {
    val labeled = df.withColumn("split", splitLabel(col(idCol), trainSixteenths))
    (labeled.filter(col("split") === "train").drop("split"),
      labeled.filter(col("split") === "test").drop("split"))
  }

  /** Deterministic mixture oversampling — the data-mixture step of a
    * pre-training pipeline, where each source gets an epoch weight
    * (wiki 3.5×, curated 2×, raw crawl 0.5×, …). A row with weight w
    * is emitted floor(w) times, plus once more for the frac(w)
    * fraction of key-hash space — so over many rows each source's
    * token share converges to its weight, yet every copy decision is
    * a pure function of the key: reproducible across runs, engines
    * and cluster layouts, and stable when the corpus grows (the same
    * properties as [[splitLabel]]). Copies materialize via
    * sequence+explode in the scan projection — a map-side row
    * generator, no shuffle and no driver loop; downstream shuffles
    * see the post-mixture row count, which is the point (the mixture
    * is decided before the expensive stages, not by re-reading the
    * corpus w times). Fractional parts are quantized to 1/256; rows
    * whose weight rounds to zero copies are dropped. Output gains a
    * `copy` ordinal (1..n) so downstream packing/shuffling can keep
    * copies apart. */
  def mixtureOversample(
      df: DataFrame, sourceCol: String, idCol: String,
      weights: Map[String, Double], default: Double = 1.0): DataFrame = {
    require((weights.values ++ Seq(default)).forall(w => w >= 0.0 && w <= 64.0))
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 2), 16, 10)
      .cast("int")
    def copies(w: Double): Column = {
      val base = math.floor(w).toLong
      val extra = math.round((w - math.floor(w)) * 256).toInt
      lit(base) + when(bucket < extra, 1L).otherwise(0L)
    }
    val nCopies = weights.foldLeft(copies(default)) {
      case (acc, (src, w)) => when(col(sourceCol) === src, copies(w)).otherwise(acc)
    }
    df.withColumn("copy",
      explode(when(nCopies >= 1L, sequence(lit(1L), nCopies))))
  }

  /** Per-group token-budget cap — the sampling dual of the row-count
    * domain cap (u3): within each group (source/domain/language),
    * rank rows by `orderCol` desc (ties broken by `idCol` asc) and
    * keep rows while the cumulative `tokensCol` stays within `budget`.
    * This is how a mixture recipe expresses "at most N tokens of
    * source X, best-first". One partitioned window per group — the
    * cumulative sum never crosses group boundaries, so the shape
    * scales to any corpus with bounded groups; a single pathological
    * group is the same skew story as any per-key window (salt the
    * group or pre-cap row counts). Adds `cum_tokens` (inclusive
    * running total in keep-priority order). */
  def tokenBudgetCap(
      df: DataFrame, groupCol: String, idCol: String,
      tokensCol: String, orderCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol)
      .orderBy(desc(orderCol), asc(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn("cum_tokens", sum(col(tokensCol)).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Deterministic corpus shuffle: assign every row a dense position
    * `pos` (1..N) in md5-keyed order — the reproducible global shuffle
    * a training pipeline runs before packing, so example order is
    * decorrelated from ingest order yet identical across runs, engines
    * and partition counts. `pos` is [[RangeBuckets.runningSums]] of
    * `lit(1L)` over (md5, id), never a single-task global sort. `salt`
    * picks the permutation (a new salt is a fresh shuffle of the same
    * corpus). */
  def shufflePositions(
      df: DataFrame, idCol: String, salt: String): DataFrame =
    RangeBuckets.runningSums(
        df.withColumn("_h", md5(concat(col(idCol).cast("string"), lit(salt)))),
        Nil, Seq("_h", idCol), Seq("pos" -> lit(1L)),
        df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
      .drop("_h")

  /** Deterministic weighted sampling without replacement (the
    * Efraimidis–Spirakis A-Res priority scheme, public): each row gets
    * priority u^(1/w) for a key-derived uniform u — the top `n`
    * priorities are a weight-proportional sample. Ordering by
    * ln(u)/w is equivalent and better-conditioned; priorities round
    * to 6dp with the key as tiebreak so the sample is identical
    * across runs, engines and partitionings (u comes from the key's
    * md5, never rand()). Top-n compiles to TakeOrderedAndProject —
    * map-side bounded heaps, never a global sort.
    *
    * Rows with weight ≤ 0 (or null) are excluded, not sampled: that is
    * the w→0 limit of the scheme (u^(1/w) → 0 — zero inclusion
    * probability), whereas feeding them through the formula would give
    * ln(u)/w ≥ 0, silently OUTRANKING every valid row. The filter is a
    * map-side predicate — no validation pass over the input. */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: String, n: Int): DataFrame = {
    require(n > 0)
    val v = conv(substring(md5(col(idCol).cast("string")), 1, 6), 16, 10)
      .cast("double")
    val u = (v + lit(0.5)) / lit(16777216.0) // 16^6 — u ∈ (0, 1)
    df.filter(col(weightCol) > 0)
      .withColumn("_pri", round(log(u) / col(weightCol), 6))
      .orderBy(desc("_pri"), asc(idCol))
      .limit(n)
      .drop("_pri")
  }

  /** Deterministic per-stratum downsampling: keep a row iff its key
    * hash falls in the stratum's keep-fraction of bucket space.
    * Unlike rand()-based sampleBy, re-runs and re-partitions keep the
    * exact same rows. Fractions are quantized to 1/256. */
  def stratifiedSample(
      df: DataFrame, stratumCol: String, idCol: String,
      fractions: Map[String, Double]): DataFrame = {
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 2), 16, 10)
      .cast("int")
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, frac)) =>
      acc || (col(stratumCol) === stratum &&
        bucket < math.round(frac * 256).toInt)
    }
    df.filter(keep)
  }
}
