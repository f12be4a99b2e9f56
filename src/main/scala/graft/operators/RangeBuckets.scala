package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Sampled range boundaries, a pure map-side bucket expression, and
  * the one two-phase distributed prefix sum built on them
  * ([[runningSums]]). [[Skyline]] reuses the boundaries for its prefix
  * max.
  */
object RangeBuckets {

  /** Spark SQL's ascending order of a row, evaluated on the driver:
    * per column nulls first, strings by UTF-8 bytes (not Java's UTF-16
    * `compareTo`), floating point by Spark's NaN and -0.0 rules, other
    * keys (integral, date/time) by their natural order; lexicographic
    * across columns. It orders the sample for boundary picking here,
    * where a difference could only skew balance, and numbers novel
    * rows in [[graft.store.Catalog]]'s driver-side upserts, where it
    * must equal `ORDER BY`. */
  private[graft] val rowOrdering: Ordering[Row] = new Ordering[Row] {
    private def cmp(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) =>
        UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
      case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
      case (x: Float, y: Float) => SQLOrderingUtil.compareFloats(x, y)
      case (x: java.lang.Comparable[_], y) =>
        x.asInstanceOf[java.lang.Comparable[Any]].compareTo(y)
      case (x, y) => x.toString.compareTo(y.toString)
    }
    def compare(x: Row, y: Row): Int = {
      var i = 0
      while (i < x.length) {
        val c = cmp(x.get(i), y.get(i))
        if (c != 0) return c
        i += 1
      }
      0
    }
  }

  /** Up to `parts - 1` boundary keys from a deterministic per-partition
    * reservoir sample of `df`'s `keyCols` (one narrow job: the scan is
    * column-pruned to the keys). Weighted like
    * `RangePartitioner.determineBounds` so unevenly sized input
    * partitions don't skew the cuts. */
  def boundaries(df: DataFrame, keyCols: Seq[String], parts: Int): Array[Row] = {
    if (parts <= 1) return Array.empty
    val keys = df.select(keyCols.map(col): _*)
    val rdd = keys.rdd
    val nInput = math.max(1, rdd.getNumPartitions)
    val targetSample = math.min(20.0 * parts, 1e6)
    val perPart = math.max(1, math.ceil(3.0 * targetSample / nInput).toInt)
    // deterministic reservoir per partition: same input → same sample
    // → same boundaries (stability across reruns; correctness never
    // depends on it, see class doc)
    val sketched = rdd.mapPartitionsWithIndex { (idx, it) =>
      val rng = new scala.util.Random(0x9e3779b97f4a7c15L ^ idx)
      val reservoir = new Array[Row](perPart)
      var n = 0L
      while (it.hasNext) {
        val r = it.next()
        if (n < perPart) reservoir(n.toInt) = r
        else {
          val j = (rng.nextDouble() * (n + 1)).toLong
          if (j < perPart) reservoir(j.toInt) = r
        }
        n += 1
      }
      Iterator.single((n, reservoir.take(math.min(n, perPart.toLong).toInt)))
    }.collect()
    val candidates = sketched.flatMap { case (n, sample) =>
      val w = if (sample.isEmpty) 0.0 else n.toDouble / sample.length
      sample.map(r => (r, w))
    }
    if (candidates.isEmpty) return Array.empty
    val ordered = candidates.sortBy(_._1)(rowOrdering)
    val step = ordered.iterator.map(_._2).sum / parts
    val bounds = ArrayBuffer.empty[Row]
    var cum = 0.0
    var target = step
    var i = 0
    while (i < ordered.length && bounds.length < parts - 1) {
      cum += ordered(i)._2
      if (cum >= target) {
        val key = ordered(i)._1
        if (bounds.isEmpty || rowOrdering.compare(key, bounds.last) > 0) {
          bounds += key
          target += step
        }
      }
      i += 1
    }
    bounds.toArray
  }

  /** `key > bound(i..)` lexicographically, in Spark's null-first
    * ascending order, always evaluating to true/false (never null). */
  private def gtFrom(cols: Seq[Column], bound: Row, i: Int): Column = {
    val v = bound.get(i)
    val gtHere =
      if (v == null) cols(i).isNotNull
      else cols(i).isNotNull && cols(i) > lit(v)
    if (i == bound.length - 1) gtHere
    else gtHere || (cols(i) <=> lit(v) && gtFrom(cols, bound, i + 1))
  }

  /** Bucket index `0 .. bounds.length`: the count of boundaries ≤ the
    * row's key — monotone in the key's sort order by construction, a
    * pure codegen-friendly comparison chain over broadcast literals
    * (≤ parts-1 comparisons; parts is the shuffle-partition count, so
    * this stays small). Empty bounds → constant 0 (single bucket). */
  def bucket(keyCols: Seq[Column], bounds: Array[Row]): Column =
    if (bounds.isEmpty) lit(0)
    else bounds.map { b =>
      val ge = gtFrom(keyCols, b, 0) || keyCols.zipWithIndex
        .map { case (c, i) => c <=> lit(b.get(i)) }
        .reduce(_ && _)
      when(ge, 1).otherwise(0)
    }.reduce(_ + _)

  /** Inclusive running sums without a global sort: for each
    * `(name, value)` of `sums`, adds `name` = `SUM(value) OVER
    * (PARTITION BY partitionCols ORDER BY orderCols ROWS UNBOUNDED
    * PRECEDING)`; a `lit(1L)` value numbers the rows like
    * `row_number()`. The naive window sorts each partition (the whole
    * frame when `partitionCols` is empty) in one task. This is the
    * classic two-phase distributed prefix sum instead:
    *
    *   1. bucket rows into contiguous key ranges ([[bucket]] over
    *      `parts` [[boundaries]] sampled on `partitionCols ++
    *      orderCols`) and take each row's running sum WITHIN its
    *      (partition, bucket): a partitioned window, parallel;
    *   2. aggregate one subtotal row per (partition, bucket), prefix-sum
    *      those per partition (the only window not keyed by a bucket,
    *      over #partitions × #buckets rows, never frame rows), and
    *      broadcast-join each bucket's base back.
    *
    * Running sum = bucket base + local running sum. A bucket that spans
    * two partitions is fine: both windows key on the partition, so the
    * restart at a partition boundary is structural. The result is the
    * same for ANY `parts` and boundary placement: boundaries move work
    * between the phases but never change the order, since [[bucket]]
    * is monotone in it. Sampling quality affects balance, never values.
    *
    * Why a bucket expression and not `repartitionByRange` +
    * `spark_partition_id()`: the bucket label feeds TWO plan branches
    * (the local window and the subtotal aggregate), and a runtime
    * partition id is only consistent across them if both observe the
    * same sampled range boundaries. AQE can re-plan the branches
    * differently when this nests above another range exchange (this
    * gave silently wrong offsets for shuffled packing at sf0.1), and
    * persisting the ranged frame instead writes the whole input once
    * more. Here the boundaries are computed ONCE (one narrow sample job
    * over the key columns) and frozen into the plan as literals, so the
    * bucket is a pure function of the key: both branches compute
    * identical buckets under any re-planning, with nothing persisted,
    * and the subtotal branch combines map-side.
    *
    * Requires a deterministic `df` (both branches re-evaluate it),
    * non-null partition keys (the join back is an equi-join) and
    * non-null values (a null local sum would not fall back to the
    * bucket base). Order keys may be null (they sort first); ties in
    * the order fall in scan order, as in any `ROWS` frame. */
  def runningSums(
      df: DataFrame, partitionCols: Seq[String], orderCols: Seq[String],
      sums: Seq[(String, Column)], parts: Int): DataFrame = {
    require(sums.nonEmpty, "runningSums needs at least one value")
    val keys = partitionCols ++ orderCols
    val bucketKeys = partitionCols :+ "_part"
    val parted = df.withColumn("_part",
      bucket(keys.map(col), boundaries(df, keys, parts)))
    val wLocal = Window.partitionBy(bucketKeys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wParts = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy("_part")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = sums.foldLeft(parted) { case (d, (n, v)) =>
      d.withColumn(s"_local_$n", sum(v).over(wLocal))
    }
    val totals = sums.map { case (n, v) => sum(v).as(s"_total_$n") }
    val bases = parted.groupBy(bucketKeys.map(col): _*)
      .agg(totals.head, totals.tail: _*)
      .select(bucketKeys.map(col) ++ sums.map { case (n, _) =>
        val t = col(s"_total_$n")
        coalesce(sum(t).over(wParts) - t, lit(0L)).as(s"_base_$n")
      }: _*)
    sums.foldLeft(local.join(broadcast(bases), bucketKeys)) {
      case (d, (n, _)) =>
        d.withColumn(n, col(s"_base_$n") + col(s"_local_$n"))
    }.drop("_part" +: sums.flatMap { case (n, _) =>
      Seq(s"_local_$n", s"_base_$n") }: _*)
  }
}
