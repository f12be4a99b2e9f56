package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Sampled range boundaries + a pure map-side bucket expression — the
  * building block of the two-phase distributed prefix sums
  * ([[Packing.withPackOffsets]], [[graft.store.Catalog.withSequentialIds]]).
  *
  * Why not `repartitionByRange` + `spark_partition_id()`: those ops
  * read the ranged frame on TWO plan branches (per-partition local
  * ranks, per-partition subtotals), and the partition label is only
  * consistent across branches if both observe the SAME sampled range
  * boundaries. Plan-level exchange reuse usually guarantees that, but
  * AQE can re-plan the branches differently when the op nests above
  * another range exchange (observed round 5: shuffled packing at
  * sf0.1 — silently wrong offsets). Round 5 fixed it by persisting the
  * ranged frame, which is correct but writes the whole corpus to
  * memory/disk once per call — at 100 TB that doubles the operator's
  * IO.
  *
  * This helper removes the materialization: compute the range
  * boundaries ONCE (one driver-side sample job over just the key
  * columns — the same reservoir sampling `RangePartitioner` runs
  * internally), then derive the bucket as a broadcast-literal
  * comparison chain — a pure, deterministic function of the key
  * evaluated map-side. Both consumer branches recompute identical
  * bucket values under ANY AQE re-planning, because the boundaries are
  * frozen constants in the plan, not runtime partition ids.
  *
  * Correctness note: the downstream prefix-sum result is invariant to
  * WHERE the boundaries fall (they move work between the local and
  * subtotal phases but never change the global key order) — the only
  * requirement is that the bucket is monotone in the key's sort order,
  * which `count of (key >= boundary)` guarantees for any boundary set.
  * Sampling quality therefore affects only balance, never values.
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
}
