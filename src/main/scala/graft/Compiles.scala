package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Janino compiles of generated classes in one window: Spark records one
  * `CodegenMetrics.METRIC_COMPILATION_TIME` sample (the compile time in
  * ms) per generated class that missed its generated-class cache
  * ([[Tables.CodegenCacheEntries]]). `count` is exact. `ms` sums the
  * samples that are new in the histogram's reservoir, which keeps at
  * most 1,028 of them; once it is full and evicting, `ms` is a lower
  * bound. A warm rerun of a query whose classes are all cached compiles
  * nothing, so a non-zero count on a warm run means the plan changed. */
final case class Compiles(count: Long, ms: Long)

object Compiles {

  /** Run `body` and return its result with the compiles made while it
    * ran (by any thread of the JVM). */
  def of[T](body: => T): (T, Compiles) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val (n0, v0) = (h.getCount, h.getSnapshot.getValues.sorted)
    val out = body
    val (n1, v1) = (h.getCount, h.getSnapshot.getValues.sorted)
    (out, Compiles(n1 - n0, addedSum(v0, v1)))
  }

  /** Sum of the sorted multiset difference `after − before`. */
  private def addedSum(before: Array[Long], after: Array[Long]): Long = {
    var (i, j, s) = (0, 0, 0L)
    while (j < after.length) {
      if (i < before.length && before(i) < after(j)) i += 1
      else {
        if (i < before.length && before(i) == after(j)) i += 1
        else s += after(j)
        j += 1
      }
    }
    s
  }
}
