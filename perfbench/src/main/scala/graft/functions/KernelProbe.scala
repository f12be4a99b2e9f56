package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Public handle on the library's scalar cosine kernel, which is
  * package-private, for the kernel micro-probe. */
object KernelProbe {
  def cosine(a: ArrayData, b: ArrayData): Double =
    VectorKernel.cosineSimilarity(a, true, b, true)
}
