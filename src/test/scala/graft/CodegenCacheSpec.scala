package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A warm query reuses its generated code. The curation rotation (t36,
  * g1, d11, r3) generates more classes per pass than Spark's default
  * generated-class cache holds (100), so under the default every pass
  * recompiles every class. `Tables.session` sizes the cache to
  * [[Tables.CodegenCacheEntries]]; the conf is static, so the spec
  * counts compiles instead of reading the conf back. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  val Rotation = Seq("t36_nb_langid", "g1_part_pagerank",
    "d11_semantic_dedup", "r3_hybrid_retrieval")

  /** One round-robin pass, released between queries as Bench does;
    * the Janino compiles of each query. */
  private def pass(s: SparkSession): Seq[Long] = Rotation.map { q =>
    Caches.release(s)
    s.catalog.clearCache()
    Compiles.of(SparkEntry.queries(q)(s, sfDir).collect())._2.count
  }

  /** `f` in a new session under a new context class loader. The cache
    * is keyed by class loader as well as by code, and a new session's
    * tasks and a new driver loader find none of the classes other
    * suites of this JVM compiled for the same queries, so the first
    * pass starts cold in any suite order. */
  private def isolated[T](f: SparkSession => T): T = {
    val th = Thread.currentThread
    val prev = th.getContextClassLoader
    val s = spark.newSession()
    th.setContextClassLoader(new java.net.URLClassLoader(Array.empty, prev))
    try f(s)
    finally {
      Caches.release(s)
      th.setContextClassLoader(prev)
    }
  }

  test("a second pass of the curation rotation reuses the first pass's classes") {
    val (first, second) = isolated(s => (pass(s), pass(s)))
    val msg = s"compiles per query ${Rotation.mkString(",")}: " +
      s"first pass ${first.mkString(",")}, second pass ${second.mkString(",")}"
    info(msg)
    assert(first.sum > 100, s"the rotation no longer outgrows the default cache; $msg")
    assert(second.sum * 10 <= first.sum, s"a warm pass recompiled; $msg")
  }
}
