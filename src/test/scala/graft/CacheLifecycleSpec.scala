package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph}

/** The cache-lifecycle contract (graft.Caches): operator-internal
  * persists are registered per session and freed by release(), so a
  * long-lived library caller has a leak-free path; results stay
  * correct (recomputed) when consumed again after release. */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = Tables.load(spark, sfDir, "documents")

  test("caching operators register cleanups; release unpersists them") {
    Caches.release(spark) // isolate from other specs sharing the session
    val before = Caches.outstanding(spark)
    assert(before == 0)
    val pairs = Dedup.simHashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 10, blocks = 4)
    val n = pairs.count()
    assert(Caches.outstanding(spark) > before,
      "simHashNearDupPairs should register its shared signature cache")
    // blocks are actually resident while registered
    val cachedRdds = spark.sparkContext.getPersistentRDDs.size
    assert(cachedRdds > 0, "expected resident cached blocks before release")
    Caches.release(spark)
    assert(Caches.outstanding(spark) == 0)
    // persisted projections recompute after release: same answer, no
    // stale/missing-block failure
    assert(pairs.count() == n)
  }

  test("release is idempotent and scoped to the session") {
    Caches.release(spark)
    Caches.release(spark) // second call is a no-op, must not throw
    assert(Caches.outstanding(spark) == 0)
  }

  test("dupClusters frees per-round checkpoints; result released on demand") {
    Caches.release(spark)
    val pairs = Dedup.ngramJaccardPairs(
      docs.filter(col("doc_id") < 200), "doc_id", "text", 2, 0.4)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.size
    val clusters = Dedup.dupClusters(pairs)
    val rows = clusters.count()
    assert(rows > 0, "planted near-dups should cluster")
    // intermediate rounds were released inside the loop: at most the
    // final labels (1 checkpoint) + the operator's shared projections
    // remain beyond what existed before
    val persistedAfter = spark.sparkContext.getPersistentRDDs
      .values.count(_.getStorageLevel != StorageLevel.NONE)
    assert(persistedAfter - persistedBefore <= 3,
      s"per-round checkpoints leaked: $persistedBefore -> $persistedAfter")
    Caches.release(spark)
    // the final labels' checkpoint is gone too: re-collecting the
    // released clusters DataFrame must fail loudly (truncated lineage),
    // never silently return wrong rows
    intercept[Exception] { clusters.count() }
  }

  test("pageRankConverged and personalizedPageRank keep one checkpoint; release frees it") {
    Caches.release(spark)
    val s = spark
    import s.implicits._
    // 0→1→2 with sink 2, 3→0: a dangling digraph, so every step
    // checkpoints (the per-step dangling-mass job reads the state)
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 0L)).toDF("src", "dst")
    def checkpointed = spark.sparkContext.getPersistentRDDs
      .collect { case (id, rdd) if rdd.isCheckpointed => id }.toSet
    val before = checkpointed
    val pr = Graph.pageRankConverged(edges, "src", "dst", maxIterations = 12)
    pr.collect()
    val afterPr = checkpointed -- before
    assert(afterPr.size <= 1, s"pageRankConverged left ${afterPr.size} checkpoints")
    val ppr = Graph.personalizedPageRank(edges, "src", "dst",
      Seq(0L).toDF("id"), maxIterations = 12)
    ppr.collect()
    val afterPpr = checkpointed -- before -- afterPr
    assert(afterPpr.size <= 1,
      s"personalizedPageRank left ${afterPpr.size} checkpoints")
    Caches.release(spark)
    assert((checkpointed -- before).isEmpty, "release must free the last checkpoints")
    // the results were their last checkpoints: re-collecting fails
    // loudly instead of silently recomputing
    intercept[Exception] { pr.collect() }
    intercept[Exception] { ppr.collect() }
  }
}
