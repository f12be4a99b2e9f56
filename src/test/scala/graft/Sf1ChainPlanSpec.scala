package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The sf1 chain-plan contract tools/sf1_chain_oracle.py relies on
  * ([[QuerySpec.sf1Chains]]): each plan ends in its `rollup`, names
  * each chain once, and every `__CHAIN_<n>__` placeholder names a
  * chain materialized before it. */
class Sf1ChainPlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("every sf1 chain plan ends in its rollup and reads only earlier chains") {
    assume(new java.io.File(s"$sfDir/documents.parquet").exists,
      s"no testdata at $sfDir")
    val plans = SparkEntry.specs.flatMap { q =>
      q.sf1Chains.map(chains => q.name -> chains(spark, sfDir)) }
    assert(plans.map(_._1).sorted == Seq("d22_dedup_audit", "g10_modularity",
      "m15_caption_consolidation", "t52_filter_funnel", "t55_data_card"))
    val placeholder = "__CHAIN_(\\w+?)__".r
    for ((name, plan) <- plans) {
      val entries = plan.map(_._1)
      assert(entries.last == "rollup", s"$name: $entries")
      assert(entries.distinct == entries, s"$name: $entries")
      for (((entry, sql), i) <- plan.zipWithIndex) {
        val unstaged = placeholder.findAllMatchIn(sql).map(_.group(1))
          .filterNot(entries.take(i).contains).toSeq
        assert(unstaged.isEmpty, s"$name/$entry reads unstaged $unstaged")
      }
    }
    Caches.release(spark)
  }
}
