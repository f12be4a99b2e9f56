package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{EventQueries, GraphQueries, PipelineQueries, RelationalQueries, TextQueries, VectorQueries}

/** The flagship [[entry]] query plus the registry of
  * every declared query. Each query is one [[QuerySpec]] in its
  * operator module's `specs`; [[specs]] concatenates the six modules
  * and [[queries]]/[[oracles]] are name-keyed views built once from
  * it. Every query's oracle is hash-checked against DuckDB by the
  * correctness dump ([[Verify]]); ScalaTest golden/property specs
  * cover the rest.
  */
object SparkEntry {

  /** Flagship: exact brute-force cosine top-k retrieval — the
    * reference's core query shape (SURVEY.md §2.2 R1–R7) over the
    * driver's embeddings table. Runs on sf0.001; driver smoke-checks
    * rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.load(spark, dir, "embeddings")
    val q = graft.functions.Embedding.embed("are robots friendly to humans", 64)
    emb
      .withColumn("similarity",
        VectorFunctions.cosine_similarity(col("embedding"), lit(q)))
      .filter(col("similarity") >= -1.0)
      .select(col("vec_id"), col("label"), col("similarity"))
      .orderBy(desc("similarity"), asc("vec_id"))
      .limit(10)
  }

  /** Every declared query, in registry order (the order [[Bench]]
    * times the headline in). */
  val specs: Seq[QuerySpec] =
    RelationalQueries.specs ++ VectorQueries.specs ++
      TextQueries.specs ++ PipelineQueries.specs ++
      EventQueries.specs ++ GraphQueries.specs

  /** Each query's plan, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  /** Each query's oracle, by name (see [[QuerySpec.oracle]]). */
  val oracles: Map[String, (SparkSession, String) => Option[String]] =
    specs.map(q => q.name -> q.oracle).toMap
}
