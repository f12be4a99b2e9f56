package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.{EventQueries, GraphQueries, PipelineQueries, RelationalQueries, TextQueries, VectorQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full declared operator inventory; each entry with a
  * matching `oracles` entry is hash-checked against DuckDB by the driver
  * (CORRECTNESS_r{N}.json); entries without oracle SQL get a rows-only
  * check and are additionally covered by ScalaTest golden/property
  * specs.
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

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ VectorQueries.queries ++
      TextQueries.queries ++ PipelineQueries.queries ++
      EventQueries.queries ++ GraphQueries.queries

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables, as a function of the corpus `(spark, dir)`
    * and nothing else: a constant for most queries, derived from the
    * corpus (a trained model, an emitted pair set, an alphabet) by the
    * query's own deterministic builders for the rest. Omitted for
    * non-SQL-expressible ops, and None for a degenerate corpus → the
    * driver records a weaker rows-only check. */
  lazy val oracles: Map[String, (SparkSession, String) => Option[String]] =
    (RelationalQueries.oracleSql ++ VectorQueries.oracleSql ++
      TextQueries.oracleSql ++ EventQueries.oracleSql ++
      PipelineQueries.oracleSql ++ GraphQueries.oracleSql)
      .map { case (name, sql) =>
        name -> ((_: SparkSession, _: String) => Some(sql)) } ++
      VectorQueries.corpusOracles ++ TextQueries.corpusOracles ++
      PipelineQueries.corpusOracles
}
