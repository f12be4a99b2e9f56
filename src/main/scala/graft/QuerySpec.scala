package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: everything the engine, the correctness dump and
  * the benchmark know about it, in one place. Each operator module
  * lists its queries as a `specs` sequence; [[SparkEntry.specs]] is
  * their concatenation and the name-keyed views are built from it.
  *
  * @param name the query's name, unique across all modules
  * @param run the query over the corpus at `(spark, dir)`
  * @param oracle SQL that DuckDB runs on the same parquet tables to
  *   reproduce `run`'s result, as a function of the corpus and nothing
  *   else: a constant for most queries ([[QuerySpec.sql]]), derived
  *   from the corpus (a trained model, an emitted pair set, an
  *   alphabet) by the query's own deterministic builders for the rest.
  *   None for a degenerate corpus, which gets a rows-only check.
  * @param headline timed by [[Bench]]: one representative per operator
  *   family, heavy variants preferred (the scalable path, not the
  *   O(N²) oracle); the reasons for leaving a query out sit beside it
  * @param bench the plan [[Bench]] times instead of `run`, where the
  *   declared query carries oracle ballast (an exact verification side
  *   the production path exists to avoid); `run` stays what the dump
  *   checks
  * @param sf1Chains the chain-at-a-time oracle plan for the composite
  *   audits whose one-WITH replay exceeds DuckDB's temp disk at sf1:
  *   each decision chain is materialized to parquet separately (peak
  *   temp usage is then one chain) and only the last entry runs over
  *   the materialized tables. An ORDERED (name, sql) list; the chain
  *   SQLs are the same replay blocks the sf0.x oracle interpolates,
  *   only re-staged. `__CHAIN_<name>__` placeholders name an earlier
  *   entry and are replaced with read_parquet refs by
  *   tools/sf1_chain_oracle.py; the last entry, `rollup`, must
  *   hash-match the engine's own output.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: (SparkSession, String) => Option[String],
    headline: Boolean = false,
    bench: Option[(SparkSession, String) => DataFrame] = None,
    sf1Chains: Option[(SparkSession, String) => Seq[(String, String)]] = None)

object QuerySpec {

  /** A constant oracle. The SQL is built when the oracle is called, not
    * when the module declaring it initializes. */
  def sql(text: => String): (SparkSession, String) => Option[String] =
    (_, _) => Some(text)
}
