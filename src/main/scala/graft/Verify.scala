package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run each selected query against `sfDir`, write its result to
    * `outDir/<name>`, then write the selected queries' oracles (from
    * `SparkEntry.oracles`, evaluated on `sfDir`) as
    * `outDir/oracle_sql.json`, and the names of the selected queries
    * that threw as `outDir/failed.json`. Shared by [[main]] (the
    * driver's gate) and the in-suite Unicode fixture gate (UnicodeFixtureGateSpec),
    * so the CI gate exercises the REAL dump path, not a parallel
    * reimplementation. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String] = Set.empty): Unit = {
    new java.io.File(outDir).mkdirs()
    // retired-recipe sidecars (superseded store prefixes) are garbage
    // the moment the recipe bumps — sweep them here so they never
    // accumulate across rounds; temp-dir-keyed sidecars from PREVIOUS
    // processes are equally unreachable (random temp names), except
    // the ones keyed to the corpus THIS dump runs against
    graft.store.AnnIndexes.gcRetired(spark)
    graft.store.AnnIndexes.gcTempKeyed(spark,
      keepKey = graft.store.AnnIndexes.keyOf(sfDir))
    // sequential by design: concurrent submission of the heavy queries
    // (pairwise joins + embedding pipelines) thrashes a single local
    // JVM (measured >4× slower than sequential at sf0.01)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      val threw =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // queries persist() shared projections internally; drop them so
      // the cache does not accumulate across the ~70-query sweep.
      // Caches.release additionally frees localCheckpoint blocks
      // (dup-cluster labels) that clearCache cannot see.
      Caches.release(spark)
      spark.catalog.clearCache()
      threw
    }.sorted
    // evaluated after the queries ran, so corpus-derived oracles reuse
    // the sidecars their queries built (run order changes only cost)
    val json = SparkEntry.oracles
      .filter { case (name, _) => selected.contains(name) }
      .flatMap { case (name, oracle) => oracle(spark, sfDir).map(name -> _) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      failed.map(jsonString).mkString("[", ",", "]"))
  }

  /** `s` as a quoted JSON string. Escapes backslash, quote and ALL
    * control chars (<0x20): a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * correctness check. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), rest) = args.splitAt(2)
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration on one query without the ~70-query sweep)
    val only: Set[String] = rest.headOption
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Tables.session(s"local[$cpus]", cpus)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }
}
