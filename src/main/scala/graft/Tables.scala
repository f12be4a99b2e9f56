package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver's synthetic testdata
  * (TESTDATA.md): TPC-H-ish star schema + events/documents/embeddings.
  *
  * Scans are plain `spark.read.parquet` so Catalyst's vectorized reader,
  * predicate pushdown and column pruning apply — the manual
  * vertical-partition trick the reference needed
  * (reference `config/init.sql:27-38`) is subsumed by columnar pruning.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` physical type varies by testdata
    * generation: TIMESTAMP(NANOS) (readable only as long, via the
    * legacy conf; integer-divided to micros — no double round-trip,
    * ns values exceed 2^53) or a plain micros TIMESTAMP (read natively,
    * as NTZ under the default inference). This expression yields epoch
    * MICROSECONDS as BIGINT for either physical type — the session is
    * pinned UTC, so the NTZ→LTZ cast is wall-clock-identical. */
  def eventsTsMicros(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
  }

  /** Raw events scan plus the encoding flag, self-contained: sets the
    * legacy nanos conf BEFORE schema inference, so this is safe as the
    * first events access of a session (a bare `load` would throw on
    * TIMESTAMP(NANOS) schema inference without the conf). Callers that
    * only need the schema probe use this too — one footer read, no
    * ordering dependency on a prior `events()` call. */
  def eventsRaw(spark: SparkSession, dir: String): (DataFrame, Boolean) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    (df, df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
  }

  /** Events with `ts` normalized to a microsecond TimestampType, from
    * either physical encoding (see [[eventsTsMicros]]). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val (df, _) = eventsRaw(spark, dir)
    df.withColumn("ts",
      org.apache.spark.sql.functions.timestamp_micros(
        eventsTsMicros(df.schema)))
  }

  /** Events with `ts` replaced by epoch-micros BIGINT `us`, computed
    * directly from the physical encoding — for operators on the
    * numeric time axis (as-of joins), this skips the per-row
    * long→TimestampType→long round-trip that `events()` +
    * `unix_micros` would pay (measured ~15% of s4's wall at sf0.1). */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    val (df, _) = eventsRaw(spark, dir)
    df.withColumn("us", eventsTsMicros(df.schema)).drop("ts")
  }

  /** The s4 fast path bundled: events-with-`us` plus footer-statistics
    * time bounds ALREADY SCALED to µs for either physical encoding
    * (nanos stats ÷ 1000, micros stats verbatim). None when any row
    * group lacks INT64 stats — callers fall back to a scan. */
  def eventsUsWithBounds(spark: SparkSession, dir: String)
      : (DataFrame, Option[(Long, Long)]) = {
    val (df, isNanos) = eventsRaw(spark, dir)
    val bounds = store.ParquetStats
      .longColumnBounds(spark, s"$dir/events.parquet", "ts")
      .map { case (lo, hi) => if (isNanos) (lo / 1000, hi / 1000) else (lo, hi) }
    (df.withColumn("us", eventsTsMicros(df.schema)).drop("ts"), bounds)
  }

  /** `df` rebalanced to the session's parallelism ONLY when the file
    * layout under-parallelizes it — the local-testdata artifact where a
    * table is one sub-row-group parquet file, so every scan partition
    * (and the whole map stage before the first shuffle: n-gram
    * construction, per-row HOF work) lands on one core. At cluster
    * scale a corpus scan has ≥ cores splits and this is a provable
    * no-op (the condition is false) — the expensive-at-scale
    * alternative, an unconditional corpus repartition, is exactly what
    * this helper exists to avoid. Row placement never affects the
    * callers' semantics (they aggregate by contained keys). */
  def balanced(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // partition count read from the planned scan itself (no df.rdd —
    // that conversion builds a whole second RDD lineage with a to-Row
    // projection just to read one number)
    if (org.apache.spark.sql.GraftShim.planPartitions(df) < target)
      df.repartition(target)
    else df
  }

  /** Silence WindowExec's "No Partition Defined" warning. Every
    * unpartitioned window in this library is a BOUNDED subtotal (≤
    * #buckets, #types² or top-k rows — the documented house two-phase
    * shape), so each instance is a false alarm; hundreds of them per
    * bench/test run bury real single-partition regressions (round-6
    * "what's wrong" #3). Scoped to the one logger — a genuinely
    * unpartitioned corpus window would still show up in Spark UI
    * metrics and the plan specs that pin partition counts. */
  def quietBoundedWindowWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** Entries of Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), sized to the
    * engine's working set so a warm query reuses its compiled classes:
    *  - one pass of the curation rotation (t36, g1, d11, r3) compiles
    *    about 200–225 classes (the driver's and the tasks' copy of each
    *    whole-stage pipeline count apart);
    *  - the cache is a Guava LRU split over 4 segments that each hold
    *    a quarter of the bound, so the bound needs head-room over the
    *    working set or one hot segment evicts early;
    *  - a retained class costs about 14 KB of metaspace, so 1,024
    *    entries cap the cache near 14 MB.
    * Under the default, every pass of a rotation larger than the cache
    * missed on every class: a 20–180 ms Janino compile each, plus a new
    * class that runs interpreted until the JIT warms it again.
    * A static conf: the cache is built once per JVM, from the session
    * that is active when the first class compiles, so a JVM whose first
    * session came from another builder keeps that builder's bound. */
  val CodegenCacheEntries = 1024

  /** Session tuned for the target: AQE on, shuffle width sized to the
    * local core count (the driver passes 32 via local[32]), generated
    * classes cached for the working set ([[CodegenCacheEntries]]); at
    * cluster scale the same settings defer partition sizing to AQE. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietBoundedWindowWarnings()
    spark
  }
}
