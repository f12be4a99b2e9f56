package graft.store

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Parquet-backed catalog mirroring the reference's relational schema
  * (reference `config/init.sql`): models / sources / source_chunks /
  * source_chunk_data — with the reference's upsert semantics
  * re-expressed as set operations (SURVEY.md §2.2 R8–R12, §7.4).
  *
  * Scale stances:
  *  - `models` and `sources` are tiny dimensions: an upsert whose
  *    table and batch each hold at most `DriverUpsertRows` rows runs
  *    on the driver — one bounded collect of each, the dedup, key
  *    match and numbering in plain Scala, one append — and returns
  *    the table as a local relation, so a lookup or broadcast of it
  *    costs no job. Past that size the same upsert is left-anti joins
  *    + the distributed numbering of [[withSequentialIds]], several
  *    jobs that each re-evaluate the batch. Every read side broadcasts
  *    the table.
  *  - chunk tables are fact tables: append-only Parquet, partitioned
  *    by `model_id` (the reference's every query filters one model —
  *    partition pruning), vectors and text in separate *columns* (the
  *    reference's manual two-table vertical split collapses into
  *    columnar pruning, SURVEY.md §4.1).
  *  - chunk ids are deterministic composites (source_id << 20 |
  *    chunk_number): unique, stable under retries and any
  *    partitioning, no global sequence bottleneck — `SERIAL` semantics
  *    that survive a 1000-executor cluster (SURVEY.md §7.4 decision 2).
  */
object Catalog {

  val ModelsSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("embedding_dim", IntegerType, nullable = false)))

  val SourcesSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("author", StringType, nullable = true),
    StructField("title", StringType, nullable = true),
    StructField("source_type", IntegerType, nullable = true),
    StructField("url", StringType, nullable = true),
    StructField("genre", StringType, nullable = true),
    StructField("subgenre", StringType, nullable = true),
    StructField("year", IntegerType, nullable = true),
    StructField("model_id", LongType, nullable = false)))

  // -------------------------------------------------------------
  // R11 / R12: scalar derivations
  // -------------------------------------------------------------

  /** Fiction/nonfiction classification (reference
    * `src/lib/database.py:97-126`): lowercase/trim `text_type`
    * membership, fallback to `genre` membership, else nonfiction (2).
    * Null-tolerant. */
  val FictionTypes: Seq[String] = Seq(
    "short story", "novel", "novella", "poem", "fiction",
    "science fiction", "sci-fi", "sf", "fantasy", "fable", "drama", "play")
  val FictionGenres: Seq[String] = Seq(
    "science fiction", "fantasy", "horror", "mystery", "thriller")

  def sourceTypeOf(textType: Column, genre: Column): Column =
    when(lower(trim(textType)).isin(FictionTypes: _*), lit(1))
      .when(lower(trim(genre)).isin(FictionGenres: _*), lit(1))
      .otherwise(lit(2))

  /** Year extraction (reference `src/lib/database.py:128-136`):
    * first 4 chars of the string form → int, null on garbage — the
    * digit gate reproduces the reference's try/except-to-None under
    * ANSI mode (where a bare cast would throw). */
  def yearOf(publicationDate: Column): Column = {
    val s4 = substring(publicationDate.cast("string"), 1, 4)
    when(s4.rlike("^\\s*\\d+\\s*$"), s4.cast("int"))
  }

  // -------------------------------------------------------------
  // R8: models upsert (insert-if-absent by name)
  // -------------------------------------------------------------

  /** Spark 4 resolves file sources lazily (at first analysis), so a
    * try/catch around `spark.read` cannot detect a missing table —
    * probe the filesystem explicitly. */
  private def readOrEmpty(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Sequential id assignment WITHOUT a global single-task sort — the
    * two-phase distributed prefix sum of
    * [[graft.operators.Packing.withPackOffsets]] applied to row
    * counting: bucket the batch into contiguous key ranges (sampled
    * map-side boundaries, [[graft.operators.RangeBuckets]]), row_number
    * WITHIN each bucket (parallel), then offset each bucket by
    * the running sum of per-bucket counts. The only unpartitioned
    * window runs over #buckets subtotal rows, never batch rows, so
    * a million-row novel batch numbers itself across the cluster
    * instead of sorting in one task. For a unique key order the ids
    * are exactly `startId+1 .. startId+n` in (orderCols) order —
    * identical to `row_number() OVER (ORDER BY orderCols)` — for ANY
    * partition count (range boundaries move work between phases but
    * never change the global order). The shape is not free: the
    * boundary sample and the subtotal aggregate are jobs of their own,
    * each re-evaluating `df`, so the catalog upserts use it only past
    * `DriverUpsertRows`. */
  private[graft] def withSequentialIds(
      df: DataFrame, orderCols: Seq[String], startId: Long): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // the local-rank window and the subtotal aggregate MUST agree on
    // bucket assignment — `_part` is a pure map-side function of the
    // key (sampled boundaries frozen as broadcast literals, see
    // graft.operators.RangeBuckets), so both branches compute
    // identical buckets under any AQE re-planning, with nothing
    // persisted. Requires a deterministic `df` (both branches
    // re-evaluate it) — true of every upsert batch here.
    val bounds = graft.operators.RangeBuckets.boundaries(df, orderCols, parts)
    val parted = df.withColumn("_part",
      graft.operators.RangeBuckets.bucket(orderCols.map(col), bounds))
    val wLocal = Window.partitionBy("_part").orderBy(orderCols.map(col): _*)
    val local = parted.withColumn("_rn", row_number().over(wLocal))
    val wParts = Window.orderBy("_part")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bases = parted.groupBy("_part")
      .agg(count(lit(1)).as("_n"))
      .withColumn("_base",
        coalesce(sum(col("_n")).over(wParts) - col("_n"), lit(0L)))
      .select("_part", "_base")
    local.join(broadcast(bases), "_part")
      .withColumn("id", col("_base") + col("_rn") + lit(startId))
      .drop("_part", "_rn", "_base")
  }

  /** Largest table, and largest batch, an upsert handles on the
    * driver: a few MB of rows. Either one past it takes the
    * distributed path. */
  private val DriverUpsertRows = 20000

  /** Insert-if-absent into the dimension table at `path`: drops
    * within-batch duplicates of `keyCols` (the first in scan order
    * wins) and rows whose key is already stored (null-safe, `<=>`),
    * numbers the novel rows from the stored max id + 1 in `keyCols`
    * order — `row_number() OVER (ORDER BY keyCols)` — appends them,
    * and returns the full table. `keyCols` is the table's unique key,
    * so the numbering order has no ties.
    *
    * The driver path's collects are bounded at `driverRows + 1` rows,
    * so the collect that feeds it is also its size check. */
  private def upsert(spark: SparkSession, path: String, schema: StructType,
      incoming: DataFrame, keyCols: Seq[String], driverRows: Int): DataFrame = {
    val fields = schema.fields.toIndexedSeq.filter(_.name != "id")
    val batch = incoming.select(
      fields.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    val stored = readOrEmpty(spark, path, schema).limit(driverRows + 1).collect()
    lazy val rows = batch.limit(driverRows + 1).collect()
    if (stored.length > driverRows || rows.length > driverRows)
      upsertDistributed(spark, path, schema, batch, keyCols)
    else {
      def keyOf(r: Row): Seq[Any] = keyCols.map(r.getAs[Any](_))
      val storedKeys = stored.iterator.map(keyOf).toSet
      val seen = scala.collection.mutable.HashSet.empty[Seq[Any]]
      val novel = rows.toSeq
        .filter { r => val k = keyOf(r); !storedKeys(k) && seen.add(k) }
        .sortBy(r => Row.fromSeq(keyOf(r)))(
          graft.operators.RangeBuckets.rowOrdering)
      val maxId = stored.iterator.map(_.getAs[Long]("id")).maxOption.getOrElse(0L)
      val numbered = novel.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(schema.fieldNames.toIndexedSeq.map(n =>
          if (n == "id") maxId + 1 + i else r.getAs[Any](n)))
      }
      if (numbered.nonEmpty) {
        val written = StructType(schema.fields.map(f =>
          if (f.name == "id") f else batch.schema(f.name)))
        spark.createDataFrame(numbered.asJava, written)
          .coalesce(1).write.mode(SaveMode.Append).parquet(path)
      }
      // a file read declares every column nullable; so does this table
      spark.createDataFrame((stored.toSeq ++ numbered).asJava,
        StructType(schema.fields.map(_.copy(nullable = true))))
    }
  }

  /** [[upsert]] past `DriverUpsertRows`: the same rows and ids from a
    * null-safe left-anti join and [[withSequentialIds]]. */
  private def upsertDistributed(spark: SparkSession, path: String,
      schema: StructType, batch: DataFrame, keyCols: Seq[String]): DataFrame = {
    val existing = readOrEmpty(spark, path, schema)
    val maxId = existing.agg(coalesce(max("id"), lit(0L))).head().getLong(0)
    val deduped = batch.dropDuplicates(keyCols)
    val novel = withSequentialIds(
        deduped.join(existing,
          keyCols.map(c => deduped(c) <=> existing(c)).reduce(_ && _),
          "left_anti"),
        keyCols, maxId)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    if (!novel.isEmpty)
      novel.write.mode(SaveMode.Append).parquet(path)
    spark.read.schema(schema).parquet(path)
  }

  /** Insert-if-absent by `name`; returns the full models table. New
    * ids continue from the current max in `name` order. A small table
    * costs at most two jobs here — the collect of the stored rows and
    * the append — and comes back as a local relation. */
  def upsertModels(
      spark: SparkSession, path: String, incoming: DataFrame): DataFrame =
    upsertModels(spark, path, incoming, DriverUpsertRows)

  /** [[upsertModels]] with the driver path's row cap given. */
  private[graft] def upsertModels(spark: SparkSession, path: String,
      incoming: DataFrame, driverRows: Int): DataFrame =
    upsert(spark, path, ModelsSchema, incoming, Seq("name"), driverRows)

  // -------------------------------------------------------------
  // R9/R10: sources null-safe upsert (first-writer-wins)
  // -------------------------------------------------------------

  /** Null-safe unique key: (model_id, author, title, year) — the
    * reference's UNIQUE constraint + IS NOT DISTINCT FROM lookup
    * (reference `config/init.sql:23`, `src/lib/database.py:152-167`).
    * Spark's `<=>` is the exact semantic match. */
  private val SourceKey = Seq("model_id", "author", "title", "year")

  /** Dedup-within-batch + anti-join-against-existing + append: the
    * job-level equivalent of the reference's per-row
    * insert-or-retry-on-IntegrityError (SURVEY.md §7.4 decision 4).
    * Returns the full sources table. */
  def upsertSources(
      spark: SparkSession, path: String, incoming: DataFrame): DataFrame =
    upsertSources(spark, path, incoming, DriverUpsertRows)

  /** [[upsertSources]] with the driver path's row cap given. */
  private[graft] def upsertSources(spark: SparkSession, path: String,
      incoming: DataFrame, driverRows: Int): DataFrame =
    upsert(spark, path, SourcesSchema, incoming, SourceKey, driverRows)

  /** Null-safe point lookup (R9). */
  def lookupSource(
      sources: DataFrame, modelId: Long, author: Option[String],
      title: Option[String], year: Option[Int]): DataFrame =
    sources.filter(
      col("model_id") <=> lit(modelId) &&
        col("author") <=> lit(author.orNull) &&
        col("title") <=> lit(title.orNull) &&
        col("year") <=> year.map(lit(_)).getOrElse(lit(null)))

  // -------------------------------------------------------------
  // S9: chunk sink
  // -------------------------------------------------------------

  /** Deterministic chunk id: source_id << 20 | chunk_number (≤ ~1M
    * chunks per source). Stable under retries/speculation — the
    * distributed replacement for BIGSERIAL. */
  def chunkId(sourceId: Column, chunkNumber: Column): Column =
    shiftleft(sourceId, 20).bitwiseOR(chunkNumber.cast("long"))

  /** Write enriched, embedded chunks (one row carries id, source_id,
    * model_id, embedding, chunk_text, metadata) partitioned by
    * model_id. The reference's two-table vertical split is not
    * reproduced: Parquet columnar pruning reads only the queried
    * columns (embedding for the scan; text/metadata post-top-k). */
  def writeChunks(chunks: DataFrame, path: String): Unit =
    chunks
      .write.mode(SaveMode.Append)
      .partitionBy("model_id")
      .parquet(path)

  /** Compact a chunk store: every append adds files, and the small-file
    * count — not data volume — eventually dominates scan planning. One
    * coalescing rewrite into a temp dir, then a swap.
    *
    * EXCLUSIVE-WRITER operation: rows appended between the snapshot
    * read and the swap would be lost with the old dir — run it like any
    * table compaction, with writers paused (a real deployment holds a
    * table lock or compacts into a new snapshot version). A crash
    * between the two renames leaves `<path>._old`; the next invocation
    * restores it automatically.
    *
    * Files are sized by a range-repartition on (model_id, id): a
    * single hot model still splits across ~totalBytes/targetBytesPerFile
    * tasks (hash-partitioning by model_id alone would rebuild one giant
    * file per model). Returns (filesBefore, filesAfter). */
  def compactChunks(
      spark: SparkSession, path: String,
      targetBytesPerFile: Long = 128L << 20): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new org.apache.hadoop.fs.Path(path + "._old")
    if (!fs.exists(p) && fs.exists(old)) {
      // recover from a crash between the two swap renames
      require(fs.rename(old, p), s"compact: cannot restore $path from ._old")
    }
    require(fs.exists(p), s"compact: no chunk store at $path")
    def fileCount(dir: org.apache.hadoop.fs.Path): Long = {
      val it = fs.listFiles(dir, true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    val before = fileCount(p)
    val df = spark.read.parquet(path)
    val totalBytes = fs.getContentSummary(p).getLength
    val parts = math.max(1, (totalBytes / targetBytesPerFile).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact")
    fs.delete(tmp, true)
    df.repartitionByRange(parts, col("model_id"), col("id"))
      .write.mode(SaveMode.Overwrite).partitionBy("model_id")
      .parquet(tmp.toString)
    fs.delete(old, true)
    require(fs.rename(p, old), s"compact: cannot move $path aside")
    require(fs.rename(tmp, p), s"compact: cannot move compacted store into place")
    fs.delete(old, true)
    (before, fileCount(p))
  }
}
