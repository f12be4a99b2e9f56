package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: lay documents end-to-end in a deterministic order
  * (by id) and assign each one its starting offset in the concatenated
  * token stream, then the fixed-size context window ("pack") that
  * offset lands in — the standard pre-training step that turns a
  * ragged corpus into dense ctx-sized training examples.
  *
  * The offset is a running token total over the packing order, never
  * a single-partition `SUM(n_tokens) OVER (ORDER BY id)`: every
  * `*PackOffsets` form is [[RangeBuckets.runningSums]], the two-phase
  * distributed prefix sum (its scaladoc holds the algorithm and why
  * it stays exact under AQE with nothing persisted).
  */
object Packing {

  /** Adds `start_offset` (first-token position of this row in the
    * concatenated stream), `pack_id` (= start_offset / ctxSize) and
    * `n_spans` (how many ctx windows the row touches; rows longer than
    * ctxSize straddle several). `idCol` must be unique — it defines
    * the packing order. Requires a deterministic `df`. */
  def withPackOffsets(
      df: DataFrame, idCol: String, tokensCol: String,
      ctxSize: Int, numParts: Int = 0): DataFrame = {
    require(ctxSize > 0, "ctxSize must be positive")
    val parts =
      if (numParts > 0) numParts
      else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    RangeBuckets.runningSums(df, Nil, Seq(idCol),
        Seq("_end" -> col(tokensCol)), parts)
      .withColumn("start_offset", col("_end") - col(tokensCol))
      .transform(withSpans(_, tokensCol, ctxSize))
      .drop("_end")
  }

  /** `pack_id` (the ctx window `start_offset` lands in) and `n_spans`
    * (how many windows the row's tokens touch; 1 for an empty row). */
  private def withSpans(
      df: DataFrame, tokensCol: String, ctxSize: Int): DataFrame =
    df.withColumn("pack_id", floor(col("start_offset") / ctxSize))
      .withColumn("n_spans",
        when(col(tokensCol) > 0,
          floor((col("start_offset") + col(tokensCol) - lit(1)) / ctxSize)
            - col("pack_id") + lit(1))
          .otherwise(lit(1L)))

  /** The materialized packing plan: one row per (document, context
    * window) segment — a document spanning several ctx windows emits
    * one row per window with the token count that lands in it. This is
    * what the example writer executes: every window's segments sum to
    * exactly ctxSize (except the final window), with documents split
    * at window boundaries. Pure map stage on top of
    * [[withPackOffsets]] — the explode generates at most
    * ceil(n/ctxSize)+1 rows per doc, no extra shuffle. */
  def packSegments(
      df: DataFrame, idCol: String, tokensCol: String,
      ctxSize: Int): DataFrame =
    segmentsFromOffsets(
      withPackOffsets(df, idCol, tokensCol, ctxSize), tokensCol, ctxSize)

  /** The (document, context window) segment explode over an
    * already-offset frame (any of the `*PackOffsets` outputs) — pure
    * map work, at most ceil(n/ctxSize)+1 rows per doc. */
  private[graft] def segmentsFromOffsets(
      offsets: DataFrame, tokensCol: String, ctxSize: Int): DataFrame =
    offsets
      .filter(col(tokensCol) > 0)
      .withColumn("span_idx", explode(sequence(lit(0L), col("n_spans") - 1)))
      .withColumn("pack_id", col("pack_id") + col("span_idx"))
      .withColumn("seg_tokens",
        least(col("start_offset") + col(tokensCol),
            (col("pack_id") + 1) * ctxSize)
          - greatest(col("start_offset"), col("pack_id") * ctxSize))
      .drop("span_idx")

  /** Materialize packed training shards: the pack segments grouped
    * into shards of `packsPerShard` context windows each and written
    * `partitionBy(shard_id)` — the final sink of the packing pipeline
    * (a trainer streams one shard directory per step group). Each
    * shard holds exactly packsPerShard × ctxSize tokens of the
    * concatenated stream (the last shard less), because segments —
    * not whole documents — are assigned to shards, so a document
    * straddling a shard boundary contributes exactly its in-shard
    * tokens to each side. One repartition on shard_id bounds writer
    * memory; within-shard order is restored by (pack_id, id) sort. */
  def writeShards(
      df: DataFrame, idCol: String, tokensCol: String,
      ctxSize: Int, packsPerShard: Int, path: String): Unit = {
    require(packsPerShard > 0, "packsPerShard must be positive")
    packSegments(df, idCol, tokensCol, ctxSize)
      .withColumn("shard_id", expr(s"pack_id div $packsPerShard"))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col("pack_id"), col(idCol))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard_id")
      .parquet(path)
  }

  /** Curriculum pack offsets (round 15 — p10): within each phase,
    * rows take p4's reproducible md5-shuffled positions
    * (`md5(id||salt)` — with salt "-p9" that IS p9's curriculum_key,
    * so the schedule's order key and the packing order cannot drift)
    * and pack offsets restart at 0 per phase. Emits `phase`, `pos`,
    * `start_offset`, `pack_id`, `n_spans`, `shard_id` (= pack_id div
    * packsPerShard) per row.
    *
    * ONE [[RangeBuckets.runningSums]] partitioned by phase, ordered by
    * (preOrderCols, md5, id), carrying the token sum and the position
    * count together: never a global sort, never a pass per phase, one
    * corpus pass. `seeds` (one row per phase: `_tok_base`,
    * `_pos_base`) continue an existing artifact's per-phase streams. */
  def perPhasePackOffsets(
      df: DataFrame, idCol: String, tokensCol: String, phaseCol: String,
      salt: String, ctxSize: Int, packsPerShard: Int,
      seeds: Option[DataFrame] = None,
      preOrderCols: Seq[String] = Nil): DataFrame = {
    require(ctxSize > 0, "ctxSize must be positive")
    require(packsPerShard > 0, "packsPerShard must be positive")
    val parts = df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val running = RangeBuckets.runningSums(
      df.withColumn("_h", md5(concat(col(idCol).cast("string"), lit(salt)))),
      Seq(phaseCol), preOrderCols ++ Seq("_h", idCol),
      Seq("_end" -> col(tokensCol), "_pos" -> lit(1L)), parts)
    // incremental seed (round 16): per-phase token/position bases from
    // an existing artifact's manifest — the new batch's offsets
    // CONTINUE each phase's stream instead of restarting at 0. Phases
    // absent from the seed start fresh (coalesce 0). The seed is one
    // row per phase — always broadcastable.
    val seeded = seeds match {
      case Some(sd) =>
        running.join(broadcast(sd
            .select(col(phaseCol), col("_tok_base"), col("_pos_base"))),
          Seq(phaseCol), "left")
      case None =>
        running.withColumn("_tok_base", lit(0L))
          .withColumn("_pos_base", lit(0L))
    }
    seeded
      .withColumn("pos", coalesce(col("_pos_base"), lit(0L)) + col("_pos"))
      .withColumn("start_offset",
        coalesce(col("_tok_base"), lit(0L)) + col("_end") - col(tokensCol))
      .transform(withSpans(_, tokensCol, ctxSize))
      .withColumn("shard_id", expr(s"pack_id div $packsPerShard"))
      .drop("_h", "_end", "_pos", "_tok_base", "_pos_base")
  }

  /** The curriculum segment plan: [[perPhasePackOffsets]]' output
    * exploded to one row per (document, context window) with the
    * shard_id recomputed from the SEGMENT's window (a straddling
    * document contributes each side to its own shard) — the shared
    * body of the writer, the append path and the p12 manifest query. */
  private[graft] def perPhaseSegments(
      offsets: DataFrame, tokensCol: String, ctxSize: Int,
      packsPerShard: Int): DataFrame =
    segmentsFromOffsets(offsets, tokensCol, ctxSize)
      .withColumn("shard_id", expr(s"pack_id div $packsPerShard"))

  /** Materialize the CURRICULUM shards (round 15): the per-phase
    * packing plan written `partitionBy(phase, shard_id)` — a trainer
    * streams phase 1's shard directories before phase 2's (easy→hard)
    * and within a phase reads dense ctx windows in the reproducible
    * md5 order. Same invariants as [[writeShards]], now PER PHASE:
    * every non-final shard of a phase holds exactly
    * packsPerShard × ctxSize tokens (segments, not whole documents,
    * cross shard boundaries), and shard contents are phase-monotone
    * by construction of the partitioning. One repartition on
    * (phase, shard_id) bounds writer memory. */
  def writeCurriculumShards(
      df: DataFrame, idCol: String, tokensCol: String, phaseCol: String,
      salt: String, ctxSize: Int, packsPerShard: Int, path: String): Unit = {
    require(packsPerShard > 0, "packsPerShard must be positive")
    // zero-token documents carry no packable content and do NOT
    // participate in the artifact (they would emit no segments
    // anyway, but an assigned-yet-invisible position would also make
    // the manifest's max_pos undercount the per-phase position base
    // an APPEND seeds from — a latent pos collision). Phase and token
    // columns are canonicalized to LONG: the appender compares phase
    // values JVM-side against the manifest's longs, where a boxed
    // Integer never equals a boxed Long (silent type drift between an
    // int-phased write and a later append would otherwise skip the
    // tail reopen and drop its rows).
    val offsets = perPhasePackOffsets(
      canonicalArtifactInput(df, tokensCol, phaseCol),
      idCol, tokensCol, phaseCol, salt, ctxSize, packsPerShard)
    perPhaseSegments(offsets, tokensCol, ctxSize, packsPerShard)
      .repartition(col(phaseCol), col("shard_id"))
      .sortWithinPartitions(col(phaseCol), col("shard_id"), col("pack_id"),
        col("pos"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy(phaseCol, "shard_id")
      .parquet(path)
    // manifest generation 0, computed from WHAT IS ON DISK (a
    // column-pruned read of the keys only — the manifest describes the
    // artifact, not the plan that produced it); `_manifest` is
    // underscore-prefixed so spark.read.parquet(path) of the shard
    // data never picks it up
    readShardData(df.sparkSession, path, phaseCol)
      .transform(curriculumManifest(_, idCol, phaseCol))
      .withColumn("gen", lit(0L))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/$ManifestDir")
    // the packing PARAMETERS travel with the artifact (one row): an
    // append run with a different ctx/pps/salt would interleave
    // incompatible pack boundaries silently — appendCurriculumShards
    // cross-checks against this sidecar, and verifyShardBudgets reads
    // the shard budget from it
    locally {
      val s = df.sparkSession
      import s.implicits._
      Seq((ctxSize.toLong, packsPerShard.toLong, salt))
        .toDF("ctx_size", "packs_per_shard", "salt")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/$ParamsDir")
    }
  }

  /** Name of the packing-parameters sidecar inside a curriculum-shard
    * artifact (ctx_size, packs_per_shard, salt — one row). */
  val ParamsDir = "_params"

  /** Name of the append-batch ledger inside a curriculum-shard
    * artifact: one row per committed append (batch_id, n_docs) — the
    * exactly-once replay-skip discipline
    * [[graft.operators.Cdc]]'s streaming rollup established, applied
    * to the pack appender (an orchestrator that retries a committed
    * append with the same batch id gets a no-op, never a double
    * pack). Underscore-prefixed like the manifest. */
  val BatchesDir = "_batches"

  /** Ceiling on the number of manifest spans the id-overlap guard
    * will verify EXACTLY (a partition-pruned membership check per
    * overlapping shard). A monotone-id producer overlaps zero spans;
    * a replayed committed batch overlaps its own shards and is caught;
    * past this many overlaps the guard refuses instead of scanning the
    * artifact — the check must stay O(new data), never O(artifact). */
  val MaxOverlapShards = 256

  /** Name of the manifest subdirectory inside a curriculum-shard
    * artifact. Underscore-prefixed: parquet directory listings skip
    * `_*`, so the shard-data read never sees it. */
  val ManifestDir = "_manifest"

  /** Canonical artifact input: phase and token counts as LONG, only
    * packable (token > 0) rows — shared by the writer and the
    * appender so the on-disk schema, the manifest's phase values and
    * the appender's JVM-side phase comparisons can never drift on the
    * caller's integer width. */
  private def canonicalArtifactInput(
      df: DataFrame, tokensCol: String, phaseCol: String): DataFrame =
    df.withColumn(phaseCol, col(phaseCol).cast("long"))
      .withColumn(tokensCol, col(tokensCol).cast("long"))
      .filter(col(tokensCol) > 0)

  /** The shard data of a curriculum artifact with the partition
    * columns cast back to long (partition-directory values are
    * read back as inferred INT). */
  private def readShardData(
      spark: org.apache.spark.sql.SparkSession, path: String,
      phaseCol: String): DataFrame =
    spark.read.parquet(path)
      .withColumn(phaseCol, col(phaseCol).cast("long"))
      .withColumn("shard_id", col("shard_id").cast("long"))

  /** The shard MANIFEST over a segment frame: one row per (phase,
    * shard) with the counts a trainer's dataloader and a
    * resume-after-failure consume (the shard-index sidecar every
    * sharded training format ships — WebDataset shard lists,
    * TFRecord index files) — segment count, distinct documents,
    * token volume, position and doc-id spans, and an order-independent
    * content hash (XOR of the 60-bit md5 of each segment's
    * (pack_id, pos, doc_id, seg_tokens) key — engine-portable: DuckDB
    * replays it as bit_xor over the shared md5LongSql spelling, and
    * XOR cannot overflow where an ANSI SUM of raw hashes would).
    * Bounded output: #shards rows, never corpus rows; one keyed
    * aggregation with map-side partials. */
  def curriculumManifest(
      segments: DataFrame, idCol: String, phaseCol: String): DataFrame =
    segments
      .withColumn("_k64", Dedup.md5Long(concat_ws("|",
        col("pack_id"), col("pos"), col(idCol), col("seg_tokens"))))
      .groupBy(col(phaseCol), col("shard_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        countDistinct(col("pos")).as("n_docs"),
        sum(col("seg_tokens")).as("tokens"),
        min(col("pos")).as("min_pos"),
        max(col("pos")).as("max_pos"),
        min(col(idCol)).as("min_doc_id"),
        max(col(idCol)).as("max_doc_id"),
        expr("bit_xor(_k64)").as("content_hash"))

  /** The CURRENT manifest of a curriculum artifact: latest generation
    * per (phase, shard) — appends supersede a rewritten tail shard's
    * row by writing a higher `gen`, never rewriting history (the
    * manifest is append-only, so updating it is O(affected shards),
    * not O(artifact)). The resolve window runs over manifest rows —
    * metadata scale, bounded by #shards. */
  def readManifest(
      spark: org.apache.spark.sql.SparkSession, path: String,
      phaseCol: String = "phase"): DataFrame = {
    val w = Window.partitionBy(col(phaseCol), col("shard_id"))
      .orderBy(col("gen").desc)
    spark.read.parquet(s"$path/$ManifestDir")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "gen")
  }

  /** Trainer RESUME lookup over a written curriculum artifact (p14's
    * artifact face) — METADATA ONLY: per-phase token totals fold from
    * the `_manifest`, ctx/packs-per-shard come from the `_params`
    * sidecar; shard data is never opened. For each checkpoint T
    * (global consumed-token count, 0-indexed — tokens 0..T−1 are
    * consumed), the (phase, shard_id, pack_id, offset_in_pack) of the
    * first UNCONSUMED token under the artifact's consumption order:
    * phases ascending, dense per-phase pack streams (every non-final
    * pack holds exactly ctx tokens by construction, so the in-phase
    * lookup is integer math). Checkpoints at or past the artifact's
    * total token count drop out (training already completed) — the
    * same inner-join semantics as the p14 query, which Round17OpsSpec
    * pins this against on a written artifact. */
  def resumePlan(
      spark: org.apache.spark.sql.SparkSession, path: String,
      checkpoints: Seq[Long]): DataFrame = {
    // 1-row sidecar — the bounded-collect pattern every _params
    // cross-check uses
    val params = spark.read.parquet(s"$path/$ParamsDir").collect()(0)
    val ctx = params.getAs[Long]("ctx_size")
    val pps = params.getAs[Long]("packs_per_shard")
    require(ctx > 0 && pps > 0,
      s"corrupt _params sidecar: ctx_size=$ctx packs_per_shard=$pps")
    val pt = readManifest(spark, path)
      .groupBy("phase").agg(sum("tokens").as("ptok"))
    val wP = Window.orderBy("phase")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pb = pt.withColumn("base", sum("ptok").over(wP) - col("ptok"))
    import spark.implicits._
    checkpoints.toDF("t_global")
      .join(broadcast(pb), col("t_global") >= col("base") &&
        col("t_global") < col("base") + col("ptok"))
      .withColumn("local", col("t_global") - col("base"))
      .select(col("t_global"), col("phase"),
        expr(s"local div $ctx div $pps").as("shard_id"),
        expr(s"local div $ctx").as("pack_id"),
        (col("local") % lit(ctx)).as("offset_in_pack"))
      .orderBy("t_global")
  }

  /** The p15 epoch-shuffle body over a (phase, shard_id) universe —
    * ONE definition for the p15 query (universe from the segment
    * plan) and [[epochShardOrder]] (universe from the manifest):
    * curriculum order fixes the PHASE sequence, so each epoch
    * permutes the shards WITHIN each phase by rank of the 60-bit
    * md5(phase|shard|'e'epoch) — deterministic across reruns,
    * engines, partitionings and data-parallel workers; no RNG state
    * to ship. The rank window partitions by (epoch, phase) over
    * #shards × epochs rows — metadata scale, never corpus rows. */
  private[graft] def epochShardOrderOf(
      shards: DataFrame, epochs: Int): DataFrame = {
    require(epochs > 0, s"epochs must be positive, got $epochs")
    val w = Window.partitionBy("epoch", "phase").orderBy("h", "shard_id")
    shards
      .withColumn("epoch", explode(expr(s"sequence(1L, ${epochs}L)")))
      .withColumn("h", Dedup.md5Long(concat_ws("|", col("phase"),
        col("shard_id"), concat(lit("e"), col("epoch").cast("string")))))
      .withColumn("order_pos", (row_number().over(w) - 1).cast("long"))
      .select("epoch", "phase", "shard_id", "order_pos")
      .orderBy("epoch", "phase", "order_pos")
  }

  /** Reproducible between-epoch shard order over a written curriculum
    * artifact (p15's artifact face) — MANIFEST-ONLY: the shard
    * universe reads from `_manifest`; shard data and the corpus are
    * never opened. A trainer's dataloader streams epoch e's shards in
    * this order (within-shard pack order stays the artifact's — the
    * shard-level shuffle streaming loaders actually perform; a global
    * sample shuffle would defeat sequential shard reads). */
  def epochShardOrder(
      spark: org.apache.spark.sql.SparkSession, path: String,
      epochs: Int = 3): DataFrame =
    epochShardOrderOf(
      readManifest(spark, path).select("phase", "shard_id"), epochs)

  /** Incremental curriculum maintenance (round 16): append a new doc
    * batch into an existing artifact touching ONLY each phase's final
    * partial shard — closed shards stay byte-identical (spec-pinned).
    * The batch's offsets are seeded from the manifest's per-phase
    * running totals, so new documents CONTINUE each phase's token
    * stream: the result is decision-identical to a full re-pack of the
    * union under the composite order (batch, md5-key) — the monotone
    * order an incremental packer must adopt (the global md5 shuffle
    * would interleave new docs among closed shards; immutability and
    * full-shuffle ordering are mutually exclusive, and production
    * packers pick immutability).
    *
    * Cost is O(new data): the prefix sum runs over the BATCH, the only
    * artifact reads are the manifest (metadata scale) and each phase's
    * reopened tail shard (partition-pruned — at most one shard per
    * phase), and the write uses dynamic partition overwrite so only
    * partitions present in the new frame are replaced. The manifest
    * update appends superseding rows at gen+1 (O(affected shards)).
    *
    * `newDf` must carry ALREADY-ASSIGNED phases (the original
    * schedule's): re-deriving phases from the union would reshuffle
    * old documents' phases and contradict immutability. Its ids must
    * be disjoint from the artifact's — and unlike round 16 this is
    * now ENFORCED, not just documented: the batch's doc-id range is
    * compared against the manifest's per-shard doc-id spans (metadata
    * scale), and any overlapping span is verified EXACTLY with a
    * partition-pruned membership check — a re-submitted
    * already-committed batch collides on every id and is refused
    * loudly instead of double-packing. A monotone-id producer (the
    * production shape) overlaps nothing and pays zero extra reads.
    * For orchestrators that retry on lost acks, pass `batchId`: a
    * committed batch id is recorded in the `_batches` ledger and a
    * replay returns false as a clean no-op (the
    * [[Cdc]]-streaming-rollup exactly-once discipline).
    *
    * Single-writer contract; a crash between the data commit and the
    * manifest append leaves the artifact detectably inconsistent, and
    * the NEXT append refuses to run (tail-vs-manifest divergence /
    * uncommitted-shard / undescribed-phase-directory guards below)
    * rather than double-packing from stale totals — recover by
    * restoring the tail partitions to the manifest's description (or
    * re-packing).
    *
    * Returns true when the batch was appended, false for a no-op
    * (replayed batchId, or a batch with no packable rows). */
  def appendCurriculumShards(
      newDf: DataFrame, idCol: String, tokensCol: String, phaseCol: String,
      salt: String, ctxSize: Int, packsPerShard: Int, path: String,
      batchId: Option[String] = None): Boolean = {
    require(packsPerShard > 0, "packsPerShard must be positive")
    val spark = newDf.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    // parameter guard: appending with a different ctx/pps/salt than
    // the artifact was packed with interleaves incompatible pack
    // boundaries SILENTLY — cross-check the _params sidecar when the
    // artifact carries one. A pre-sidecar artifact (round-15 layout)
    // is sanity-checked against the manifest instead: every non-final
    // shard of every phase must hold exactly ctx×pps tokens (metadata
    // scale — the budget is the one packing parameter the manifest
    // can witness; the salt cannot be recovered from metadata, which
    // is exactly why the sidecar is then persisted for every later
    // append to cross-check properly).
    locally {
      val pp = new org.apache.hadoop.fs.Path(s"$path/$ParamsDir")
      val fs = pp.getFileSystem(hconf)
      if (fs.exists(pp)) {
        val p = spark.read.parquet(pp.toString).head
        require(p.getAs[Long]("ctx_size") == ctxSize.toLong &&
          p.getAs[Long]("packs_per_shard") == packsPerShard.toLong &&
          p.getAs[String]("salt") == salt,
          s"append parameters (ctx=$ctxSize, pps=$packsPerShard, " +
            s"salt=$salt) do not match the artifact's _params " +
            s"(ctx=${p.getAs[Long]("ctx_size")}, " +
            s"pps=${p.getAs[Long]("packs_per_shard")}, " +
            s"salt=${p.getAs[String]("salt")})")
      } else {
        val budget = ctxSize.toLong * packsPerShard
        val man = readManifest(spark, path, phaseCol)
        val last = man.groupBy(col(phaseCol))
          .agg(max(col("shard_id")).as("_last"))
        val off = man.join(broadcast(last), phaseCol)
          .filter(col("shard_id") < col("_last") &&
            col("tokens") =!= budget)
          .count()
        require(off == 0L,
          s"artifact at $path has no _params sidecar and $off non-final " +
            s"shards disagree with the supplied budget ctx=$ctxSize × " +
            s"pps=$packsPerShard — the append parameters do not match " +
            "how the artifact was packed")
        locally {
          import spark.implicits._
          Seq((ctxSize.toLong, packsPerShard.toLong, salt))
            .toDF("ctx_size", "packs_per_shard", "salt")
            .coalesce(1)
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(pp.toString)
        }
      }
    }
    // replay-skip: a batch id already in the ledger was fully
    // committed (the ledger row is written LAST) — the retry is a
    // clean no-op
    val ledgerPath = new org.apache.hadoop.fs.Path(s"$path/$BatchesDir")
    val ledgerFs = ledgerPath.getFileSystem(hconf)
    if (batchId.isDefined && ledgerFs.exists(ledgerPath) &&
        spark.read.parquet(ledgerPath.toString)
          .filter(col("batch_id") === lit(batchId.get)).limit(1)
          .count() > 0)
      return false
    val bases = readManifest(spark, path, phaseCol).groupBy(col(phaseCol))
      .agg(sum(col("tokens")).as("_tok_base"),
        max(col("max_pos")).as("_pos_base"),
        max(col("shard_id")).as("_last_shard"))
    // one row per PHASE — bounded by the phase count, never data size
    val baseRows = bases.collect()
    // CRASH GUARD (new-phase class): an append that INTRODUCED a
    // phase and died between its data commit and its manifest append
    // leaves a phase directory the manifest knows nothing about — the
    // per-phase tail/uncommitted-shard guards below only cover
    // manifest phases, so without this check the next append to that
    // phase would seed from zero and silently collide. Bounded
    // top-level listing (#phases directories).
    locally {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(hconf)
      val manifestPhases = baseRows.map(_.get(0).toString).toSet
      val orphan = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(s"$phaseCol="))
        .map(_.getPath.getName.stripPrefix(s"$phaseCol="))
        .filterNot(manifestPhases.contains)
      require(orphan.isEmpty,
        s"phase directories ${orphan.mkString(", ")} exist at $path but " +
          "the manifest has no rows for them — a previous append likely " +
          "crashed between its data commit and its manifest append; " +
          "verify (Demo pack-verify) and restore before appending")
    }
    // canonical long phase/tokens + zero-token docs excluded exactly
    // as in the initial write — positions stay dense over
    // PARTICIPATING docs (so the manifest's max_pos is the true
    // per-phase position base) and the JVM-side phase comparisons
    // below compare Long to Long (a boxed Integer from an int-typed
    // phase column never equals the manifest's boxed Long — the
    // reopen would silently skip and the overwrite would drop the
    // tail's rows). Persisted for the method's lifetime: the batch
    // lineage otherwise re-evaluates for the phase set, the id-range
    // guard, the prefix sum and the shard write — repeated scans of
    // the new data in a path sold as O(new data).
    val participating = canonicalArtifactInput(newDf, tokensCol, phaseCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      appendParticipating(participating, idCol, tokensCol, phaseCol,
        salt, ctxSize, packsPerShard, path, batchId, baseRows)
    } finally {
      participating.unpersist(blocking = false)
      ()
    }
  }

  /** [[appendCurriculumShards]]' body over the persisted canonical
    * batch — split out so the persist/unpersist lifecycle wraps it. */
  private def appendParticipating(
      participating: DataFrame, idCol: String, tokensCol: String,
      phaseCol: String, salt: String, ctxSize: Int, packsPerShard: Int,
      path: String, batchId: Option[String],
      baseRows: Array[org.apache.spark.sql.Row]): Boolean = {
    val spark = participating.sparkSession
    // the batch's phase set — bounded by the phase count
    val batchPhases = participating.select(col(phaseCol)).distinct()
      .collect().map(_.get(0))
    if (batchPhases.isEmpty) return false // nothing packable — no-op
    // ID-DISJOINTNESS GUARD: "new ids must be disjoint from the
    // artifact's" is enforced, not assumed. Metadata prefilter: the
    // batch's global [min, max] doc-id range against the manifest's
    // per-shard doc-id spans (already persisted — zero data reads).
    // Zero overlapping spans — the monotone-id production shape, and
    // every fresh batch under monotone allocation — proves
    // disjointness outright. Otherwise the overlapping shards (and
    // only those — partition-pruned) are membership-checked exactly,
    // so interleaved-but-disjoint ids still append fine; past
    // [[MaxOverlapShards]] spans the guard refuses rather than scan
    // the artifact (an O(new) path must not hide an O(artifact)
    // fallback — a batch overlapping hundreds of spans is either a
    // replayed commit or an id-allocation bug either way).
    locally {
      val rg = participating
        .agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx")).head
      val mn = rg.getLong(0)
      val mx = rg.getLong(1)
      val overlap = readManifest(spark, path, phaseCol)
        .filter(!(col("max_doc_id") < mn || col("min_doc_id") > mx))
        .select(col(phaseCol), col("shard_id"))
        .limit(MaxOverlapShards + 1)
        .collect()
      require(overlap.length <= MaxOverlapShards,
        s"batch doc-id range [$mn, $mx] overlaps more than " +
          s"$MaxOverlapShards manifest doc-id spans at $path — this " +
          "batch is almost certainly a re-submitted already-committed " +
          "append (or the id allocator regressed); refusing to verify " +
          "disjointness at artifact scale. Pass batchId for idempotent " +
          "replay, or allocate fresh monotone ids")
      if (overlap.nonEmpty) {
        val pred = overlap.map { r =>
          col(phaseCol) === lit(r.get(0)) &&
            col("shard_id") === lit(r.getLong(1))
        }.reduce(_ || _)
        val clash = spark.read.parquet(path).filter(pred)
          .select(col(idCol))
          .join(participating.select(col(idCol)), idCol)
          .limit(5).collect().map(_.get(0))
        require(clash.isEmpty,
          s"batch doc ids ${clash.mkString(", ")} are already packed in " +
            s"the artifact at $path — re-submitting a committed batch " +
            "double-packs; pass batchId for idempotent replay, or drop " +
            "the duplicate documents")
      }
    }
    // per-phase seeds rebuilt from the already-collected manifest
    // totals (bounded by the phase count)
    val seedsDf = seedsFromBaseRows(spark, baseRows, phaseCol)
    val offsets = perPhasePackOffsets(
      participating, idCol, tokensCol, phaseCol,
      salt, ctxSize, packsPerShard, seeds = Some(seedsDf))
    val newSegs = perPhaseSegments(offsets, tokensCol, ctxSize,
      packsPerShard)
    // a phase's tail shard reopens only when the BATCH extends it and
    // it is PARTIAL (its token total is not a multiple of the shard
    // budget) — otherwise the batch starts a fresh shard and nothing
    // existing is touched; phases the batch never mentions are never
    // read, never rewritten
    val shardTokens = ctxSize.toLong * packsPerShard
    val reopen = baseRows.toSeq.flatMap { r =>
      val tok = r.getLong(1)
      val last = r.getLong(3)
      if (tok % shardTokens != 0 && batchPhases.contains(r.get(0)))
        Some((r.get(0), last))
      else None
    }
    val tailPred = reopen.map { case (p, sh) =>
      col(phaseCol) === lit(p) && col("shard_id") === lit(sh)
    }.reduceOption(_ || _)
    // RETRY/CRASH GUARD: a previous append that died between its data
    // commit and its manifest append leaves shard bytes the manifest
    // does not describe; re-seeding from the stale totals would
    // DOUBLE-PACK the batch with colliding positions. Detection is
    // O(tail + #phases), never an artifact scan: (i) every reopened
    // tail's recomputed manifest row must equal the stored one, and
    // (ii) no shard directory may exist beyond a batch phase's
    // manifest tail. On violation fail loudly with the recovery path
    // instead of corrupting silently.
    val manCols = Seq(phaseCol, "shard_id", "n_segs", "n_docs", "tokens",
      "min_pos", "max_pos", "min_doc_id", "max_doc_id", "content_hash")
    tailPred.foreach { pred =>
      val stored = readManifest(spark, path, phaseCol).filter(pred)
        .select(manCols.map(col): _*)
      val actual = curriculumManifest(
        spark.read.parquet(path).filter(pred)
          .withColumn(phaseCol, col(phaseCol).cast("long"))
          .withColumn("shard_id", col("shard_id").cast("long")),
        idCol, phaseCol)
        .select(manCols.map(col): _*)
      require(stored.exceptAll(actual).isEmpty &&
        actual.exceptAll(stored).isEmpty,
        s"tail shard bytes diverge from the manifest at $path — a " +
          "previous append likely crashed between its data commit and " +
          "its manifest append; verify (Demo pack-verify) and restore " +
          "before appending")
    }
    locally {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      baseRows.foreach { r =>
        if (batchPhases.contains(r.get(0))) {
          val next = new org.apache.hadoop.fs.Path(root,
            s"$phaseCol=${r.get(0)}/shard_id=${r.getLong(3) + 1}")
          require(!fs.exists(next),
            s"uncommitted shard directory $next exists beyond the " +
              "manifest tail — a previous append likely crashed before " +
              "its manifest append; verify and restore before appending")
        }
      }
    }
    // partition-pruned: the filter lands on the RAW partition columns
    // (before the long cast), so only the reopened tail directories
    // are listed and read
    val all = tailPred
      .map { p =>
        val tail = spark.read.parquet(path).filter(p)
          .withColumn(phaseCol, col(phaseCol).cast("long"))
          .withColumn("shard_id", col("shard_id").cast("long"))
        newSegs.unionByName(tail)
      }
      .getOrElse(newSegs)
    val prevMode =
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try
      all.repartition(col(phaseCol), col("shard_id"))
        .sortWithinPartitions(col(phaseCol), col("shard_id"),
          col("pack_id"), col("pos"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy(phaseCol, "shard_id")
        .parquet(path)
    finally prevMode match {
      case Some(v) => spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset(
        "spark.sql.sources.partitionOverwriteMode")
    }
    // superseding manifest rows for exactly the rewritten/new
    // partitions, at gen+1 — recomputed from WHAT IS NOW ON DISK. The
    // pre-write frame cannot be reused here: its tail scan references
    // the files the dynamic overwrite just replaced. The affected set
    // is known per phase without touching data: every shard from the
    // batch's first pack onward (= tokBase div shardTokens), or the
    // whole phase when it is new — a partition-pruned O(new) read.
    val basePerPhase = baseRows.map(r => r.get(0) -> r.getLong(1)).toMap
    val affectedPred = batchPhases.map { p =>
      basePerPhase.get(p) match {
        case Some(tok) => col(phaseCol) === lit(p) &&
          col("shard_id") >= lit(tok / shardTokens)
        case None => col(phaseCol) === lit(p)
      }
    }.reduce(_ || _)
    val affected = spark.read.parquet(path).filter(affectedPred)
      .withColumn(phaseCol, col(phaseCol).cast("long"))
      .withColumn("shard_id", col("shard_id").cast("long"))
    val maxGen = spark.read.parquet(s"$path/$ManifestDir")
      .agg(max(col("gen"))).head.getLong(0)
    curriculumManifest(affected, idCol, phaseCol)
      .withColumn("gen", lit(maxGen + 1L))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/$ManifestDir")
    // the ledger row is written LAST: a crash anywhere above leaves
    // the batch id absent, so the retry falls through to the
    // tail/overlap guards instead of silently no-opping a
    // half-committed append
    batchId.foreach { bid =>
      val nDocs = participating.count()
      import spark.implicits._
      Seq((bid, nDocs)).toDF("batch_id", "n_docs")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$path/$BatchesDir")
    }
    true
  }

  /** Per-phase (phase, _tok_base, _pos_base) seed frame from the
    * collected manifest base rows — bounded by the phase count. */
  private def seedsFromBaseRows(
      spark: org.apache.spark.sql.SparkSession,
      baseRows: Array[org.apache.spark.sql.Row],
      phaseCol: String): DataFrame = {
    import spark.implicits._
    baseRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF(phaseCol, "_tok_base", "_pos_base")
  }

  /** Compact the append-only manifest log back to a single
    * generation — the checkpointing step every log-structured
    * metadata store pairs with its append log (the Delta/Iceberg
    * snapshot-checkpoint pattern, applied to this artifact's tiny
    * log): resolve latest-gen rows, stage them as gen 0 beside
    * the log, then swap directories (the manifest cannot be
    * overwritten in place — the resolve plan reads the files the
    * overwrite would delete, the round-16 append lesson). Run it when
    * the generation count grows past taste; O(manifest) — metadata
    * scale, never corpus scale. Single-writer contract, like append;
    * a crash between delete and rename leaves the staged
    * `._manifest_compact` intact for manual recovery (rename it to
    * `_manifest`). */
  def compactManifest(
      spark: org.apache.spark.sql.SparkSession, path: String,
      phaseCol: String = "phase"): Unit = {
    val manDir = new org.apache.hadoop.fs.Path(s"$path/$ManifestDir")
    val tmpDir = new org.apache.hadoop.fs.Path(s"$path/._manifest_compact")
    val fs = manDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(spark, path, phaseCol)
      .withColumn("gen", lit(0L))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(tmpDir.toString)
    fs.delete(manDir, true)
    require(fs.rename(tmpDir, manDir),
      s"manifest compaction swap failed for $manDir")
  }

  /** Shard-budget invariant check (round 16): every NON-FINAL shard
    * of every phase must hold exactly packsPerShard × ctxSize tokens
    * of the concatenated stream (the writer/appender invariant the
    * specs pin — this makes it checkable on any artifact in the
    * field). Reads the budget from the `_params` sidecar and the
    * token totals from the manifest — metadata scale, zero data
    * reads. Returns the violating (phase, shard) rows (empty =
    * intact). */
  def verifyShardBudgets(
      spark: org.apache.spark.sql.SparkSession, path: String,
      phaseCol: String = "phase"): DataFrame = {
    val p = spark.read.parquet(s"$path/$ParamsDir").head
    val budget = p.getAs[Long]("ctx_size") * p.getAs[Long]("packs_per_shard")
    val man = readManifest(spark, path, phaseCol)
    val last = man.groupBy(col(phaseCol))
      .agg(max(col("shard_id")).as("_last"))
    man.join(broadcast(last), phaseCol)
      .filter(col("shard_id") < col("_last") &&
        col("tokens") =!= budget)
      .select(col(phaseCol), col("shard_id"), col("tokens"),
        lit(budget).as("expected_tokens"))
  }

  /** Manifest-vs-data integrity check (round 16): recompute every
    * (phase, shard)'s manifest row from the shard data and full-outer
    * diff against the stored manifest — the verification a trainer
    * runs before a job. Returns the MISMATCH rows (empty = intact):
    * shards missing on either side, or any field disagreeing, with the
    * manifest (`m_*`) and recomputed (`d_*`) values side by side.
    * One pass over the artifact's key columns + the manifest read —
    * nothing unbounded on the driver (callers print a limited
    * sample). */
  def verifyCurriculumShards(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String = "doc_id", phaseCol: String = "phase"): DataFrame = {
    val fields = Seq("n_segs", "n_docs", "tokens", "min_pos", "max_pos",
      "min_doc_id", "max_doc_id", "content_hash")
    def pfx(df: DataFrame, p: String): DataFrame =
      df.select(col(phaseCol) +: col("shard_id") +:
        fields.map(f => col(f).as(s"$p$f")): _*)
    val m = pfx(readManifest(spark, path, phaseCol), "m_")
    val d = pfx(
      curriculumManifest(readShardData(spark, path, phaseCol), idCol,
        phaseCol), "d_")
    m.join(d, Seq(phaseCol, "shard_id"), "full_outer")
      .filter(fields.map(f => !(col(s"m_$f") <=> col(s"d_$f")))
        .reduce(_ || _))
  }

  /** Within-pack BOUNDARY metadata (round 17): per (phase, pack),
    * the ordered (off, pos, doc_id, seg_tokens) list a trainer's
    * loss-masking collator consumes — which token ranges of the ctx
    * window belong to which document, so cross-document attention/
    * loss can be masked at the boundaries. The shard rows sorted by
    * (pack_id, pos) ARE this artifact (the writer sorts partitions
    * that way on disk); this is the read-path fold that serves it
    * pack-at-a-time: `off` is the segment's first token WITHIN its
    * window (start_offset clamped to the window base), and the list
    * is sorted by (off, pos) — contiguous, starting at 0, summing to
    * ctx on every non-final pack (spec-pinned at 3 SFs).
    *
    * Scale shape: one keyed aggregation with map-side partials over
    * the (phase, shard, pack) key; each pack's list is bounded by the
    * window's document count (≤ ctx segments), output is one row per
    * pack — distributed, never a driver materialization. A collator
    * reading one shard directory gets exactly its packs' rows via
    * partition pruning on (phase, shard_id). */
  def packBoundaries(
      spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String = "doc_id", phaseCol: String = "phase"): DataFrame = {
    val ctx = spark.read.parquet(s"$path/$ParamsDir").head
      .getAs[Long]("ctx_size")
    readShardData(spark, path, phaseCol)
      .withColumn("off",
        greatest(col("start_offset"), col("pack_id") * ctx) -
          col("pack_id") * ctx)
      .groupBy(col(phaseCol), col("shard_id"), col("pack_id"))
      .agg(
        sort_array(collect_list(struct(col("off"), col("pos"),
          col(idCol), col("seg_tokens")))).as("boundaries"),
        sum(col("seg_tokens")).as("pack_tokens"))
  }

  /** Per-pack roll-up: how many documents start in each ctx window,
    * their token volume, id range, and how many straddle into the next
    * window — the packing audit a data pipeline reports before
    * materializing training examples. */
  def packSummary(
      df: DataFrame, idCol: String, tokensCol: String,
      ctxSize: Int): DataFrame =
    withPackOffsets(df, idCol, tokensCol, ctxSize)
      .groupBy("pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).as("sum_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"),
        sum(when(col("n_spans") > 1, 1L).otherwise(0L)).as("n_split"))
}
