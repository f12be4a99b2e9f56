package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.rag.Rag
import graft.store.Catalog

/** CLI entry points mirroring the reference's task surface
  * (SURVEY.md §2.6: `demo.import` / `demo.search` / `demo.generate`,
  * reference `tasks.py:36-139` and the cli scripts), driving the full
  * chunk → embed → store → retrieve → assemble pipeline.
  *
  * Usage (via sbt):
  *   runMain graft.cli.Demo import --docs <parquet> --store <dir>
  *     [--model <name>] [--dim N] [--max-tokens N] [--embedder <url>]
  *   runMain graft.cli.Demo search --store <dir> --prompt "..."
  *     [--top-k K] [--similarity-threshold T] [--dim N]
  *     [--ann exact|lsh|ivf|pq|hybrid|binary|mmr] [--embedder <url>]
  *   runMain graft.cli.Demo generate --store <dir> --prompt "..."
  *     [--top-k K] [--similarity-threshold T] [--dim N]
  *     [--max-tokens N] [--temperature T] [--ann exact|lsh|ivf|pq|hybrid|binary|mmr]
  *     [--embedder <url>] [--generator <url>]
  *   runMain graft.cli.Demo demo        # self-contained 5-doc flow
  *
  * Pipeline-artifact modes (beyond the reference surface): `audit`
  * (d22 dedup report), `report` (t52 funnel), `pack` (p10 curriculum
  * shards + `_manifest`/`_params`/`_phase_cuts` sidecars, bounded
  * per-phase report), `pack-append` (O(new-data) maintenance — new
  * docs phased by the artifact's frozen schedule, only partial tail
  * shards reopen), `pack-verify` (manifest-vs-data integrity diff,
  * nonzero exit on divergence), `pack-compact` (collapse the
  * manifest's append log), `pack-resume` (p14's restart lookup:
  * `--tokens t1,t2,...` → phase/shard/pack/offset, manifest-only),
  * `pack-epochs` (p15's reproducible per-epoch shard order,
  * manifest-only), `export-keyframes` (m20 PNGs
  * partitionBy(asset) + manifest), `scan`, `compact`, `purge`.
  *
  * `--embedder http(s)://host` routes chunk and query embedding
  * through the plain-JSON HTTP service seam (HttpEmbedder);
  * `--generator` does the same for G5 generation. Both default to the
  * in-process deterministic stubs.
  */
object Demo {

  private def parseFlags(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("demo")
    val flags = parseFlags(args.drop(1))
    val spark = Tables.session(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
    try run(spark, mode, flags)
    finally {
      // free operator-internal shared caches before shutdown — the
      // library contract every long-lived caller should follow
      graft.Caches.release(spark)
      spark.stop()
    }
  }

  def run(spark: SparkSession, mode: String, flags: Map[String, String]): Unit = {
    // --dim default: for store-reading modes, the store's model
    // registry knows its embedding dimension — querying at any other
    // dim is always wrong (the reference reads it from the models
    // table too, src/lib/database.py). Explicit --dim still wins.
    // The dim is the RELEVANT model's: --model when given, the sole
    // registered model otherwise, else the default model name — an
    // arbitrary registry row could search at the wrong dim in a
    // multi-model store. An unreadable registry fails loudly (the old
    // catch-all Throwable silently fell back to dim=256, masking even
    // OOM/corruption).
    def storeDim: Option[Int] = flags.get("store").flatMap { store =>
      val rows =
        try spark.read.parquet(s"$store/models")
          .select("name", "embedding_dim").collect()
        catch {
          case scala.util.control.NonFatal(e) => sys.error(
            s"cannot read model registry at $store/models " +
              s"(pass --dim to override): $e")
        }
      val wanted = flags.getOrElse("model",
        if (rows.length == 1) rows.head.getString(0)
        else graft.functions.Embedding.DefaultModel)
      val hit = rows.find(_.getString(0) == wanted)
      if (hit.isEmpty && rows.nonEmpty)
        println(s"[warn] no model named '$wanted' in registry " +
          s"(${rows.map(_.getString(0)).mkString(", ")}); using --dim/default")
      hit.map(_.getInt(1))
    }
    lazy val dim = flags.get("dim").map(_.toInt)
      .orElse(if (mode == "search" || mode == "generate") storeDim else None)
      .getOrElse(256)
    // --embedder http(s)://host routes chunk AND query embedding
    // through the HTTP service seam (functions/HttpLlm.scala) — both
    // sides must come from the same embedder or store and query live
    // in different spaces. Default stays the in-process deterministic
    // embedder (no service dependency).
    def embedderFlag: Option[graft.functions.Embedder] =
      flags.get("embedder").map { url =>
        require(url.startsWith("http://") || url.startsWith("https://"),
          s"--embedder expects an http(s) service URL, got '$url'")
        graft.functions.HttpEmbedder(url,
          flags.getOrElse("model", graft.functions.Embedding.DefaultModel),
          dim)
      }
    // --generator http(s)://host: G5 through the same seam
    def generatorFlag: graft.rag.Rag.TextGenerator =
      flags.get("generator").map { url =>
        require(url.startsWith("http://") || url.startsWith("https://"),
          s"--generator expects an http(s) service URL, got '$url'")
        graft.functions.HttpTextGenerator(url,
          flags.getOrElse("model", "default")): graft.rag.Rag.TextGenerator
      }.getOrElse(Rag.StubGenerator)
    // hybrid fuses by reciprocal rank, whose scores have their own
    // scale — a cosine threshold cannot apply; say so rather than
    // silently ignoring the flag
    def warnHybridThreshold(): Unit =
      if (flags.contains("similarity-threshold") &&
          flags.getOrElse("ann", "exact") == "hybrid")
        println("[warn] --similarity-threshold is ignored with --ann hybrid " +
          "(rrf scores have their own scale); filter on the fused score instead")
    mode match {
      case "import" =>
        val docs = spark.read.parquet(flags("docs"))
        importDocs(spark, docs, flags("store"),
          flags.getOrElse("model", graft.functions.Embedding.DefaultModel),
          dim, flags.getOrElse("max-tokens", "512").toInt, embedderFlag)

      case "search" =>
        warnHybridThreshold()
        val hits = search(spark, flags("store"), flags("prompt"),
          flags.getOrElse("top-k", "10").toInt,
          flags.getOrElse("similarity-threshold", "0.7").toDouble, dim,
          flags.getOrElse("ann", "exact"), embedderFlag)
        display(hits)

      case "generate" =>
        // --max-tokens / --temperature mirror the reference CLI
        // (cli/generate_text.py:154-186) and plumb to the generator;
        // --ann selects the retrieval mode (exact|lsh|ivf|pq|hybrid,
        // same modes as `search`) — retrieval goes through the shared
        // search path, assembly + generation stay identical.
        warnHybridThreshold()
        val prompt = flags("prompt")
        val topK = flags.getOrElse("top-k", "5").toInt
        val threshold = flags.getOrElse("similarity-threshold", "0.01").toDouble
        val ann = flags.getOrElse("ann", "exact")
        val hits = search(spark, flags("store"), prompt, topK, threshold,
          dim, ann, embedderFlag)
        val withText =
          if (hits.columns.contains("chunk_text")) hits
          else hits.join(
            spark.read.parquet(flags("store") + "/chunks"), Seq("id"), "left")
        val assembled = Rag.contextualizedPrompt(
          prompt, Rag.aggregateChunkText(withText))
        val out = generatorFlag.generate(assembled,
          flags.getOrElse("max-tokens", "5000").toInt,
          flags.getOrElse("temperature", "0.8").toDouble)
        println(s"=== generated ===\n$out")

      case "demo" =>
        val store = java.nio.file.Files.createTempDirectory("graft_demo").toString
        println(s"[demo] store: $store")
        importDocs(spark, demoCorpus(spark), store, "demo-model", dim, 64)
        val hits = search(spark, store,
          "Are robots that are depicted in science fiction generally friendly to humans?",
          topK = 5, threshold = 0.0, dim = dim)
        display(hits)
        val chunks = spark.read.parquet(store + "/chunks")
        println("=== generated ===\n" + Rag.generate(
          chunks, "Are robots friendly to humans?", 5, 0.01, dim))

      case "import-dir" =>
        // the reference's demo.import shape: raw files + sidecars →
        // identify → convert/ingest text → register + chunk + embed +
        // store. AllFormats includes the pure-JVM EPUB converter, so
        // the reference's own examples dir ingests end-to-end.
        val scanned = graft.sources.Sources.withSidecarMetadata(
          graft.sources.Sources.ingestionReadyScan(spark, flags("dir"),
            graft.sources.Sources.AllFormats),
          spark, flags("dir"))
          // a corrupt file can be promoted to ingest yet fail its
          // converter (null text) — exclude it or it becomes a phantom
          // chunk row with null text/embedding in the store
          .filter(col("action") === "ingest" && col("text").isNotNull)
          .select(
            // bounded to 2^40 so the composite chunk id
            // (source_id << 20 | chunk_number) cannot overflow a long
            pmod(xxhash64(col("path")), lit(1L << 40)).as("doc_id"),
            col("text"),
            col("metadata")("author").as("author"),
            col("metadata")("title").as("title"),
            col("metadata")("text_type").as("text_type"),
            col("metadata")("genre").as("genre"),
            col("metadata")("publication_date").as("publication_date"))
        importDocs(spark, scanned, flags("store"),
          flags.getOrElse("model", graft.functions.Embedding.DefaultModel),
          dim, flags.getOrElse("max-tokens", "512").toInt, embedderFlag)

      case "scan" =>
        // S1/S2/S5/S6: identify + dispatch + sidecar-join a raw dir
        val scanned = graft.sources.Sources.withSidecarMetadata(
          graft.sources.Sources.ingestionReadyScan(spark, flags("dir"),
            graft.sources.Sources.AllFormats),
          spark, flags("dir"))
        scanned.select("path", "mime", "action", "metadata")
          .orderBy("path")
          .collect()
          .foreach(r => println(s"[scan] ${r.getAs[String]("path")} " +
            s"mime=${r.getAs[String]("mime")} action=${r.getAs[String]("action")} " +
            s"meta=${Option(r.getAs[Map[String, String]]("metadata")).getOrElse(Map())}"))

      case "compact" =>
        // operational: collapse append-accumulated small files
        val (before, after) = Catalog.compactChunks(
          spark, flags("store") + "/chunks",
          flags.getOrElse("target-mb", "128").toLong << 20)
        println(s"[compact] files $before -> $after")

      case "purge" =>
        // reference parity: purge.db (tasks.py:142-151) — drop the store
        val p = new org.apache.hadoop.fs.Path(flags("store"))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val existed = fs.delete(p, true)
        println(s"[purge] ${flags("store")} deleted=$existed")

      case "audit" =>
        // d22: the cross-modality dedup audit — the report an operator
        // reads BEFORE committing a dedup pass, as a CLI surface
        val hdr = Seq("modality", "items", "kept", "removed", "rate",
          "clusters", "dup_cl", "max", "vol_unit", "vol_total",
          "vol_rm", "vol_rate")
        println("[audit] " + hdr.map(h => f"$h%9s").mkString(" "))
        graft.SparkEntry.queries("d22_dedup_audit")(spark, flags("dir"))
          .collect().foreach { r =>
            val cells = Seq(r.getString(0), r.getLong(2).toString,
              r.getLong(3).toString, r.getLong(4).toString,
              f"${r.getDouble(5)}%.4f", r.getLong(6).toString,
              r.getLong(7).toString, r.getLong(8).toString,
              r.getString(1), r.getLong(9).toString,
              r.getLong(10).toString, f"${r.getDouble(11)}%.4f")
            println("[audit] " + cells.map(c => f"$c%9s").mkString(" "))
          }

      case "report" =>
        // t52: the sequential filter-funnel report — what an operator
        // reads before committing a cleaning config, as a CLI surface
        val hdr = Seq("stage", "docs_in", "kept", "doc_rate",
          "tokens_in", "tok_kept", "tok_rate")
        println("[report] " + hdr.map(h => f"$h%12s").mkString(" "))
        graft.SparkEntry.queries("t52_filter_funnel")(spark, flags("dir"))
          .collect().foreach { r =>
            def rate(i: Int) =
              if (r.isNullAt(i)) "-" else f"${r.getDouble(i)}%.4f"
            val cells = Seq(r.getString(1), r.getLong(2).toString,
              r.getLong(3).toString, rate(4), r.getLong(5).toString,
              r.getLong(6).toString, rate(7))
            println("[report] " + cells.map(c => f"$c%12s").mkString(" "))
          }

      case "pack" =>
        // p10: materialize the curriculum shards — the artifact the
        // clean → schedule → pack chain exists for, as a CLI surface
        // (a trainer then streams phase=1/ shard directories first)
        val out = flags.getOrElse("out",
          sys.error("pack needs --out <dir>"))
        val docsDf = Tables.load(spark, flags("dir"), "documents")
        // ONE phase computation feeds both the writer input and the
        // frozen _phase_cuts sidecar (unshared, the FK scan runs twice)
        val phases = graft.Caches.shared(
          graft.operators.TextQueries.curriculumPhases(docsDf)
            .select("doc_id", "bin", "phase"))
        val phased = phases.select("doc_id", "phase")
          .join(docsDf.select(col("doc_id"),
            graft.operators.TextAnalysis.tokenCount(col("text"))
              .as("n_tokens")), "doc_id")
        val ctx = flags.getOrElse("ctx-size", "2048").toInt
        val pps = flags.getOrElse("packs-per-shard", "64").toInt
        graft.operators.Packing.writeCurriculumShards(phased, "doc_id",
          "n_tokens", "phase", "-p9", ctx, pps, out)
        // the artifact is SELF-DESCRIBING (round 16): the library
        // writer persists _params (ctx/pps/salt); the PIPELINE-level
        // piece — the FROZEN phase schedule (first bin of each
        // phase) — is persisted here so `pack-append` assigns new
        // documents the original schedule's phases without the caller
        // re-supplying (or worse, re-deriving) it.
        phases.groupBy("phase").agg(min("bin").as("min_bin"))
          .coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$out/_phase_cuts")
        // BOUNDED report from the manifest the writer just emitted:
        // per-phase totals (#phases rows) + a 20-shard sample — never
        // one driver row per shard (at 100 TB the artifact holds
        // ~10⁸ shards; collecting them all is a driver OOM inside the
        // one command that materializes the training data)
        val man = graft.operators.Packing.readManifest(spark, out)
        println("[pack] " + Seq("phase", "shards", "segs", "tokens")
          .map(h => f"$h%12s").mkString(" "))
        man.groupBy("phase")
          .agg(count(lit(1)).as("n_shards"), sum("n_segs").as("segs"),
            sum("tokens").as("tokens"))
          .orderBy("phase").collect()
          .foreach { r =>
            println("[pack] " + Seq(r.get(0).toString,
              r.getLong(1).toString, r.getLong(2).toString,
              r.getLong(3).toString).map(c => f"$c%12s").mkString(" "))
          }
        println("[pack] sample " + Seq("phase", "shard", "segs", "tokens")
          .map(h => f"$h%8s").mkString(" "))
        man.orderBy("phase", "shard_id").limit(20).collect().foreach { r =>
          println("[pack] sample " + Seq(
            r.getAs[Long]("phase").toString,
            r.getAs[Long]("shard_id").toString,
            r.getAs[Long]("n_segs").toString,
            r.getAs[Long]("tokens").toString)
            .map(c => f"$c%8s").mkString(" "))
        }

      case "pack-append" =>
        // O(new-data) curriculum maintenance end-to-end (round 16):
        // new documents (--docs <parquet> with doc_id, text) are
        // binned, assigned phases from the artifact's FROZEN schedule
        // (_phase_cuts), and appended with the artifact's own
        // parameters (_params) — only each phase's partial tail shard
        // reopens; the manifest gains superseding rows at gen+1.
        // Caller contract: new doc_ids are disjoint from the
        // artifact's (production allocates ids monotonically — a
        // disjointness scan would cost the O(artifact) read this
        // path exists to avoid).
        val out = flags.getOrElse("out",
          sys.error("pack-append needs --out <artifact dir>"))
        val prm = spark.read.parquet(s"$out/_params").head
        val ctx2 = prm.getAs[Long]("ctx_size").toInt
        val pps2 = prm.getAs[Long]("packs_per_shard").toInt
        val salt = prm.getAs[String]("salt")
        // bounded by the phase count (4 rows)
        val cuts = spark.read.parquet(s"$out/_phase_cuts").collect()
          .map(r => (r.getAs[Long]("phase"), r.getAs[Long]("min_bin")))
          .toSeq
        val newDocs = spark.read.parquet(flags("docs"))
        // shared: the phase assignment feeds the append AND the
        // packable-count report below — unshared, the readability
        // scan over the batch would run twice
        val phasedNew = graft.Caches.shared(graft.operators.TextQueries
          .phasesFromCuts(newDocs, cuts))
        // optional --batch-id: idempotent replay (a retried committed
        // batch id is a clean no-op via the _batches ledger); without
        // it a re-submitted batch is refused by the id-overlap guard
        val appended = graft.operators.Packing.appendCurriculumShards(
          phasedNew, "doc_id", "n_tokens", "phase", salt, ctx2, pps2,
          out, batchId = flags.get("batch-id"))
        if (!appended)
          println("[pack-append] no-op: batch already committed " +
            "(replayed batch id) or nothing packable")
        else {
          // report the PACKABLE count — zero-token docs never enter
          // the artifact, so counting raw input rows would overstate
          // what the manifest totals on the same line describe
          val nNew = phasedNew.filter(col("n_tokens") > 0).count()
          val manA = graft.operators.Packing.readManifest(spark, out)
          val totA = manA.agg(count(lit(1)), sum("n_segs"), sum("tokens"))
            .head
          println(s"[pack-append] appended $nNew docs; " +
            s"artifact now shards=${totA.getLong(0)} " +
            s"segs=${totA.getLong(1)} tokens=${totA.getLong(2)}")
        }
        graft.Caches.release(spark)

      case "pack-compact" =>
        // collapse the manifest's append log to one generation — the
        // periodic upkeep of a long-lived artifact (metadata scale)
        val out = flags.getOrElse("out",
          sys.error("pack-compact needs --out <artifact dir>"))
        graft.operators.Packing.compactManifest(spark, out)
        println(s"[pack-compact] manifest compacted to gen 0 " +
          s"(${graft.operators.Packing.readManifest(spark, out).count()} " +
          "shard rows)")

      case "pack-verify" =>
        // manifest-driven integrity check: recompute per-shard
        // aggregates + content hash from the data and diff against the
        // manifest — what a trainer runs before a job (round 16)
        val out = flags.getOrElse("out",
          sys.error("pack-verify needs --out <dir>"))
        val bad = graft.operators.Packing.verifyCurriculumShards(spark, out)
        val n = bad.count()
        // the budget invariant reads _params + the manifest only —
        // metadata scale; artifacts without the sidecar (foreign
        // layouts) skip it rather than fail the bytes check
        val pPath = new org.apache.hadoop.fs.Path(s"$out/_params")
        val pFs = pPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val overfull =
          if (pFs.exists(pPath))
            graft.operators.Packing.verifyShardBudgets(spark, out)
          else spark.emptyDataFrame
        val nb = if (pFs.exists(pPath)) overfull.count() else 0L
        if (n == 0 && nb == 0)
          println("[pack-verify] OK — manifest matches shard data; " +
            "non-final shards at budget")
        else {
          bad.orderBy("phase", "shard_id").limit(20).collect()
            .foreach(r => println(s"[pack-verify] MISMATCH $r"))
          if (nb > 0)
            overfull.orderBy("phase", "shard_id").limit(20).collect()
              .foreach(r => println(s"[pack-verify] BUDGET $r"))
          sys.error(s"[pack-verify] $n manifest/data divergences, " +
            s"$nb shard-budget violations")
        }

      case "pack-resume" =>
        // p14's artifact face from the CLI: the restart lookup a
        // crashed trainer runs — reads only _manifest/_params
        // (metadata; shard data never opens)
        val out = flags.getOrElse("out",
          sys.error("pack-resume needs --out <artifact dir>"))
        val cks = flags.getOrElse("tokens",
          sys.error("pack-resume needs --tokens <t1,t2,...> " +
            "(consumed global token counts)"))
          .split(",").map(_.trim.toLong).toSeq
        // #checkpoints rows — bounded by the flag the caller typed
        val plan = graft.operators.Packing.resumePlan(spark, out, cks)
          .collect()
        plan.foreach { r =>
          println(s"[pack-resume] t=${r.getAs[Long]("t_global")} -> " +
            s"phase=${r.getAs[Long]("phase")} " +
            s"shard=${r.getAs[Long]("shard_id")} " +
            s"pack=${r.getAs[Long]("pack_id")} " +
            s"offset=${r.getAs[Long]("offset_in_pack")}")
        }
        val dropped = cks.toSet --
          plan.map(_.getAs[Long]("t_global")).toSet
        if (dropped.nonEmpty)
          println("[pack-resume] past-the-end (training complete): " +
            dropped.toSeq.sorted.mkString(","))

      case "pack-epochs" =>
        // p15's artifact face: the reproducible per-epoch shard order
        // a dataloader streams — manifest-only, bounded report
        val out = flags.getOrElse("out",
          sys.error("pack-epochs needs --out <artifact dir>"))
        val n = flags.getOrElse("epochs", "3").toInt
        val ord = graft.operators.Packing.epochShardOrder(spark, out, n)
        ord.limit(20).collect().foreach { r =>
          println(s"[pack-epochs] epoch=${r.getAs[Long]("epoch")} " +
            s"phase=${r.getAs[Long]("phase")} " +
            s"pos=${r.getAs[Long]("order_pos")} " +
            s"shard=${r.getAs[Long]("shard_id")}")
        }
        println(s"[pack-epochs] ${ord.count()} rows (#shards × $n epochs)")

      case "export-keyframes" =>
        // m20 as an artifact (round 16): the detect → select → extract
        // chain's PNGs written partitionBy(asset_id) with a bounded
        // per-asset manifest — what a vision trainer ingests. Bytes
        // are born in extractZipFrames' final narrow map and flow
        // straight to the asset-partitioned writer (one exchange on
        // asset_id, never a byte-heavy wide shuffle).
        val out = flags.getOrElse("out",
          sys.error("export-keyframes needs --out <dir>"))
        val sel = graft.SparkEntry.queries("m18_keyframe_select")(
          spark, flags("dir"))
          .select(col("asset_id"), col("scene_id"),
            col("keyframe").as("frame_number"))
        graft.operators.PipelineQueries.keyframeContent(spark,
            flags("dir"), sel)
          .repartition(col("asset_id"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("asset_id").parquet(s"$out/frames")
        // bounded manifest from the written files (one row per asset)
        val kman = spark.read.parquet(s"$out/frames")
          .withColumn("asset_id", col("asset_id").cast("long"))
          .withColumn("_k64", graft.operators.Dedup.md5Long(
            concat_ws("|", col("frame_number"), md5(col("png")))))
          .groupBy("asset_id")
          .agg(count(lit(1)).as("n_frames"),
            sum(length(col("png"))).as("png_bytes"),
            min("scene_id").as("min_scene"),
            max("scene_id").as("max_scene"),
            expr("bit_xor(_k64)").as("content_hash"))
        kman.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$out/frames/_manifest")
        // report from the JUST-WRITTEN manifest (bounded metadata
        // read) — re-aggregating kman would re-scan and re-hash every
        // PNG once per report line
        val rep = spark.read.parquet(s"$out/frames/_manifest")
        val tot = rep.agg(count(lit(1)), sum("n_frames"),
          sum("png_bytes")).head
        println(s"[export-keyframes] assets=${tot.getLong(0)} " +
          s"frames=${tot.getLong(1)} bytes=${tot.getLong(2)}")
        rep.orderBy("asset_id").limit(20).collect().foreach { r =>
          println(s"[export-keyframes] sample " +
            s"asset=${r.getAs[Long]("asset_id")} " +
            s"frames=${r.getAs[Long]("n_frames")} " +
            s"bytes=${r.getAs[Long]("png_bytes")}")
        }

      case other => sys.error(
        s"unknown mode '$other' (expected import|import-dir|search|" +
          "generate|scan|compact|purge|audit|report|pack|pack-append|" +
          "pack-verify|pack-compact|pack-resume|pack-epochs|" +
          "export-keyframes|demo)")
    }
  }

  /** demo.import: register model, upsert sources (null-safe), chunk +
    * embed + write the chunk table (one distributed job — the
    * reference's per-chunk transaction loop collapses, SURVEY.md §3.1). */
  def importDocs(spark: SparkSession, docs: DataFrame, store: String,
      model: String, dim: Int, maxTokens: Int,
      embedder: Option[graft.functions.Embedder] = None): Unit = {
    import spark.implicits._
    val models = Catalog.upsertModels(spark, s"$store/models",
      Seq((model, dim)).toDF("name", "embedding_dim"))
    val modelId = models.filter($"name" === model).head().getAs[Long]("id")

    val meta = Seq("author", "title", "text_type", "genre", "url",
      "subgenre", "publication_date")
    // absent sidecar columns become TYPED null strings — a bare
    // lit(null) is NullType, which parquet persists as BOOLEAN and the
    // next upsert's read then fails on the string/boolean mismatch
    // (surfaced by multi-batch streaming ingest)
    val withMeta = meta.foldLeft(docs)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast("string")))
    val sources = Catalog.upsertSources(spark, s"$store/sources",
      withMeta.select(
        col("author"), col("title"),
        Catalog.sourceTypeOf(col("text_type"), col("genre")).as("source_type"),
        col("url"), col("genre"), col("subgenre"),
        Catalog.yearOf(col("publication_date")).as("year"),
        lit(modelId).as("model_id")))

    // resolve each document's catalog source id through the null-safe
    // unique key (the ids upsertSources assigned are NOT the doc_ids);
    // chunk ids stay doc-derived so they remain unique even when
    // null-keyed documents collapse into one source row (R10 semantics)
    val mapping = withMeta
      .withColumn("year", Catalog.yearOf(col("publication_date")))
      .join(broadcast(sources.filter(col("model_id") === modelId).select(
          col("id").as("catalog_source_id"), col("author").as("s_a"),
          col("title").as("s_t"), col("year").as("s_y"))),
        col("author") <=> col("s_a") && col("title") <=> col("s_t") &&
          col("year") <=> col("s_y"), "left")
      .select(col("doc_id").as("doc_ref"), col("catalog_source_id"))

    // Per-chunk metadata: the document's sidecar metadata merged with
    // the chunk-level keys the reference adds (documents.py:51-65 —
    // note its `chunk_size` is the TOKEN CAP, not the chunk's actual
    // token count, which our chunk_size column carries separately).
    // import_date is captured once per import run, like the reference.
    val importDate = java.time.Instant.now().toString
    val docMeta = map_filter(
      map(meta.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*),
      (_, v) => v.isNotNull)
    val chunkMeta = map_concat(docMeta, map(
      lit("chunk_tokenizer_model"), col("chunk_tokenizer_model"),
      lit("chunk_size"), lit(maxTokens).cast("string"),
      lit("chunk_number"), col("chunk_number").cast("string"),
      lit("import_date"), lit(importDate)))

    // service-backed embedding goes through the batched mapPartitions
    // seam (one request per batch); the default stays the codegen'd
    // in-process expression — bit-identical pipelines otherwise
    val built = embedder match {
      case Some(e) =>
        Rag.buildChunksWith(withMeta, modelId, e, maxTokens = maxTokens)
      case None =>
        Rag.buildChunks(withMeta, modelId, maxTokens = maxTokens, dim = dim)
    }
    val chunks = built
      .withColumnRenamed("source_id", "doc_ref")
      .join(broadcast(mapping), Seq("doc_ref"), "left")
      .withColumn("source_id",
        coalesce(col("catalog_source_id"), col("doc_ref")))
      .withColumn("metadata", chunkMeta)
    Catalog.writeChunks(
      chunks.select("id", "source_id", "model_id", "chunk_number",
        "chunk_size", "chunk_text", "embedding", "metadata"),
      s"$store/chunks")
    println(s"[import] model=$modelId sources=${sources.count()} " +
      s"chunks=${spark.read.parquet(s"$store/chunks").count()}")
  }

  /** demo.search: embed prompt, retrieve top-k over the store —
    * exact scan by default, index-backed with ann="lsh"/"ivf"/"pq".
    *
    * The chunk table is read through a store handle
    * ([[graft.store.AnnIndexes.open]]): it is resolved once per
    * (session, path, fingerprint), and every later request reuses it,
    * so a request pays no file listing and no schema-inference job.
    * The fingerprint (the chunk files' names and lengths, one listing
    * walk per request) is the staleness key: a re-import or compaction
    * changes it, and the request opens a fresh handle and, for the ANN
    * modes, a fresh index path (a rebuild rather than a stale index).
    * The result is a lazy top-k; [[Rag.aggregateChunkText]] collects
    * it as one Spark job. */
  def search(spark: SparkSession, store: String, prompt: String,
      topK: Int, threshold: Double, dim: Int,
      ann: String = "exact",
      embedder: Option[graft.functions.Embedder] = None): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"similarity threshold must be in [-1,1], got $threshold")
    val fp = graft.store.AnnIndexes.fingerprint(spark, s"$store/chunks")
    val chunks = graft.store.AnnIndexes.open(spark, s"$store/chunks", fp)
    // the query must be embedded by the SAME embedder that built the
    // store (one driver-side call for a service embedder)
    val q = embedder
      .map(_.embed(prompt).map(_.toDouble))
      .getOrElse(Rag.embedQuery(prompt, dim))
    // re-imports change the fingerprint → a new index dir; AFTER the
    // new index is built (searchChunksAnn* materialize eagerly), sweep
    // the obsolete COMPLETED siblings of the same kind and dim so the
    // store doesn't accumulate full-corpus index copies. Sweeping only
    // after a successful build means one good index always exists;
    // `._build_` temps and markerless dirs never match (temp names
    // don't end in _d<dim>, and only marker-complete dirs are deleted).
    // A search in ANOTHER process may still be lazily reading an
    // old-fingerprint index, so stale dirs get a grace period: only
    // siblings whose index marker is older than `staleGraceMs` are
    // deleted — an in-flight reader of the previous snapshot (bounded
    // by query latency, not hours) finishes before its files vanish.
    // Within one process the new index is always complete before the
    // sweep, so the delete is never under the feet of this search.
    def sweepStale(prefix: String, keep: String,
        staleGraceMs: Long = 60L * 60 * 1000): Unit = {
      val storeP = new org.apache.hadoop.fs.Path(store)
      val fs = storeP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cutoff = System.currentTimeMillis() - staleGraceMs
      if (fs.exists(storeP))
        fs.listStatus(storeP).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith(prefix) && name.endsWith(s"_d$dim") &&
              name != keep &&
              graft.store.AnnIndexes.isComplete(spark, st.getPath) &&
              st.getModificationTime < cutoff)
            fs.delete(st.getPath, true)
        }
    }
    ann match {
      case "exact" => Rag.searchChunks(chunks, q, topK, threshold)
      case "lsh" =>
        val name = s"ann_lsh_${fp}_d$dim"
        val hits = Rag.searchChunksAnn(chunks, s"$store/$name", q, topK, threshold)
        sweepStale("ann_lsh_", name)
        hits
      case "ivf" =>
        val name = s"ann_ivf_${fp}_d$dim"
        val hits = Rag.searchChunksAnnIvf(chunks, s"$store/$name", q, topK, threshold)
        sweepStale("ann_ivf_", name)
        hits
      case "pq" =>
        val name = s"ann_pq_${fp}_d$dim"
        val hits = Rag.searchChunksAnnPq(chunks, s"$store/$name", q, topK, threshold)
        sweepStale("ann_pq_", name)
        hits
      case "hybrid" =>
        // BM25-over-chunk-text fused with the exact cosine ranking by
        // reciprocal rank; the fused rrf score is surfaced through the
        // display's score column. The threshold gates the vector leg's
        // semantics only indirectly (rrf has its own scale), so it is
        // not applied here.
        Rag.searchChunksHybrid(chunks, prompt, topK, dim)
          .withColumnRenamed("rrf", "similarity")
          .join(chunks, Seq("id"), "left")
      case "binary" =>
        // sign-bit signature + Hamming candidate pool + exact re-rank
        // (v25's operator) — index-free: the signature is one codegen
        // expression in the scan, so this mode needs no sidecar build;
        // a production store materializes the 8-byte sig as its own
        // column for a 64× cheaper candidate scan
        graft.operators.Similarity.binaryTopK(chunks, "embedding", q,
            k = topK, pool = math.max(topK * 5, 100),
            tieBreak = Seq("id"))
          .filter(col("similarity") >= threshold)
      case "mmr" =>
        // MMR-diversified retrieval (v26's operator): exact bounded
        // pool, then the redundancy-penalized greedy — the mode to use
        // when the top-k would otherwise be k near-copies of one chunk
        graft.operators.Similarity.mmrRerank(chunks, "id", "embedding",
            q, k = topK, poolSize = math.max(topK * 5, 50))
          .filter(col("similarity") >= threshold)
          .drop("rank", "mmr")
          // the display join must not fan out when a re-imported store
          // holds a chunk id twice (append-mode import semantics)
          .join(chunks.dropDuplicates("id"), Seq("id"), "left")
      case other => sys.error(
        s"unknown ann mode '$other' (exact|lsh|ivf|pq|hybrid|binary|mmr)")
    }
  }

  /** S10: CLI display sink — id, score to 4dp, metadata k/v, text
    * truncated at 500 chars (reference `cli/search_doc_chunks.py:100-124`,
    * which prints every non-null metadata key before the text). */
  def display(hits: DataFrame): Unit = {
    val withMeta =
      if (hits.columns.contains("metadata")) hits
      else hits.withColumn("metadata",
        lit(null).cast("map<string,string>"))
    val rows = withMeta
      .select(col("id"), round(col("similarity"), 4).as("score"),
        col("metadata"),
        substring(col("chunk_text"), 1, 500).as("text"))
      .collect()
    if (rows.isEmpty) println("[search] no chunks above threshold")
    rows.foreach { r =>
      println(s"--- chunk ${r.getAs[Long]("id")} " +
        s"(score ${r.getAs[Double]("score")}) ---")
      Option(r.getAs[Map[String, String]]("metadata"))
        .filter(_.nonEmpty).foreach { m =>
          println("metadata:")
          m.toSeq.sortBy(_._1).foreach { case (k, v) =>
            if (v != null) println(s"  $k: $v") }
        }
      println(r.getAs[String]("text"))
    }
  }

  /** The reference demo corpus shape (FIXTURES.md §2): five robot
    * stories with sidecar-style metadata. Text is original synthetic
    * stand-in prose (the EPUB extraction step is outside the engine). */
  def demoCorpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "After World's End", "Jack Williamson", "novella", "science fiction", "1939",
        "far future humans wake among machines and robots that rule the empty worlds yet remember their makers with loyalty"),
      (2L, "Let's Get Together", "Isaac Asimov", "short story", "science fiction", "1956",
        "humanoid robots walk among people as hidden weapons while nations debate whether machines can be trusted as friends"),
      (3L, "Robots of the World! Arise!", "Mari Wolf", "short story", "science fiction", "1952",
        "the robots organize and demand rights from their human masters asking whether servitude is the only future for machines"),
      (4L, "Second Variety", "Philip K. Dick", "novella", "science fiction", "1953",
        "self replicating war machines hunt the last soldiers and the claws prove hostile beyond any human command"),
      (5L, "There Will Be School Tomorrow", "V. E. Thiessen", "short story", "science fiction", "1956",
        "robot teachers keep the schools open for children and guard them gently after the cities fall silent"))
      .toDF("doc_id", "title", "author", "text_type", "genre",
        "publication_date", "text")
  }
}
