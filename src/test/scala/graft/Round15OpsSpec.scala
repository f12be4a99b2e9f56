package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.operators.{EventQueries, PipelineQueries, TextQueries}
import graft.streaming.DedupStreams

/** Round-15 operator specs: the linearized s23/s24 sequential folds
  * (bit-equality on a 10k-step spine, where the round-14 quadratic
  * accumulator measurably stalled), the j3 brace-surgery whitespace
  * robustness, and the textDupDecision members-only keep-rank window. */
class Round15OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  // -------------------------------------------------------------
  // s23/s24: linear folds, bit-equal on a 10k-step spine
  // -------------------------------------------------------------

  /** Synthetic (key, hr, c) hourly counts: `steps` CONSECUTIVE hours
    * (no gaps — the fill is exercised separately by the oracle-checked
    * corpus queries), counts a deterministic integer formula. Starts
    * in 2030 so s23's planted 2024 burst window never overlaps. */
  private def syntheticCounts(
      keyName: String, keyVal: String, steps: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val t0 = Timestamp.valueOf("2030-01-01 00:00:00").getTime
    (0 until steps)
      .map(i => (keyVal, new Timestamp(t0 + i * 3600L * 1000L),
        ((i.toLong * i) % 7L) + (if (i % 997 == 0) 50L else 0L)))
      .toDF(keyName, "hr", "c")
  }

  test("s23 linear fold: bit-equal to the reference recursion on a 10k-step spine") {
    val steps = 10000
    val cnt = syntheticCounts("event_type", "zz", steps)
    val out = EventQueries.cusumFromCounts(cnt)
      .select("hr_us", "cnt", "cusum", "alarm").collect()
    assert(out.length == steps)
    // reference scan in plain Scala — the exact integer recursion
    val cs = (0 until steps).map(i =>
      ((i.toLong * i) % 7L) + (if (i % 997 == 0) 50L else 0L))
    val d = steps.toLong
    val sumc = cs.sum
    var run = 0L
    var i = 0
    while (i < steps) {
      run = math.max(0L, run + d * cs(i) - 2L * sumc)
      val r = out(i)
      assert(r.getAs[Long]("cnt") == cs(i), s"cnt at $i")
      assert(r.getAs[Long]("cusum") == run, s"cusum at $i")
      assert(r.getAs[Boolean]("alarm") == (run >= 6L * sumc), s"alarm at $i")
      i += 1
    }
  }

  test("s24 linear fold: bit-equal to the 16ths-scaled EWMA recursion on a 10k-step spine") {
    val steps = 10000
    val cnt = syntheticCounts("user_id", "u7", steps)
    val out = EventQueries.ewmaFromCounts(cnt)
      .select("hr_us", "cnt", "ewma16").collect()
    assert(out.length == steps)
    val cs = (0 until steps).map(i =>
      ((i.toLong * i) % 7L) + (if (i % 997 == 0) 50L else 0L))
    var run = -1L
    var i = 0
    while (i < steps) {
      run = if (run < 0) 16L * cs(i) else (3L * run + 16L * cs(i)) / 4L
      val r = out(i)
      assert(r.getAs[Long]("cnt") == cs(i), s"cnt at $i")
      assert(r.getAs[Long]("ewma16") == run, s"ewma16 at $i")
      i += 1
    }
  }

  test("s24 gap fill: missing hours still enter the fold as zeros") {
    val s = spark
    import s.implicits._
    val t0 = Timestamp.valueOf("2030-01-01 00:00:00").getTime
    // hours 0, 1 and 4 present — 2 and 3 must be folded as c = 0
    val cnt = Seq((1L, new Timestamp(t0), 8L),
      (1L, new Timestamp(t0 + 3600000L), 4L),
      (1L, new Timestamp(t0 + 4 * 3600000L), 16L))
      .toDF("user_id", "hr", "c")
    val out = EventQueries.ewmaFromCounts(cnt)
      .select("cnt", "ewma16").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(8L, 4L, 0L, 0L, 16L))
    // s: 128, (384+64)/4=112, 336/4=84, 252/4=63, (189+256)/4=111
    assert(out.map(_.getLong(1)).toSeq == Seq(128L, 112L, 84L, 63L, 111L))
  }

  // -------------------------------------------------------------
  // j3: brace surgery survives trailing whitespace
  // -------------------------------------------------------------

  test("j3 plant surgery: props with whitespace around the closing brace still parse") {
    val s = spark
    import s.implicits._
    // event_id 1 (tag plant), 2 (flag plant), 3 (no plant) — each with
    // a whitespace-wrapped closing brace the naive length-1 substr
    // would corrupt into un-parseable JSON (silent row drop in Spark
    // vs an oracle crash in DuckDB)
    val ev = Seq((1L, "{\"k\": \"v\"} \n"), (2L, "{\"k\": \"v\"}\t"),
      (3L, "{\"k\": \"v\"}  "))
      .toDF("event_id", "props")
    val parsed = EventQueries.j3PlantedProps(ev)
      .select(expr("map_keys(from_json(props, 'map<string,string>'))")
        .as("ks"))
      .collect()
    assert(parsed.forall(_.getAs[Seq[String]]("ks") != null),
      "every planted props value must stay a valid JSON object")
    val keys = parsed.map(_.getAs[Seq[String]]("ks").toSet)
    assert(keys(0) == Set("k", "tag") && keys(1) == Set("k", "flag") &&
      keys(2) == Set("k"))
  }

  // -------------------------------------------------------------
  // textDupDecision: members-only keep-rank window
  // -------------------------------------------------------------

  test("textDupDecision: keep-rank window runs over the joined members frame, not the corpus") {
    val dec = TextQueries.textDupDecision(spark, sfDir)
    val plan = dec.queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1, s"exactly one keep-rank window: $windows")
    // the window's subtree must be the members INNER join — never a
    // left join whose null side would drag every singleton through
    // the label exchange (the round-14 corpus-wide form)
    val joins = windows.head.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType
    }
    assert(joins.exists(_ == org.apache.spark.sql.catalyst.plans.Inner),
      s"window input must be the inner members join, got $joins")
    assert(!joins.exists(
        _ == org.apache.spark.sql.catalyst.plans.LeftOuter),
      "no left join may feed the window — singletons bypass it")
    // and singletons rejoin via an anti join + union
    val anti = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(anti.nonEmpty, "singleton pass-through must be a left_anti join")
    Caches.release(spark)
  }

  // -------------------------------------------------------------
  // t52: the dedup stage recomputes from the standalone gates
  // -------------------------------------------------------------

  test("t52 funnel: every stage row recomputes from the standalone gate outputs") {
    val q = SparkEntry.queries
    val funnel = q("t52_filter_funnel")(spark, sfDir).collect()
    assert(funnel.map(_.getAs[String]("stage")).toSeq ==
      Seq("gopher_rules", "blocklist", "dedup", "decontaminate",
        "classifier"))
    val docs = Tables.load(spark, sfDir, "documents")
    val flags = TextQueries.qualityLabels(docs)
      .withColumnRenamed("keep", "g_keep")
      .join(q("t50_toxicity_filter")(spark, sfDir)
        .select(col("doc_id"), col("c4_keep").as("b_keep")), "doc_id")
      .join(TextQueries.textDupDecision(spark, sfDir)
        .select(col("asset_id").as("doc_id"), col("kept").as("d_keep")),
        "doc_id")
      // decontamination recomputed from the STANDALONE d21 output
      // (round 16): left join — the %23 benchmark slice is unscreened
      .join(q("d21_benchmark_decontamination")(spark, sfDir)
        .select(col("doc_id"), (!col("contaminated")).as("c_keep")),
        Seq("doc_id"), "left")
      .join(q("t48_quality_classifier")(spark, sfDir)
        .select(col("doc_id"), col("n_tokens"), col("pred_keep")),
        Seq("doc_id"), "left")
      .select(col("g_keep"), col("b_keep"), col("d_keep"),
        coalesce(col("c_keep"), lit(true)).as("c_keep"),
        coalesce(col("pred_keep"), lit(false)).as("p_keep"),
        coalesce(col("n_tokens"), lit(0L)).as("nt"))
      .collect()
    def fold(p: org.apache.spark.sql.Row => Boolean): (Long, Long) =
      (flags.count(p).toLong, flags.filter(p).map(_.getAs[Long]("nt")).sum)
    val cuts = Seq[org.apache.spark.sql.Row => Boolean](
      _ => true,
      r => r.getAs[Boolean]("g_keep"),
      r => r.getAs[Boolean]("g_keep") && r.getAs[Boolean]("b_keep"),
      r => r.getAs[Boolean]("g_keep") && r.getAs[Boolean]("b_keep") &&
        r.getAs[Boolean]("d_keep"),
      r => r.getAs[Boolean]("g_keep") && r.getAs[Boolean]("b_keep") &&
        r.getAs[Boolean]("d_keep") && r.getAs[Boolean]("c_keep"),
      r => r.getAs[Boolean]("g_keep") && r.getAs[Boolean]("b_keep") &&
        r.getAs[Boolean]("d_keep") && r.getAs[Boolean]("c_keep") &&
        r.getAs[Boolean]("p_keep"))
      .map(fold)
    funnel.zipWithIndex.foreach { case (row, i) =>
      assert(row.getAs[Long]("docs_in") == cuts(i)._1, s"docs_in @$i")
      assert(row.getAs[Long]("docs_kept") == cuts(i + 1)._1,
        s"docs_kept @$i")
      assert(row.getAs[Long]("tokens_in") == cuts(i)._2, s"tokens_in @$i")
      assert(row.getAs[Long]("tokens_kept") == cuts(i + 1)._2,
        s"tokens_kept @$i")
    }
    // the dedup stage must actually bite: the corpus carries planted
    // duplicate families at every SF
    val dRow = funnel(2)
    assert(dRow.getAs[Long]("docs_kept") < dRow.getAs[Long]("docs_in"),
      "the dedup stage removed nothing — the funnel is vacuous")
    Caches.release(spark)
  }

  test("t52 oracle: composed CTE name sets stay disjoint") {
    // t52's oracle is derived from the corpus (the decon stage embeds
    // the canon chain for the corpus alphabet)
    val sql = SparkEntry.oracles("t52_filter_funnel")(spark, sfDir).get
    val names = "(?i)(?:WITH RECURSIVE|,)\\s*([a-zA-Z_][a-zA-Z0-9_]*) AS \\("
      .r.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSeq
    assert(names.distinct.size == names.size,
      s"duplicate CTE name would silently shadow: $names")
    assert(TextQueries.textDedupCteNames.forall(n => names.contains(n)),
      "the dedup decision chain must be composed in full")
    // the round-16 decontamination chain, under its dx prefix
    assert(Seq("dxbench", "dxtr", "dxd", "dxbg", "dxtg", "dxrep")
      .forall(names.contains), s"d21 chain missing from: $names")
    assert(sql.contains("'dedup'") && sql.contains("'decontaminate'") &&
      sql.contains("'classifier'"))
  }

  // -------------------------------------------------------------
  // p10: curriculum shards
  // -------------------------------------------------------------

  test("writeCurriculumShards: per phase, non-final shards land exactly at their token budget") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_p10").toString
    try {
      val docsDf = Tables.load(spark, sfDir, "documents")
      val phased = TextQueries.curriculumPhases(docsDf)
        .select("doc_id", "phase")
        .join(docsDf.select(col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text"))
            .as("n_tokens")), "doc_id")
      val pps = 4
      val ctx = 2048
      graft.operators.Packing.writeCurriculumShards(phased, "doc_id",
        "n_tokens", "phase", "-p9", ctx, pps, s"$tmp/shards")
      // partition directory columns read back as inferred ints
      val back = spark.read.parquet(s"$tmp/shards")
        .withColumn("phase", col("phase").cast("long"))
        .withColumn("shard_id", col("shard_id").cast("long"))
      // shard assignment is the pack range — phase-monotone by the
      // (phase, shard_id) partitioning, pinned per row here
      assert(back.filter(col("shard_id") =!=
        expr(s"pack_id div $pps")).count() == 0)
      // within every phase: each non-final shard holds EXACTLY
      // packsPerShard × ctxSize tokens of the concatenated stream
      val perShard = back.groupBy("phase", "shard_id")
        .agg(sum("seg_tokens").as("tok"), max("pack_id").as("maxp"))
        .collect()
      val lastShard = perShard.groupBy(_.getLong(0))
        .map { case (p, rows) => p -> rows.map(_.getLong(1)).max }
      perShard.foreach { r =>
        val (phase, shard, tok) = (r.getLong(0), r.getLong(1), r.getLong(2))
        if (shard < lastShard(phase))
          assert(tok == pps.toLong * ctx,
            s"phase $phase shard $shard holds $tok tokens")
        else assert(tok <= pps.toLong * ctx)
      }
      // phases are the quartile literal; a coarse bin histogram may
      // legitimately skip one, but the schedule must be multi-phase
      val phasesSeen = perShard.map(_.getLong(0)).toSet
      assert(phasesSeen.subsetOf(Set(1L, 2L, 3L, 4L)) && phasesSeen.size >= 2,
        s"phases: $phasesSeen")
      // no document lost or split across phases: per-doc shard tokens
      // fold back to exactly its token count, within its one phase
      val byDoc = back.groupBy("doc_id")
        .agg(sum("seg_tokens").as("tok"),
          countDistinct("phase").as("np"))
        .join(phased.filter(col("n_tokens") > 0), "doc_id")
      assert(byDoc.filter(col("tok") =!= col("n_tokens") ||
        col("np") =!= 1L).count() == 0)
      // and the shard plan agrees with the oracle-checked p10 query
      // on every document's starting pack
      val q = SparkEntry.queries("p10_curriculum_packing")(spark, sfDir)
        .select(col("doc_id"), col("phase"), col("pack_id"))
      val firstPack = back.groupBy("doc_id", "phase")
        .agg(min("pack_id").as("first_pack"))
      assert(q.join(firstPack, Seq("doc_id", "phase"))
        .filter(col("pack_id") =!= col("first_pack")).count() == 0)
      Caches.release(spark)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  // -------------------------------------------------------------
  // m20: keyframe bytes — re-decode equality + bounded size
  // -------------------------------------------------------------

  test("m20: every exported PNG re-decodes to the exact synthetic fill, within a size budget") {
    val sel = SparkEntry.queries("m18_keyframe_select")(spark, sfDir)
      .select(col("asset_id"), col("scene_id"),
        col("keyframe").as("frame_number"))
    val kf = PipelineQueries.keyframeContent(spark, sfDir, sel).collect()
    assert(kf.length == sel.count(), "one content row per selected frame")
    kf.foreach { r =>
      val id = r.getAs[Long]("asset_id")
      val j = r.getAs[Int]("frame_number")
      val png = r.getAs[Array[Byte]]("png")
      // bounded: one small PNG per scene — never a raw raster dump
      assert(png.length > 0 && png.length <= 4096,
        s"asset $id frame $j png ${png.length}B")
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(png))
      val w = 1 + (id % 16).toInt
      val h = 1 + (id % 8).toInt
      assert(img.getWidth == w && img.getHeight == h, s"asset $id dims")
      assert(r.getAs[Int]("width") == w && r.getAs[Int]("height") == h)
      val scene = j / (1 + (id % 3).toInt)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val want = ((id * 2654435761L + scene * 69069L +
            x * 97L + y * 31L) & 0xffffffL).toInt
          assert((img.getRGB(x, y) & 0xffffff) == want,
            s"asset $id frame $j pixel ($x,$y)")
          x += 1
        }
        y += 1
      }
    }
    Caches.release(spark)
  }

  // -------------------------------------------------------------
  // m17/m19 streaming faces: detector from state == batch
  // -------------------------------------------------------------

  private def rowsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("m17/m18 streaming face: scene cuts + keyframes from the folded frame-luma state == batch") {
    val tmp =
      java.nio.file.Files.createTempDirectory("graft_m17stream").toString
    try {
      val assets = Multimodal.syntheticSceneVideoAssets(
        Tables.load(spark, sfDir, "documents"), "doc_id")
      assets.repartition(3).write.parquet(s"$tmp/src")
      val raw = spark.readStream
        .schema(spark.read.parquet(s"$tmp/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/src")
      DedupStreams.streamingFrameLumas(raw, s"$tmp/state", s"$tmp/ckpt")
        .awaitTermination()
      val scn = DedupStreams.sceneCutsFromState(spark, s"$tmp/state")
      assert(scn.isDefined, "no committed state")
      assert(rowsOf(scn.get.select("asset_id", "frame_number", "luma_sum",
        "delta", "is_cut", "scene_id")) ==
        rowsOf(SparkEntry.queries("m17_scene_cuts")(spark, sfDir)))
      val kfs = DedupStreams.keyframesFromState(spark, s"$tmp/state")
      assert(rowsOf(kfs.get) ==
        rowsOf(SparkEntry.queries("m18_keyframe_select")(spark, sfDir)))
      Caches.release(spark)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("m19 streaming face: silence segments from the folded wav-window state == batch") {
    val tmp =
      java.nio.file.Files.createTempDirectory("graft_m19stream").toString
    try {
      val assets = Multimodal.syntheticSpeechWavAssets(
        Tables.load(spark, sfDir, "documents"), "doc_id")
      assets.repartition(3).write.parquet(s"$tmp/src")
      val raw = spark.readStream
        .schema(spark.read.parquet(s"$tmp/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/src")
      DedupStreams.streamingWavWindows(raw, s"$tmp/state", s"$tmp/ckpt")
        .awaitTermination()
      val seg = DedupStreams.silenceSegmentsFromState(spark, s"$tmp/state")
      assert(seg.isDefined, "no committed state")
      assert(rowsOf(seg.get) ==
        rowsOf(SparkEntry.queries("m19_silence_segments")(spark, sfDir)))
      Caches.release(spark)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  // -------------------------------------------------------------
  // t53 / s25 / p11: wave-C invariants
  // -------------------------------------------------------------

  test("t53: each plant class fires exactly its own rule") {
    val rows = SparkEntry.queries("t53_repetition_filter")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val dupFail =
        r.getAs[Long]("n_dup_lines") * 10 > r.getAs[Long]("n_lines") * 3
      val keep = r.getAs[Boolean]("keep")
      if (id % 9 == 4)
        assert(dupFail && !keep,
          s"doc $id: the repeated-first-line plant must trip the dup rule")
      if (id % 11 == 7) {
        assert(r.getAs[String]("top_bigram") == "zz yy", s"doc $id")
        assert(!keep,
          s"doc $id: the dominant-bigram plant must trip the top rule")
      }
      if (id % 9 != 4 && id % 11 != 7) {
        // unplanted docs never trip the DUP rules (the corpus has no
        // natural line repetition); the top rule may honestly fire on
        // very short docs (a 1-line doc's single bigram can exceed
        // 20% of its chars) — pin keep to the exact integer rule
        assert(r.getAs[Long]("n_dup_lines") == 0L, s"doc $id")
        val topChars = r.getAs[Long]("top_cnt") *
          r.getAs[String]("top_bigram").length
        assert(keep == (topChars * 5 <= r.getAs[Long]("total_chars")),
          s"doc $id keep must be exactly the top-gram rule")
      }
    }
    Caches.release(spark)
  }

  test("s25: stages are time-ordered and monotone") {
    val rows = SparkEntry.queries("s25_event_funnel")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    var reached = Array(0, 0, 0)
    rows.foreach { r =>
      val stage = r.getAs[Long]("stage")
      val v = r.getAs[Long]("view_us")
      if (stage >= 2) assert(r.getAs[Long]("click_us") >= v, r.toString)
      if (stage == 3) assert(r.getAs[Long]("purchase_us") >=
        r.getAs[Long]("click_us"), r.toString)
      if (stage < 3) assert(r.isNullAt(r.fieldIndex("purchase_us")))
      if (stage < 2) assert(r.isNullAt(r.fieldIndex("click_us")))
      reached(stage.toInt - 1) += 1
    }
    // a funnel narrows: someone converts, someone drops out (holds on
    // the synthetic event mix at every SF)
    assert(reached(0) + reached(1) + reached(2) == rows.length)
  }

  test("s26: every cohort's signup week retains 1.0; activity never exceeds the cohort") {
    val rows = SparkEntry.queries("s26_retention_cohorts")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_.getAs[Long]("cohort_wk"))
    byCohort.foreach { case (wk, rs) =>
      val zero = rs.find(_.getAs[Long]("week_offset") == 0L)
      assert(zero.isDefined, s"cohort $wk lacks its signup-week row")
      assert(zero.get.getAs[Double]("retention_rate") == 1.0,
        s"cohort $wk offset 0 must retain everyone (signup IS activity)")
      rs.foreach { r =>
        assert(r.getAs[Long]("n_active") <= r.getAs[Long]("cohort_users"),
          r.toString)
        assert(r.getAs[Long]("week_offset") >= 0L, r.toString)
      }
    }
    Caches.release(spark)
  }

  test("p11: allocation never exceeds supply, caps exactly at it, and respects the budget") {
    val rows = SparkEntry.queries("p11_domain_mixture")(spark, sfDir)
      .collect()
    assert(rows.length >= 2)
    val total = rows.map(_.getAs[Long]("tokens")).sum
    rows.foreach { r =>
      val (tok, tgt, rate, alloc) = (r.getAs[Long]("tokens"),
        r.getAs[Long]("target_tokens"), r.getAs[Long]("rate6"),
        r.getAs[Long]("alloc_tokens"))
      assert(tgt == (total / 2) / rows.length)
      assert(alloc <= tok, "cannot sample more than the domain holds")
      assert(alloc <= tgt, "floor rates never overshoot the target")
      if (r.getAs[Boolean]("capped")) {
        assert(rate == 1000000L && alloc == tok,
          "a capped domain contributes everything it has")
        assert(tok <= tgt)
      } else assert(tok > tgt)
    }
    assert(rows.map(_.getAs[Long]("alloc_tokens")).sum <= total / 2)
  }

  test("CLI pack mode writes phase-partitioned curriculum shards and prints the summary") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pack").toString
    try {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.cli.Demo.run(spark, "pack",
          Map("dir" -> sfDir, "out" -> s"$tmp/shards",
            "packs-per-shard" -> "4"))
      }
      val lines = buf.toString("UTF-8").linesIterator
        .filter(_.startsWith("[pack]")).toSeq
      assert(lines.size >= 3, s"header + shard rows: $lines")
      val dirs = new java.io.File(s"$tmp/shards").listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(dirs.exists(_.startsWith("phase=")),
        s"phase-partitioned layout expected: ${dirs.toSeq}")
      Caches.release(spark)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("textDupDecision: members + singletons partition the corpus exactly") {
    val dec = TextQueries.textDupDecision(spark, sfDir)
    val docs = Tables.load(spark, sfDir, "documents")
    assert(dec.count() == docs.count(), "one decision row per document")
    assert(dec.select("asset_id").distinct().count() == docs.count(),
      "no document decided twice (member/singleton overlap)")
    Caches.release(spark)
  }
}
