package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.streaming.DedupStreams

/** Round-13 operator specs: the m10 bounded-window fix (the round-12
  * verdict's one genuine unbounded-memory hazard), the streaming
  * pHash-state payload migration, and corrupt-container tolerance on
  * the zip walks. */
class Round13OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** One real WAV asset of `nSamples` 16-bit mono samples (sample i =
    * a deterministic ramp) — long enough to prove the decode bound. */
  private def wavAsset(id: Long, nSamples: Int): DataFrame = {
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val v = ((i * 37) % 20001) - 10000
      pcm(2 * i) = (v & 0xff).toByte
      pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val s = spark; import s.implicits._
    Seq((id, bos.toByteArray)).toDF("asset_id", "content")
      .select(col("asset_id"), col("content"),
        struct(lit("audio").as("media_type"),
          lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(8000).as("sample_rate"),
          lit(1000L * nSamples / 8000).as("duration_ms")).as("meta"))
  }

  test("m10 bound: decodeWavWindows(maxWindows) stops EMITTING at the bound on a long asset") {
    val long = wavAsset(1L, 200000) // 25 s at 8 kHz — 200k windows at windowSamples=1
    val bounded = Multimodal.decodeWavWindows(long, windowSamples = 1,
      maxWindows = 66)
    assert(bounded.count() == 66,
      "decode must stop at maxWindows, not emit the full sample stream")
    assert(bounded.agg(max("window_number")).head.getInt(0) == 65)
    // and the bound is the decode loop, not a post-hoc filter: the
    // unbounded form really would have emitted every sample
    assert(Multimodal.decodeWavWindows(long, windowSamples = 1)
      .count() == 200000)
  }

  test("m10 bound: fingerprint unchanged by construction — long asset == its 66-window prefix") {
    val long = wavAsset(3L, 200000)
    val prefix = wavAsset(3L, 66)
    def fp(df: DataFrame) = Multimodal.audioFingerprint(df, windowSamples = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4))).toSeq
    assert(fp(long) == fp(prefix),
      "the 64 delta bits read only windows 0..65 — truncation is invisible")
    assert(fp(long).nonEmpty)
  }

  test("m10 bound: the window_number filter is IN the plan under the fingerprint aggregate") {
    val p = Multimodal.audioFingerprint(wavAsset(5L, 500), windowSamples = 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("window_number") && p.contains("<= 65"),
      s"bounded-input filter missing from the fingerprint plan:\n${p.take(2000)}")
  }

  test("mergeMinChunks migration: a pre-payload state (h0..h3 only) unions with a payload delta") {
    val s = spark; import s.implicits._
    // round-11 on-disk state shape: chunks only
    val oldState = Seq((1L, 3, 3, 3, 3), (2L, 9, 9, 9, 9))
      .toDF("asset_id", "h0", "h1", "h2", "h3")
    // round-12+ batch delta: width/height payload rides along
    val delta = Seq((2L, 1, 1, 1, 1, 10, 20), (7L, 5, 5, 5, 5, 30, 40))
      .toDF("asset_id", "h0", "h1", "h2", "h3", "width", "height")
    val m = DedupStreams.mergeMinChunks(oldState, delta, Seq("asset_id"))
    assert(m.columns.toSet ==
      Set("asset_id", "h0", "h1", "h2", "h3", "width", "height"))
    val rows = m.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), Option(r.get(5)), Option(r.get(6))))).toMap
    // asset 1: only the pre-upgrade observation → null payload, not a failure
    assert(rows(1L) == ((3, None, None)))
    // asset 2: delta's chunks win the struct min (1 < 9) and its
    // payload rides along wholesale
    assert(rows(2L) == ((1, Some(10), Some(20))))
    // asset 7: delta-only, payload intact
    assert(rows(7L) == ((5, Some(30), Some(40))))
    // and the downstream m9 collapse ANALYZES against the migrated
    // state (the advisor's reported failure mode was an analysis
    // error on the missing columns)
    Multimodal.imageDedupFromHashes(m, maxDist = 3).collect()
    Caches.release(s)
  }

  test("corrupt zip container: zero rows for that asset, intact assets unaffected") {
    val s = spark; import s.implicits._
    val good = Multimodal.syntheticVideoAssets(
      Seq(7L).toDF("doc_id"), "doc_id").collect().head
    val goodBytes = good.getAs[Array[Byte]](1)
    // truncate a VALID container mid-entry — the real crawl artifact:
    // the zip walk hits unexpected EOF inside readAllBytes/getNextEntry
    val corrupt = goodBytes.take(goodBytes.length / 2)
    val assets = Seq((7L, goodBytes), (8L, corrupt))
      .toDF("asset_id", "content")
      .select(col("asset_id"), col("content"),
        struct(lit("video").as("media_type"), lit(1).as("width"),
          lit(1).as("height"), lit(null).cast("int").as("sample_rate"),
          lit(80L).as("duration_ms")).as("meta"))
    val fh = Multimodal.zipFrameHashes(assets, everyNth = 2)
      .groupBy("asset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fh.contains(7L) && fh(7L) > 0, "intact asset must still hash")
    assert(!fh.contains(8L), "corrupt container must contribute zero rows")
    val fs = Multimodal.sampleZipFrames(assets, everyNth = 2)
      .groupBy("asset_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fs.contains(7L) && fs(7L) > 0)
    assert(!fs.contains(8L),
      "sampleZipFrames shares the corrupt-container contract")
    // asset 7 has 2 + 7 % 7 = 2 frames; both are wanted from both assets
    val wanted = Seq((7L, 0), (7L, 1), (8L, 0), (8L, 1))
      .toDF("asset_id", "frame_number")
    val ex = Multimodal.extractZipFrames(assets, wanted)
      .select("asset_id", "frame_number").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(ex == Set((7L, 0), (7L, 1)),
      "extractZipFrames shares the corrupt-container contract")
  }

  /** Crafted per-frame hash table: one row per (asset, frameIdx),
    * hash identity carried in h0 (h1..h3 zero). */
  private def frameTable(rows: Seq[(Long, Int, Int)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("asset_id", "frame_number", "h0")
      .select(col("asset_id"), col("frame_number"), col("h0"),
        lit(0).as("h1"), lit(0).as("h2"), lit(0).as("h3"))
  }

  private def decisions(df: DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  test("m11 prune: a corpus-ubiquitous frame hash cannot fan the pair join out") {
    import graft.multimodal.Multimodal
    // 120 assets, each: two UBIQUITOUS hashes (1, 2 — black frame /
    // title card) + one unique hash. Unpruned, every rep pair shares
    // {1, 2} (shared=2, containment 2/3 ≥ 50%) → one giant merge fed
    // by a C(120,2) candidate fanout on each shared hash.
    val rows = (0L until 120L).flatMap(i =>
      Seq((i, 0, 1), (i, 1, 2), (i, 2, 1000 + i.toInt)))
    val pruned = decisions(
      Multimodal.videoDedupFromFrameHashes(frameTable(rows)))
    assert(pruned.size == 120 && pruned.forall(_._2._2),
      "df>64 hashes must be dropped from the pair join: all singletons")
    // the documented recall trade, made visible: with the prune lifted
    // the same corpus merges into one cluster through the shared pair
    val unpruned = decisions(Multimodal.videoDedupFromFrameHashes(
      frameTable(rows), maxDf = 1000000))
    assert(unpruned.values.map(_._1).toSet.size == 1 &&
      unpruned.values.count(_._2) == 1,
      "sanity: without the prune the ubiquitous hashes merge everything")
    Caches.release(spark)
  }

  test("m11 containment: two long compilations sharing 2 stock frames do NOT merge; short clips do") {
    import graft.multimodal.Multimodal
    // A and B: 100-hash framesets sharing exactly 2 (the round-12
    // verdict's false-merge class — the old fixed minShared=2 merged
    // them); C and D: 3-hash framesets sharing 2 (containment 2/3).
    val a = (0 until 100).map(k => (1L, k, 10000 + k))
    val b = (0 until 100).map(k => (2L, k, if (k < 2) 10000 + k else 20000 + k))
    val c = Seq((3L, 0, 1), (3L, 1, 2), (3L, 2, 31))
    val d = Seq((4L, 0, 1), (4L, 1, 2), (4L, 2, 41))
    val dec = decisions(Multimodal.videoDedupFromFrameHashes(
      frameTable(a ++ b ++ c ++ d)))
    assert(dec(1L)._2 && dec(2L)._2 && dec(1L)._1 != dec(2L)._1,
      "2/100 shared frames is noise, not a duplicate")
    assert(dec(3L)._1 == dec(4L)._1 && dec.values.count(_._2) == 3,
      "2/3 shared frames clears the containment bar")
    Caches.release(spark)
  }

  test("m11 τ sweep: engine decision == straight-line reference at τ ∈ {30, 50, 80}") {
    import graft.multimodal.Multimodal
    import org.scalacheck.Gen
    val hashPool = Gen.chooseNum(0, 5)
    val assetGen = Gen.chooseNum(1, 6).flatMap(nf =>
      Gen.listOfN(nf, hashPool))
    val caseGen = for {
      n <- Gen.chooseNum(2, 9)
      assets <- Gen.listOfN(n, assetGen)
      tau <- Gen.oneOf(30, 50, 80)
    } yield (assets, tau)
    SparkTestSession.forAll(caseGen, n = 10) { case (assets, tau) =>
      val rows = assets.zipWithIndex.flatMap { case (hs, i) =>
        hs.zipWithIndex.map { case (h, j) => (i.toLong, j, h) }
      }
      // straight-line reference: identical-frameset classes, all rep
      // pairs brute-forced under (shared >= 2 && shared·100 >= τ·min),
      // union-find, keep = most frame ROWS then min id — no blocking,
      // no prune (maxDf lifted on the engine side to isolate τ)
      val sets = assets.zipWithIndex
        .map { case (hs, i) => i.toLong -> hs.toSet }.toMap
      val nRows = assets.zipWithIndex
        .map { case (hs, i) => i.toLong -> hs.size }.toMap
      val classRep = sets.groupBy(_._2).map { case (_, m) =>
        val ids = m.keys.toSeq
        ids.min -> ids
      }
      val reps = classRep.keys.toSeq.sorted
      val parent = scala.collection.mutable.Map(reps.map(r => r -> r): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      for {
        ai <- reps.indices; bi <- (ai + 1) until reps.size
        aR = reps(ai); bR = reps(bi)
        shared = (sets(aR) & sets(bR)).size
        if shared >= 2 && shared * 100 >= tau * math.min(sets(aR).size, sets(bR).size)
      } parent(find(aR)) = find(bR)
      val members = reps.groupBy(find).values.flatMap { clusterReps =>
        val ids = clusterReps.flatMap(classRep)
        val keep = ids.minBy(id => (-nRows(id), id))
        ids.map(id => (id, keep, id == keep))
      }.toSeq.sortBy(_._1)
      val engine = Multimodal.videoDedupFromFrameHashes(
          frameTable(rows), minShared = 2, tau100 = tau, maxDf = 1000000)
        .orderBy("asset_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(engine == members, s"τ=$tau assets=$assets")
      Caches.release(spark)
    }
  }

  test("d22 audit: internally consistent with the decision-table contract, no cartesian") {
    val df = SparkEntry.queries("d22_dedup_audit")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val rows = df.collect().map(r => r.getString(0) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6),
        r.getLong(7), r.getLong(8), r.getString(1), r.getLong(9),
        r.getLong(10)))).toMap
    assert(rows.keySet == Set("text", "image", "audio", "video"))
    rows.foreach { case (m,
        (items, kept, removed, clusters, dup, mx, unit, vt, vr)) =>
      // every decision table keeps EXACTLY one member per cluster
      assert(kept == clusters, s"$m: kept != clusters")
      assert(items == kept + removed, s"$m: counts don't add up")
      assert(mx >= 1 && dup <= clusters, s"$m: degenerate histogram")
      // volume columns: positive totals, removed never exceeds total,
      // and a modality with no removed items removes no volume
      assert(vt > 0 && vr >= 0 && vr <= vt, s"$m: bad volume fold")
      assert(removed > 0 == (vr > 0) || removed > 0,
        s"$m: volume removed without items removed")
    }
    assert(rows("text")._7 == "tokens" && rows("image")._7 == "px" &&
      rows("audio")._7 == "ms" && rows("video")._7 == "ms")
    // round 14: EVERY rung is full-corpus — text included (the
    // winnowing decision replaced the d12 1000-doc slice)
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    assert(rows("text")._1 == nDocs && rows("image")._1 == nDocs &&
      rows("video")._1 == nDocs && rows("audio")._1 == nDocs)
    Caches.release(spark)
  }

  test("t44/t47 unigram model: scores unchanged when the broadcast bound forces the joined path") {
    // the round-13 size-derived decision (d16's fallback discipline):
    // under a tiny autoBroadcastJoinThreshold the unigram model must
    // take the keyed join the bigram always uses — and produce
    // byte-identical scores (join strategy, never semantics)
    def run(name: String): Seq[org.apache.spark.sql.Row] = {
      val r = SparkEntry.queries(name)(spark, sfDir).collect().toSeq
      Caches.release(spark)
      r
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    for (q <- Seq("t44_lm_perplexity", "t47_perlang_perplexity")) {
      val viaBcast = run(q)
      val viaJoin = try { spark.conf.set(key, "64"); run(q) }
        finally spark.conf.set(key, prev)
      assert(viaBcast.nonEmpty && viaBcast == viaJoin, q)
    }
  }

  test("sidecar seg stamp: seg-tokenizing builds are stamped and plan-detected; plain builds are not") {
    import graft.store.AnnIndexes
    import graft.operators.TextAnalysis
    val s = spark
    val docs = Tables.load(s, sfDir, "documents").select("doc_id", "text")
    val segPath = s"${AnnIndexes.root}/r13stamp__tmp_seg_cafe11"
    val plainPath = s"${AnnIndexes.root}/r13stamp__tmp_plain_cafe12"
    try {
      AnnIndexes.materializeAtomic(s, segPath) { tmp =>
        docs.select(col("doc_id"),
          TextAnalysis.segTokens(col("text")).as("tk")).write.parquet(tmp)
      }
      AnnIndexes.materializeAtomic(s, plainPath) { tmp =>
        docs.select("doc_id").write.parquet(tmp)
      }
      assert(AnnIndexes.usesSeg(s, segPath),
        "a build that constructed the seg kernel must carry _SEG_USED")
      assert(!AnnIndexes.usesSeg(s, plainPath),
        "a seg-free build must NOT be stamped")
      // the coverage scan's sidecar leg: a query that is NOTHING but a
      // parquet scan of the stamped sidecar — the exact evasion shape
      // the round-12 verdict documented — is detected; the plain one
      // is not
      assert(SegGateCoverageSpec.readsSegSidecar(s,
        s.read.parquet(segPath).queryExecution.analyzed))
      assert(!SegGateCoverageSpec.readsSegSidecar(s,
        s.read.parquet(plainPath).queryExecution.analyzed))
    } finally Seq(segPath, plainPath).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  private def foldStream(
      src: DataFrame, tmp: String,
      start: (DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    src.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    start(raw, s"$tmp/state", s"$tmp/ckpt").awaitTermination()
  }

  test("m12 resize: aspect-fit dims (never upscale, floor 1); corrupt image contributes no row") {
    val s = spark; import s.implicits._
    // ids pick known source dims: 15 → 16×8 (downscale), 0 → 1×1
    // (unchanged), 5 → 6×6 (exactly at the box), 9 → 10×2 (floor case)
    val assets = Multimodal.syntheticPngAssets(
      Seq(15L, 0L, 5L, 9L).toDF("doc_id"), "doc_id")
    val out = Multimodal.resizeImages(assets, maxDim = 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(out(15L) == ((16, 8, 6, 3)), "16x8 fits 6 as 6x3")
    assert(out(0L) == ((1, 1, 1, 1)), "small images never upscale")
    assert(out(5L) == ((6, 6, 6, 6)), "at-the-box images pass through")
    assert(out(9L) == ((10, 2, 6, 1)), "thin images floor at 1, not 0")
    // corrupt bytes → no row (the decode-ladder contract)
    val corrupt = assets.select(col("asset_id"),
        when(col("asset_id") === 15L,
          lit("not a png".getBytes)).otherwise(col("content")).as("content"),
        col("meta"))
    val survived = Multimodal.resizeImages(corrupt, maxDim = 6)
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(survived == Set(0L, 5L, 9L))
  }

  test("m12 resize ≡ straight-line reference on random real images") {
    import org.scalacheck.Gen
    val s = spark; import s.implicits._
    val dimGen = for {
      w <- Gen.chooseNum(1, 32); h <- Gen.chooseNum(1, 32)
      seed <- Gen.chooseNum(0, 1 << 20)
    } yield (w, h, seed)
    SparkTestSession.forAll(Gen.listOfN(6, dimGen), n = 5) { cases =>
      // build REAL PNGs with arbitrary (not corpus-formula) pixels and
      // compare the distributed kernel against a direct computation
      val imgs = cases.zipWithIndex.map { case ((w, h, seed), i) =>
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val rnd = new scala.util.Random(seed)
        for (y <- 0 until h; x <- 0 until w)
          img.setRGB(x, y, rnd.nextInt() & 0xffffff)
        (i.toLong, img)
      }
      def ref(id: Long, img: java.awt.image.BufferedImage, maxDim: Int) = {
        val w = img.getWidth; val h = img.getHeight
        val mx = math.max(w, h)
        val ow = if (mx <= maxDim) w else math.max(1, w * maxDim / mx)
        val oh = if (mx <= maxDim) h else math.max(1, h * maxDim / mx)
        val luma = (for (y <- 0 until oh; x <- 0 until ow) yield {
          val rgb = img.getRGB(x * w / ow, y * h / oh)
          (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000L
        }).sum
        (id, w, h, ow, oh, luma)
      }
      val assets = imgs.map { case (id, img) =>
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        (id, bos.toByteArray)
      }.toDF("asset_id", "content")
        .select(col("asset_id"), col("content"),
          struct(lit("image").as("media_type"),
            lit(null).cast("int").as("width"),
            lit(null).cast("int").as("height"),
            lit(null).cast("int").as("sample_rate"),
            lit(null).cast("long").as("duration_ms")).as("meta"))
      val got = Multimodal.resizeImages(assets, maxDim = 6)
        .orderBy("asset_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getInt(4), r.getLong(5))).toSeq
      val want = imgs.map { case (id, img) => ref(id, img, 6) }
      assert(got == want, s"cases=$cases")
    }
  }

  test("markdownToText: markup strips, prose and code content survive verbatim") {
    import graft.sources.Sources
    val md =
      """# Title #
        |
        |Some *bold* and **bolder** prose with `inline_code` kept.
        |
        |Setext Header
        |=============
        |
        |> quoted _emphasis_ line
        |
        |- item one with [a link](http://x/y)
        |2. item two with ![alt text](img.png)
        |
        |```scala
        |val snake_case = "# not a header *here*"
        |```
        |
        |---
        |
        |ref [style][1] and auto <http://auto.example/z> done.""".stripMargin
    val txt = Sources.markdownToText(md)
    assert(txt.startsWith("Title\n"), txt.take(40))
    assert(txt.contains("Some bold and bolder prose with inline_code kept."))
    assert(txt.contains("Setext Header") && !txt.contains("====="))
    assert(txt.contains("quoted emphasis line") && !txt.contains("> quoted"))
    assert(txt.contains("item one with a link") && !txt.contains("http://x/y"))
    assert(txt.contains("item two with alt text"))
    // fenced content passes VERBATIM — no header/emphasis stripping inside
    assert(txt.contains("val snake_case = \"# not a header *here*\""))
    assert(!txt.contains("```") && !txt.contains("\n---"))
    assert(txt.contains("ref style and auto http://auto.example/z done."))
    // the scan route: .md files now arrive converted
    assert(Sources.TextFormats.find(_.mime == "text/markdown").get
      .toText("# h\nbody _x_".getBytes("UTF-8")) == "h\nbody x")
  }

  test("CLI audit mode prints the four-modality report") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.cli.Demo.run(spark, "audit", Map("dir" -> sfDir))
    }
    val lines = buf.toString("UTF-8").linesIterator
      .filter(_.startsWith("[audit]")).toSeq
    assert(lines.size == 5, s"header + 4 modality rows: $lines")
    for (m <- Seq("text", "image", "audio", "video"))
      assert(lines.exists(_.contains(m)), s"missing $m row in:\n$lines")
    Caches.release(spark)
  }

  test("t49 streaming face: evaluation from folded count state == batch t49") {
    import graft.streaming.ModelStreams
    import graft.operators.{TextAnalysis, TextQueries}
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft_t49stream").toString
    try {
      foldStream(Tables.load(s, sfDir, "documents")
          .select("doc_id", "text").filter(col("doc_id") % 3 === 0),
        tmp, ModelStreams.streamingQualityCounts)
      val docs = Tables.load(s, sfDir, "documents")
      val d = docs.select(col("doc_id"),
        TextAnalysis.segTokens(col("text")).as("tk"))
      val streamed = ModelStreams.qualityEvalFromState(s, s"$tmp/state", d,
        TextQueries.qualityLabels(docs.select("doc_id", "text")))
      assert(streamed.isDefined, "no committed quality-count state")
      def row(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      assert(row(streamed.get) ==
        row(SparkEntry.queries("t49_quality_eval")(s, sfDir)))
      Caches.release(s)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("d22 streaming face: audit from the three folded media states == batch d22") {
    import graft.streaming.DedupStreams
    import graft.operators.{PipelineQueries, TextQueries}
    val s = spark
    val tmp = java.nio.file.Files.createTempDirectory("graft_d22stream").toString
    try {
      // fold each modality's ingest stream into its committed state —
      // the same plumbing the per-modality stream specs pin
      foldStream(PipelineQueries.m8PlantedAssets(s, sfDir),
        s"$tmp/img", DedupStreams.streamingPhashes)
      foldStream(PipelineQueries.m10PlantedAssets(s, sfDir),
        s"$tmp/aud", DedupStreams.streamingAudioFps)
      val d = Tables.load(s, sfDir, "documents")
        .select(col("doc_id"), (col("doc_id") - col("doc_id") % 3).as("fid"))
      val base = graft.multimodal.Multimodal.syntheticVideoAssets(
        d.select(col("fid").as("doc_id")).distinct(), "doc_id")
      foldStream(d.join(base.withColumnRenamed("asset_id", "fid"), "fid")
          .select(col("doc_id").as("asset_id"), col("content"), col("meta")),
        s"$tmp/vid", (df, st, ck) =>
          DedupStreams.streamingVideoFrameHashes(df, st, ck))
      val streamed = DedupStreams.dedupAuditFromStates(s,
        s"$tmp/img/state", s"$tmp/aud/state", s"$tmp/vid/state",
        textDecision = Some(TextQueries.textDupDecision(s, sfDir)),
        weights = PipelineQueries.modalityWeights(s, sfDir))
      assert(streamed.isDefined, "no committed media states")
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
      assert(rows(streamed.get) ==
        rows(SparkEntry.queries("d22_dedup_audit")(s, sfDir)))
      Caches.release(s)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }
}
