package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.operators.{PipelineQueries, TextAnalysis}
import graft.sources.Sources
import graft.streaming.DedupStreams

/** Round-14 operator specs: the literal-aware CTE prefix rename (the
  * advisor's corrupted-`\f` finding), the full-corpus + volume-weighted
  * d22 audit, the m13 scale-invariant dedup rung, m14 image–caption
  * pairs, the streaming payload-migration null-replacement fix, and
  * the CommonMark fence/emphasis tightening. */
class Round14OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  // -------------------------------------------------------------
  // prefixCtes: quoted literals survive the rename
  // -------------------------------------------------------------

  test("prefixCtes: renames outside quotes only — regex escapes inside literals survive") {
    val block = """f AS (SELECT regexp_extract_all(t, '[ \f\r]+') x,
      | e + 1 AS y FROM base), g AS (SELECT * FROM f)""".stripMargin
    val out = PipelineQueries.prefixCtes(block, Seq("f", "e", "g"), "t_")
    // the advisor's exact corruption: '\f' must NOT become '\t_f'
    assert(out.contains("'[ \\f\\r]+'"), out)
    // while real CTE references still rename
    assert(out.contains("t_f AS (") && out.contains("FROM t_f"), out)
    assert(out.contains("t_e + 1") && out.contains("t_g AS ("), out)
    // and the '' escape keeps parity: content after an escaped quote
    // is still literal
    val esc = PipelineQueries.prefixCtes(
      "f AS (SELECT 'it''s f here' a FROM f)", Seq("f"), "p_")
    assert(esc.contains("'it''s f here'") && esc.endsWith("FROM p_f)"), esc)
  }

  test("d22 oracle: the seg tokenizer regex reaches DuckDB byte-for-byte (no rename corruption)") {
    val sql = SparkEntry.oracles("d22_dedup_audit")(spark, sfDir).get
    assert(sql.contains(TextAnalysis.SegPatternRe2),
      "the prefixed text chain must carry the EXACT seg pattern — " +
        "a corrupted character class here is the round-13 advisor's " +
        "masked-drift bug")
    // and the chain really is the prefixed full-corpus decision
    assert(sql.contains("t_dec") && sql.contains("t_keepf"), sql.take(400))
    assert(!sql.contains("doc_id < 1000"),
      "d22's text rung must audit the CORPUS, not d12's oracle-bounded slice")
  }

  // -------------------------------------------------------------
  // d22: full-corpus text rung + volume weights
  // -------------------------------------------------------------

  test("d22 text rung: textDupDecision covers every document and keeps one rep per cluster") {
    val dec = graft.operators.TextQueries.textDupDecision(spark, sfDir)
    val n = Tables.load(spark, sfDir, "documents").count()
    assert(dec.count() == n, "one decision row per document")
    val bad = dec.groupBy("rep_id")
      .agg(sum(when(col("kept"), 1L).otherwise(0L)).as("k"))
      .filter(col("k") =!= 1L).count()
    assert(bad == 0, "exactly one kept member per cluster")
    Caches.release(spark)
  }

  test("d22 volume weights: text tokens dominate rate when a long doc is removed") {
    val s = spark; import s.implicits._
    // two dup docs (same passage), one unique: the 60-token copy is
    // removed; item removal rate 1/3 but token removal must reflect
    // the LONG doc's weight — the round-14 point of the column
    val dec = Seq((1L, 1L, true), (2L, 1L, false), (3L, 3L, true))
      .toDF("asset_id", "rep_id", "kept")
    val w = Seq((1L, 10L), (2L, 60L), (3L, 10L)).toDF("asset_id", "weight")
    val out = PipelineQueries.dedupAuditRollup(
      Seq("text" -> PipelineQueries.weightedDecision(dec, w, "tokens")))
      .collect().head
    assert(out.getAs[Long]("n_items") == 3 &&
      out.getAs[Long]("n_removed") == 1)
    assert(out.getAs[Long]("vol_total") == 80 &&
      out.getAs[Long]("vol_removed") == 60)
    assert(math.abs(out.getAs[Double]("vol_removal_rate") - 0.75) < 1e-9)
    assert(math.abs(out.getAs[Double]("removal_rate") - 1.0 / 3) < 1e-6)
    assert(out.getAs[String]("vol_unit") == "tokens")
  }

  // -------------------------------------------------------------
  // mergeMinChunks: migrated null payload is replaceable
  // -------------------------------------------------------------

  test("mergeMinChunks: an equal-chunk re-emission REPLACES a migrated null payload") {
    val s = spark; import s.implicits._
    val oldState = Seq((1L, 3, 3, 3, 3)).toDF("asset_id", "h0", "h1", "h2", "h3")
    // the SAME image re-emitted post-upgrade: identical chunks, real dims
    val delta = Seq((1L, 3, 3, 3, 3, 10, 20))
      .toDF("asset_id", "h0", "h1", "h2", "h3", "width", "height")
    val m = DedupStreams.mergeMinChunks(oldState, delta, Seq("asset_id"))
      .collect().head
    assert(Option(m.get(5)) == Some(10) && Option(m.get(6)) == Some(20),
      "the advisor's round-13 finding: the null must not be pinned forever")
    // chunk order still dominates: a SMALLER hash with null payload
    // beats a larger one with payload (content wins over completeness)
    val d2 = Seq((2L, 1, 1, 1, 1)).toDF("asset_id", "h0", "h1", "h2", "h3")
    val s2 = Seq((2L, 9, 9, 9, 9, 7, 7))
      .toDF("asset_id", "h0", "h1", "h2", "h3", "width", "height")
    val m2 = DedupStreams.mergeMinChunks(s2, d2, Seq("asset_id"))
      .collect().head
    assert(m2.getInt(1) == 1 && Option(m2.get(5)).isEmpty,
      "the null discriminator must sit BELOW the chunk prefix")
  }

  // -------------------------------------------------------------
  // m13: scale-invariant image dedup
  // -------------------------------------------------------------

  test("m13: master/export pairs normalize to one fingerprint; raw m5 phash is blind to them") {
    val s = spark; import s.implicits._
    val ids = (0L until 16L).toDF("doc_id")
    val assets = Multimodal.syntheticScaledPngAssets(ids, "doc_id")
    val fp = Multimodal.resizeFingerprint(assets, maxDim = 8)
      .select("asset_id", "out_w", "out_h", "h0", "h1", "h2", "h3")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
          r.getInt(5), r.getInt(6)))).toMap
    for (g <- 0L until 16L by 2) {
      assert(fp(g) == fp(g + 1),
        s"pair $g: master and export must share the NORMALIZED " +
          s"fingerprint AND dims: ${fp(g)} vs ${fp(g + 1)}")
      assert(fp(g)._1 == 8 && fp(g)._2 == (1 + (g / 2) % 4).toInt,
        s"pair $g normalizes to the 8-box")
    }
    // the raw (unnormalized) hash samples the master's full-res grid
    // at floor(gx·16/9) — NOT the export's 2·floor(gx·8/9) — so the
    // pairs do not collapse without normalization (generic: a
    // downscale doesn't floor-compose like an integer upscale)
    val raw = Multimodal.imagePhash(assets)
      .select("asset_id", "h0", "h1", "h2", "h3").collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    val blind = (0L until 16L by 2).count(g => raw(g) != raw(g + 1))
    assert(blind >= 4,
      s"raw pHash collapsing (16 - $blind)/8 scale pairs would make " +
        "m13 redundant")
    Caches.release(spark)
  }

  test("m13: decision keeps the hi-res master per cluster") {
    val dec = SparkEntry.queries("m13_scale_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byAsset = dec.map(d => d._1 -> d).toMap
    // pair members always share a cluster (identical normalized hash)
    for (g <- dec.map(_._1).map(id => id - id % 2).distinct) {
      val reps = Seq(g, g + 1).flatMap(byAsset.get).map(_._2).distinct
      assert(reps.size == 1, s"pair $g split across clusters: $reps")
    }
    // each cluster keeps exactly its largest-source-area member
    // (ties min id): master area 32·h0 vs export 8·h0
    val area = (id: Long) => {
      val h0 = 1 + ((id - id % 2) / 2) % 4
      if (id % 2 == 0) 32 * h0 else 8 * h0
    }
    dec.groupBy(_._2).foreach { case (rep, members) =>
      val kept = members.filter(_._3)
      assert(kept.size == 1, s"cluster $rep keeps exactly one")
      assert(kept.head._1 == members.map(_._1)
          .minBy(id => (-area(id), id)),
        s"cluster $rep must keep the largest-area member (ties min id)")
    }
    Caches.release(spark)
  }

  test("m13 plan: no cartesian, no nested loop") {
    val df = SparkEntry.queries("m13_scale_dedup")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(2000))
    Caches.release(spark)
  }

  // -------------------------------------------------------------
  // m14: image–caption pairs
  // -------------------------------------------------------------

  test("m14: extraction handles all three caption shapes, both img attribute orders, ordinals") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "pre ![one](http://a/1.png) mid ![two words](http://a/2.png) post"),
      (2L, """x <img src="http://b/3.jpg" alt="alpha beta"> y"""),
      (3L, """x <img alt="gamma" src="http://b/4.jpg"> y"""),
      (4L, """<figure><img src="http://c/5.png"><figcaption>delta eps</figcaption></figure>"""),
      (5L, "no images here at all")
    ).toDF("doc_id", "text")
    val got = Sources.imageCaptionPairs(docs, "doc_id", "text")
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getString(4))).toSeq
    assert(got == Seq(
      (1L, "md", 0, "http://a/1.png", "one"),
      (1L, "md", 1, "http://a/2.png", "two words"),
      (2L, "img", 0, "http://b/3.jpg", "alpha beta"),
      (3L, "img_rev", 0, "http://b/4.jpg", "gamma"),
      (4L, "figure", 0, "http://c/5.png", "delta eps")), got.mkString("\n"))
  }

  test("m14: planted corpus yields exactly the planted rows per id class") {
    val out = SparkEntry.queries("m14_image_captions")(spark, sfDir)
    val counts = out.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = Tables.load(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    for (id <- ids) {
      val want = if (id % 4 == 1) 2L
        else if (id % 8 == 2 || id % 8 == 6 || id % 4 == 3) 1L else 0L
      assert(counts.getOrElse(id, 0L) == want, s"doc $id")
    }
    Caches.release(spark)
  }

  test("m13 streaming face: scale dedup from the folded normalized-fingerprint state == batch m13") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_m13stream").toString
    try {
      val assets = Multimodal.syntheticScaledPngAssets(
        Tables.load(spark, sfDir, "documents"), "doc_id")
      assets.repartition(3).write.parquet(s"$tmp/src")
      val raw = spark.readStream
        .schema(spark.read.parquet(s"$tmp/src").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/src")
      DedupStreams.streamingResizeFps(raw, s"$tmp/state", s"$tmp/ckpt",
        maxDim = 8).awaitTermination()
      val streamed = DedupStreams.scaleDedupFromState(spark, s"$tmp/state")
      assert(streamed.isDefined, "no committed state")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      assert(rows(streamed.get) ==
        rows(SparkEntry.queries("m13_scale_dedup")(spark, sfDir)))
      Caches.release(spark)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(tmp))
  }

  test("m15: every caption lands on a KEPT representative; fill-group captions consolidate; none lost") {
    val out = SparkEntry.queries("m15_caption_consolidation")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val dec = Multimodal.imageDedup(
        graft.operators.PipelineQueries.m8PlantedAssets(spark, sfDir),
        maxDist = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    // every consolidation row points at a kept asset
    out.foreach { case (rep, cap, _) =>
      assert(dec(rep)._2, s"caption '$cap' pinned to a REMOVED asset $rep")
    }
    // no caption lost: every planted ref resolves (its asset exists),
    // so the n_refs total equals the planted reference count
    val ids = Tables.load(spark, sfDir, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val planted = ids.map(id =>
      if (id % 4 == 1) 2L
      else if (id % 8 == 2 || id % 8 == 6 || id % 4 == 3) 1L else 0L).sum
    assert(out.map(_._3).sum == planted,
      "consolidation must keep every planted reference exactly once")
    // the composition's point: two DIFFERENT docs of one fill group
    // caption byte-identical image copies, and both captions land on
    // the ONE kept rep (9 and 10 share fill group 7..13)
    val byCap = out.map(r => r._2 -> r._1).toMap
    assert(byCap("figure 9 overview") == byCap("photo 10 closeup"),
      "same fill group must consolidate under one representative")
    Caches.release(spark)
  }

  // -------------------------------------------------------------
  // markdown: CommonMark fences + conservative emphasis
  // -------------------------------------------------------------

  test("markdownToText: short backtick runs inside a fence do not close it") {
    val md =
      """```
        |a lone ` backtick and a double `` run
        |still *inside* the fence
        |```
        |after *em* outside""".stripMargin
    val txt = Sources.markdownToText(md)
    assert(txt.contains("still *inside* the fence"), txt)
    assert(txt.contains("a lone ` backtick and a double `` run"), txt)
    assert(txt.contains("after em outside"), txt)
    // a LONGER closing run still closes (CommonMark: close >= open)
    val md2 = "````\ncode\n`````\nplain *x*"
    assert(Sources.markdownToText(md2) == "code\nplain x")
    // but a SHORTER one does not
    val md3 = "`````\ncode\n````\nstill code\n`````\nout"
    assert(Sources.markdownToText(md3) == "code\n````\nstill code\nout")
  }

  test("markdownToText: bare asterisks in prose survive; emphasis runs strip") {
    val got = Sources.markdownToText(
      "compute 2 * 3 and SELECT * FROM t but *emphasis* and **bold** strip")
    assert(got ==
      "compute 2 * 3 and SELECT * FROM t but emphasis and bold strip", got)
  }

  // -------------------------------------------------------------
  // seg sidecar stamp transition sweep
  // -------------------------------------------------------------

  test("stampKnownSegSidecars: a pre-stamp-era complete bpe2_ sidecar gets stamped; others don't") {
    val root = graft.store.AnnIndexes.root
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mk(name: String, complete: Boolean): org.apache.hadoop.fs.Path = {
      val p = new org.apache.hadoop.fs.Path(root, name)
      fs.mkdirs(p)
      if (complete) fs.create(new org.apache.hadoop.fs.Path(p,
        graft.store.AnnIndexes.MarkerName)).close()
      p
    }
    val legacy = mk("bpe2_r14spec_legacy", complete = true)
    val notSeg = mk("ivf_r14spec_other", complete = true)
    val crashed = mk("mh2_r14spec_crashed", complete = false)
    try {
      graft.store.AnnIndexes.stampKnownSegSidecars(spark)
      assert(graft.store.AnnIndexes.usesSeg(spark, legacy.toString),
        "known seg family must be stamped by the transition sweep")
      assert(!graft.store.AnnIndexes.usesSeg(spark, notSeg.toString),
        "non-seg families must never be stamped by the sweep")
      assert(!graft.store.AnnIndexes.usesSeg(spark, crashed.toString),
        "incomplete (crashed) builds must not be stamped")
    } finally Seq(legacy, notSeg, crashed).foreach(fs.delete(_, true))
  }
}
