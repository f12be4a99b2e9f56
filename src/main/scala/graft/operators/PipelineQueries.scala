package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.QuerySpec.sql
import graft.rag.Rag

/** End-to-end RAG pipeline queries (rows-only driver checks; the
  * embedder is engine-native so no SQL oracle exists — covered by
  * ScalaTest goldens instead, SURVEY.md §2.8 Class B). */
object PipelineQueries {

  /** m8's planted asset table — every run of 7 consecutive doc_ids
    * shares ONE image (content + dims derive from the fill id), each
    * copy carried under its own asset_id. ONE definition, used by the
    * m8 query and the streaming stream≡batch spec so the planting
    * cannot drift between them. */
  private[graft] def m8PlantedAssets(s: SparkSession, dir: String): DataFrame =
    plantFillGroups(s, dir, 7)(graft.multimodal.Multimodal.syntheticPngAssets)

  /** m10's planted audio corpus: every run of 5 consecutive doc_ids
    * shares ONE WAV (content derives from fid = doc_id − doc_id % 5;
    * one encode per group, byte-identical copies — the re-uploaded-
    * audio case, m8's fill-group precedent). Each copy is still
    * independently decoded + fingerprinted. The WAV ENCODE is fixture
    * build work (a real corpus already has its media bytes), so the
    * asset table materializes once per corpus fingerprint through
    * [[assetSidecar]] and steady-state runs measure the
    * decode + fingerprint + collapse — the operator under test. */
  private[graft] def m10PlantedAssets(s: SparkSession, dir: String): DataFrame =
    assetSidecar(s, dir, "wav5") {
      plantFillGroups(s, dir, 5)(graft.multimodal.Multimodal.syntheticWavAssets)
    }

  /** The fill-group planter behind m8, m10 and m11: every run of
    * `group` consecutive doc_ids shares ONE generated asset (content
    * and meta derive from fid = doc_id − doc_id % group; one encode
    * per group), each copy carried under its own doc_id as asset_id. */
  private def plantFillGroups(s: SparkSession, dir: String, group: Int)(
      generate: (DataFrame, String) => DataFrame): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") - col("doc_id") % group).as("fid"))
    val base = generate(d.select(col("fid").as("doc_id")).distinct(), "doc_id")
    d.join(base.withColumnRenamed("asset_id", "fid"), "fid")
      .select(col("doc_id").as("asset_id"), col("content"), col("meta"))
  }

  val Dim = 64
  val MaxTokens = 32
  val Query = "merge sort join the fast table scan"

  /** The m8 dHash replay as shared CTEs (m8 pairs + m9 collapse both
    * build on them): fill-group remap, the synthetic-pixel dHash
    * re-derived once per distinct fill id, the 4-chunk pigeonhole
    * candidate join. Ends at `cand` (a, b); `d` carries (doc_id, w, h)
    * for m9's area policy. */
  private val phashReplayCtes: String =
    """d0 AS (SELECT doc_id, doc_id - doc_id % 7 AS fid FROM documents),
      | d AS (SELECT doc_id, fid, 1 + fid % 16 AS w, 1 + fid % 8 AS h
      |  FROM d0),
      | fids AS (SELECT DISTINCT fid, 1 + fid % 16 AS w, 1 + fid % 8 AS h
      |  FROM d),
      | gxs AS (SELECT unnest(range(0, 9)) gx),
      | gys AS (SELECT unnest(range(0, 8)) gy),
      | lum AS (SELECT fid, gx, gy,
      |   ((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587
      |     + (v & 255) * 114) // 1000) AS l
      |  FROM (SELECT fid, gx, gy,
      |    ((fid * 2654435761 + ((gx * w) // 9) * 97
      |      + ((gy * h) // 8) * 31) & 16777215) AS v
      |   FROM fids CROSS JOIN gxs CROSS JOIN gys)),
      | bits AS (SELECT a.fid, (a.gy * 8 + a.gx) AS i,
      |   CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM lum a JOIN lum b ON a.fid = b.fid AND a.gy = b.gy
      |   AND b.gx = a.gx + 1
      |  WHERE a.gx < 8),
      | hf AS (SELECT fid,
      |  CAST(SUM(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h0,
      |  CAST(SUM(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h1,
      |  CAST(SUM(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h2,
      |  CAST(SUM(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h3
      |  FROM bits GROUP BY fid),
      | hh AS (SELECT doc_id, h0, h1, h2, h3 FROM d0 JOIN hf USING (fid)),
      | bands AS (SELECT doc_id, u.c AS band,
      |   CASE u.c WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2
      |    ELSE h3 END AS key
      |  FROM hh, UNNEST(range(0, 4)) AS u(c)),
      | cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y
      |   ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)"""
      .stripMargin

  private val phashDistSql: String =
    "bit_count(xor(ha.h0, hb.h0)) + bit_count(xor(ha.h1, hb.h1))" +
      " + bit_count(xor(ha.h2, hb.h2)) + bit_count(xor(ha.h3, hb.h3))"

  /** m10's replay as a CTE block ending in `dec` (asset_id, rep_id,
    * kept) — shared verbatim by the m10 oracle and d22's audit oracle
    * (prefixed there). */
  private lazy val m10DedupCtes: String =
    s"""d0 AS (SELECT doc_id, doc_id - doc_id % 5 AS fid
      |   FROM documents),
      | fids AS (SELECT DISTINCT fid FROM d0),
      | sm AS (SELECT fid, CAST(u.k AS BIGINT) AS k,
      |   ((fid * 2654435761 + u.k * 1013904223) % 20001) - 10000 AS s
      |  FROM fids, UNNEST(range(0, 64 + fid % 64)) AS u(k)),
      | bits AS (SELECT a.fid, a.k AS i,
      |   CASE WHEN b.s > a.s THEN 1 ELSE 0 END AS bit
      |  FROM sm a JOIN sm b ON a.fid = b.fid AND b.k = a.k + 1
      |  WHERE a.k < 64),
      | hf AS (SELECT fid,
      |  CAST(SUM(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h0,
      |  CAST(SUM(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h1,
      |  CAST(SUM(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h2,
      |  CAST(SUM(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h3
      |  FROM bits GROUP BY fid),
      | hh AS (SELECT doc_id, h0, h1, h2, h3,
      |   CAST((1000 * (64 + fid % 64)) // 8000 AS BIGINT) AS score
      |  FROM d0 JOIN hf USING (fid)),
      | cls AS (SELECT h0, h1, h2, h3, MIN(doc_id) AS rep FROM hh
      |  GROUP BY 1, 2, 3, 4),
      | bands AS (SELECT rep, u.c AS band,
      |   CASE u.c WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2
      |    ELSE h3 END AS key
      |  FROM cls, UNNEST(range(0, 4)) AS u(c)),
      | cand AS (SELECT DISTINCT x.rep AS a, y.rep AS b
      |  FROM bands x JOIN bands y
      |   ON x.band = y.band AND x.key = y.key AND x.rep < y.rep),
      | pr AS (SELECT c.a, c.b
      |  FROM cand c JOIN cls ha ON ha.rep = c.a
      |   JOIN cls hb ON hb.rep = c.b
      |  WHERE $phashDistSql <= 3),
      | e AS (SELECT a AS src, b AS dst FROM pr
      |  UNION ALL SELECT b, a FROM pr),
      | reach AS (SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
      | lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
      | mem AS (SELECT hh.doc_id AS asset_id, hh.score,
      |   COALESCE(lab.label, cls.rep) AS label
      |  FROM hh JOIN cls USING (h0, h1, h2, h3)
      |   LEFT JOIN lab ON lab.id = cls.rep),
      | repx AS (SELECT label, asset_id AS rep_id FROM mem
      |  QUALIFY row_number() OVER (PARTITION BY label
      |   ORDER BY score DESC, asset_id) = 1),
      | dec AS (SELECT mem.asset_id, repx.rep_id,
      |   mem.asset_id = repx.rep_id AS kept
      |  FROM mem JOIN repx USING (label))""".stripMargin

  /** m11's replay as a CTE block ending in `dec` — shared by the m11
    * oracle and d22's audit oracle (prefixed there). */
  private lazy val m11DedupCtes: String =
    s"""d0 AS (SELECT doc_id, doc_id - doc_id % 3 AS fid
      |   FROM documents),
      | fids AS (SELECT DISTINCT fid, 1 + fid % 16 AS w, 1 + fid % 8 AS h,
      |   2 + fid % 7 AS nf FROM d0),
      | sf AS (SELECT fid, w, h, u.j FROM fids,
      |   UNNEST(range(0, nf)) AS u(j) WHERE u.j % 2 = 0),
      | gxs AS (SELECT unnest(range(0, 9)) gx),
      | gys AS (SELECT unnest(range(0, 8)) gy),
      | lum AS (SELECT fid, j, gx, gy,
      |   ((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587
      |     + (v & 255) * 114) // 1000) AS l
      |  FROM (SELECT fid, j, gx, gy,
      |    ((fid * 2654435761 + j * 1013904223 + ((gx * w) // 9) * 97
      |      + ((gy * h) // 8) * 31) & 16777215) AS v
      |   FROM sf CROSS JOIN gxs CROSS JOIN gys)),
      | bits AS (SELECT a.fid, a.j, (a.gy * 8 + a.gx) AS i,
      |   CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM lum a JOIN lum b ON a.fid = b.fid AND a.j = b.j
      |   AND a.gy = b.gy AND b.gx = a.gx + 1
      |  WHERE a.gx < 8),
      | hf AS (SELECT fid, j,
      |  CAST(SUM(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h0,
      |  CAST(SUM(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h1,
      |  CAST(SUM(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h2,
      |  CAST(SUM(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h3
      |  FROM bits GROUP BY fid, j),
      | fhs AS (SELECT fid,
      |   h0 || '_' || h1 || '_' || h2 || '_' || h3 AS fh FROM hf),
      | fsets AS (SELECT fid, COUNT(*) AS n_frames,
      |   array_to_string(list_sort(list_distinct(list(fh))), '|') AS sig
      |  FROM fhs GROUP BY fid),
      | asets AS (SELECT d0.doc_id AS asset_id, f.sig, f.n_frames, d0.fid
      |  FROM d0 JOIN fsets f USING (fid)),
      | cls AS (SELECT sig, MIN(asset_id) AS rep FROM asets GROUP BY sig),
      | rfh AS (SELECT DISTINCT c.rep, fhs.fh
      |  FROM cls c JOIN asets a ON a.asset_id = c.rep
      |   JOIN fhs ON fhs.fid = a.fid),
      | rs AS (SELECT rep, COUNT(*) AS nfh FROM rfh GROUP BY rep),
      | rfp AS (SELECT rep, fh FROM rfh
      |  QUALIFY COUNT(*) OVER (PARTITION BY fh) <= 64),
      | sh AS (SELECT x.rep AS a, y.rep AS b, COUNT(*) AS s
      |  FROM rfp x JOIN rfp y ON x.fh = y.fh AND x.rep < y.rep
      |  GROUP BY x.rep, y.rep),
      | pr AS (SELECT a, b FROM sh
      |  JOIN rs ra ON ra.rep = sh.a JOIN rs rb ON rb.rep = sh.b
      |  WHERE s >= 2 AND s * 100 >= 50 * LEAST(ra.nfh, rb.nfh)),
      | e AS (SELECT a AS src, b AS dst FROM pr
      |  UNION ALL SELECT b, a FROM pr),
      | reach AS (SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
      | lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
      | mem AS (SELECT a.asset_id, a.n_frames,
      |   COALESCE(lab.label, c.rep) AS label
      |  FROM asets a JOIN cls c USING (sig)
      |   LEFT JOIN lab ON lab.id = c.rep),
      | repx AS (SELECT label, asset_id AS rep_id FROM mem
      |  QUALIFY row_number() OVER (PARTITION BY label
      |   ORDER BY n_frames DESC, asset_id) = 1),
      | dec AS (SELECT mem.asset_id, repx.rep_id,
      |   mem.asset_id = repx.rep_id AS kept
      |  FROM mem JOIN repx USING (label))""".stripMargin

  /** m14's planted image references — ONE column-expression
    * definition whose byte-exact SQL twin lives in the m14 oracle:
    * %4==1 docs append TWO markdown images, %8==2 / %8==6 the two
    * HTML `<img>` attribute orders, %4==3 a figcaption block. */
  private def m14PlantExpr(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val s = id.cast("string")
    when(id % 4 === 1, concat(
        lit(" ![figure "), s, lit(" overview](http://img.example/"), s,
        lit("/a.png) and ![figure "), s,
        lit(" detail](http://img.example/"), s, lit("/d.png)")))
      .when(id % 8 === 2, concat(
        lit(" <img src=\"http://img.example/"), s,
        lit("/b.jpg\" alt=\"photo "), s, lit(" closeup\">")))
      .when(id % 8 === 6, concat(
        lit(" <img alt=\"photo "), s,
        lit(" wide\" src=\"http://img.example/"), s, lit("/w.jpg\">")))
      .when(id % 4 === 3, concat(
        lit(" <figure><img src=\"http://img.example/"), s,
        lit("/c.png\"><figcaption>diagram "), s,
        lit(" caption</figcaption></figure>")))
      .otherwise(lit(""))
  }

  /** m15's url→asset resolve pattern — ONE definition for the engine
    * (`regexp_extract`) and the oracle (same function name and group
    * semantics in DuckDB); plain character class, engine-portable. */
  private val M15RefPat = "img\\.example/([0-9]+)/"

  /** m17's luma-delta shot-boundary detector over every decoded frame
    * of the scene-structured assets — ONE definition for m17 (the
    * per-frame cut table) and m18 (the per-scene keyframe selection).
    * Columns: asset_id, frame_number, luma_sum, n_px, delta, is_cut,
    * scene_id. */
  /** Build-once parquet sidecar for a deterministic synthetic media
    * asset table — the m7 convention, extended round 18 to the scene
    * videos and speech WAVs: the assets are INGEST-TIME data (a real
    * corpus already has its media bytes), so the synthetic encode is
    * fixture build work, materialized once per corpus fingerprint;
    * steady-state runs measure the DECODER — the operator under test.
    * The read is balanced so the container/codec walk spreads under
    * the local small-file layout (a no-op whenever the media table
    * already has >= parallelism splits, the cluster case). m20's
    * detection and extraction passes previously re-ENCODED the whole
    * corpus each (ProfileQ at sf0.1: two concurrent ~6s-CPU encode
    * stages per trial) on top of the decode being measured. */
  private def assetSidecar(s: SparkSession, dir: String, tag: String)(
      build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val path = graft.store.AnnIndexes.materializeAtomic(s,
        graft.store.AnnIndexes.key(s, tag, dir, "documents")) { tmp =>
      build.write.parquet(tmp)
    }
    Tables.balanced(s.read.parquet(path))
  }

  private def sceneVideoAssets(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    assetSidecar(s, dir, "scenevid1") {
      graft.multimodal.Multimodal.syntheticSceneVideoAssets(
        Tables.load(s, dir, "documents"), "doc_id")
    }

  private def sceneCutFrames(
      s: SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    sceneCutsFromFrames(graft.multimodal.Multimodal.sampleZipFrames(
      sceneVideoAssets(s, dir), everyNth = 1))

  /** m20's content join — ONE definition for the query (which drops
    * the binary column for the hash gate) and the byte-pinning spec
    * (which decodes it): the selected (asset_id, scene_id,
    * frame_number) rows joined to their REALLY-extracted frames —
    * original PNG entry bytes, dims and a recomputed luma. */
  private[graft] def keyframeContent(
      s: SparkSession, dir: String,
      sel: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    graft.multimodal.Multimodal
      .extractZipFrames(sceneVideoAssets(s, dir),
        sel.select("asset_id", "frame_number"))
      .join(sel, Seq("asset_id", "frame_number"))
  }

  /** The m19 DECISION chain over an already-decoded (asset_id,
    * window_number, sample_min, sample_max, sample_sum) window table —
    * factored (round 15) so the streaming face
    * ([[graft.streaming.DedupStreams.silenceSegmentsFromState]]) runs
    * the same integer peak test + gaps-and-islands fold over the
    * committed wav-window state with ZERO re-decode. */
  private[graft] def silenceSegmentsFromWindows(
      wins: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("asset_id").orderBy("window_number")
    wins
      .filter(!(col("sample_min") >= -100 && col("sample_max") <= 100))
      // user-pinned width (round 18): the window's hash exchange
      // carries compact integer rows, so AQE byte-coalesces it to 1-4
      // partitions and the island fold serializes; the pinned
      // repartition satisfies the window's ClusteredDistribution (no
      // second exchange) at the session's width. Row placement only.
      .repartition(
        wins.sparkSession.sparkContext.defaultParallelism,
        col("asset_id"))
      .withColumn("ni",
        when(lag("window_number", 1).over(w).isNull ||
            col("window_number") >
              lag("window_number", 1).over(w) + 1, 1L)
          .otherwise(0L))
      .withColumn("segment_id", sum("ni").over(
        w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("asset_id", "segment_id")
      .agg(min("window_number").as("start_window"),
        max("window_number").as("end_window"),
        count(lit(1)).as("n_windows"),
        sum("sample_sum").as("sample_sum"))
  }

  /** The m17 DECISION chain over an already-decoded (asset_id,
    * frame_number, luma_sum, n_px) frame table — factored from
    * [[sceneCutFrames]] (round 15) so the streaming face
    * ([[graft.streaming.DedupStreams.sceneCutsFromState]]) runs the
    * exact same lag/threshold/running-count over the committed
    * frame-luma state with ZERO re-decode: ingest pays the container
    * walk once, the detector replays from narrow integers. */
  private[graft] def sceneCutsFromFrames(
      frames: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("asset_id").orderBy("frame_number")
    frames
      // user-pinned width (round 18): same rationale as the m19 island
      // fold — the detector window's exchange is compact integer rows,
      // AQE byte-coalesced it to ONE partition at sf0.1 (a 1.2s serial
      // stage that also gated m20's extraction join)
      .repartition(
        frames.sparkSession.sparkContext.defaultParallelism,
        col("asset_id"))
      .withColumn("delta",
        col("luma_sum") - lag("luma_sum", 1).over(w))
      .withColumn("is_cut",
        col("delta").isNotNull && abs(col("delta")) > col("n_px"))
      .withColumn("scene_id",
        sum(when(col("is_cut"), 1L).otherwise(0L)).over(
          w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
  }

  /** Oracle twin of [[sceneCutFrames]] — the m17 replay chain as a CTE
    * block ending in `scn` (asset_id, frame_number, luma_sum, n_px,
    * delta, is_cut, scene_id), shared by the m17 and m18 oracles. */
  private lazy val m17SceneCtes: String =
    """m17d AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 8 AS h,
      |   4 + doc_id % 9 AS nf, 1 + doc_id % 3 AS sl FROM documents),
      | m17f AS (SELECT doc_id, w, h, sl, unnest(range(0, nf)) AS j
      |  FROM m17d),
      | m17p AS (SELECT doc_id, j, w, h,
      |   ((doc_id * 2654435761 + (j // sl) * 69069 + x * 97 + y * 31)
      |     & 16777215) AS v
      |  FROM m17f
      |  CROSS JOIN (SELECT unnest(range(0, 16)) x)
      |  CROSS JOIN (SELECT unnest(range(0, 8)) y)
      |  WHERE x < w AND y < h),
      | m17l AS (SELECT doc_id AS asset_id, CAST(j AS INT) AS frame_number,
      |   CAST(SUM((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587
      |     + (v & 255) * 114) // 1000) AS BIGINT) AS luma_sum,
      |   w * h AS n_px
      |  FROM m17p GROUP BY doc_id, j, w, h),
      | m17dl AS (SELECT asset_id, frame_number, luma_sum, n_px,
      |   luma_sum - lag(luma_sum) OVER (PARTITION BY asset_id
      |     ORDER BY frame_number) AS delta FROM m17l),
      | m17c AS (SELECT *,
      |   delta IS NOT NULL AND abs(delta) > n_px AS is_cut FROM m17dl),
      | scn AS (SELECT asset_id, frame_number, luma_sum, n_px, delta,
      |   is_cut,
      |   CAST(SUM(CASE WHEN is_cut THEN 1 ELSE 0 END) OVER (
      |     PARTITION BY asset_id ORDER BY frame_number
      |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS scene_id
      |  FROM m17c)""".stripMargin

  /** m16's extra plant layered ON TOP of the m14 plant: the three
    * boilerplate shapes caption curation exists to catch. %5==0 docs
    * carry a REPEATED caption across distinct images ("stock banner" —
    * the cross-image-df reject, not in any word list), %10==4 a
    * single-word placeholder ("image" — the list AND length reject),
    * and exactly two FIXED ids (7, 131 — present at every SF, so the
    * df stays 2 however large the corpus) a rare in-list caption
    * ("untitled image" — rejected by the list ALONE, isolating that
    * rule from the df rule). */
  private def m16ExtraPlantExpr(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val s = id.cast("string")
    concat(
      when(id % 5 === 0, concat(
          lit(" ![stock banner](http://img.example/"), s, lit("/sb.png)")))
        .otherwise(lit("")),
      when(id % 10 === 4, concat(
          lit(" ![image](http://img.example/"), s, lit("/pl.png)")))
        .otherwise(lit("")),
      when(id.isin(7, 131), concat(
          lit(" ![untitled image](http://img.example/"), s, lit("/ui.png)")))
        .otherwise(lit("")))
  }

  /** SQL twin of [[m16ExtraPlantExpr]] — single-line by design (the
    * m14ExtractCtes margin-strip caveat). */
  private val m16ExtraPlantSql: String =
    " || CASE WHEN doc_id % 5 = 0 THEN ' ![stock banner](http://img.example/'" +
      " || doc_id || '/sb.png)' ELSE '' END" +
      " || CASE WHEN doc_id % 10 = 4 THEN ' ![image](http://img.example/'" +
      " || doc_id || '/pl.png)' ELSE '' END" +
      " || CASE WHEN doc_id IN (7, 131) THEN" +
      " ' ![untitled image](http://img.example/'" +
      " || doc_id || '/ui.png)' ELSE '' END"

  /** m16's caption placeholder list — ONE definition for the engine
    * filter and the oracle's NOT IN. */
  private val M16Placeholders =
    Seq("image", "photo", "logo", "icon", "picture", "untitled image")

  /** m21's alignment plant layered on top of the m14/m16 plants:
    * %7==3 docs carry a caption whose image is painted FROM the
    * caption's character histogram (cosine exactly 1 — the aligned
    * class), %7==5 a caption whose letters all land in bucket 10
    * (j/z — the id digits are transliterated so uniqueness never
    * leaks digit mass into other buckets) against an image painted
    * entirely in bucket 2 (cosine exactly 0 — the misaligned class).
    * Both captions embed the id so m16's cross-image-df rule keeps
    * them (a FIXED caption on thousands of urls is boilerplate by
    * m16's own definition — the round-17 lesson: alignment plants
    * must survive the curation gate they compose with). */
  private def m21PlantExpr(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val s = id.cast("string")
    concat(
      when(id % 7 === 3, concat(
          lit(" ![m21 aligned sample "), s,
          lit("](http://m21.example/"), s, lit("/a.png)")))
        .otherwise(lit("")),
      when(id % 7 === 5, concat(
          lit(" ![zz zz "), translate(s, "0123456789", "jjjjjzzzzz"),
          lit("](http://m21.example/"), s, lit("/m.png)")))
        .otherwise(lit("")))
  }

  /** SQL twin of [[m21PlantExpr]] — single-line by design (the
    * m14ExtractCtes margin-strip caveat). */
  private val m21ExtraPlantSql: String =
    " || CASE WHEN doc_id % 7 = 3 THEN ' ![m21 aligned sample '" +
      " || doc_id || '](http://m21.example/' || doc_id || '/a.png)'" +
      " ELSE '' END" +
      " || CASE WHEN doc_id % 7 = 5 THEN ' ![zz zz '" +
      " || translate(CAST(doc_id AS VARCHAR), '0123456789', 'jjjjjzzzzz')" +
      " || '](http://m21.example/' || doc_id || '/m.png)' ELSE '' END"

  /** m21's 16 character-bucket classes: [a-z0-9] partitioned by
    * code point mod 16 — ONE generated table interpolated into BOTH
    * engines' regex counts (plain character classes, byte-identical
    * under Java regex and RE2), and the bucket map the aligned
    * painter consumes via the cap_hist column itself. */
  private[graft] val M21BucketChars: Seq[String] =
    (0 until 16).map { b =>
      (('a' to 'z') ++ ('0' to '9')).filter(_.toInt % 16 == b).mkString
    }

  /** The 16 bucket counts as a DuckDB list literal over
    * `caption_norm` — generated from the SAME [[M21BucketChars]]
    * table the engine interpolates. */
  private lazy val m21CapHistSql: String =
    M21BucketChars.map(cs =>
      s"CAST(len(regexp_extract_all(caption_norm, '[$cs]')) AS BIGINT)")
      .mkString("[", ", ", "]")

  /** m14's extraction replay as a CTE block ending in `allp`
    * (doc_id, kind, pos, image_url, caption) — shared verbatim by the
    * m14 oracle, m15's consolidation oracle and m16's caption-quality
    * oracle (which appends its boilerplate plant via `extraPlantSql` —
    * single-line SQL, appended after the base CASE so the margin-strip
    * caveat below cannot bite). The plant is rebuilt byte-for-byte in
    * SQL; the patterns are the engine's own constants, interpolated. */
  private def m14ExtractCtes(extraPlantSql: String = ""): String = {
    def kindSql(name: String, kind: String, pat: String,
        urlG: Int, capG: Int): String =
      s"""${name}x AS (SELECT doc_id,
        |   regexp_extract_all(text, '$pat', $urlG) us,
        |   regexp_extract_all(text, '$pat', $capG) cs FROM base),
        | $name AS (SELECT doc_id, '$kind' AS kind,
        |   CAST(u.i - 1 AS INT) AS pos,
        |   us[CAST(u.i AS INT)] AS image_url,
        |   cs[CAST(u.i AS INT)] AS caption
        |  FROM ${name}x, UNNEST(range(1, len(us) + 1)) AS u(i))"""
        .stripMargin
    // NOTE: this block is interpolated into oracle templates that run
    // .stripMargin themselves — no content line may BEGIN with '|'
    // (a leading '||' would lose a pipe to the second margin strip)
    s"""base AS (SELECT doc_id, text || CASE
      |   WHEN doc_id % 4 = 1 THEN ' ![figure ' || doc_id ||
      |    ' overview](http://img.example/' || doc_id ||
      |    '/a.png) and ![figure ' || doc_id ||
      |    ' detail](http://img.example/' || doc_id || '/d.png)'
      |   WHEN doc_id % 8 = 2 THEN ' <img src="http://img.example/' ||
      |    doc_id || '/b.jpg" alt="photo ' || doc_id || ' closeup">'
      |   WHEN doc_id % 8 = 6 THEN ' <img alt="photo ' || doc_id ||
      |    ' wide" src="http://img.example/' || doc_id || '/w.jpg">'
      |   WHEN doc_id % 4 = 3 THEN ' <figure><img src="http://img.example/' ||
      |    doc_id || '/c.png"><figcaption>diagram ' || doc_id ||
      |    ' caption</figcaption></figure>'
      |   ELSE '' END$extraPlantSql AS text FROM documents),
      | ${kindSql("mdk", "md", graft.sources.Sources.MdImagePat, 2, 1)},
      | ${kindSql("im1", "img", graft.sources.Sources.ImgSrcAltPat, 1, 2)},
      | ${kindSql("im2", "img_rev", graft.sources.Sources.ImgAltSrcPat, 2, 1)},
      | ${kindSql("fig", "figure", graft.sources.Sources.FigurePat, 1, 2)},
      | allp AS (SELECT * FROM mdk UNION ALL SELECT * FROM im1
      |  UNION ALL SELECT * FROM im2 UNION ALL SELECT * FROM fig)"""
      .stripMargin
  }

  /** m13's replay as a CTE block ending in `dec` (asset_id, rep_id,
    * kept): the scale-pair plant's dims, the resize dim math, the
    * COMPOSED nearest-neighbor resample (grid → resized → source →
    * base fill, all integer floor division), the 64 dHash bits,
    * exact-hash classes, rep-level pigeonhole pairs + Hamming
    * verify, transitive closure, and the largest-source-area keep. */
  private lazy val m13DedupCtes: String =
    s"""dd AS (SELECT doc_id,
      |   CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS w,
      |   CASE WHEN doc_id % 2 = 0
      |    THEN 2 * (1 + ((doc_id - doc_id % 2) // 2) % 4)
      |    ELSE 1 + ((doc_id - doc_id % 2) // 2) % 4 END AS h,
      |   doc_id - doc_id % 2 AS g,
      |   CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS sc
      |  FROM documents),
      | dim AS (SELECT doc_id, g, sc, w, h,
      |   CASE WHEN greatest(w, h) <= 8 THEN w
      |    ELSE greatest(1, (w * 8) // greatest(w, h)) END AS ow,
      |   CASE WHEN greatest(w, h) <= 8 THEN h
      |    ELSE greatest(1, (h * 8) // greatest(w, h)) END AS oh
      |  FROM dd),
      | gxs AS (SELECT unnest(range(0, 9)) gx),
      | gys AS (SELECT unnest(range(0, 8)) gy),
      | lum AS (SELECT doc_id, gx, gy,
      |   ((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587
      |     + (v & 255) * 114) // 1000) AS l
      |  FROM (SELECT doc_id, gx, gy,
      |    ((g * 2654435761
      |      + ((((gx * ow) // 9) * w) // ow) * sc * 97
      |      + ((((gy * oh) // 8) * h) // oh) * sc * 31)
      |     & 16777215) AS v
      |   FROM dim CROSS JOIN gxs CROSS JOIN gys)),
      | bits AS (SELECT a.doc_id, (a.gy * 8 + a.gx) AS i,
      |   CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
      |  FROM lum a JOIN lum b ON a.doc_id = b.doc_id AND a.gy = b.gy
      |   AND b.gx = a.gx + 1
      |  WHERE a.gx < 8),
      | hf AS (SELECT doc_id,
      |  CAST(SUM(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h0,
      |  CAST(SUM(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h1,
      |  CAST(SUM(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h2,
      |  CAST(SUM(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS BIGINT) AS h3
      |  FROM bits GROUP BY doc_id),
      | cls AS (SELECT h0, h1, h2, h3, MIN(doc_id) AS rep FROM hf
      |  GROUP BY 1, 2, 3, 4),
      | bands AS (SELECT rep, u.c AS band,
      |   CASE u.c WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2
      |    ELSE h3 END AS key
      |  FROM cls, UNNEST(range(0, 4)) AS u(c)),
      | cand AS (SELECT DISTINCT x.rep AS a, y.rep AS b
      |  FROM bands x JOIN bands y
      |   ON x.band = y.band AND x.key = y.key AND x.rep < y.rep),
      | pr AS (SELECT c.a, c.b
      |  FROM cand c JOIN cls ha ON ha.rep = c.a
      |   JOIN cls hb ON hb.rep = c.b
      |  WHERE $phashDistSql <= 3),
      | e AS (SELECT a AS src, b AS dst FROM pr
      |  UNION ALL SELECT b, a FROM pr),
      | reach AS (SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
      | lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
      | mem AS (SELECT hf.doc_id AS asset_id,
      |   CAST(dim.w * dim.h AS BIGINT) AS score,
      |   COALESCE(lab.label, cls.rep) AS label
      |  FROM hf JOIN cls USING (h0, h1, h2, h3)
      |   JOIN dim ON dim.doc_id = hf.doc_id
      |   LEFT JOIN lab ON lab.id = cls.rep),
      | repx AS (SELECT label, asset_id AS rep_id FROM mem
      |  QUALIFY row_number() OVER (PARTITION BY label
      |   ORDER BY score DESC, asset_id) = 1),
      | dec AS (SELECT mem.asset_id, repx.rep_id,
      |   mem.asset_id = repx.rep_id AS kept
      |  FROM mem JOIN repx USING (label))""".stripMargin

  /** m9's replay (pHash CTEs + collapse) as a CTE block ending in
    * `dec` — shared by the m9 oracle and d22's audit oracle. */
  // REP-LEVEL pair graph (round 15): the original replay banded and
  // verified pairs at the ASSET level, which goes quadratic when the
  // synthetic dHash space saturates (thousands of assets share a
  // 16-bit band key at sf1 → the cand join and the reach closure both
  // blow DuckDB's temp disk — the documented sf1 oracle bound). The
  // ENGINE collapses exact-fingerprint classes before pairing
  // (fingerprintDedup — the m10/m13 shape, whose oracles were always
  // rep-level), and the contraction is decision-IDENTICAL: exact
  // duplicates share every band (dist 0), and any cross-class pair's
  // dist ≤ 3 band match holds verbatim for the class reps because
  // reps carry the same hashes. Components, labels and the
  // area-desc/min-id keep are unchanged; only the replay's
  // intermediate cardinality drops from O(assets²) to O(classes²).
  private lazy val m9DedupCtes: String =
    s"""$phashReplayCtes,
      | cls AS (SELECT h0, h1, h2, h3, MIN(doc_id) AS crep FROM hh
      |  GROUP BY 1, 2, 3, 4),
      | rbnd AS (SELECT crep, u.c AS band,
      |   CASE u.c WHEN 0 THEN h0 WHEN 1 THEN h1 WHEN 2 THEN h2
      |    ELSE h3 END AS key
      |  FROM cls, UNNEST(range(0, 4)) AS u(c)),
      | rcand AS (SELECT DISTINCT x.crep AS a, y.crep AS b
      |  FROM rbnd x JOIN rbnd y
      |   ON x.band = y.band AND x.key = y.key AND x.crep < y.crep),
      | pr AS (SELECT c.a, c.b
      |  FROM rcand c JOIN cls ha ON ha.crep = c.a
      |   JOIN cls hb ON hb.crep = c.b
      |  WHERE $phashDistSql <= 3),
      | e AS (SELECT a AS src, b AS dst FROM pr
      |  UNION ALL SELECT b, a FROM pr),
      | reach AS (SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
      | lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
      | l2 AS (SELECT hh.doc_id AS asset_id,
      |   COALESCE(lab.label, cls.crep) AS label,
      |   CAST(d.w * d.h AS BIGINT) AS area
      |  FROM hh JOIN cls USING (h0, h1, h2, h3)
      |   JOIN d ON d.doc_id = hh.doc_id
      |   LEFT JOIN lab ON lab.id = cls.crep),
      | rep AS (SELECT label, asset_id AS rep_id FROM l2
      |  QUALIFY row_number() OVER (PARTITION BY label
      |   ORDER BY area DESC, asset_id) = 1),
      | dec AS (SELECT l2.asset_id, rep.rep_id,
      |   l2.asset_id = rep.rep_id AS kept
      |  FROM l2 JOIN rep USING (label))""".stripMargin

  /** Rename a CTE block's names with a prefix so independently-written
    * replay blocks (each with its own d0/bits/lab/...) can share one
    * combined WITH RECURSIVE clause in d22's audit oracle. Only the
    * block's OWN CTE names are renamed (word-boundary regex); base
    * tables, columns and table aliases pass through untouched.
    *
    * The rename NEVER touches single-quoted SQL literals (round 14,
    * advisor): a block that embeds a regex literal — the seg
    * tokenizer's `\f`, say — must survive verbatim, because `\b`
    * matches between `\` and `f` and a one-letter CTE name like `f`
    * would otherwise rewrite the escape into a corrupted character
    * class ('\f\r]+' → '\t_f\r]+'). Splitting on `'` and renaming
    * even-indexed segments only is exact even under SQL's `''`
    * escape: the empty between-quotes segment keeps the parity
    * aligned with inside/outside. */
  private[graft] def prefixCtes(
      block: String, names: Seq[String], p: String): String =
    block.split("'", -1).zipWithIndex.map { case (seg, i) =>
      if (i % 2 == 1) seg
      else names.foldLeft(seg)((s, n) => s.replaceAll(s"\\b$n\\b", p + n))
    }.mkString("'")

  private val m9CteNames = Seq("d0", "d", "fids", "gxs", "gys", "lum",
    "bits", "hf", "hh", "bands", "cand", "cls", "rbnd", "rcand", "pr",
    "e", "reach", "lab", "l2", "rep", "dec")
  private val m10CteNames = Seq("d0", "fids", "sm", "bits", "hf", "hh",
    "cls", "bands", "cand", "pr", "e", "reach", "lab", "mem", "repx", "dec")
  private val m11CteNames = Seq("d0", "fids", "sf", "gxs", "gys", "lum",
    "bits", "hf", "fhs", "fsets", "asets", "cls", "rfh", "rs", "rfp",
    "sh", "pr", "e", "reach", "lab", "mem", "repx", "dec")

  /** m10's dedup decision chain — ONE definition for the m10 query
    * and d22's audit (planted assets → delta-sign fingerprint →
    * generic collapse ranked by duration). */
  private def m10Decision(s: SparkSession, dir: String): DataFrame = {
    val assets = m10PlantedAssets(s, dir)
    val fp = graft.multimodal.Multimodal.audioFingerprint(
      assets, windowSamples = 1)
    graft.multimodal.Multimodal.fingerprintDedup(
      fp.join(assets.select(col("asset_id"),
        col("meta.duration_ms").as("score")), "asset_id"),
      maxDist = 3)
  }

  /** m11's planted video corpus: fill-groups of 3 consecutive ids
    * share one zip (one encode per group; every copy still pays its
    * own zip walk + selective decode). */
  private[graft] def m11PlantedAssets(
      s: SparkSession, dir: String): DataFrame =
    plantFillGroups(s, dir, 3)(graft.multimodal.Multimodal.syntheticVideoAssets)

  /** m11's dedup decision chain — ONE definition for the m11 query
    * and d22's audit (planted fill-group zips → frame hashes →
    * frameset classes → containment pairs → longest-cut keep). */
  private def m11Decision(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.videoDedup(m11PlantedAssets(s, dir),
      everyNth = 2, minShared = 2)

  /** Attach a per-asset volume weight + unit tag to a decision table
    * — the d22 enrichment step. Weights come from ingest-time
    * metadata projections ([[modalityWeights]]), never from a
    * re-decode. */
  private[graft] def weightedDecision(
      decision: DataFrame, weights: DataFrame, unit: String): DataFrame =
    decision.select("asset_id", "rep_id", "kept")
      .join(weights, "asset_id")
      .withColumn("vol_unit", lit(unit))

  /** Per-modality (asset_id, weight) volume projections + unit tags
    * for d22's volume-weighted removal columns — the number a
    * pipeline operator actually decides on (one 500-page dup ≠ one
    * tweet). Text weighs in seg tokens (the training-data currency);
    * media weigh in their natural extents — pixel area (image) and
    * duration ms (audio/video) — all pure metadata/scan projections
    * (container byte length is a codec artifact AND not
    * independently replayable by a second engine, so it is the wrong
    * audit unit twice over). ONE definition for the batch d22 and
    * the streaming stream≡batch spec. */
  private[graft] def modalityWeights(
      s: SparkSession, dir: String): Map[String, (DataFrame, String)] = Map(
    "text" -> ((Tables.load(s, dir, "documents").select(
      col("doc_id").as("asset_id"),
      size(graft.operators.TextAnalysis.segTokens(col("text")))
        .cast("long").as("weight")), "tokens")),
    "image" -> ((m8PlantedAssets(s, dir).select(col("asset_id"),
      (col("meta.width").cast("long") * col("meta.height").cast("long"))
        .as("weight")), "px")),
    "audio" -> ((m10PlantedAssets(s, dir).select(col("asset_id"),
      col("meta.duration_ms").cast("long").as("weight")), "ms")),
    "video" -> ((m11PlantedAssets(s, dir).select(col("asset_id"),
      col("meta.duration_ms").cast("long").as("weight")), "ms")))

  /** d22's rollup fold — ONE definition for the batch query and the
    * streaming from-states face: union the labeled decision tables
    * (asset_id, rep_id, kept, weight, vol_unit), fold cluster sizes
    * per (modality, rep_id), then the per-modality audit row with
    * both ITEM counts and VOLUME-weighted removal (round 14 — the
    * decision a pipeline operator makes is about tokens/ms/pixels
    * removed, not row counts). Two keyed aggregations, both partial
    * map-side; the weight sums ride the same exchanges for free. */
  private[graft] def dedupAuditRollup(
      decisions: Seq[(String, DataFrame)]): DataFrame = {
    val all = decisions
      .map { case (m, df) => df.select(lit(m).as("modality"),
        col("asset_id"), col("rep_id"), col("kept"),
        col("weight").cast("long").as("weight"), col("vol_unit")) }
      .reduce(_ unionByName _)
    val cs = all.groupBy("modality", "vol_unit", "rep_id").agg(
      count(lit(1)).as("sz"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("k"),
      sum("weight").as("wsz"),
      sum(when(!col("kept"), col("weight")).otherwise(0L)).as("wrm"))
    cs.groupBy("modality", "vol_unit").agg(
        sum("sz").as("n_items"),
        sum("k").as("n_kept"),
        (sum("sz") - sum("k")).as("n_removed"),
        round((sum("sz") - sum("k")).cast("double") / sum("sz"), 6)
          .as("removal_rate"),
        count(lit(1)).as("n_clusters"),
        sum(when(col("sz") > 1, 1L).otherwise(0L)).as("n_dup_clusters"),
        max("sz").as("max_cluster"),
        sum("wsz").as("vol_total"),
        sum("wrm").as("vol_removed"),
        round(sum("wrm").cast("double") / sum("wsz"), 6)
          .as("vol_removal_rate"))
      .orderBy("modality")
  }

  /** The RAG oracles (r1–r3) inline the engine's retrieval pool,
    * recomputed from the corpus (None on an empty pool → rows-only). */
  val specs: Seq[QuerySpec] = Seq(
    // R1–R7 + C1/C2 + E2 end-to-end: chunk + embed the documents table
    // at query time, then exact cosine top-k for a fixed query.
    // ORACLE-CHECKED (round 7, the v20 inlined-constants trick): the
    // embedder is engine-native, but retrieval over its output is pure
    // SQL — at dump time the engine's top-100 candidate pool is
    // inlined WITH its embeddings and the query vector, and DuckDB
    // independently recomputes every cosine, the threshold, the
    // ordering and the tie-break. A mis-ranked candidate or wrong
    // similarity hash-mismatches; only embed() itself stays native
    // (its arithmetic is pinned corpus-wide by v1/v4/v5's oracles
    // over the same cosine machinery).
    QuerySpec("r1_rag_retrieval", (s, dir) => {
      // balanced (round 18): same rationale as r3 — embed in the scan
      val chunks = Rag.buildChunks(
        Tables.balanced(Tables.load(s, dir, "documents")
          .select("doc_id", "text")),
        modelId = 1L, maxTokens = MaxTokens, dim = Dim)
      Rag.searchChunks(chunks, Rag.embedQuery(Query, Dim),
          topK = 10, threshold = 0.0)
        .select("id", "source_id", "chunk_number", "similarity")
    }, r1OracleSql, headline = true),

    // M1: multimodal feature extraction — binary assets → batched
    // per-partition stub decode → feature vectors. The SQL-derivable
    // columns (asset_id, media_type, n_bytes) are oracle-checked; the
    // stub feature vector is covered by MultimodalSpec determinism.
    // The oracle's media_type mapping is doc_id % 3 →
    // image/audio/video and n_bytes is the utf-8 byte length the
    // binary cast produces.
    QuerySpec("m1_media_features", (s, dir) => {
      val assets = graft.multimodal.Multimodal.syntheticAssets(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.extractFeatures(assets, featureDim = 16)
        .select(col("asset_id"), col("media_type"), col("n_bytes"))
        .orderBy("asset_id")
    }, sql(
      """SELECT doc_id AS asset_id,
        | CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        | FROM documents ORDER BY asset_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // M4: REAL image decode — each document id becomes an actual PNG
    // (encoded by javax.imageio with dims derived from the id), then
    // decodeImages reads it back with the same JDK codec family. The
    // oracle recomputes the expected dims as pure SQL over doc_id, so
    // the hash check pins that the real decoder ran and recovered the
    // true width/height (decoded = TRUE for every row); the histogram
    // feature is covered by MultimodalSpec.
    QuerySpec("m4_image_decode", (s, dir) => {
      val assets = graft.multimodal.Multimodal.syntheticPngAssets(
        Tables.load(s, dir, "documents"), "doc_id")
      // the decoded rows are cached before the sort, as in m7: the
      // range partitioner's sample would otherwise re-run every decode
      graft.Caches.shared(
          graft.multimodal.Multimodal.decodeImages(assets, featureDim = 16)
            .select(col("asset_id"), col("width"), col("height"), col("decoded")))
        .orderBy("asset_id")
    }, sql(
      """SELECT doc_id AS asset_id,
        | CAST(1 + doc_id % 16 AS INT) AS width,
        | CAST(1 + doc_id % 8 AS INT) AS height,
        | TRUE AS decoded
        | FROM documents ORDER BY asset_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // M5: perceptual dHash over REAL decoded images — the image
    // near-dup fingerprint pass. Where m4's oracle pins only the
    // recovered dims, m5 pins the decoded PIXEL CONTENT: the synthetic
    // PNGs' pixel fill is a pure integer function of the id, so the
    // oracle re-derives the full 9×8 nearest-neighbor luminance grid
    // and all 64 comparison bits in SQL — any loss anywhere in the
    // encode→PNG→decode→sample→compare chain breaks the hash. The four
    // 16-bit chunks double as pigeonhole blocking keys (Hamming ≤ 3 ⟹
    // one chunk equal — d4's candidate machinery, no all-pairs).
    // m5: the full dHash re-derived in SQL — the synthetic pixel fill
    // (id·2654435761 + 97·px + 31·py) & 0xffffff, the 9×8 nearest-
    // neighbor grid, the integer luminance, and all 64 comparison bits
    // packed into the same four 16-bit chunks the engine emits.
    QuerySpec("m5_image_phash", (s, dir) => {
      val assets = graft.multimodal.Multimodal.syntheticPngAssets(
        Tables.load(s, dir, "documents"), "doc_id")
      graft.multimodal.Multimodal.imagePhash(assets)
        .orderBy("asset_id")
    }, sql(
      """WITH d AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 8 AS h
        |  FROM documents),
        | gxs AS (SELECT unnest(range(0, 9)) gx),
        | gys AS (SELECT unnest(range(0, 8)) gy),
        | lum AS (SELECT doc_id, gx, gy,
        |   ((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587
        |     + (v & 255) * 114) // 1000) AS l
        |  FROM (SELECT doc_id, gx, gy,
        |    ((doc_id * 2654435761 + ((gx * w) // 9) * 97
        |      + ((gy * h) // 8) * 31) & 16777215) AS v
        |   FROM d CROSS JOIN gxs CROSS JOIN gys)),
        | bits AS (SELECT a.doc_id, (a.gy * 8 + a.gx) AS i,
        |   CASE WHEN b.l > a.l THEN 1 ELSE 0 END AS bit
        |  FROM lum a JOIN lum b ON a.doc_id = b.doc_id AND a.gy = b.gy
        |   AND b.gx = a.gx + 1
        |  WHERE a.gx < 8)
        | SELECT doc_id AS asset_id,
        |  CAST(1 + doc_id % 16 AS INT) AS width,
        |  CAST(1 + doc_id % 8 AS INT) AS height,
        |  CAST(SUM(CASE WHEN i // 16 = 0 THEN bit << (i % 16) ELSE 0 END) AS INT) AS h0,
        |  CAST(SUM(CASE WHEN i // 16 = 1 THEN bit << (i % 16) ELSE 0 END) AS INT) AS h1,
        |  CAST(SUM(CASE WHEN i // 16 = 2 THEN bit << (i % 16) ELSE 0 END) AS INT) AS h2,
        |  CAST(SUM(CASE WHEN i // 16 = 3 THEN bit << (i % 16) ELSE 0 END) AS INT) AS h3
        | FROM bits GROUP BY doc_id ORDER BY asset_id"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // M12: REAL image resize (round 13) — the preprocessing rung the
    // multimodal ladder was missing (decode m4 → fingerprint m5 →
    // RESIZE → frame-sample m2/m6): downscale every image to fit a
    // 6-px box, aspect preserved, never upscaled, dims floored at 1,
    // with an explicit nearest-neighbor resample over the REAL
    // decoded pixels. The oracle recomputes the integer dim math AND
    // every resampled pixel's luminance from the synthetic fill
    // formula — any loss anywhere in the
    // encode→PNG→decode→resize→resample chain breaks the hash (the
    // m5 discipline applied to the thumbnail pass).
    // m12: the resize re-derived in SQL — the aspect-fit integer dim
    // math (never upscale, floor at 1), the nearest-neighbor source
    // map (x'·w // out_w), the synthetic pixel fill at each SAMPLED
    // coordinate, and the integer luminance sum.
    // Not in the bench headline: its cost is m4/m5's real PNG decode
    // (headlined twice) plus a ≤36-pixel resample loop — no new plan
    // family; oracle-checked (full pixel-chain replay) + the dims spec.
    QuerySpec("m12_image_resize", (s, dir) => {
      val assets = graft.multimodal.Multimodal.syntheticPngAssets(
        Tables.load(s, dir, "documents"), "doc_id")
      // cached before the sort, as in m4
      graft.Caches.shared(
          graft.multimodal.Multimodal.resizeImages(assets, maxDim = 6))
        .orderBy("asset_id")
    }, sql(
      """WITH d AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 8 AS h
        |  FROM documents),
        | dims AS (SELECT doc_id, w, h,
        |   CASE WHEN GREATEST(w, h) <= 6 THEN w
        |    ELSE GREATEST(1, (w * 6) // GREATEST(w, h)) END AS ow,
        |   CASE WHEN GREATEST(w, h) <= 6 THEN h
        |    ELSE GREATEST(1, (h * 6) // GREATEST(w, h)) END AS oh
        |  FROM d),
        | px AS (SELECT doc_id, w, h, ow, oh,
        |   ((doc_id * 2654435761
        |     + ((ux.x * w) // ow) * 97 + ((uy.y * h) // oh) * 31)
        |    & 16777215) AS v
        |  FROM dims, UNNEST(range(0, ow)) AS ux(x),
        |   UNNEST(range(0, oh)) AS uy(y))
        | SELECT doc_id AS asset_id,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(ow AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |  CAST(SUM((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587
        |    + (v & 255) * 114) // 1000) AS BIGINT) AS luma_sum
        | FROM px GROUP BY 1, 2, 3, 4, 5
        | ORDER BY asset_id""".stripMargin.replaceAll("\n", ""))),

    // M13: SCALE-INVARIANT image dedup (round 14) — resize → dHash →
    // collapse, the composition a production image pipeline actually
    // runs: pHash on the NORMALIZED image, so the same picture saved
    // at two resolutions fingerprints identically. Planted pairs
    // (the m8 fill-group precedent across RESOLUTIONS): even ids
    // carry a 16-wide hi-res master, odd ids its nearest-neighbor
    // 8-wide web export — a shape raw m5 does NOT collapse (the
    // master's 9×8 grid samples floor(gx·16/9), the export's
    // 2·floor(gx·8/9) — a downscale doesn't floor-compose the way an
    // integer upscale would, so the unnormalized hashes differ
    // generically) while the normalized rasters are bit-identical.
    // Keep policy = highest-resolution original (largest source
    // area, ties min id) — the master-copy choice for vision
    // training data. ORACLE-CHECKED end-to-end: every pixel is a
    // pure integer function of (group, x, y), so DuckDB replays
    // encode→PNG→decode→resize dim math→composed nearest-neighbor
    // resample→all 64 dHash bits→exact classes→pigeonhole pairs +
    // Hamming verify→closure→keep choice. Fused decode+resize+hash
    // in one narrow batched map — the resized raster never leaves
    // the task, bytes never shuffle.
    // m13: full replay — scale-pair dims, resize dim math, the
    // composed nearest-neighbor resample down to the base fill, all
    // 64 dHash bits, exact classes, rep pigeonhole pairs + Hamming
    // verify, closure, largest-source-area keep.
    // Not in the bench headline: its fused resize→dHash pass is m5's
    // real-decode+hash cost on a second asset table (m4/m5 headline the
    // codec floor) and its collapse is m9's family (not headlined) — no
    // new plan family; oracle-checked at 3 SFs (full
    // encode→resize→hash→pairs replay) + the master/export specs.
    QuerySpec("m13_scale_dedup", (s, dir) => {
      val assets = graft.multimodal.Multimodal.syntheticScaledPngAssets(
        Tables.load(s, dir, "documents"), "doc_id")
      graft.multimodal.Multimodal.scaleInvariantImageDedup(
          assets, maxDim = 8, maxDist = 3)
        .orderBy("asset_id")
    }, sql(
      s"""WITH RECURSIVE $m13DedupCtes
        | SELECT asset_id, rep_id, kept FROM dec ORDER BY asset_id"""
        .stripMargin.replaceAll("\n", ""))),

    // M14: image–caption PAIR extraction (round 14) — the multimodal
    // PAIRING rung the ladder was missing: dedup treats each modality
    // alone, but an (image, caption) training pipeline must first
    // ASSOCIATE text with the images it describes. Extracts every
    // markdown `![alt](url)`, HTML `<img src alt>` (both attribute
    // orders) and `<figure>…<figcaption>` block from document text —
    // the three shapes web-crawl captions actually take. References
    // are PLANTED per (doc_id, position) (the t8/d19/d21 precedent):
    // %4==1 docs carry TWO markdown images (ordinal order
    // exercised), %8==2 / %8==6 docs carry the two HTML attribute
    // orders, %4==3 docs a figcaption block — so the oracle replays
    // extraction non-vacuously at every SF. Pure scan projection,
    // zero shuffles before the output sort.
    // m14: the plant is rebuilt byte-for-byte in SQL, then extraction
    // replays with the ENGINE'S OWN pattern constants (interpolated —
    // one definition) via regexp_extract_all in DuckDB's RE2, so a
    // Java-regex-only construct sneaking into a pattern fails the
    // oracle instead of passing silently.
    QuerySpec("m14_image_captions", (s, dir) => {
      val planted = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), m14PlantExpr(col("doc_id"))).as("text"))
      graft.sources.Sources.imageCaptionPairs(planted, "doc_id", "text")
        .orderBy("doc_id", "kind", "pos")
    }, sql(
      s"""WITH ${m14ExtractCtes()}
        | SELECT * FROM allp ORDER BY doc_id, kind, pos"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // M15: caption CONSOLIDATION (round 14) — the composition that
    // makes m14 and m9 a training-set builder: when image dedup
    // collapses re-crawled copies, their captions must follow the
    // KEPT representative, or dedup silently throws away text that
    // described the surviving image. m14's extracted (doc, url,
    // caption) pairs resolve to asset ids (the url path carries the
    // id — the plant's stand-in for a crawl-table url→asset lookup),
    // join the m9 decision on asset_id, and re-point at rep_id:
    // one row per (kept image, caption) with the reference count.
    // The m8 fill-groups make this non-vacuous: 7 docs' assets
    // collapse to one rep, so a rep consolidates captions from
    // SEVERAL documents. Scale shape: narrow extraction scan, one
    // keyed join against the decision table, one keyed aggregation —
    // no decode, no self-join. ORACLE-CHECKED end-to-end: the m14
    // extraction block and the m9 replay chain (prefixed) compose in
    // one WITH RECURSIVE with the same resolve+join+fold.
    // m15: the m14 extraction block + the m9 replay chain (prefixed)
    // composed in ONE WITH RECURSIVE, then the same url→asset
    // resolve (the engine's own pattern constant), decision join and
    // (rep, caption) fold.
    // Not in the bench headline: its extraction scan is m14's (headlined)
    // and its decision input is m9's chain (not headlined) — the
    // consolidation itself is one keyed join + one keyed fold, no new plan
    // family; oracle-checked at 3 SFs (composed extraction + m9 replay in
    // one WITH RECURSIVE; at sf1 the m9 doc-pair replay is DuckDB-temp-
    // bound, the round-13 d22 class — engine runs fine).
    QuerySpec("m15_caption_consolidation", (s, dir) => {
      val planted = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), m14PlantExpr(col("doc_id"))).as("text"))
      // resolve only urls the plant's scheme can map to an asset id
      // (an unresolvable ref is a crawl artifact, not an asset — and
      // under ANSI semantics an unguarded cast of a non-match would
      // fail the task instead of dropping the row)
      val refs = graft.sources.Sources
        .imageCaptionPairs(planted, "doc_id", "text")
        .filter(col("image_url").rlike(M15RefPat))
        .select(col("caption"),
          regexp_extract(col("image_url"), M15RefPat, 1)
            .cast("long").as("asset_id"))
      val dec = graft.multimodal.Multimodal.imageDedup(
        m8PlantedAssets(s, dir), maxDist = 3)
      refs.join(dec.select("asset_id", "rep_id"), "asset_id")
        .groupBy("rep_id", "caption").agg(count(lit(1)).as("n_refs"))
        .orderBy("rep_id", "caption")
    }, sql(
      s"""WITH RECURSIVE ${prefixCtes(m9DedupCtes, m9CteNames, "i_")},
        | ${m14ExtractCtes()},
        | refs AS (SELECT caption,
        |   CAST(regexp_extract(image_url, '$M15RefPat', 1) AS BIGINT)
        |    AS asset_id FROM allp
        |  WHERE regexp_matches(image_url, '$M15RefPat'))
        | SELECT dd.rep_id, refs.caption,
        |  CAST(COUNT(*) AS BIGINT) AS n_refs
        | FROM refs JOIN i_dec dd ON dd.asset_id = refs.asset_id
        | GROUP BY 1, 2 ORDER BY rep_id, caption"""
        .stripMargin.replaceAll("\n", "")),
      sf1Chains = Some((_, _) => m15Sf1Chains)),

    // M16: caption QUALITY filter (round 14) — the curation pass a
    // CLIP/multimodal training pipeline runs on extracted alt-text
    // before pairing (the DataComp/LAION recipe): web captions are
    // dominated by placeholder alt text ("image", "logo") and
    // boilerplate repeated across thousands of distinct images
    // ("stock banner") that teach an image–text model nothing. Three
    // replayable rules over the m14 extraction: word-count bounds
    // (2–32 over lowercase alnum runs — digits KEPT, a caption's
    // "figure 42" carries signal), an exact placeholder list, and a
    // cross-image document frequency bound (a caption seen on > 3
    // DISTINCT image urls is boilerplate however fluent it reads).
    // Each rule is emitted as its own boolean next to the composite
    // keep, so the audit shows WHY a caption dropped. The plants
    // (m16ExtraPlantExpr) make each rule fire in isolation at every
    // SF. Scale shape: narrow extraction scan, one caption-keyed
    // aggregate (partial map-side), one join back (AQE-broadcast at
    // the df table's measured size) — no decode, no self-join.
    // m16: the shared m14 extraction block over the m16-extended plant,
    // then normalization + the three rules replayed verbatim (the
    // placeholder list is the engine's own constant, interpolated).
    QuerySpec("m16_caption_quality", (s, dir) => {
      val planted = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), m14PlantExpr(col("doc_id")),
            m16ExtraPlantExpr(col("doc_id"))).as("text"))
      // normalization = extract ASCII alnum runs, lowercase each, join
      // — digits KEPT ("figure 42" carries signal), and lower() only
      // ever sees ASCII runs so the two engines stay byte-identical on
      // any corpus (the t50/t51 discipline)
      val pairs = graft.sources.Sources
        .imageCaptionPairs(planted, "doc_id", "text")
        .withColumn("caption_words",
          expr("transform(regexp_extract_all(caption, '[A-Za-z0-9]+', 0)," +
            " w -> lower(w))"))
        .withColumn("caption_norm", array_join(col("caption_words"), " "))
        .withColumn("n_words", size(col("caption_words")).cast("long"))
      val dfx = pairs.groupBy("caption_norm")
        .agg(countDistinct("image_url").as("img_df"))
      pairs.join(dfx, "caption_norm")
        .withColumn("len_ok", col("n_words").between(2, 32))
        .withColumn("not_placeholder",
          !col("caption_norm").isin(M16Placeholders: _*))
        .withColumn("df_ok", col("img_df") <= 3)
        .select(col("doc_id"), col("kind"), col("pos"), col("image_url"),
          col("caption_norm"), col("n_words"), col("img_df"),
          col("len_ok"), col("not_placeholder"), col("df_ok"),
          (col("len_ok") && col("not_placeholder") && col("df_ok"))
            .as("keep"))
        .orderBy("doc_id", "kind", "pos")
    }, sql(
      s"""WITH ${m14ExtractCtes(m16ExtraPlantSql)},
        | nrm AS (SELECT doc_id, kind, pos, image_url,
        |   list_transform(regexp_extract_all(caption, '[A-Za-z0-9]+', 0),
        |    w -> lower(w)) AS cw FROM allp),
        | wcs AS (SELECT doc_id, kind, pos, image_url,
        |   array_to_string(cw, ' ') AS caption_norm,
        |   CAST(len(cw) AS BIGINT) AS n_words FROM nrm),
        | dfx AS (SELECT caption_norm,
        |   CAST(COUNT(DISTINCT image_url) AS BIGINT) AS img_df
        |  FROM wcs GROUP BY caption_norm)
        | SELECT doc_id, kind, pos, image_url, w.caption_norm, n_words,
        |  img_df,
        |  n_words BETWEEN 2 AND 32 AS len_ok,
        |  w.caption_norm NOT IN (${
            M16Placeholders.map(p => s"'$p'").mkString(", ")}) AS
        |   not_placeholder,
        |  img_df <= 3 AS df_ok,
        |  (n_words BETWEEN 2 AND 32) AND w.caption_norm NOT IN (${
            M16Placeholders.map(p => s"'$p'").mkString(", ")})
        |   AND img_df <= 3 AS keep
        | FROM wcs w JOIN dfx ON w.caption_norm = dfx.caption_norm
        | ORDER BY doc_id, kind, pos""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // M21: caption–image ALIGNMENT gate (round 17) — the final
    // pairing gate of the DataComp/LAION recipe, completing
    // m14 (extract) → m16 (curate) → ALIGN: each caption that
    // SURVIVES m16's three rules is embedded, its image's embedding
    // is derived from the REALLY-decoded pixels, and the pair keeps
    // only when the cosine clears the threshold (the CLIP-score
    // shape; the container has no CLIP, so both encoders are the
    // deterministic replayable stand-ins the stub discipline
    // prescribes). Text side: the caption's 16-bin character
    // histogram (code-point mod 16 over the normalized [a-z0-9]
    // chars) — chosen over the E2 embedder deliberately: E2 would
    // bound the oracle to a dump-time inlined pool (the r1 pattern),
    // the histogram keeps the oracle EXACT over the whole corpus.
    // Vision side: the 16-bin luminance-bucket histogram of the real
    // PNG encode→decode roundtrip (captionAlignedHists — the m5/m13
    // discipline: pixels are a pure function of (caption, url,
    // doc_id, pos), so the oracle recomputes the expected histogram
    // and any codec/sampling loss hash-fails). Plants per class:
    // %7==3 aligned (cosine exactly 1), %7==5 misaligned (cosine
    // exactly 0); generic m14 captions score against the id-pure
    // generic fill. Scale shape: extraction scan → one caption-keyed
    // df aggregate + join back (m16's own shape) → ONE fused narrow
    // map for encode/decode/histogram (bytes never shuffle) → pure
    // column cosine; zero extra exchanges over m16.
    // m21: the m14 extraction over the m14+m16+m21 plants, the m16
    // keep rules, the 16 character-bucket counts (the engine's own
    // generated classes, interpolated), then the EXPECTED image
    // histogram per paint class (aligned = the caption histogram,
    // misaligned = all mass in bucket 2, generic = the id-pure fill
    // formula) and the same integer dot/norm cosine — any loss in
    // the engine's real encode→PNG→decode→histogram chain or a
    // drifted threshold hash-fails.
    QuerySpec("m21_caption_alignment", (s, dir) => {
      val planted = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), m14PlantExpr(col("doc_id")),
            m16ExtraPlantExpr(col("doc_id")),
            m21PlantExpr(col("doc_id"))).as("text"))
      val pairs = graft.sources.Sources
        .imageCaptionPairs(planted, "doc_id", "text")
        .withColumn("caption_words",
          expr("transform(regexp_extract_all(caption, '[A-Za-z0-9]+', 0)," +
            " w -> lower(w))"))
        .withColumn("caption_norm", array_join(col("caption_words"), " "))
        .withColumn("n_words", size(col("caption_words")).cast("long"))
      val dfx = pairs.groupBy("caption_norm")
        .agg(countDistinct("image_url").as("img_df"))
      val kept = pairs.join(dfx, "caption_norm")
        .filter(col("n_words").between(2, 32) &&
          !col("caption_norm").isin(M16Placeholders: _*) &&
          col("img_df") <= 3)
        .withColumn("cap_hist", array(M21BucketChars.map(cs =>
          regexp_count(col("caption_norm"), lit(s"[$cs]"))
            .cast("long")): _*))
        .select("doc_id", "kind", "pos", "image_url", "caption_norm",
          "cap_hist")
      // the scored rows are cached before the sort, as in m4
      graft.Caches.shared(graft.multimodal.Multimodal.captionAlignedHists(kept)
        .withColumn("cap_mass",
          expr("aggregate(cap_hist, 0L, (a, v) -> a + v)"))
        .withColumn("img_mass",
          expr("aggregate(img_hist, 0L, (a, v) -> a + v)"))
        .withColumn("dot", expr(
          "aggregate(zip_with(cap_hist, img_hist, (x, y) -> x * y), " +
            "0L, (a, v) -> a + v)"))
        .withColumn("na",
          expr("aggregate(cap_hist, 0L, (a, v) -> a + v * v)"))
        .withColumn("nb",
          expr("aggregate(img_hist, 0L, (a, v) -> a + v * v)"))
        .withColumn("raw_cos",
          when(col("na") > 0 && col("nb") > 0,
            col("dot").cast("double") /
              (sqrt(col("na").cast("double")) *
                sqrt(col("nb").cast("double"))))
            .otherwise(lit(0.0)))
        .select(col("doc_id"), col("kind"), col("pos"), col("image_url"),
          col("caption_norm"), col("cap_mass"), col("img_mass"),
          round(col("raw_cos"), 6).as("cos_sim"),
          (col("raw_cos") >= 0.8).as("aligned")))
        .orderBy("doc_id", "kind", "pos")
    }, sql(
      s"""WITH ${m14ExtractCtes(m16ExtraPlantSql + m21ExtraPlantSql)},
        | nrm AS (SELECT doc_id, kind, pos, image_url,
        |   list_transform(regexp_extract_all(caption, '[A-Za-z0-9]+', 0),
        |    w -> lower(w)) AS cw FROM allp),
        | wcs AS (SELECT doc_id, kind, pos, image_url,
        |   array_to_string(cw, ' ') AS caption_norm,
        |   CAST(len(cw) AS BIGINT) AS n_words FROM nrm),
        | dfx AS (SELECT caption_norm,
        |   CAST(COUNT(DISTINCT image_url) AS BIGINT) AS img_df
        |  FROM wcs GROUP BY caption_norm),
        | kpt AS (SELECT w.doc_id, w.kind, w.pos, w.image_url,
        |   w.caption_norm
        |  FROM wcs w JOIN dfx ON w.caption_norm = dfx.caption_norm
        |  WHERE n_words BETWEEN 2 AND 32
        |   AND w.caption_norm NOT IN (${
            M16Placeholders.map(p => s"'$p'").mkString(", ")})
        |   AND img_df <= 3),
        | chx AS (SELECT *, $m21CapHistSql AS cap_hist FROM kpt),
        | ihx AS (SELECT *, CASE
        |   WHEN regexp_matches(image_url, 'm21[.]example/[0-9]+/a[.]png')
        |    THEN CASE WHEN list_sum(cap_hist) = 0
        |     THEN [CAST(1 AS BIGINT), 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
        |       0, 0, 0, 0]
        |     ELSE cap_hist END
        |   WHEN regexp_matches(image_url, 'm21[.]example/[0-9]+/m[.]png')
        |    THEN list_transform(range(1, 17), b -> CASE WHEN b = 3
        |      THEN GREATEST(CAST(list_sum(cap_hist) AS BIGINT),
        |       CAST(1 AS BIGINT))
        |      ELSE CAST(0 AS BIGINT) END)
        |   ELSE list_transform(range(1, 17), b ->
        |     CAST(len(list_filter(range(0, 32),
        |      i -> ((doc_id * 7 + pos * 11 + i * 13) % 256) // 16
        |       = b - 1)) AS BIGINT))
        |   END AS img_hist FROM chx),
        | fin AS (SELECT doc_id, kind, pos, image_url, caption_norm,
        |   CAST(list_sum(cap_hist) AS BIGINT) AS cap_mass,
        |   CAST(list_sum(img_hist) AS BIGINT) AS img_mass,
        |   CAST(list_sum(list_transform(range(1, 17),
        |     i -> cap_hist[CAST(i AS INT)] * img_hist[CAST(i AS INT)]))
        |    AS BIGINT) AS dot,
        |   CAST(list_sum(list_transform(cap_hist, v -> v * v)) AS BIGINT)
        |    AS na,
        |   CAST(list_sum(list_transform(img_hist, v -> v * v)) AS BIGINT)
        |    AS nb
        |  FROM ihx)
        | SELECT doc_id, kind, pos, image_url, caption_norm, cap_mass,
        |  img_mass,
        |  ROUND(CASE WHEN na > 0 AND nb > 0 THEN
        |    dot::DOUBLE / (SQRT(na::DOUBLE) * SQRT(nb::DOUBLE))
        |    ELSE 0.0::DOUBLE END, 6) AS cos_sim,
        |  (CASE WHEN na > 0 AND nb > 0 THEN
        |    dot::DOUBLE / (SQRT(na::DOUBLE) * SQRT(nb::DOUBLE))
        |    ELSE 0.0::DOUBLE END) >= 0.8::DOUBLE AS aligned
        | FROM fin ORDER BY doc_id, kind, pos"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // M17: video SCENE-CUT detection (round 14) — shot-boundary
    // detection, the keyframe-selection rung a video training
    // pipeline runs after frame extraction (pick one frame per SHOT,
    // not every Nth frame — m6's stride sampler oversamples static
    // scenes and skips short ones). Real container decode (zip-of-PNG
    // via sampleZipFrames, every frame), then the classic
    // luma-difference detector: per asset, Δ = luma_sum − lag, cut
    // when |Δ| > n_px (mean per-pixel shift > 1 — integer threshold,
    // no float), scene_id = running cut count. The assets are
    // scene-STRUCTURED (syntheticSceneVideoAssets: fill keyed on
    // j div sceneLen) so within-scene deltas are EXACTLY 0 — no false
    // cuts by construction — and boundaries are generic jumps. Oracle
    // recomputes every frame's luma from the fill formula, then the
    // same lag/threshold/running count. Scale shape: decode stays in
    // the narrow map (bytes never shuffle), the detector window
    // partitions on asset_id with ≤ frame-count rows per key.
    // m17: every frame's luma recomputed from the SCENE-keyed fill
    // (j // sceneLen), then the same lag / integer threshold /
    // running cut count (the chain is shared with m18's oracle).
    QuerySpec("m17_scene_cuts", (s, dir) => {
      sceneCutFrames(s, dir)
        .select(col("asset_id"), col("frame_number"), col("luma_sum"),
          col("delta"), col("is_cut"), col("scene_id"))
        .orderBy("asset_id", "frame_number")
    }, sql(
      s"""WITH $m17SceneCtes
        | SELECT asset_id, frame_number, luma_sum, delta, is_cut, scene_id
        | FROM scn ORDER BY asset_id, frame_number"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // M18: keyframe SELECTION (round 14) — the training-sample
    // emitter m17 exists for: one representative frame per detected
    // SHOT (its first frame — the convention shot-boundary samplers
    // use: the cut frame is the scene's cleanest exemplar, mid-scene
    // frames add nothing the detector can distinguish). Per (asset,
    // scene): the keyframe ordinal + its luma, and the scene length
    // in frames — what a vision-training exporter writes per sample.
    // One keyed aggregation over m17's detector output (ONE shared
    // definition — the selection cannot drift from the detection);
    // the oracle extends m17's replay with the same GROUP BY.
    // m18: the SAME m17 replay chain folded per (asset, scene) — the
    // selection cannot drift from the detection.
    QuerySpec("m18_keyframe_select", (s, dir) => {
      sceneCutFrames(s, dir)
        .groupBy(col("asset_id"), col("scene_id"))
        .agg(min("frame_number").as("keyframe"),
          min_by(col("luma_sum"), col("frame_number"))
            .as("keyframe_luma"),
          count(lit(1)).as("n_frames"))
        .orderBy("asset_id", "scene_id")
    }, sql(
      s"""WITH $m17SceneCtes
        | SELECT asset_id, scene_id,
        |  CAST(MIN(frame_number) AS INT) AS keyframe,
        |  arg_min(luma_sum, frame_number) AS keyframe_luma,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames
        | FROM scn GROUP BY asset_id, scene_id
        | ORDER BY asset_id, scene_id""".stripMargin.replaceAll("\n", ""))),

    // M20: keyframe content EXPORT (round 15) — the emitter m18's
    // ordinals exist for: a vision-training exporter needs the
    // selected frame's PIXELS, not its row. Two passes by design:
    // detection runs over narrow luma stats (m17's chain, ONE shared
    // definition), then ONLY the chosen ordinals — one per scene,
    // bounded — are re-extracted from their containers and REALLY
    // decoded (extractZipFrames: original PNG entry bytes + dims +
    // luma recomputed from those bytes). The single-pass alternative
    // (min_by(frame_bytes) through the detector) would drag every
    // frame's bytes through the asset-keyed window exchange — at real
    // frame sizes that shuffles the corpus's pixel volume to keep one
    // frame per scene. Here bytes are born in the final narrow map
    // and never shuffle. The hash gate pins the whole
    // detect→select→extract→decode chain (the oracle recomputes dims
    // and the keyframe's luma from the fill formula); the PNG bytes
    // themselves are spec-pinned by re-decode equality + a bounded
    // size budget (Round15OpsSpec).
    // m20: m18's selection extended with the asset's dims — the
    // engine recomputes width/height/luma from a REAL decode of the
    // extracted PNG entry, the oracle from the id formula (w = 1 +
    // id%16, h = 1 + id%8, luma from the fill), so a mismatch
    // anywhere in the select→extract→decode chain hash-fails.
    QuerySpec("m20_keyframe_export", (s, dir) => {
      val sel = sceneCutFrames(s, dir)
        .groupBy(col("asset_id"), col("scene_id"))
        .agg(min("frame_number").as("frame_number"))
      keyframeContent(s, dir, sel)
        .select(col("asset_id"), col("scene_id"),
          col("frame_number").as("keyframe"), col("width"), col("height"),
          col("luma_sum").as("keyframe_luma"))
        .orderBy("asset_id", "scene_id")
    }, sql(
      s"""WITH $m17SceneCtes
        | SELECT asset_id, scene_id,
        |  CAST(MIN(frame_number) AS INT) AS keyframe,
        |  CAST(1 + asset_id % 16 AS INT) AS width,
        |  CAST(1 + asset_id % 8 AS INT) AS height,
        |  arg_min(luma_sum, frame_number) AS keyframe_luma
        | FROM scn GROUP BY asset_id, scene_id
        | ORDER BY asset_id, scene_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // M19: audio SILENCE segmentation (round 14) — voice-activity
    // detection, the audio twin of m17's shot boundaries: a speech
    // pipeline segments recordings at pauses before transcription /
    // training-clip export. Real WAV decode into 32-sample windows
    // (m7's decodeWavWindows — bounded state per the round-13 fix),
    // a window is SILENT when its peak amplitude stays within ±100
    // (the classic integer peak test — no float), and active windows
    // fold into maximal runs via gaps-and-islands (s18's pattern):
    // one row per speech segment with its window span and amplitude
    // checksum. The assets are speech-SHAPED
    // (syntheticSpeechWavAssets: every third window digital silence)
    // so segments are non-vacuous at every SF; an active window
    // faking silence needs all ~32 uniform samples inside ±100
    // (p ≈ (201/20001)³² ≈ 0). Oracle replays the sample formula →
    // window peaks → the same island fold. Scale: decode in the
    // narrow map, window/island work partitioned per asset with
    // window-count-bounded keys.
    // m19: sample formula (with the every-third-window silence plant)
    // → window peaks → the same peak test and island fold.
    QuerySpec("m19_silence_segments", (s, dir) => {
      // speech WAVs from the build-once sidecar (the m7 convention —
      // round 18): the encode is fixture build work, paid once per
      // corpus; the bench measures the decode + island fold
      val assets = assetSidecar(s, dir, "speechwav1") {
        graft.multimodal.Multimodal.syntheticSpeechWavAssets(
          Tables.load(s, dir, "documents"), "doc_id")
      }
      silenceSegmentsFromWindows(graft.multimodal.Multimodal
        .decodeWavWindows(assets, windowSamples = 32))
        .orderBy("asset_id", "segment_id")
    }, sql(
      """WITH d AS (SELECT doc_id, 256 + doc_id % 128 AS n FROM documents),
        | s AS (SELECT doc_id, CAST(k // 32 AS INT) AS w,
        |   CASE WHEN (k // 32) % 3 = 2 THEN 0
        |    ELSE ((doc_id * 2654435761 + k * 1013904223) % 20001 - 10000)
        |    END AS v
        |  FROM d, UNNEST(range(0, n)) AS u(k)),
        | wn AS (SELECT doc_id AS asset_id, w, MIN(v) AS mn, MAX(v) AS mx,
        |   CAST(SUM(v) AS BIGINT) AS sample_sum
        |  FROM s GROUP BY doc_id, w),
        | act AS (SELECT * FROM wn WHERE NOT (mn >= -100 AND mx <= 100)),
        | mk AS (SELECT asset_id, w, sample_sum,
        |   CASE WHEN lag(w) OVER (PARTITION BY asset_id ORDER BY w)
        |     IS NULL OR w > lag(w) OVER (PARTITION BY asset_id
        |     ORDER BY w) + 1 THEN 1 ELSE 0 END AS ni
        |  FROM act),
        | sg AS (SELECT asset_id, w, sample_sum,
        |   CAST(SUM(ni) OVER (PARTITION BY asset_id ORDER BY w
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS segment_id
        |  FROM mk)
        | SELECT asset_id, segment_id, CAST(MIN(w) AS INT) AS start_window,
        |  CAST(MAX(w) AS INT) AS end_window,
        |  CAST(COUNT(*) AS BIGINT) AS n_windows,
        |  CAST(SUM(sample_sum) AS BIGINT) AS sample_sum
        | FROM sg GROUP BY asset_id, segment_id
        | ORDER BY asset_id, segment_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // M8: image NEAR-DUP pairs — the multimodal rung of the dedup
    // ladder: re-crawled/re-saved copies of one image share a
    // perceptual hash even when their bytes differ, and production
    // pipelines dedup images by pHash blocking, never byte equality.
    // Duplicates are PLANTED (t8/d19/d21 precedent): every run of 7
    // consecutive doc_ids shares ONE image (content + dims derive
    // from fill_id = doc_id - doc_id % 7; the copy attached per doc
    // by a fill_id join — ONE encode per group, so planted copies are
    // byte-identical, the re-crawled-image case). Each copy is still
    // independently DECODED + hashed (the per-copy cost that matters:
    // decode dominates, and ingest never knows bytes are shared);
    // groups surface as Hamming-0 cliques, while natural 16-bit
    // chunk collisions across groups exercise (and fail) the exact
    // verification. Pigeonhole blocking on the four 16-bit chunks is
    // sound for dist <= 3 (m5's design comment); one banded
    // exchange, candidates verified by XOR popcount — no all-pairs.
    // m8: the full chain replayed — fill-group remap, the m5 dHash
    // re-derived ONCE per distinct fill id (the hash depends only on
    // fid) and joined back per doc, the 4-chunk pigeonhole candidate
    // join, and exact Hamming verification via xor + bit_count; same
    // (a, b, dist) contract.
    // Not in the bench headline: its costs are m5's decode+hash pass
    // (headlined) plus d3/d4's banded candidate join (headlined twice) —
    // no new plan family; oracle-checked at 3 SFs.
    QuerySpec("m8_image_neardup", (s, dir) => {
      graft.multimodal.Multimodal.phashNearDupPairs(
          graft.multimodal.Multimodal.imagePhash(m8PlantedAssets(s, dir)),
          maxDist = 3)
        .orderBy("a", "b")
    }, sql(
      s"""WITH $phashReplayCtes
        | SELECT c.a, c.b, CAST($phashDistSql AS INT) AS dist
        | FROM cand c JOIN hh ha ON ha.doc_id = c.a
        |  JOIN hh hb ON hb.doc_id = c.b
        | WHERE $phashDistSql <= 3
        | ORDER BY a, b""".stripMargin.replaceAll("\n", ""))),

    // M10: audio near-dup DEDUP decision (round 12) — the modality
    // ladder's audio rung (text d1-d21, image m8/m9): re-uploaded
    // copies of a recording share a delta-sign fingerprint over the
    // DECODED sample stream even when container bytes differ. The
    // fingerprint reuses the image path's 4×16-bit chunk contract, so
    // blocking, verification and the collapse are the SAME generic
    // fingerprintDedup — keep policy ranks by duration (the longest
    // capture is the master copy), ties min id. Declared as the
    // DECISION, not the pair report, by measurement: the synthetic
    // sample formula only has 20001 phases, so distinct fingerprints
    // saturate (~78 at sf1) and a pair report grows QUADRATICALLY in
    // identical-fingerprint class sizes (the m9 lesson) while the
    // decision stays linear. ORACLE-CHECKED end-to-end: every window
    // sum is an integer function of the fill id (the m7 formula), so
    // DuckDB re-derives the sample stream, the 64 delta bits, the
    // chunks, the rep-level pigeonhole pairs, the transitive closure
    // and the duration/min-id representative choice.
    // m10: full replay — fill remap, the m7 integer sample formula
    // (window sums at windowSamples=1 ARE the samples), the 64
    // delta-sign bits (bit 63 absent when a 64-sample asset has no
    // 65th window — the engine's zero-fill), the same chunk packing,
    // then the DECISION: exact-fingerprint classes, rep-level
    // pigeonhole pairs + Hamming verify, recursive-CTE closure and
    // the duration-desc/min-id representative per component.
    // Not in the bench headline, for m9's two reasons one rung over: its
    // decode pass is m7's (headlined — the same 50k real WAV parses at
    // sf1) and its collapse is m9's generic fingerprintDedup;
    // oracle-checked at 3 SFs with golden-bits + planted-collapse specs.
    QuerySpec("m10_audio_dedup", (s, dir) =>
      m10Decision(s, dir).orderBy("asset_id"), sql(
      s"""WITH RECURSIVE $m10DedupCtes
        | SELECT asset_id, rep_id, kept FROM dec ORDER BY asset_id"""
        .stripMargin.replaceAll("\n", ""))),

    // M11: video near-dup DEDUP decision (round 12) — the modality
    // ladder's last rung (text, image m8/m9, audio m10): re-uploads
    // of a video share sampled keyframe dHashes, so exact FRAMESET
    // classes collapse first (the m9 linearity move — byte-identical
    // re-uploads and the 1-pixel blind-spot class both land there),
    // class reps pair on shared distinct frame hashes under the
    // round-13 criterion (>= 2 absolute floor AND >= 50% containment
    // of the smaller frameset, ubiquitous hashes df > 64 pruned from
    // the join), and each component keeps its longest cut (most
    // sampled frames, ties min id). Duplicates PLANTED as fill-groups
    // of 3 consecutive ids
    // sharing one zip (one encode per group; every copy still pays
    // its own zip walk + selective decode). ORACLE-CHECKED end-to-end:
    // frames and pixels are integer functions of the fill id (the m6
    // formula), so DuckDB re-derives every sampled frame's dHash, the
    // frameset signatures, the rep pair graph, the closure and the
    // keep choice.
    // m11: full replay — fill remap, the m6 pixel formula per sampled
    // frame (j % 2 = 0), the m5 dHash derivation per (fid, frame),
    // string-packed frame hashes, sorted-frameset signatures (the
    // oracle groups by the full sig string — exactness-equivalent to
    // the engine's fixed-width (xxhash64, width) shuffle key, and a
    // 64-bit+width collision would surface as a hash mismatch here),
    // the rep-level pair graph under the round-13 criterion (df <= 64
    // frequent-hash prune on the join input, shared >= 2 AND
    // containment shared*100 >= 50 * the SMALLER full frameset), a
    // recursive closure, and the frames-desc/min-id keep choice.
    // Not in the bench headline, likewise: its decode pass is m6's zip
    // walk (m6 is headlined via m1's family and oracle-checked) composed
    // with m5's dHash (headlined), and its collapse is the m9 class-first
    // shape; oracle-checked at sf0.001/sf0.01/sf1.
    QuerySpec("m11_video_dedup", (s, dir) =>
      m11Decision(s, dir).orderBy("asset_id"), sql(
      s"""WITH RECURSIVE $m11DedupCtes
        | SELECT asset_id, rep_id, kept FROM dec ORDER BY asset_id"""
        .stripMargin.replaceAll("\n", ""))),

    // M9: the image-dedup DECISION (round 12) — m8's verified pairs
    // taken to the per-asset collapse text dedup already has (d6 CC +
    // d12 keep-policy): connected components over the pair graph,
    // keep the largest-area member (the master copy), ties to min
    // asset_id. ORACLE-CHECKED end-to-end: DuckDB replays the dHash
    // from the synthetic pixel formula, the pigeonhole + Hamming
    // verification, a recursive-CTE transitive closure, and the same
    // representative choice — the planted fill-groups give exact
    // expected clusters at every SF.
    // m9: m8's replay extended to the COLLAPSE decision — verified
    // pairs, recursive-CTE transitive closure, and the identical
    // area-desc/min-id representative choice per component (area from
    // the same fid dims formula the dims decode is verified against).
    // Not in the bench headline, for m8's reason plus d11's: its pair
    // stage IS m8 (not headlined) and its collapse is the d11-family CC +
    // one label-partitioned window — both plan families already
    // headlined; oracle-checked at 3 SFs (recursive-closure replay).
    QuerySpec("m9_image_dedup", (s, dir) => {
      graft.multimodal.Multimodal.imageDedup(m8PlantedAssets(s, dir),
          maxDist = 3)
        .orderBy("asset_id")
    }, sql(
      s"""WITH RECURSIVE $m9DedupCtes
        | SELECT asset_id, rep_id, kept FROM dec ORDER BY asset_id"""
        .stripMargin.replaceAll("\n", ""))),

    // D22: corpus dedup AUDIT rollup (round 13; upgraded round 14) —
    // the report a pipeline operator reads BEFORE committing a dedup
    // pass: the modality ladder (text, image m9, audio m10, video
    // m11) produces per-item keep decisions, and this rolls every
    // decision table up to one row per modality — item/kept/removed
    // counts, removal rate, cluster count, how many clusters actually
    // have duplicates, the largest cluster (the skew early-warning:
    // a 3k-member cluster is the thing that turns a pair report
    // quadratic), AND volume-weighted removal (round 14): tokens
    // (text) / pixels (image) / milliseconds (audio, video) removed
    // — the number the commit decision is actually about, since one
    // 500-page dup ≠ one tweet. The text rung is FULL-CORPUS
    // (round 14): the winnowing shared-passage decision
    // (TextQueries.textDupDecision — d17 fingerprints, d18 pruned
    // pair join, CC, longest-doc keep) replaces round 13's d12
    // slice, whose 1000-doc bound existed only because d12's O(N²)
    // brute oracle was the binding constraint. Every input is an
    // already-oracle-checked decision chain, weights are pure
    // metadata projections, and the rollup is two keyed aggregations
    // (both partial map-side), so the audit costs one pass over
    // decisions ingest already paid for. ORACLE-CHECKED end-to-end:
    // the audit oracle re-runs all four replay chains (prefixed into
    // one WITH RECURSIVE — quoted literals, e.g. the seg regex,
    // survive the rename verbatim) and folds the same rollup —
    // nothing is inlined from the engine.
    // d22: all four replay chains (text = the FULL-CORPUS winnowing
    // decision, image m9, audio m10, video m11) verbatim — each
    // block's CTE names prefixed so they coexist in ONE WITH
    // RECURSIVE (quoted literals, e.g. the seg tokenizer regex,
    // survive the rename byte-for-byte — round-14 advisor fix) —
    // then the identical two-stage rollup with volume weights:
    // text weight = seg-token count (carried out of t_dec), image =
    // fill-dim pixel area, audio = the m10 duration formula, video =
    // 40 ms × the fill frame count.
    // Not in the bench headline: it is the m9+m10+m11 decision chains plus
    // the full-corpus winnowing text decision (d17/d18's pass — d18 is
    // headlined) run back-to-back, plus metadata-projection weights and
    // two partial aggregations — benching it would re-time three decode
    // passes and a winnowing pass the headline already measures;
    // oracle-checked end-to-end (all four chains replayed in one WITH
    // RECURSIVE, volume weights included).
    QuerySpec("d22_dedup_audit", (s, dir) => {
      val w = modalityWeights(s, dir)
      dedupAuditRollup(Seq(
        "text" -> TextQueries.textDupDecision(s, dir),
        "image" -> graft.multimodal.Multimodal.imageDedup(
          m8PlantedAssets(s, dir), maxDist = 3),
        "audio" -> m10Decision(s, dir),
        "video" -> m11Decision(s, dir)
      ).map { case (m, dec) =>
        val (wdf, unit) = w(m)
        m -> weightedDecision(dec, wdf, unit)
      })
    }, sql(
      s"""WITH RECURSIVE ${prefixCtes(graft.operators.TextQueries
            .textDedupCtes, graft.operators.TextQueries.textDedupCteNames,
            "t_")},
        | ${prefixCtes(m9DedupCtes, m9CteNames, "i_")},
        | ${prefixCtes(m10DedupCtes, m10CteNames, "a_")},
        | ${prefixCtes(m11DedupCtes, m11CteNames, "v_")},
        | alldec AS (
        |  SELECT 'text' AS modality, 'tokens' AS vol_unit, asset_id,
        |    rep_id, kept, CAST(ntok AS BIGINT) AS weight FROM t_dec
        |  UNION ALL
        |  SELECT 'image', 'px', dc.asset_id, dc.rep_id, dc.kept,
        |    CAST(dd.w * dd.h AS BIGINT)
        |  FROM i_dec dc JOIN i_d dd ON dd.doc_id = dc.asset_id
        |  UNION ALL
        |  SELECT 'audio', 'ms', dc.asset_id, dc.rep_id, dc.kept,
        |    CAST(hh.score AS BIGINT)
        |  FROM a_dec dc JOIN a_hh hh ON hh.doc_id = dc.asset_id
        |  UNION ALL
        |  SELECT 'video', 'ms', dc.asset_id, dc.rep_id, dc.kept,
        |    CAST(40 * (2 + dd.fid % 7) AS BIGINT)
        |  FROM v_dec dc JOIN v_d0 dd ON dd.doc_id = dc.asset_id),
        | cs AS (SELECT modality, vol_unit, rep_id, COUNT(*) AS sz,
        |   SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS k,
        |   SUM(weight) AS wsz,
        |   SUM(CASE WHEN kept THEN 0 ELSE weight END) AS wrm
        |  FROM alldec GROUP BY 1, 2, 3)
        | SELECT modality, vol_unit,
        |  CAST(SUM(sz) AS BIGINT) AS n_items,
        |  CAST(SUM(k) AS BIGINT) AS n_kept,
        |  CAST(SUM(sz) - SUM(k) AS BIGINT) AS n_removed,
        |  ROUND(CAST(SUM(sz) - SUM(k) AS DOUBLE) / SUM(sz), 6)
        |   AS removal_rate,
        |  COUNT(*) AS n_clusters,
        |  CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dup_clusters,
        |  CAST(MAX(sz) AS BIGINT) AS max_cluster,
        |  CAST(SUM(wsz) AS BIGINT) AS vol_total,
        |  CAST(SUM(wrm) AS BIGINT) AS vol_removed,
        |  ROUND(CAST(SUM(wrm) AS DOUBLE) / SUM(wsz), 6)
        |   AS vol_removal_rate
        | FROM cs GROUP BY modality, vol_unit ORDER BY modality"""
        .stripMargin.replaceAll("\n", "")),
      sf1Chains = Some((_, _) => d22Sf1Chains)),

    // M6: REAL container frame sampling — each asset is an actual zip
    // archive of PNG key-frames; the sampler streams the zip
    // directory, decodes every 2nd entry with the real codec
    // (skipped entries are never decoded — the container directory,
    // not the frames, is the metadata cost), and emits exact integer
    // per-frame luminance sums. The oracle recomputes every sampled
    // frame's statistic arithmetically from the synthetic pixel
    // formula, so the hash pins the whole zip→entry→PNG→pixels chain.
    // The m4/m5/m6 ladder: decode dims → decoded pixels → selective
    // decode inside a container.
    // m6: every sampled frame's luminance sum recomputed from the
    // synthetic pixel function — integer-exact in both engines.
    QuerySpec("m6_video_frames", (s, dir) => {
      val assets = graft.multimodal.Multimodal.syntheticVideoAssets(
        Tables.load(s, dir, "documents"), "doc_id")
      graft.multimodal.Multimodal.sampleZipFrames(assets, everyNth = 2)
        .orderBy("asset_id", "frame_number")
    }, sql(
      """WITH d AS (SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 8 AS h,
        |   2 + doc_id % 7 AS nf FROM documents),
        | fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS j FROM d),
        | sampled AS (SELECT * FROM fr WHERE j % 2 = 0),
        | px AS (SELECT doc_id, j, w, h,
        |   ((doc_id * 2654435761 + j * 1013904223 + x * 97 + y * 31)
        |     & 16777215) AS v
        |  FROM sampled
        |  CROSS JOIN (SELECT unnest(range(0, 16)) x)
        |  CROSS JOIN (SELECT unnest(range(0, 8)) y)
        |  WHERE x < w AND y < h)
        | SELECT doc_id AS asset_id, CAST(j AS INT) AS frame_number,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(SUM((((v >> 16) & 255) * 299 + ((v >> 8) & 255) * 587
        |    + (v & 255) * 114) // 1000) AS BIGINT) AS luma_sum,
        |  CAST(w * h AS INT) AS n_px
        | FROM px GROUP BY doc_id, j, w, h
        | ORDER BY asset_id, frame_number""".stripMargin.replaceAll("\n", ""))),

    // M2: video frame sampling — the explode shape of a frame
    // extractor over binary assets (frame count/offsets are
    // SQL-derivable from the byte length, so fully oracle-checked).
    QuerySpec("m2_frame_sampling", (s, dir) => {
      val assets = graft.multimodal.Multimodal.syntheticAssets(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.sampleFrames(assets, everyNth = 10)
        .orderBy("asset_id", "frame_number")
    }, sql(
      """WITH v AS (SELECT doc_id AS asset_id,
        |   octet_length(encode(text)) AS n FROM documents
        |  WHERE doc_id % 3 = 2),
        | f AS (SELECT asset_id, CAST(i AS INT) AS frame_number,
        |   CAST(i * 10 AS INT) AS frame_offset
        |  FROM v, UNNEST(range(0, GREATEST(CAST(FLOOR(n / 10) AS BIGINT) - 1, 0) + 1))
        |    AS u(i))
        | SELECT asset_id, frame_number, frame_offset FROM f
        | ORDER BY asset_id, frame_number""".stripMargin.replaceAll("\n", ""))),

    // R3: hybrid retrieval — BM25 over chunk text fused with the exact
    // cosine ranking by reciprocal rank. ORACLE-CHECKED (round 7):
    // the lexical leg is reproduced standalone in SQL (chunk
    // reconstruction per c2's oracle + b1's BM25 formula over chunk
    // text); the vector leg re-ranks the inlined candidate pool (the
    // r1 pattern) and the RRF fuse is b2's SQL — only the embedding
    // function stays engine-native. Both legs read the same
    // chunk+embed projection, shared through the session cache — one
    // embed pass, not one per leg (the d3 branch-recompute lesson; on
    // a persisted store the legs share the parquet scan instead and
    // no cache is needed).
    QuerySpec("r3_hybrid_retrieval", (s, dir) => {
      // balanced (round 18): chunk+embed run inside the scan
      // projection, and the documents table is one local file — the
      // shared cache's materialization otherwise embeds on 1-3 cores
      // (no-op on a multi-split corpus at scale; placement only)
      val chunks = graft.Caches.shared(Rag.buildChunks(
        Tables.balanced(Tables.load(s, dir, "documents")
          .select("doc_id", "text")),
        modelId = 1L, maxTokens = MaxTokens, dim = Dim))
      Rag.searchChunksHybrid(chunks, Query, topK = 10, dim = Dim)
    }, r3OracleSql, headline = true),

    // M3: audio windowing — fixed-size non-overlapping segments over
    // audio assets with the last partial window's true length carried
    // (deterministic padding downstream). Same explode shape as m2;
    // all columns SQL-derivable from the byte length, so fully
    // oracle-checked.
    QuerySpec("m3_audio_windows", (s, dir) => {
      val assets = graft.multimodal.Multimodal.syntheticAssets(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      graft.multimodal.Multimodal.audioWindows(assets, windowBytes = 25)
        .orderBy("asset_id", "window_number")
    }, sql(
      """WITH v AS (SELECT doc_id AS asset_id,
        |   octet_length(encode(text)) AS n FROM documents
        |  WHERE doc_id % 3 = 1),
        | w AS (SELECT asset_id, CAST(i AS INT) AS window_number,
        |   CAST(i * 25 AS INT) AS start_byte,
        |   CAST(LEAST(25, n - i * 25) AS INT) AS window_len
        |  FROM v, UNNEST(range(0,
        |    GREATEST(CAST(CEIL(CAST(n AS DOUBLE) / 25) AS BIGINT) - 1, 0) + 1))
        |    AS u(i))
        | SELECT asset_id, window_number, start_byte, window_len FROM w
        | WHERE window_len > 0
        | ORDER BY asset_id, window_number""".stripMargin.replaceAll("\n", ""))),

    // M7: REAL audio decode — each document id becomes an actual WAV
    // file (JDK-encoded 16-bit PCM whose sample values are pure integer
    // functions of the id), then decodeWavWindows parses the RIFF
    // header back with javax.sound.sampled and emits exact integer
    // per-window sample sums/extrema. The oracle recomputes every
    // window statistic arithmetically from the id formula, so the hash
    // pins the whole encode→WAV→header-parse→samples→window chain —
    // completing the decode ladder (m4 dims, m5 pixels, m6 container,
    // m7 audio). m3 stays the byte-offset planning shape over opaque
    // content.
    // m7: every windowed sample statistic recomputed from the id-pure
    // sample formula — integer-exact in both engines (values in
    // [-10000, 10000], sums bounded by 32·10⁴ ≪ 2⁶³; the mod operands
    // are non-negative so % agrees across engines).
    QuerySpec("m7_audio_decode", (s, dir) => {
      // the WAV assets are fixture build work, materialized once per
      // corpus ([[assetSidecar]]; measured: encode ~0.5 s of the 2.1 s
      // bench entry at sf0.1), so steady-state runs measure the DECODER.
      // The decoded windows are cached before the output sort: with no
      // exchange between the decode and the orderBy, the range
      // partitioner's boundary-sampling pass re-ran the ENTIRE decode
      // (ProfileQ at sf0.1: two ~30s-CPU stages, one per pass); the
      // cache holds 5 narrow integers per window and the sort reads it
      val assets = assetSidecar(s, dir, "wav1") {
        graft.multimodal.Multimodal.syntheticWavAssets(
          Tables.load(s, dir, "documents"), "doc_id")
      }
      graft.Caches.shared(
          graft.multimodal.Multimodal.decodeWavWindows(
            assets, windowSamples = 32))
        .orderBy("asset_id", "window_number")
    }, sql(
      """WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
        | s AS (SELECT doc_id, CAST(k // 32 AS INT) AS window_number,
        |   ((doc_id * 2654435761 + k * 1013904223) % 20001 - 10000) AS v
        |  FROM d, UNNEST(range(0, n)) AS u(k))
        | SELECT doc_id AS asset_id, window_number,
        |  CAST(COUNT(*) AS INT) AS n_samples,
        |  CAST(SUM(v) AS BIGINT) AS sample_sum,
        |  CAST(MIN(v) AS INT) AS sample_min,
        |  CAST(MAX(v) AS INT) AS sample_max
        | FROM s GROUP BY doc_id, window_number
        | ORDER BY asset_id, window_number""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // G1–G4: the assembled contextualized prompt as a 1-row result
    // (deterministic end-to-end: chunking, embedding, retrieval and
    // template are all pure). ORACLE-CHECKED (round 7): DuckDB
    // re-retrieves the top-5 from the inlined pool, reconstructs each
    // excerpt's chunk text in SQL and reassembles the full template
    // string — the entire G1–G4 assembly is cross-engine-verified.
    QuerySpec("r2_rag_prompt", (s, dir) => {
      import s.implicits._
      val chunks = Rag.buildChunks(
        Tables.load(s, dir, "documents").select("doc_id", "text"),
        modelId = 1L, maxTokens = MaxTokens, dim = Dim)
      val hits = Rag.searchChunks(chunks, Rag.embedQuery(Query, Dim),
        topK = 5, threshold = 0.01)
      val prompt = Rag.contextualizedPrompt(Query, Rag.aggregateChunkText(hits))
      Seq(prompt).toDF("prompt")
    }, r2OracleSql),
  )

  /** The engine's top-`n` retrieval pool (threshold −1, so it covers
    * every leg's threshold) with embeddings, as a DuckDB VALUES body:
    * (id, source_id, chunk_number, e DOUBLE[]). Floats are widened
    * exactly (Double.toString round-trips), so DuckDB's cosine runs on
    * bit-identical inputs. */
  private def poolValues(s: SparkSession, dir: String, n: Int): Option[String] = {
    val chunks = Rag.buildChunks(
      Tables.load(s, dir, "documents").select("doc_id", "text"),
      modelId = 1L, maxTokens = MaxTokens, dim = Dim)
    val rows = Similarity.topK(chunks, "embedding", Rag.embedQuery(Query, Dim),
        n, threshold = -1.0, tieBreak = Seq("id"))
      .select("id", "source_id", "chunk_number", "embedding").collect()
    if (rows.isEmpty) None
    else Some(rows.map { r =>
      val e = r.getSeq[Float](3).map(_.toDouble).mkString("[", ",", "]")
      s"(${r.getLong(0)},${r.getLong(1)},${r.getInt(2)},CAST($e AS DOUBLE[]))"
    }.mkString(","))
  }

  private def queryVecLit: String =
    Rag.embedQuery(Query, Dim).mkString("CAST([", ",", "] AS DOUBLE[])")

  private def r1OracleSql(s: SparkSession, dir: String): Option[String] =
    poolValues(s, dir, 100).map { vals =>
      s"""WITH pool AS (SELECT CAST(t.id AS BIGINT) AS id,
         |   CAST(t.sid AS BIGINT) AS source_id,
         |   CAST(t.cn AS INT) AS chunk_number,
         |   ROUND(list_cosine_similarity(t.e, $queryVecLit), 6) AS similarity
         |  FROM (VALUES $vals) t(id, sid, cn, e))
         | SELECT id, source_id, chunk_number, similarity FROM pool
         | WHERE similarity >= 0.0
         | ORDER BY similarity DESC, id LIMIT 10""".stripMargin.replaceAll("\n", "")
    }

  /** Chunk reconstruction + lowercased text, the shared head of the
    * r2/r3 oracles: c2's slice formula at MaxTokens=32 over the FULL
    * documents table, with the engine's chunk id = source_id·2^20 +
    * chunk_number. */
  private val chunkCte: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
       | ch AS (SELECT doc_id * 1048576 + (i - 1) AS id,
       |  array_to_string(tk[(i-1)*$MaxTokens+1 : (i-1)*$MaxTokens+$MaxTokens],
       |    ' ') AS txt
       |  FROM toks, UNNEST(range(1,
       |    CAST(CEIL(len(tk)/$MaxTokens.0) AS BIGINT) + 1)) AS u(i))"""
      .stripMargin.replaceAll("\n", "")

  private def r3OracleSql(s: SparkSession, dir: String): Option[String] =
    poolValues(s, dir, 100).map { vals =>
      // same segmentation + dedup as Rag.searchChunksHybrid → Bm25.score
      val terms = TextAnalysis.segTokensLocal(Query.toLowerCase)
        .filter(_.nonEmpty).distinct.map(t => s"'$t'").mkString(", ")
      s"""WITH $chunkCte,
         | dl AS (SELECT id, len(${TextAnalysis.segTokSqlOf("lower(txt)")}) AS dl FROM ch),
         | st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
         | tf AS (SELECT id, tok, COUNT(*) AS tf
         |  FROM (SELECT id, unnest(${TextAnalysis.segTokSqlOf("lower(txt)")}) AS tok FROM ch)
         |  WHERE tok IN ($terms) GROUP BY 1, 2),
         | df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
         | sc AS (SELECT tf.id, ROUND(SUM(
         |   ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
         |   * tf.tf * 2.2
         |   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4) AS score
         |  FROM tf JOIN df USING (tok) JOIN dl USING (id) CROSS JOIN st
         |  GROUP BY tf.id),
         | lex AS (SELECT id,
         |   row_number() OVER (ORDER BY score DESC, id) AS rank_a
         |  FROM (SELECT * FROM sc ORDER BY score DESC, id LIMIT 50)),
         | pool AS (SELECT CAST(t.id AS BIGINT) AS id,
         |   ROUND(list_cosine_similarity(t.e, $queryVecLit), 6) AS sim
         |  FROM (VALUES $vals) t(id, sid, cn, e)),
         | vec AS (SELECT id,
         |   row_number() OVER (ORDER BY sim DESC, id) AS rank_b
         |  FROM (SELECT * FROM pool ORDER BY sim DESC, id LIMIT 50))
         | SELECT id,
         |  ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + rank_a), 0)
         |      + COALESCE(CAST(1 AS DOUBLE) / (60 + rank_b), 0), 6) AS rrf,
         |  CAST(rank_a AS INTEGER) AS rank_a, CAST(rank_b AS INTEGER) AS rank_b
         | FROM lex FULL OUTER JOIN vec USING (id)
         | ORDER BY rrf DESC, id LIMIT 10""".stripMargin.replaceAll("\n", "")
    }

  private def r2OracleSql(s: SparkSession, dir: String): Option[String] =
    poolValues(s, dir, 100).map { vals =>
      val q = Query
      s"""WITH $chunkCte,
         | pool AS (SELECT CAST(t.id AS BIGINT) AS id,
         |   ROUND(list_cosine_similarity(t.e, $queryVecLit), 6) AS sim
         |  FROM (VALUES $vals) t(id, sid, cn, e)),
         | top5 AS (SELECT id, sim FROM pool WHERE sim >= 0.01
         |  ORDER BY sim DESC, id LIMIT 5),
         | ctx AS (SELECT string_agg(
         |   'Excerpt from "unknown", by unknown, published in unknown: >>> '
         |     || ch.txt || ' <<<', chr(10) || chr(10)
         |   ORDER BY t.sim DESC, t.id) AS c
         |  FROM top5 t JOIN ch ON ch.id = t.id)
         | SELECT 'Use the following excerpts to answer the question.'
         |   || chr(10) || chr(10) || c || chr(10) || chr(10)
         |   || 'Question: $q' AS prompt FROM ctx""".stripMargin.replaceAll("\n", "")
    }

  /** d22's sf1 chain plan ([[graft.QuerySpec.sf1Chains]]): the
    * four-chain one-WITH replay exceeds DuckDB temp disk at sf1, so the
    * text, image, audio and video decisions are staged one chain each
    * and the rollup runs over the materialized `dec` tables. */
  private def d22Sf1Chains: Seq[(String, String)] =
    Seq(
      "text" -> (s"WITH RECURSIVE ${graft.operators.TextQueries
          .textDedupCtes} SELECT 'text' AS modality," +
        " 'tokens' AS vol_unit, asset_id, rep_id, kept," +
        " CAST(ntok AS BIGINT) AS weight FROM dec").replaceAll("\n", ""),
      "image" -> (s"WITH RECURSIVE $m9DedupCtes SELECT 'image' AS" +
        " modality, 'px' AS vol_unit, dc.asset_id, dc.rep_id, dc.kept," +
        " CAST(dd.w * dd.h AS BIGINT) AS weight" +
        " FROM dec dc JOIN d dd ON dd.doc_id = dc.asset_id")
        .replaceAll("\n", ""),
      "audio" -> (s"WITH RECURSIVE $m10DedupCtes SELECT 'audio' AS" +
        " modality, 'ms' AS vol_unit, dc.asset_id, dc.rep_id, dc.kept," +
        " CAST(hh.score AS BIGINT) AS weight" +
        " FROM dec dc JOIN hh ON hh.doc_id = dc.asset_id")
        .replaceAll("\n", ""),
      "video" -> (s"WITH RECURSIVE $m11DedupCtes SELECT 'video' AS" +
        " modality, 'ms' AS vol_unit, dc.asset_id, dc.rep_id, dc.kept," +
        " CAST(40 * (2 + dd.fid % 7) AS BIGINT) AS weight" +
        " FROM dec dc JOIN d0 dd ON dd.doc_id = dc.asset_id")
        .replaceAll("\n", ""),
      "rollup" -> """WITH alldec AS (
        |  SELECT * FROM __CHAIN_text__
        |  UNION ALL SELECT * FROM __CHAIN_image__
        |  UNION ALL SELECT * FROM __CHAIN_audio__
        |  UNION ALL SELECT * FROM __CHAIN_video__),
        | cs AS (SELECT modality, vol_unit, rep_id, COUNT(*) AS sz,
        |   SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS k,
        |   SUM(weight) AS wsz,
        |   SUM(CASE WHEN kept THEN 0 ELSE weight END) AS wrm
        |  FROM alldec GROUP BY 1, 2, 3)
        | SELECT modality, vol_unit,
        |  CAST(SUM(sz) AS BIGINT) AS n_items,
        |  CAST(SUM(k) AS BIGINT) AS n_kept,
        |  CAST(SUM(sz) - SUM(k) AS BIGINT) AS n_removed,
        |  ROUND(CAST(SUM(sz) - SUM(k) AS DOUBLE) / SUM(sz), 6)
        |   AS removal_rate,
        |  COUNT(*) AS n_clusters,
        |  CAST(SUM(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_dup_clusters,
        |  CAST(MAX(sz) AS BIGINT) AS max_cluster,
        |  CAST(SUM(wsz) AS BIGINT) AS vol_total,
        |  CAST(SUM(wrm) AS BIGINT) AS vol_removed,
        |  ROUND(CAST(SUM(wrm) AS DOUBLE) / SUM(wsz), 6)
        |   AS vol_removal_rate
        | FROM cs GROUP BY modality, vol_unit ORDER BY modality"""
        .stripMargin.replaceAll("\n", ""))

  /** m15's sf1 chain plan: the m9 image decision staged alone, then
    * the caption consolidation over it. */
  private def m15Sf1Chains: Seq[(String, String)] =
    Seq(
      "image" -> (s"WITH RECURSIVE $m9DedupCtes" +
        " SELECT asset_id, rep_id, kept FROM dec").replaceAll("\n", ""),
      "rollup" -> s"""WITH ${m14ExtractCtes()},
        | refs AS (SELECT caption,
        |   CAST(regexp_extract(image_url, '$M15RefPat', 1) AS BIGINT)
        |    AS asset_id FROM allp
        |  WHERE regexp_matches(image_url, '$M15RefPat'))
        | SELECT dd.rep_id, refs.caption,
        |  CAST(COUNT(*) AS BIGINT) AS n_refs
        | FROM refs JOIN __CHAIN_image__ dd ON dd.asset_id = refs.asset_id
        | GROUP BY 1, 2 ORDER BY rep_id, caption"""
        .stripMargin.replaceAll("\n", ""))
}
