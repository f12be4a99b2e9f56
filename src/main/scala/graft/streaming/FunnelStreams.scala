package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Dedup, TextAnalysis, TextQueries}

/** t52-from-state (round 17): the filter-funnel report's INGEST-TIME
  * face. The batch t52 re-reads the corpus for every stage; a
  * production pipeline already pays each gate's work at ingest, so
  * the report should fold from COMMITTED STATE with zero corpus
  * re-reads (the boilerplateRemovalFromState precedent, applied to
  * the whole funnel). Four states compose:
  *
  *  - GATE FLAGS — one row per doc (g_keep, b_keep, n_chars, lang,
  *    pii_free, bin): EVERY per-doc map-stage fact, computed in ONE
  *    fused projection per batch ([[TextQueries.perDocGateFacts]] —
  *    the t43-subset labels, t50's blocklist verdict, t54's PII
  *    verdict and p9's FK decibin; zero joins), keyed on doc_id with
  *    an idempotent min-merge (flags are deterministic per doc, so
  *    replays fold to themselves); one state serves both the funnel
  *    and the t55 data card;
  *  - the d18 POSTING LIST ([[DedupStreams.streamingWinnowFps]],
  *    reused as-is) — the dedup stage's pair decisions;
  *  - CONTAMINATION FLAGS — each train batch screened at ingest
  *    against the committed benchmark-gram state
  *    ([[DedupStreams.streamingBenchGrams]]) and the verdict folded
  *    per doc. Screen-at-ingest contract: a benchmark slice added
  *    AFTER a document was ingested does not retroactively re-flag
  *    it (re-screen history explicitly when the bench grows —
  *    the same trade every ingest-time screen makes);
  *  - the t48 QUALITY COUNT state
  *    ([[ModelStreams.streamingQualityCounts]], reused as-is) plus a
  *    per-(doc, token) COUNT state — the d18 posting-list shape for
  *    the classifier, so scoring is state ⋈ state.
  *
  * [[funnelFromState]] then joins the per-doc decisions and runs the
  * SAME [[TextQueries.funnelFold]] the oracle-checked batch query
  * runs — stream ≡ batch is spec-pinned against t52 itself
  * (Round17OpsSpec). Scale shape: every fold is O(batch) map work +
  * one keyed merge; the report is state-table joins + ONE global
  * 12-long fold, never a corpus scan. */
object FunnelStreams {

  /** Deterministic-payload keyed merge: flags and counts that are a
    * pure function of the key fold by MIN — replayed rows merge to
    * themselves, and the merge stays associative for the versioned
    * protocol. */
  private[graft] def mergeMin(
      state: DataFrame, delta: DataFrame, keyCols: Seq[String]): DataFrame = {
    val valCols = state.columns.filterNot(keyCols.contains).toSeq
    state.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(min(valCols.head).as(valCols.head),
        valCols.tail.map(c => min(c).as(c)): _*)
  }

  /** One batch's gate-flag delta: (doc_id, g_keep, b_keep, n_chars,
    * lang, pii_free, bin) — every per-doc MAP-STAGE fact the funnel
    * and the data card consume: the two map gates, the dedup rank
    * key, the card's language key, the t54 PII verdict and the p9 FK
    * decibin. All pure per-doc functions, so one state serves both
    * reports. The batch must carry doc_id, text, n_chars, lang. */
  def gateFlagBatch(batch: DataFrame): DataFrame =
    TextQueries.perDocGateFacts(batch.select(col("doc_id"), col("text"),
        col("n_chars"), col("lang")))
      .select(col("doc_id"), col("g_keep"), col("b_keep"),
        col("n_chars").cast("long").as("n_chars"), col("lang"),
        col("pii_free"), col("bin"))

  /** One batch's per-(doc, token) count delta — the classifier's
    * posting-list state (additive merge: an append corpus
    * contributes each doc once; replays ride the version protocol). */
  def docTokBatch(batch: DataFrame): DataFrame =
    batch.select(col("doc_id"),
        explode(TextAnalysis.segTokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("m"))

  /** One TRAIN batch's contamination-flag delta, screened against
    * the benchmark-gram state COMMITTED at ingest time (None until a
    * bench batch commits — the bench folds first in a real pipeline). */
  def contamFlagBatch(benchGramState: String)(batch: DataFrame): DataFrame = {
    val grams = Cdc.readRollup(batch.sparkSession, benchGramState)
      .getOrElse(sys.error(
        s"no committed benchmark-gram state at $benchGramState — fold " +
          "the benchmark stream before screening train batches"))
    Dedup.contaminationAgainst(batch, grams.select("g"),
        "doc_id", "text", k = 13)
      .select(col("doc_id"), col("contaminated").cast("long")
        .as("contaminated"))
  }

  /** The t52 funnel report from the four committed states — ZERO
    * corpus re-reads: gate flags (map stages), the winnowing posting
    * list (dedup pairs → the shared keep collapse), the
    * contamination flags (LEFT join, coalesce TRUE — the benchmark
    * slice is never screened, exactly the batch convention), and the
    * quality count + per-(doc, token) states (the shared scoring
    * tail). None until every state has a committed version. */
  def funnelFromState(
      spark: SparkSession,
      gateState: String,
      fpState: String,
      contamState: String,
      qualityState: String,
      tokState: String): Option[DataFrame] =
    for {
      gates <- Cdc.readRollup(spark, gateState)
      fps <- Cdc.readRollup(spark, fpState)
      cons <- Cdc.readRollup(spark, contamState)
      qual <- Cdc.readRollup(spark, qualityState)
      toks <- Cdc.readRollup(spark, tokState)
    } yield {
      val pairs = Dedup.sharedPassagePairsFrom(fps.select("id", "fp"))
        .select(col("a_id"), col("b_id"))
      val ddec = TextQueries.dupDecisionFromPairs(
        gates.select(col("doc_id"), col("n_chars")), pairs)
      val scored = TextQueries.qualityLogOddsFromTokCounts(
        toks.select("doc_id", "tok", "m"),
        qual.filter(col("kind") === "tok").select("keep", "tok", "c"),
        qual.filter(col("kind") === "doc")
          .select(col("keep"), col("c").as("nd")))
      val flags = gates.select(col("doc_id"), col("g_keep"), col("b_keep"))
        .join(ddec.select(col("asset_id").as("doc_id"),
          col("kept").as("d_keep")), "doc_id")
        .join(cons.select(col("doc_id"),
          (col("contaminated") === 0L).as("c_keep")), Seq("doc_id"), "left")
        .join(scored.select(col("doc_id"), col("n_tokens"),
          col("pred_keep")), Seq("doc_id"), "left")
        .select(col("g_keep"), col("b_keep"), col("d_keep"),
          coalesce(col("c_keep"), lit(true)).as("c_keep"),
          coalesce(col("pred_keep"), lit(false)).as("p_keep"),
          coalesce(col("n_tokens"), lit(0L)).as("nt"))
      TextQueries.funnelFold(flags)
    }

  /** The t55 per-domain data card from the SAME five committed states
    * — zero corpus re-reads. The gate-flag state already carries the
    * card's extra per-doc map facts (lang, pii_free, FK bin), so the
    * card is the funnel's state joins with three more projected
    * columns, folded by the SAME [[TextQueries.dataCardFold]] the
    * oracle-checked batch t55 runs — stream ≡ batch is pinned in
    * Round17OpsSpec against t55 itself. None until every state has a
    * committed version. */
  def dataCardFromState(
      spark: SparkSession,
      gateState: String,
      fpState: String,
      contamState: String,
      qualityState: String,
      tokState: String): Option[DataFrame] =
    for {
      gates <- Cdc.readRollup(spark, gateState)
      fps <- Cdc.readRollup(spark, fpState)
      cons <- Cdc.readRollup(spark, contamState)
      qual <- Cdc.readRollup(spark, qualityState)
      toks <- Cdc.readRollup(spark, tokState)
    } yield {
      val pairs = Dedup.sharedPassagePairsFrom(fps.select("id", "fp"))
        .select(col("a_id"), col("b_id"))
      val ddec = TextQueries.dupDecisionFromPairs(
        gates.select(col("doc_id"), col("n_chars")), pairs)
      val scored = TextQueries.qualityLogOddsFromTokCounts(
        toks.select("doc_id", "tok", "m"),
        qual.filter(col("kind") === "tok").select("keep", "tok", "c"),
        qual.filter(col("kind") === "doc")
          .select(col("keep"), col("c").as("nd")))
      val flags = gates.select(col("doc_id"), col("lang"), col("g_keep"),
          col("b_keep"), col("pii_free"), col("bin"))
        .join(ddec.select(col("asset_id").as("doc_id"),
          col("kept").as("d_keep")), "doc_id")
        .join(cons.select(col("doc_id"),
          (col("contaminated") === 0L).as("c_keep")), Seq("doc_id"), "left")
        .join(scored.select(col("doc_id"), col("n_tokens"),
          col("pred_keep")), Seq("doc_id"), "left")
        .select(col("lang"), col("g_keep"), col("b_keep"), col("d_keep"),
          coalesce(col("c_keep"), lit(true)).as("c_keep"),
          coalesce(col("pred_keep"), lit(false)).as("p_keep"),
          coalesce(col("n_tokens"), lit(0L)).as("nt"),
          col("pii_free"), col("bin"))
      TextQueries.dataCardFold(flags)
    }
}
