package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.QuerySpec.sql
import graft.ingest.Chunker

/** Driver-checked text-analysis, chunking and dedup queries over the
  * documents table. Oracle SQL is DuckDB dialect (list functions) —
  * semantics match the Spark built-in array HOFs exactly; all floating
  * outputs are exact-integer divisions or rounded, so hashes are
  * engine-stable. Non-SQL-expressible ops (MinHash, SimHash, LSH,
  * lang-ID) are declared without oracles (rows-only driver check) and
  * verified by ScalaTest property/golden specs instead. */
object TextQueries {
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** The documents scan rebalanced to the session's parallelism when
    * the file layout under-parallelizes it (Tables.balanced — a
    * no-op whenever the scan already has >= parallelism splits; a
    * corpus-scale scan qualifies, a table with fewer splits than
    * cluster cores would pay the full round-robin exchange). Round-17
    * optimization: the heavy per-row map work of the text family
    * (tokenization, gram folds, regex gates) otherwise runs on ONE
    * core under the local one-file layout, because the scan stage —
    * not the post-shuffle stages — is where those expressions
    * evaluate. Row placement never affects these callers' semantics
    * (they aggregate by contained keys and order their output). */
  private def docsBalanced(s: SparkSession, dir: String) =
    Tables.balanced(docs(s, dir))

  /** Word unit for t50/t51/p9: ASCII letter runs, lowercased AFTER
    * extraction. A blocklist match and the Flesch–Kincaid
    * word/syllable counts are defined over plain English words, so
    * these rungs deliberately use the letter-run extraction, not the
    * script-aware seg tokenizer (the t1/t3 whitespace-canary
    * precedent). Lowercasing only the extracted ASCII runs (never the
    * raw text) keeps the two engines byte-identical on ANY corpus —
    * full-text lower() would expose Java-vs-utf8proc case-mapping
    * differences (e.g. U+0130) that the Unicode fixture sweep runs
    * all queries against. ONE constant, interpolated into both
    * engines' regexes (plain character class — identical under Java
    * regex and RE2). */
  private val WordRunPat = "[A-Za-z]+"

  /** t54's PII patterns — ONE set of shared constants interpolated
    * into the oracle SQL (the m14 discipline): plain character
    * classes and bounded quantifiers only, no anchors/backrefs/escape
    * sequences (`[.]` instead of `\.` — a backslash survives Scala,
    * Spark-SQL-literal and DuckDB-literal escaping differently; a
    * character class is the same five bytes everywhere), so Java
    * regex and RE2 match identically. */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  private val Ipv4Pat =
    "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
  private val PhonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** t54's plant surgery — ONE definition replayed verbatim by the
    * oracle: the corpus is synthetic clean prose, so PII is PLANTED
    * per doc_id class (t8/t50 precedent) with case and punctuation
    * variety so the patterns, not substring luck, do the work. */
  private def piiPlantedText(
      id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(text,
      when(pmod(id, lit(6)) === 1,
        concat(lit(" Reach me at user"), id.cast("string"),
          lit("@Example.org for details.")))
        .otherwise(lit("")),
      when(pmod(id, lit(10)) === 3,
        concat(lit(" Server at 10.0."), pmod(id, lit(256)).cast("string"),
          lit(".7 responded.")))
        .otherwise(lit("")),
      when(pmod(id, lit(8)) === 5,
        concat(lit(" Call 555-867-"),
          lpad(pmod(id, lit(10000)).cast("string"), 4, "0"),
          lit(" today.")))
        .otherwise(lit("")))

  /** t50's plant + blocklist counts as a (doc_id, n_tok, n_bad) table
    * — ONE definition for t50's verdicts and the t52 funnel's
    * blocklist stage; the oracle twin is [[t50CountCtes]]. */
  /** [[blocklistCounts]] in COLUMN-PRESERVING form: adds n_tok/n_bad
    * to the input frame via underscore temps (the planted text and its
    * word list never clobber caller columns) — the
    * [[perDocGateFacts]] chain link. */
  private def blocklistFacts(d: DataFrame): DataFrame =
    d.withColumn("_blt",
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 2, lit(" badword gorefest"))
            .when(pmod(col("doc_id"), lit(7)) === 5, lit(" badword"))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 8, lit(" Slurword."))
            .otherwise(lit(""))))
      .withColumn("_blw",
        expr(s"transform(regexp_extract_all(_blt, '$WordRunPat', 0), " +
          "w -> lower(w))"))
      .withColumn("n_tok", size(col("_blw")).cast("long"))
      .withColumn("n_bad",
        expr("CAST(size(filter(_blw, " +
          "w -> array_contains(array('badword', 'gorefest', 'slurword')," +
          " w))) AS BIGINT)"))
      .drop("_blt", "_blw")

  private def blocklistCounts(d: DataFrame): DataFrame =
    blocklistFacts(d).select(col("doc_id"), col("n_tok"), col("n_bad"))

  /** Oracle twin of [[blocklistCounts]] — a CTE block ending in
    * `blc(doc_id, n_tok, n_bad)`, shared by the t50 and t52 oracles. */
  private lazy val t50CountCtes: String = t50CountCtesFrom("documents")

  /** [[t50CountCtes]] parameterized by its source relation (the t56
    * drift monitor counts over its degraded-text CTE) — ONE spelling
    * of the plant, the word extract and the blocklist filter. */
  private def t50CountCtesFrom(src: String): String =
    s"""t50p AS (SELECT doc_id, text ||
      |   CASE WHEN doc_id % 7 = 2 THEN ' badword gorefest'
      |        WHEN doc_id % 7 = 5 THEN ' badword' ELSE '' END ||
      |   CASE WHEN doc_id % 13 = 8 THEN ' Slurword.' ELSE '' END AS text
      |  FROM $src),
      | t50w AS (SELECT doc_id,
      |   list_transform(regexp_extract_all(text, '$WordRunPat', 0),
      |    w -> lower(w)) AS words
      |  FROM t50p),
      | blc AS (SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tok,
      |   CAST(len(list_filter(words, w -> list_contains(
      |     ['badword', 'gorefest', 'slurword'], w))) AS BIGINT) AS n_bad
      |  FROM t50w)""".stripMargin

  /** Flesch–Kincaid grade columns (t51 + p9's difficulty bins — ONE
    * definition): words/sentences/syllables per the t51 scaladoc, fk =
    * 0.39·(words/sent) + 11.8·(syll/words) − 15.59 with the divisions
    * cast to double in the same shape as the oracle ([[fkCtesSql]]) so
    * the IEEE results are bit-identical. The vowel-group count runs
    * case-insensitively over the RAW text (a group cannot cross a
    * non-letter, so the whole-text count equals the per-word sum —
    * one regex pass per document, not per word). */
  private[graft] def withReadability(df: DataFrame): DataFrame =
    df.withColumn("words",
        expr(s"transform(regexp_extract_all(text, '$WordRunPat', 0), " +
          "w -> lower(w))"))
      .withColumn("n_words",
        greatest(lit(1L), size(col("words")).cast("long")))
      .withColumn("n_sent",
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long")))
      .withColumn("n_syll",
        size(expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)"))
          .cast("long") +
          expr("CAST(size(filter(words, " +
            "w -> NOT w RLIKE '[aeiouy]')) AS BIGINT)"))
      .withColumn("fk",
        lit(0.39) * (col("n_words").cast("double") / col("n_sent")) +
          lit(11.8) * (col("n_syll").cast("double") / col("n_words")) -
          lit(15.59))

  /** Oracle twin of [[withReadability]] — a CTE block ending in
    * `fkx(doc_id, n_words, n_sent, n_syll, fk)`, shared verbatim by
    * the t51 and p9 oracles. Decimal literals are cast to DOUBLE
    * (DuckDB parses bare 0.39 as DECIMAL — different arithmetic). */
  private lazy val fkCtesSql: String =
    s"""fkw AS (SELECT doc_id,
      |   GREATEST(1, CAST(len(regexp_extract_all(text,
      |     '$WordRunPat', 0)) AS BIGINT)) AS n_words,
      |   GREATEST(1, CAST(len(regexp_extract_all(text,
      |     '[.!?]+', 0)) AS BIGINT)) AS n_sent,
      |   CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+', 0))
      |     AS BIGINT) +
      |    CAST(len(list_filter(list_transform(regexp_extract_all(text,
      |     '$WordRunPat', 0), w -> lower(w)),
      |     w -> NOT regexp_matches(w, '[aeiouy]'))) AS BIGINT) AS n_syll
      |  FROM documents),
      | fkx AS (SELECT doc_id, n_words, n_sent, n_syll,
      |   0.39::DOUBLE * (n_words::DOUBLE / n_sent) +
      |    11.8::DOUBLE * (n_syll::DOUBLE / n_words)
      |    - 15.59::DOUBLE AS fk
      |  FROM fkw)""".stripMargin

  private[graft] val BpeMergeCount = 6

  /** One-batch word-frequency aggregate over a documents frame — the
    * unit both the batch vocab build and the streaming word-count
    * state fold ([[graft.streaming.ModelStreams]]) run; counts are an
    * additive monoid, so per-batch partials merge exactly. */
  private[graft] def bpeWordCountsOf(d: DataFrame): DataFrame =
    d.select(explode(TextAnalysis.segTokens(lower(col("text")))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))

  /** The corpus word-frequency table BPE training and inference run
    * over — the original-BPE trick that bounds all per-word work to
    * one evaluation per DISTINCT word. */
  private def bpeWordCounts(s: SparkSession, dir: String): DataFrame =
    graft.Caches.shared(bpeWordCountsOf(Tables.balanced(docs(s, dir))))

  /** NB training state, token half: (cls, tok, c) counts over a
    * training slice. Additive — per-batch partials merge exactly, so
    * the same aggregate is the unit of the streaming model fold
    * ([[graft.streaming.ModelStreams]]). */
  private[graft] def nbTokCounts(train: DataFrame): DataFrame =
    train.select(col("lang").as("cls"),
        explode(TextAnalysis.segTokens(col("text"))).as("tok"))
      .groupBy("cls", "tok").agg(count(lit(1)).as("c"))

  /** [[nbTokCounts]] over an ALREADY-TOKENIZED (doc_id, lang, tk)
    * frame — the shared-projection form for t36's tk cache (round 18):
    * identical counts, the corpus is tokenized once. */
  private[graft] def nbTokCountsFromTk(train: DataFrame): DataFrame =
    train.select(col("lang").as("cls"), explode(col("tk")).as("tok"))
      .groupBy("cls", "tok").agg(count(lit(1)).as("c"))

  /** NB training state, document half: (cls, nd) document counts —
    * the prior's numerator. Additive like [[nbTokCounts]]. */
  private[graft] def nbDocCounts(train: DataFrame): DataFrame =
    train.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("nd"))

  /** `x` in integer micro-units: round(x·1e6) as a long — the exact
    * integer form the model scores are kept in, so both engines sum
    * identical integers. */
  private def q6(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(x * 1e6).cast("long")

  /** The t36 scoring pipeline from its two TRAINING-STATE tables
    * (token counts + doc counts): derive the quantized model, pivot it
    * wide, score every doc of `d` — a (doc_id, lang, tk)
    * ALREADY-TOKENIZED frame (round 18: tokenize once, in the caller's
    * shared projection) — and emit the confusion matrix. Batch
    * t36 passes counts computed directly from the training slice; the
    * streaming face passes counts folded incrementally across append
    * batches — identical state in, identical matrix out (spec-pinned
    * stream == batch). All totals (class totals, vocab size, n_train)
    * derive from the state tables, so the state IS the whole model. */
  private[graft] def nbConfusion(
      d: DataFrame, counts0: DataFrame, priors0: DataFrame): DataFrame = {
    val counts = graft.Caches.shared(counts0)
    val totals = counts.groupBy("cls").agg(sum("c").as("tot"))
    val vocab = counts.agg(countDistinct("tok").as("v"))
    val priors = priors0
    val nTrain = priors.agg(sum("nd").as("n"))
    val classes = totals.join(priors, "cls")
      .crossJoin(vocab).crossJoin(nTrain)
      .select(col("cls"),
        q6(log(col("nd").cast("double") / col("n"))).as("prior6"),
        q6(log(lit(1.0) / (col("tot") + col("v")))).as("miss6"),
        (col("tot") + col("v")).as("den"))
    // class constants land on the driver (C rows — the k-means-
    // centroid precedent) so the model can PIVOT to one row per
    // token with C weight columns: the corpus token stream then
    // probes the broadcast wide model once per token instead of
    // once per (token, class), and the per-doc partial aggregate
    // carries C sum columns in ONE row — corpus-side work never
    // multiplies by the class count (measured 2.3 → ~1.2 s at
    // sf0.1 with C = 5). `den` comes along in the same collect and
    // joins the cached counts as a local relation, so the
    // totals/vocab/nTrain aggregates run once per query.
    val clsConst = classes.select("cls", "prior6", "miss6", "den")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    require(clsConst.nonEmpty,
      "t36: the training slice is empty — no class model can be fit " +
        "on this corpus")
    val den = counts.sparkSession.createDataFrame(
      clsConst.toSeq.map { case (c, _, _, d) => (c, d) }).toDF("cls", "den")
    val wide = broadcast(counts
      .join(broadcast(den), "cls")
      .select(col("cls"), col("tok"),
        q6(log((col("c") + lit(1)).cast("double") / col("den")))
          .as("w6"))
      .groupBy("tok").pivot("cls", clsConst.map(_._1))
      .agg(first("w6")))
    val sums = d.select(col("doc_id"), col("lang"),
        explode(col("tk")).as("tok"))
      .join(wide, Seq("tok"), "left")
      .groupBy("doc_id", "lang")
      .agg(
        sum(coalesce(col(clsConst.head._1), lit(clsConst.head._3)))
          .as(s"_s_${clsConst.head._1}"),
        clsConst.tail.map { case (c, _, miss, _) =>
          sum(coalesce(col(c), lit(miss))).as(s"_s_$c")
        }.toSeq: _*)
    sums
      .select(col("lang"),
        array_min(array(clsConst.map { case (c, prior, _, _) =>
          struct((-(col(s"_s_$c") + lit(prior))).as("ns"),
            lit(c).as("cls"))
        }.toSeq: _*)).getField("cls").as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "predicted")
  }

  /** t44's seg-token bigram stream of a (doc_id, tk) table. */
  private def lmGrams(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        explode(TextAnalysis.piecePairs(col("tk"))).as("p"))
      .select(col("doc_id"), col("p.l").as("w1"), col("p.r").as("w2"))

  /** LM training state, unigram half: (w, c1) seg-token counts over a
    * (doc_id, tk) training slice. Additive — per-batch partials merge
    * exactly, so the same aggregate is the unit of the streaming
    * model fold ([[graft.streaming.ModelStreams]]). */
  private[graft] def lmUniCounts(train: DataFrame): DataFrame =
    train.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))

  /** LM training state, bigram half: (w1, w2, c2) counts. Additive
    * like [[lmUniCounts]]. */
  private[graft] def lmBigCounts(train: DataFrame): DataFrame =
    lmGrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))

  /** The t44 scoring pipeline from its two TRAINING-STATE tables:
    * derive the micro-nat-quantized model (a6 = round(ln(c1+V)·1e6)
    * per unigram, b6 = round(ln(c2+1)·1e6) per bigram — V and both
    * cells all come FROM the state, so the state IS the whole model),
    * score every doc of `d` (a (doc_id, tk) table), cut terciles.
    * Batch t44 passes counts computed directly from the %3 training
    * slice; the streaming face passes counts folded incrementally
    * across append batches — identical state in, identical scores
    * out (spec-pinned stream == batch). Scale shape: the unigram a6
    * table is vocab-bounded and BROADCASTS, the bigram model is NOT
    * assumed broadcastable (bigram vocab grows far past the driver at
    * web scale) — per-doc gram counts pre-aggregate map-side and join
    * the model on (w1, w2), one exchange per side; the tercile is
    * t18's bounded-histogram prefix sum (the rounded score domain
    * caps the window input), never an ntile over the corpus. */
  private[graft] def lmPerplexity(
      d: DataFrame, uniIn: DataFrame, bigIn: DataFrame): DataFrame = {
    val uni = graft.Caches.shared(uniIn)
    val voc = broadcast(uni.agg(count(lit(1)).as("v")))
    // Size-DERIVED unigram-model join strategy (round 13): the
    // seg-token unigram vocab is bounded on natural text (Han
    // segments to single chars, ~10^4 distinct; alphabetic words
    // Zipf-cap around 10^5-10^6 under any one LM's training slice),
    // so broadcasting it back onto the gram stream is the right
    // common case — but a pathological corpus (hash-like tokens,
    // base64 blobs) grows the vocab without bound, and the round-12
    // HINTED broadcast would then OOM the driver. The bound is
    // enforced by AQE, not a hint: with no broadcast hint, the
    // runtime measures the model-side exchange's ACTUAL size and
    // converts to a broadcast join only under
    // spark.sql.autoBroadcastJoinThreshold (a driver-side count-job
    // variant of this decision measured +0.6 s per invocation at
    // sf0.1 — the AQE form is free). Scores are identical either way
    // (join strategy, not semantics — spec-pinned under a forced-tiny
    // threshold, the d16 fallback discipline).
    val a = uni.crossJoin(voc)
      .select(col("w").as("w1"),
        q6(log((col("c1") + col("v")).cast("double"))).as("a6"))
    val b = bigIn.select(col("w1"), col("w2"),
      q6(log((col("c2") + lit(1)).cast("double"))).as("b6"))
    val scored = graft.Caches.shared(lmGrams(d)
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("c"))
      .join(b, Seq("w1", "w2"), "left")
      .join(a, Seq("w1"), "left")
      .crossJoin(voc)
      .withColumn("g6",
        coalesce(col("a6"), q6(log(col("v").cast("double")))) -
          coalesce(col("b6"), lit(0L)))
      .groupBy("doc_id")
      .agg(sum("c").as("n_big"), sum(col("c") * col("g6")).as("nll6"))
      // INTEGER micro-nat average, half-up integer division (g6 ≥ 0
      // always since a6 ≥ b6): t47 proved the float
      // `round(nll6/1e6/n_big, 6)` form hits genuine half-way rounding
      // ties where the engines disagree at the 6th decimal (round 12);
      // t44 migrated to the same exact-integer discipline before the
      // latent tie fires here too
      .withColumn("avg_nll6",
        expr("(2 * nll6 + n_big) div (2 * n_big)")))
    val hist = scored.groupBy("avg_nll6").agg(count(lit(1)).as("hc"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("avg_nll6")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val n = broadcast(scored.agg(count(lit(1)).as("n")))
    val buckets = broadcast(hist
      .withColumn("before", sum("hc").over(wCum) - col("hc"))
      .crossJoin(n)
      .select(col("avg_nll6"),
        (floor(col("before") * 3 / col("n")) + 1).cast("int")
          .as("bucket")))
    scored.join(buckets, Seq("avg_nll6"))
      .select("doc_id", "n_big", "nll6", "avg_nll6", "bucket")
      .orderBy("doc_id")
  }

  /** The t43 Gopher rule table (Rae et al. 2021 table A1) over a
    * (doc_id, text) frame — ONE shared definition, because t48's
    * quality classifier trains on exactly these labels and a drifted
    * reimplementation would silently re-label its training set. Rules
    * compare in EXACT INTEGER arithmetic; words are whitespace tokens
    * (the rules are defined over delimiter-separated words by the
    * paper). Pure map work in the scan projection; zero shuffles. */
  /** [[gopherRules]] in COLUMN-PRESERVING form: adds wc, the six r_*
    * rule columns and the full-rule `keep` to the input frame (temps
    * dropped), so the per-doc gate facts can chain over ONE scan
    * ([[perDocGateFacts]]) instead of joining per-gate frames. The
    * expressions are byte-identical to the t43 oracle's. */
  private def gopherFacts(d: DataFrame): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    d.withColumn("_gtk", TextAnalysis.tokens(col("text")))
      .withColumn("wc", size(col("_gtk")).cast("long"))
      .withColumn("_glen", length(col("text")))
      .withColumn("_ghash", regexp_count(col("text"), lit("#")))
      .withColumn("_gell", regexp_count(col("text"), lit("\\.\\.\\.")))
      .withColumn("_galpha",
        size(filter(col("_gtk"), w => w.rlike("\\p{L}"))))
      .withColumn("_gstop",
        size(array_intersect(array_distinct(col("_gtk")),
          typedLit(stops))))
      .withColumn("r_wordcount", col("wc").between(50, 100000))
      // mean word length in [3, 10]: (len − (wc−1)) is the total
      // word chars under single-space joining — integer bounds
      .withColumn("r_meanwordlen",
        (col("_glen") - (col("wc") - 1)) >= col("wc") * 3 &&
          (col("_glen") - (col("wc") - 1)) <= col("wc") * 10)
      .withColumn("r_hash", col("_ghash") * 10 <= col("wc"))
      .withColumn("r_ellipsis", col("_gell") * 10 <= col("wc"))
      .withColumn("r_alpha", col("_galpha") * 5 >= col("wc") * 4)
      .withColumn("r_stopwords", col("_gstop") >= 2)
      .withColumn("keep",
        col("r_wordcount") && col("r_meanwordlen") && col("r_hash") &&
          col("r_ellipsis") && col("r_alpha") && col("r_stopwords"))
      .drop("_gtk", "_glen", "_ghash", "_gell", "_galpha", "_gstop")
  }

  private[graft] def gopherRules(d: DataFrame): DataFrame =
    gopherFacts(d).select(col("doc_id"), col("wc"),
      col("r_wordcount"), col("r_meanwordlen"), col("r_hash"),
      col("r_ellipsis"), col("r_alpha"), col("r_stopwords"), col("keep"))

  /** t48's training labels: the LANGUAGE-AGNOSTIC subset of the
    * Gopher rules over a (doc_id, text) frame — the stop-word rule is
    * English-specific by construction (Gopher's own caveat): on
    * non-English (or this synthetic) text it is identically false,
    * which would collapse the keep class to empty and teach the
    * classifier nothing. → (doc_id, keep). */
  private[graft] def qualityLabels(d: DataFrame): DataFrame =
    gopherFacts(d).select(col("doc_id"), langAgnosticKeep.as("keep"))

  /** The language-agnostic Gopher keep over [[gopherFacts]]' rule
    * columns — ONE spelling shared by [[qualityLabels]] and
    * [[perDocGateFacts]]' g_keep. */
  private def langAgnosticKeep: org.apache.spark.sql.Column =
    col("r_wordcount") && col("r_meanwordlen") && col("r_hash") &&
      col("r_ellipsis") && col("r_alpha")

  /** Every per-doc MAP-STAGE gate fact in ONE projection over one
    * scan — ZERO joins: the Gopher rule columns (+ g_keep, the
    * language-agnostic label rule), blocklist counts (+ b_keep), the
    * t54 PII verdict and the FK readability columns (+ the p9 decibin)
    * chain as column-preserving transforms of the SAME definitions
    * their standalone queries hash-check. The t52/t55 composites and
    * the ingest-time gate-flag state fold from this frame — joining
    * the four per-gate frames on doc_id instead would pay four
    * full-corpus exchanges at scale for facts the scan can compute in
    * place. */
  private[graft] def perDocGateFacts(d: DataFrame): DataFrame =
    withReadability(piiFacts(blocklistFacts(gopherFacts(d))))
      .withColumn("bin", round(col("fk") * 10).cast("long"))
      .withColumn("g_keep", langAgnosticKeep)
      .withColumn("b_keep", col("n_bad") === 0)

  /** t48 training state, token half: (keep, tok, c) seg-token counts
    * over a LABELED (doc_id, tk, keep) slice. Additive — per-batch
    * partials merge exactly (the t36/t44 streaming-state unit). */
  private[graft] def qualityTokCounts(train: DataFrame): DataFrame =
    train.select(col("keep"), explode(col("tk")).as("tok"))
      .groupBy("keep", "tok").agg(count(lit(1)).as("c"))

  /** t48 training state, document half: (keep, nd) class doc counts.
    * Additive like [[qualityTokCounts]]. */
  private[graft] def qualityDocCounts(train: DataFrame): DataFrame =
    train.groupBy("keep").agg(count(lit(1)).as("nd"))

  /** The t48 scoring pipeline from its two TRAINING-STATE tables:
    * derive the micro-nat model (b6 = q6(ln(c+1)) per (class, token);
    * class normalizers q6(ln(n_c+V)); +1-smoothed priors — every
    * constant comes FROM the state, so the state IS the whole model),
    * then score every doc of `d` (a (doc_id, tk) table) with the
    * exact integer log-odds sum. Batch t48 passes counts computed
    * from the %3 labeled slice; the streaming face passes counts
    * folded incrementally — identical state in, identical scores out
    * (spec-pinned). Scale shape: the token model is JOINED on tok
    * (corpus vocab outgrows the driver — t44's bigram argument),
    * per-doc token counts pre-aggregate map-side, the five class
    * constants broadcast as one row. */
  private[graft] def qualityLogOdds(
      d: DataFrame, tokcIn: DataFrame, doccIn: DataFrame): DataFrame =
    qualityLogOddsFromTokCounts(
      d.select(col("doc_id"), explode(col("tk")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("m")),
      tokcIn, doccIn)

  /** [[qualityLogOdds]] over PRE-AGGREGATED per-(doc, token) counts —
    * the from-state scoring face: an ingest-time pipeline folds
    * (doc_id, tok, m) as versioned state (the d18 posting-list
    * precedent), and scoring then reads state only, zero corpus
    * re-reads ([[graft.streaming.FunnelStreams]]). ONE tail shared
    * with the batch form. */
  private[graft] def qualityLogOddsFromTokCounts(
      tokm: DataFrame, tokcIn: DataFrame, doccIn: DataFrame): DataFrame = {
    def q6ln(x: org.apache.spark.sql.Column) = q6(log(x.cast("double")))
    val tokc = graft.Caches.shared(tokcIn)
    val consts = broadcast(tokc.agg(
        sum(when(col("keep"), col("c")).otherwise(0L)).as("nk"),
        sum(when(!col("keep"), col("c")).otherwise(0L)).as("ndt"),
        countDistinct(col("tok")).as("v"))
      .crossJoin(doccIn.agg(
        sum(when(col("keep"), col("nd")).otherwise(0L)).as("dk"),
        sum(when(!col("keep"), col("nd")).otherwise(0L)).as("dd"))))
    val model = tokc.groupBy("tok").agg(
      coalesce(max(when(col("keep"), q6ln(col("c") + 1))), lit(0L))
        .as("bk6"),
      coalesce(max(when(!col("keep"), q6ln(col("c") + 1))), lit(0L))
        .as("bd6"))
    tokm
      .join(model, Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(sum("m").as("n_tokens"),
        sum(col("m") * (coalesce(col("bk6"), lit(0L)) -
          coalesce(col("bd6"), lit(0L)))).as("bdiff"))
      .crossJoin(consts)
      .withColumn("logodds6",
        col("bdiff") -
          col("n_tokens") * (q6ln(col("nk") + col("v")) -
            q6ln(col("ndt") + col("v"))) +
          q6ln(col("dk") + 1) - q6ln(col("dd") + 1))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("logodds6"), (col("logodds6") > 0).as("pred_keep"))
      .orderBy("doc_id")
  }

  /** t47: t44's bigram LM fitted PER LANGUAGE — CCNet's actual
    * architecture (Wenzek et al. 2019, public: one KenLM per
    * language, perplexity terciles cut WITHIN each language). On a
    * mixed corpus a single LM's terciles rank language identity, not
    * quality — the dominant language's docs all look "low
    * perplexity"; conditioning every model cell and the tercile cut
    * on `lang` makes the bucket a within-language quality signal.
    * Same micro-nat integer cells as t44 ([[lmPerplexity]]); the
    * per-language unigram model still broadcasts (per-language vocab
    * is bounded), the bigram model joins on (lang, w1, w2) — never
    * assumed broadcastable at web scale; the tercile is the
    * bounded-histogram prefix sum partitioned by lang. Docs of a
    * language absent from the training slice fall back to v = 1
    * (ln 1 = 0 micro-nats) — deterministic and replayed identically
    * by the oracle. The per-doc average stays INTEGER micro-nats
    * (half-up integer division — g6 ≥ 0 always since a6 ≥ b6): the
    * float form `round(nll6/1e6/n_big, 6)` hit a genuine half-way
    * rounding tie on the Unicode fixture (…485 → engines disagree at
    * the 6th decimal), the exact-integer discipline removes the whole
    * class. */
  private[graft] def lmPerplexityByLang(dIn: DataFrame): DataFrame = {
    val d = graft.Caches.shared(dIn)
    val train = d.filter(pmod(col("doc_id"), lit(3)) === 0)
    val uni = graft.Caches.shared(train
      .select(col("lang"), explode(col("tk")).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c1")))
    val voc = broadcast(uni.groupBy("lang").agg(count(lit(1)).as("v")))
    // size-derived broadcast-vs-join for the per-language unigram
    // model — same AQE mechanism and rationale as [[lmPerplexity]]
    // (round 13): no hint, the runtime converts to broadcast from the
    // exchange's measured size; the per-language vocab bound
    // (~10^4·langs for char-level Han segs) makes that the common
    // case, and a pathological vocab stays off the driver
    val a = uni.join(voc, "lang")
      .select(col("lang"), col("w").as("w1"),
        q6(log((col("c1") + col("v")).cast("double"))).as("a6"))
    def grams(df: DataFrame) = df
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.piecePairs(col("tk"))).as("p"))
      .select(col("doc_id"), col("lang"),
        col("p.l").as("w1"), col("p.r").as("w2"))
    val b = grams(train).groupBy("lang", "w1", "w2")
      .agg(count(lit(1)).as("c2"))
      .select(col("lang"), col("w1"), col("w2"),
        q6(log((col("c2") + lit(1)).cast("double"))).as("b6"))
    val scored = graft.Caches.shared(grams(d)
      .groupBy("doc_id", "lang", "w1", "w2").agg(count(lit(1)).as("c"))
      .join(b, Seq("lang", "w1", "w2"), "left")
      .join(a, Seq("lang", "w1"), "left")
      .join(voc, Seq("lang"), "left")
      .withColumn("g6",
        coalesce(col("a6"),
          q6(log(coalesce(col("v"), lit(1L)).cast("double")))) -
          coalesce(col("b6"), lit(0L)))
      .groupBy("doc_id", "lang")
      .agg(sum("c").as("n_big"), sum(col("c") * col("g6")).as("nll6"))
      .withColumn("avg_nll6",
        expr("(2 * nll6 + n_big) div (2 * n_big)")))
    val hist = scored.groupBy("lang", "avg_nll6").agg(count(lit(1)).as("hc"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("avg_nll6")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val n = broadcast(scored.groupBy("lang").agg(count(lit(1)).as("n")))
    val buckets = broadcast(hist
      .withColumn("before", sum("hc").over(wCum) - col("hc"))
      .join(n, "lang")
      .select(col("lang"), col("avg_nll6"),
        (floor(col("before") * 3 / col("n")) + 1).cast("int")
          .as("bucket")))
    scored.join(buckets, Seq("lang", "avg_nll6"))
      .select("doc_id", "lang", "n_big", "nll6", "avg_nll6", "bucket")
      .orderBy("doc_id")
  }

  /** The trained merge table with a build-once sidecar (the d11
    * codebook precedent): the first invocation per corpus fingerprint
    * trains and persists the merges atomically; a fresh process loads
    * them once, and later calls reuse the memoized table. Tokenizer
    * training is ingest-time work, paid once, never a per-run cost; a
    * regenerated corpus gets a fresh fingerprint and retrains. */
  private def bpeModelFor(
      s: SparkSession, dir: String): Vector[(String, String, Long)] = {
    // bpe2: recipe version — round 9's script-aware segTokens change
    // the word-count recipe, so round-8 sidecars (whitespace words)
    // must not be reused (the p8 store-key principle)
    graft.store.AnnIndexes.model(s,
        graft.store.AnnIndexes.key(s, "bpe2", dir, "documents")) { tmp =>
      import s.implicits._
      val merges = trainBpe(bpeWordCounts(s, dir), BpeMergeCount)
      merges.zipWithIndex
        .map { case ((l, r, c), i) => (i + 1L, l, r, c) }
        .toDF("rank", "l", "r", "pair_count")
        .coalesce(1).write.parquet(tmp)
      merges
    }(path => s.read.parquet(path).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toVector)
  }

  /** k rounds of count-pairs / merge-the-argmax over the vocab (the
    * Sennrich training loop); each round's pair counts are weighted by
    * word frequency and partial-aggregate map-side, the argmax is a
    * TakeOrdered(1), and the one-row collects are the loop-carried
    * state (the d11 k-means precedent). k is the caller's budget — the
    * declared t37 query trains [[BpeMergeCount]] rounds. Each round
    * re-segments every distinct word against i merges, but measured
    * (round 12, local[32]) the round cost is flat in i at these vocab
    * sizes: sf0.1 (31 distinct words) k=24 → 0.24–0.46 s per round,
    * sf1 (310 words) k=12 → 0.36–0.55 s. It is the fixed two-job round
    * (argmax + 1-row collect), so raising k costs ~k × 0.4 s; the
    * expression depth in i would surface only at a web-scale vocab. */
  private[graft] def trainBpe(
      words: DataFrame, k: Int): Vector[(String, String, Long)] = {
    var merges = Vector.empty[(String, String, Long)]
    for (_ <- 1 to k) {
      val top = words
        .select(col("wc"), explode(TextAnalysis.piecePairs(
          TextAnalysis.bpeSegment(col("w"),
            merges.map(m => (m._1, m._2))))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum("wc").as("c"))
        .orderBy(desc("c"), asc("l"), asc("r"))
        .limit(1).collect()
      if (top.nonEmpty)
        merges = merges :+
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
    }
    merges
  }

  /** The corpus-derived oracles (d3, d4, d5, d11, t37, t38, t42, d21,
    * t52, t55) inline constants derived from the corpus (emitted pair
    * sets, signatures, the BPE merge table, the code-point alphabet),
    * each rebuilt from `(spark, dir)` by the same deterministic
    * builders the query uses: seeded hashes and build-once sidecars.
    * None when the corpus is degenerate (no pair, no merge), so the
    * query is checked rows-only. */
  val specs: Seq[QuerySpec] = Seq(
    // T1: token counting + type-token ratio (E3 as standalone ops).
    QuerySpec("t1_token_stats", (s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.distinctTokenCount(col("text")).as("n_distinct"),
        round(TextAnalysis.typeTokenRatio(col("text")), 6).as("ttr"))
        .orderBy("doc_id")
    }, sql(
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        | ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |   / len(string_split(text, ' ')), 6) AS ttr
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T2: canonical md5 fingerprint (document identity at scale).
    QuerySpec("t2_fingerprint", (s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }, sql(
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T3: quality scoring (length/diversity/stopword heuristics).
    QuerySpec("t3_quality", (s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.stopwordCount(col("text")).as("n_stop"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }, sql({
      val stops = TextAnalysis.EnglishStopwords
        .map(s => s"'$s'").mkString("[", ",", "]")
      s"""WITH m AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> list_contains($stops, t))) AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS ttr
         |  FROM documents)
         | SELECT doc_id, n_tokens, n_stop,
         |  ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + ttr +
         |    LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 4.0, 1.0)) / 3.0, 6)
         |    AS quality
         | FROM m ORDER BY doc_id""".stripMargin.replaceAll("\n", "")
    })),

    // T4: language ID (heuristic; oracle-checked — the struct-argmax
    // tie-break and CJK gate are reproduced in SQL below).
    // langId's argmax = array_max over (score, lang) structs: highest
    // score wins, ties go to the lexicographically larger code — the
    // CASE checks fr/es/en/de in that order to reproduce it.
    QuerySpec("t4_lang_id", (s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }, sql({
      def filt(stops: Seq[String]) =
        s"len(list_filter(tk, x -> list_contains(${
          stops.map(s => s"'$s'").mkString("[", ",", "]")}, x)))"
      val l = TextAnalysis.StopwordsByLang
      s"""WITH t AS (SELECT doc_id, text,
         |   regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+') tk FROM documents),
         | sc AS (SELECT doc_id, text,
         |   ${filt(l("en"))} AS en, ${filt(l("de"))} AS de,
         |   ${filt(l("es"))} AS es, ${filt(l("fr"))} AS fr FROM t),
         | b AS (SELECT doc_id, text, en, de, es, fr,
         |   GREATEST(en, de, es, fr) AS mx FROM sc)
         | SELECT doc_id, CASE
         |  WHEN len(text) > 0 AND 5 * len(regexp_replace(text,
         |    '[^\\x{4e00}-\\x{9fff}]', '', 'g')) >= len(text) THEN 'zh'
         |  WHEN mx > 0 THEN (CASE WHEN fr = mx THEN 'fr'
         |    WHEN es = mx THEN 'es' WHEN en = mx THEN 'en' ELSE 'de' END)
         |  ELSE 'und' END AS lang_pred
         | FROM b ORDER BY doc_id""".stripMargin.replaceAll("\n", "")
    })),

    // T5: corpus-level n-gram frequency (explode + count + top-k) —
    // the vocabulary-analysis shape; map-side partial agg then one
    // shuffle on the bigram key.
    QuerySpec("t5_top_bigrams", (s, dir) => {
      docs(s, dir)
        .select(explode(TextAnalysis.shinglesSeg(col("text"), 2)).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("bigram"))
        .limit(20)
    }, sql(
      s"""SELECT bigram, COUNT(*) AS cnt FROM (
        |  SELECT unnest(${shingleListSql(2)}) AS bigram
        |  FROM (SELECT $segTokSql tk FROM documents))
        | GROUP BY bigram ORDER BY cnt DESC, bigram LIMIT 20"""
        .stripMargin.replaceAll("\n", ""))),

    // T6: document-length histogram (bucketed arithmetic, exact ints).
    QuerySpec("t6_length_histogram", (s, dir) => {
      docs(s, dir)
        .select((floor(TextAnalysis.tokenCount(col("text")) / 10L) * 10L)
          .as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    }, sql(
      """SELECT CAST(FLOOR(len(string_split(text, ' ')) / 10) * 10 AS BIGINT)
        | AS bucket, COUNT(*) AS cnt FROM documents
        | GROUP BY bucket ORDER BY bucket""".stripMargin.replaceAll("\n", ""))),

    // T7: deterministic hash-bucket train/test split — pure function
    // of the key (reproducible across runs/engines/cluster sizes; no
    // leakage when the corpus grows).
    QuerySpec("t7_train_test_split", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          Sampling.splitLabel(col("doc_id"), 13).as("split"))
        .orderBy("doc_id")
    }, sql(
      """SELECT doc_id, CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        | < 'd' THEN 'train' ELSE 'test' END AS split
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T13: deterministic stratified sampling — per-stratum hash-bucket
    // keep fractions (en 50%, de 25%); a pure function of the key, so
    // re-runs/repartitions keep the exact same rows (unlike
    // rand()-based sampleBy).
    QuerySpec("t13_stratified_sample", (s, dir) => {
      Sampling.stratifiedSample(docs(s, dir), "lang", "doc_id",
          Map("en" -> 0.5, "de" -> 0.25))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }, sql(
      """WITH b AS (SELECT doc_id, lang,
        |  (strpos('0123456789abcdef',
        |     substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |   + strpos('0123456789abcdef',
        |     substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |  FROM documents)
        | SELECT doc_id, lang FROM b
        | WHERE (lang = 'en' AND bucket < 128) OR (lang = 'de' AND bucket < 64)
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T17: data-mixture oversampling — per-source epoch weights
    // (src0 3×, src1 2.5×, src2 1.5×, src3 0.5×, src4 0.25×, rest 1×)
    // applied as deterministic hash-quantized copy counts; every copy
    // decision is a pure function of doc_id, so the oracle replays it
    // exactly. The explode is a map-side row generator in the scan
    // projection — the mixture happens before any shuffle.
    QuerySpec("t17_mixture_epochs", (s, dir) => {
      Sampling.mixtureOversample(docs(s, dir), "source", "doc_id",
          Map("src0" -> 3.0, "src1" -> 2.5, "src2" -> 1.5,
            "src3" -> 0.5, "src4" -> 0.25))
        .select("doc_id", "copy", "source")
        .orderBy("doc_id", "copy")
    }, sql(
      """WITH b AS (SELECT doc_id, source,
        |  (strpos('0123456789abcdef',
        |     substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
        |   + strpos('0123456789abcdef',
        |     substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS bucket
        |  FROM documents),
        | w AS (SELECT doc_id, source, CASE source
        |   WHEN 'src0' THEN 3
        |   WHEN 'src1' THEN 2 + CASE WHEN bucket < 128 THEN 1 ELSE 0 END
        |   WHEN 'src2' THEN 1 + CASE WHEN bucket < 128 THEN 1 ELSE 0 END
        |   WHEN 'src3' THEN 0 + CASE WHEN bucket < 128 THEN 1 ELSE 0 END
        |   WHEN 'src4' THEN 0 + CASE WHEN bucket < 64 THEN 1 ELSE 0 END
        |   ELSE 1 END AS n FROM b)
        | SELECT doc_id, CAST(u.copy AS BIGINT) AS copy, source
        | FROM w, UNNEST(range(1, n + 1)) AS u(copy)
        | WHERE n >= 1 ORDER BY doc_id, copy"""
        .stripMargin.replaceAll("\n", ""))),

    // T14: per-source corpus rollup — docs, token volume, mean quality
    // and language breadth by the `source` column (the provenance
    // dimension every corpus audit groups by).
    QuerySpec("t14_source_rollup", (s, dir) => {
      docs(s, dir)
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("q"),
          col("lang"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          round(avg("q"), 6).as("mean_quality"),
          countDistinct("lang").as("n_langs"))
        .orderBy("source")
    }, sql({
      val stops = TextAnalysis.EnglishStopwords
        .map(s => s"'$s'").mkString("[", ",", "]")
      s"""WITH m AS (SELECT source, lang,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> list_contains($stops, t))) AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS ttr
         |  FROM documents),
         | q AS (SELECT source, lang, n_tokens,
         |  ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + ttr +
         |    LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 4.0, 1.0)) / 3.0, 6)
         |    AS q FROM m)
         | SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         |  ROUND(AVG(q), 6) AS mean_quality,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
         | FROM q GROUP BY source ORDER BY source"""
        .stripMargin.replaceAll("\n", "")
    })),

    // C1: chunk counts — the whitespace chunker's cardinality is
    // ceil(n_tokens / maxTokens), SQL-checkable.
    QuerySpec("c1_chunk_counts", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"),
          size(Chunker.chunksCol(col("text"), 32)).cast("long").as("n_chunks"))
        .orderBy("doc_id")
    }, sql(
      """SELECT doc_id, CAST(CEIL(len(string_split(text, ' ')) / 32.0) AS BIGINT)
        | AS n_chunks FROM documents ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", ""))),

    // C2: exploded chunks with ordinal + per-chunk token size for a
    // sample of documents (full materialization checked by hash).
    QuerySpec("c2_chunks", (s, dir) => {
      Chunker.chunkDocuments(
          docs(s, dir).filter(col("doc_id") < 50).select("doc_id", "text"),
          "text", maxTokens = 16)
        .select(col("doc_id"), col("chunk_number"), col("chunk_text"),
          col("chunk_size").cast("long").as("chunk_size"))
        .orderBy("doc_id", "chunk_number")
    }, sql(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') tk
        |  FROM documents WHERE doc_id < 50),
        | ch AS (SELECT doc_id,
        |  CAST(i - 1 AS INT) AS chunk_number,
        |  array_to_string(tk[(i-1)*16+1 : (i-1)*16+16], ' ') AS chunk_text,
        |  CAST(LEAST(16, len(tk) - (i-1)*16) AS BIGINT) AS chunk_size
        |  FROM toks, UNNEST(range(1, CAST(CEIL(len(tk)/16.0) AS BIGINT) + 1)) AS u(i))
        | SELECT doc_id, chunk_number, chunk_text, chunk_size FROM ch
        | ORDER BY doc_id, chunk_number""".stripMargin.replaceAll("\n", ""))),

    // T8: PII redaction — email / IPv4 / long-number masking with
    // per-type match counts (the scrubbing pass every training-data
    // pipeline runs). The synthetic corpus carries no PII, so the
    // query plants deterministic PII per row identically in both
    // engines, then redacts it: the oracle checks both the counters
    // and the full redacted text. Pure codegen map stage — regex ops
    // on the scan, no shuffle.
    QuerySpec("t8_pii_redaction", (s, dir) => {
      val withPii = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via "),
          lit("10.0.0."), pmod(col("doc_id"), lit(256)),
          lit(" ref "), (col("doc_id") + lit(1234567890L)).cast("string"))
          .as("text"))
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val longnum = "\\d{10,}"
      withPii.select(
        col("doc_id"),
        regexp_count(col("text"), lit(email)).as("n_email"),
        regexp_count(col("text"), lit(ip)).as("n_ip"),
        regexp_count(col("text"), lit(longnum)).as("n_num"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), email, "[EMAIL]"),
            ip, "[IP]"),
          longnum, "[NUM]").as("redacted"))
        .orderBy("doc_id")
    }, sql(
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via '
        |    || '10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        |    || ' ref ' || CAST(doc_id + 1234567890 AS VARCHAR) AS text
        |  FROM documents)
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(text, '\d{10,}')) AS INT) AS n_num,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |    '\d{10,}', '[NUM]', 'g') AS redacted
        | FROM p ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // U1: URL canonicalization — the web-corpus dedup key. Every
    // crawler stores a raw URL; exact dedup needs the canonical form:
    // scheme+host lowercased, www. stripped, default port / query /
    // fragment dropped, trailing slash trimmed; plus the registrable
    // domain (last two host labels) and TLD for blocklist joins and
    // per-domain rollups. The corpus is synthetic, so URLs are planted
    // deterministically per row (mixed case, default port, utm params,
    // fragment) identically in both engines — pure regexp map stage in
    // the scan projection, no shuffle before the final order.
    QuerySpec("u1_url_canonical", (s, dir) => {
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val raw = concat(lit("HTTPS://WWW.Site"), pmod(col("doc_id"), lit(20)),
        lit("."), tld, lit(":443/Docs/"), col("doc_id"),
        lit("/?utm_source=feed&ref="), col("doc_id"), lit("#top"))
      val host = lower(regexp_extract(raw, "^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)", 1))
      val bare = regexp_replace(host, "^www\\.", "")
      val path = regexp_replace(
        regexp_extract(raw, "^[A-Za-z0-9+.:-]+://[^/?#]+([^?#]*)", 1),
        "/$", "")
      docs(s, dir).select(
        col("doc_id"),
        concat(lower(regexp_extract(raw, "^([A-Za-z][A-Za-z0-9+.-]*):", 1)),
          lit("://"), bare, path).as("url_norm"),
        regexp_extract(bare, "([^.]+\\.[^.]+)$", 1).as("domain"),
        regexp_extract(bare, "\\.([^.]+)$", 1).as("tld"))
        .orderBy("doc_id")
    }, sql(
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://WWW.Site' || CAST(doc_id % 20 AS VARCHAR) || '.' ||
        |  (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
        |  || ':443/Docs/' || CAST(doc_id AS VARCHAR) ||
        |  '/?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR) || '#top' AS raw
        |  FROM documents),
        | p AS (SELECT doc_id,
        |  lower(regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme,
        |  regexp_replace(lower(regexp_extract(raw,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)), '^www\.', '') AS bare,
        |  regexp_replace(regexp_extract(raw,
        |    '^[A-Za-z0-9+.:-]+://[^/?#]+([^?#]*)', 1), '/$', '') AS path
        |  FROM u)
        | SELECT doc_id, scheme || '://' || bare || path AS url_norm,
        |  regexp_extract(bare, '([^.]+\.[^.]+)$', 1) AS domain,
        |  regexp_extract(bare, '\.([^.]+)$', 1) AS tld
        | FROM p ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // U2: per-domain corpus rollup over the canonical domains — the
    // blocklist/audit aggregation (docs and token volume per
    // registrable domain). One keyed shuffle after the regexp map.
    QuerySpec("u2_domain_rollup", (s, dir) => {
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val domain = concat(lit("site"), pmod(col("doc_id"), lit(20)),
        lit("."), tld)
      docs(s, dir).select(domain.as("domain"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .groupBy("domain")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("domain")
    }, sql(
      """SELECT 'site' || CAST(doc_id % 20 AS VARCHAR) || '.' ||
        |  (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
        |  AS domain,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
        | FROM documents GROUP BY domain ORDER BY domain"""
        .stripMargin.replaceAll("\n", ""))),

    // T9: repetition signal (Gopher-style quality heuristic): the
    // dominance of the single most frequent token per document. Two
    // keyed aggregations — the distributed shape (explode + partial
    // aggs), never a per-doc O(n²) HOF. Tokens are the script-aware
    // segmentation (round 11): an unspaced Han doc gets a real
    // per-char repetition signal instead of one unrepeatable
    // sentence-sized token.
    QuerySpec("t9_repetition", (s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), explode(TextAnalysis.segTokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("max_tok_cnt"), sum("c").as("n"))
        .select(col("doc_id"), col("max_tok_cnt"),
          round(col("max_tok_cnt").cast("double") / col("n"), 6)
            .as("top_tok_ratio"))
        .orderBy("doc_id")
    }, sql(
      s"""WITH c AS (SELECT doc_id, tok, COUNT(*) AS c FROM (
        |   SELECT doc_id, unnest($segTokSql) AS tok FROM documents)
        |  GROUP BY doc_id, tok)
        | SELECT doc_id, CAST(MAX(c) AS BIGINT) AS max_tok_cnt,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_tok_ratio
        | FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T10: train/eval contamination check — distinct-trigram overlap
    // between each train document and a held-out eval slice
    // (doc_id % 50 == 0). Exploded trigram equi-join + count, the
    // hash-join shape that scales (never pairwise doc comparison);
    // top-50 most contaminated docs reported.
    QuerySpec("t10_contamination", (s, dir) => {
      // NOTE: no persist here — unlike the near-dup self-joins, the two
      // consumers of the trigram explode are DISJOINT doc slices (the
      // pmod filter pushes below the explode), so each doc is shingled
      // exactly once across both branches; a shared cache would only
      // add a 1M-row cache write.
      // The eval side is BROADCAST: a held-out eval slice is small by
      // construction (2% of docs here; benchmark suites in general), so
      // its distinct trigrams ship to every task and the train side —
      // the 98% bulk — is probed map-side, never shuffled. Without the
      // hint both exploded sides hash-shuffle on 30-byte trigram
      // strings, which at 100 TB means re-shuffling the whole training
      // corpus; with it the only shuffle left is the final per-doc
      // count (map-side partial agg on doc_id). If an eval set ever
      // outgrows broadcast, drop the hint and AQE falls back to the
      // shuffle join.
      val tri = docs(s, dir)
        .filter(size(TextAnalysis.segTokens(col("text"))) >= 3)
        .select(col("doc_id"),
          explode(TextAnalysis.shinglesSeg(col("text"), 3)).as("tri"))
      val evalTris = tri.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select("tri").distinct()
      tri.filter(pmod(col("doc_id"), lit(50)) =!= 0)
        .join(broadcast(evalTris), "tri")
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
        .orderBy(desc("n_overlap"), asc("doc_id"))
        .limit(50)
    }, sql(
      s"""WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
        |    AS tri
        |  FROM (SELECT doc_id, $segTokSql AS tk FROM documents)
        |  WHERE len(tk) >= 3),
        | ev AS (SELECT DISTINCT tri FROM sh WHERE doc_id % 50 = 0)
        | SELECT doc_id, COUNT(*) AS n_overlap FROM sh JOIN ev USING (tri)
        | WHERE doc_id % 50 <> 0
        | GROUP BY doc_id ORDER BY n_overlap DESC, doc_id LIMIT 50"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // T26: per-source token-budget sampling — the mixture-recipe cap
    // "at most N tokens of source X, best-first": rank docs within
    // each source by quality, keep while the source's cumulative
    // token count stays under budget. One window PARTITIONED BY
    // source — the cumulative sum never crosses group boundaries, so
    // the shape holds at any corpus size.
    QuerySpec("t26_token_budget", (s, dir) => {
      Sampling.tokenBudgetCap(
          docs(s, dir).select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            TextAnalysis.qualityScore(col("text")).as("quality")),
          "source", "doc_id", "n_tokens", "quality", budget = 800L)
        .select("doc_id", "source", "n_tokens", "quality", "cum_tokens")
        .orderBy("doc_id")
    }, sql({
      val stops = TextAnalysis.EnglishStopwords
        .map(s => s"'$s'").mkString("[", ",", "]")
      s"""WITH m AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> list_contains($stops, t))) AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS ttr
         |  FROM documents),
         | q AS (SELECT doc_id, source, n_tokens,
         |  ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + ttr +
         |    LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 4.0, 1.0)) / 3.0, 6)
         |    AS quality FROM m),
         | c AS (SELECT doc_id, source, n_tokens, quality,
         |  CAST(SUM(n_tokens) OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS cum_tokens FROM q)
         | SELECT doc_id, source, n_tokens, quality, cum_tokens FROM c
         | WHERE cum_tokens <= 800 ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", "")
    })),

    // T27: decontamination REMOVAL — the action t10's scoring informs:
    // drop training docs sharing > 10 distinct trigrams with the eval
    // slice, keep everything else (including docs too short for a
    // trigram). Same broadcast-eval shape as t10: the train bulk never
    // shuffles on trigram strings.
    QuerySpec("t27_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      Dedup.dropContaminated(
          d.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(50)) === 0),
          "doc_id", "text", n = 3, maxOverlap = 10L)
        .select("doc_id")
        .orderBy("doc_id")
    }, sql(
      s"""WITH sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])))
        |    AS tri
        |  FROM (SELECT doc_id, $segTokSql AS tk FROM documents)
        |  WHERE len(tk) >= 3),
        | ev AS (SELECT DISTINCT tri FROM sh WHERE doc_id % 50 = 0),
        | ov AS (SELECT doc_id, COUNT(*) AS n FROM sh JOIN ev USING (tri)
        |  WHERE doc_id % 50 <> 0 GROUP BY 1)
        | SELECT doc_id FROM documents WHERE doc_id % 50 <> 0
        |  AND doc_id NOT IN (SELECT doc_id FROM ov WHERE n > 10)
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T29: token-weighted sampling — a 200-doc sample where inclusion
    // probability scales with n_tokens (Efraimidis–Spirakis priority
    // sampling on a key-derived uniform): the "sample by token mass,
    // not row count" primitive mixture tuning wants. Deterministic
    // across engines/partitionings; top-n = TakeOrderedAndProject.
    QuerySpec("t29_weighted_sample", (s, dir) => {
      Sampling.weightedSample(
          docs(s, dir).select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", n = 200)
        .orderBy("doc_id")
    }, sql({
      val hexv = (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), ${i + 1}, 1)) - 1) * ${math.pow(16, 5 - i).toLong}")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  ($hexv) AS v FROM documents),
         | p AS (SELECT doc_id, n_tokens,
         |  ROUND(ln((v + 0.5) / 16777216.0) / n_tokens, 6) AS pri FROM w)
         | SELECT doc_id, n_tokens FROM
         |  (SELECT doc_id, n_tokens FROM p ORDER BY pri DESC, doc_id LIMIT 200)
         | ORDER BY doc_id""".stripMargin.replaceAll("\n", "")
    })),

    // T30: DSIR-style importance weights (Xie et al. 2023, public):
    // per-doc log-likelihood ratio between a target corpus (lang=en)
    // and the raw pool under hashed-bigram unigram models, add-1
    // smoothed over B=256 buckets. The selection signal importance
    // RESAMPLING pipelines rank by. Scale shape: one cached bigram
    // pass feeds (a) the 256-row feature count — target and raw
    // tallied in the SAME aggregate — and (b) the scoring join; the
    // model is a broadcast, so the corpus shuffles exactly once, on
    // doc_id, for the final sum.
    QuerySpec("t30_dsir_weights", (s, dir) => {
      val bi = graft.Caches.shared(docs(s, dir)
        .filter(size(TextAnalysis.segTokens(col("text"))) >= 2)
        .select(col("doc_id"), col("lang"),
          explode(TextAnalysis.ngramsSeg(col("text"), 2)).as("bg"))
        .withColumn("f",
          conv(substring(md5(col("bg")), 1, 2), 16, 10).cast("long")))
      val fc = bi.groupBy("f").agg(
        count(lit(1)).as("c_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("c_t"))
      val model = fc
        .crossJoin(broadcast(fc.agg(
          sum("c_r").as("n_r"), sum("c_t").as("n_t"))))
        .select(col("f"),
          (log((col("c_t") + 1) / (col("n_t") + 256.0))
            - log((col("c_r") + 1) / (col("n_r") + 256.0))).as("lw"))
      bi.join(broadcast(model), "f")
        .groupBy("doc_id")
        .agg(round(sum("lw"), 6).as("dsir_weight"))
        .orderBy("doc_id")
    }, sql(
      s"""WITH tk AS (SELECT doc_id, lang, $segTokSql AS tk
        |   FROM documents WHERE len($segTokSql) >= 2),
        | bi AS (SELECT doc_id, lang, tk[i] || ' ' || tk[i+1] AS bg
        |   FROM tk, UNNEST(range(1, len(tk))) u(i)),
        | f AS (SELECT doc_id, lang,
        |   (strpos('0123456789abcdef', substring(md5(bg), 1, 1)) - 1) * 16
        |   + strpos('0123456789abcdef', substring(md5(bg), 2, 1)) - 1 AS f
        |  FROM bi),
        | fc AS (SELECT f, COUNT(*) AS c_r,
        |   SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c_t
        |  FROM f GROUP BY f),
        | tot AS (SELECT SUM(c_r) AS n_r, SUM(c_t) AS n_t FROM fc),
        | model AS (SELECT f, ln((c_t + 1) / (n_t + 256.0))
        |   - ln((c_r + 1) / (n_r + 256.0)) AS lw FROM fc, tot)
        | SELECT doc_id, ROUND(SUM(lw), 6) AS dsir_weight
        | FROM f JOIN model USING (f)
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // P6: compaction planning — the lakehouse OPTIMIZE maintenance
    // shape over a file manifest (here: synthesized from documents —
    // file per doc, partitioned by lang): next-fit byte binning via
    // ONE per-partition window prefix sum, no driver loop; group =
    // preceding-bytes div target, deterministic under any
    // partitioning.
    QuerySpec("p6_compaction_plan", (s, dir) => {
      val manifest = docs(s, dir).select(
        col("lang"),
        concat(col("source"), lit("/"), col("doc_id").cast("string"))
          .as("file"),
        length(col("text")).cast("long").as("sz"))
      graft.store.Compaction.planGroups(manifest, "lang", "file", "sz",
          targetBytes = 8192L)
        .orderBy(asc("lang"), asc("grp"), desc("sz"), asc("file"))
    }, sql(
      """WITH m AS (
        |  SELECT lang, source || '/' || CAST(doc_id AS VARCHAR) AS file,
        |    length(text) AS sz
        |  FROM documents),
        | w AS (
        |  SELECT lang, file, sz,
        |   SUM(sz) OVER (PARTITION BY lang ORDER BY sz DESC, file
        |     ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM m)
        | SELECT lang, file, CAST(sz AS BIGINT) AS sz,
        |   CAST(FLOOR((cum - sz) / 8192.0) AS BIGINT) AS grp
        | FROM w ORDER BY lang, grp, sz DESC, file""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // P7: Z-order key arithmetic — the Morton interleave `Layout`
    // clusters files by (OPTIMIZE ZORDER), hash-checked cross-engine:
    // the oracle recomputes min/max normalization, 16-bit bucketing
    // (floor semantics — Spark's long cast truncates and the scaled
    // value is non-negative) and the bit interleave term-for-term in
    // SQL. Pure map-side codegen arithmetic over broadcast bounds, so
    // keying 100 TB for a layout rewrite adds no shuffle of its own.
    QuerySpec("p7_zorder_key", (s, dir) => {
      val p = Tables.load(s, dir, "part")
      val b = p.agg(min("p_partkey"), max("p_partkey"),
        min(col("p_size").cast("long")), max(col("p_size").cast("long")))
        .head()
      p.select(col("p_partkey"),
          graft.store.Layout.zOrderKey(
            col("p_partkey"), b.getLong(0), b.getLong(1),
            col("p_size").cast("long"), b.getLong(2), b.getLong(3),
            bits = 16).as("zkey"))
        .orderBy("p_partkey")
        .limit(1000)
    }, sql(
      """WITH b AS (SELECT MIN(p_partkey) lo1, MAX(p_partkey) hi1,
        |   MIN(CAST(p_size AS BIGINT)) lo2, MAX(CAST(p_size AS BIGINT)) hi2
        |  FROM part),
        | k AS (SELECT p_partkey,
        |   LEAST(65535, GREATEST(0, CAST(FLOOR(
        |    (CAST(p_partkey AS DOUBLE) - lo1) / (hi1 - lo1) * 65535)
        |    AS BIGINT))) AS b1,
        |   LEAST(65535, GREATEST(0, CAST(FLOOR(
        |    (CAST(p_size AS DOUBLE) - lo2) / (hi2 - lo2) * 65535)
        |    AS BIGINT))) AS b2
        |  FROM part, b)
        | SELECT p_partkey, CAST(list_sum(list_transform(range(0, 16), i ->
        |   ((b1 // CAST(pow(2, i) AS BIGINT)) % 2)
        |     * CAST(pow(2, 2 * i) AS BIGINT)
        |   + ((b2 // CAST(pow(2, i) AS BIGINT)) % 2)
        |     * CAST(pow(2, 2 * i + 1) AS BIGINT))) AS BIGINT) AS zkey
        | FROM k ORDER BY p_partkey LIMIT 1000"""
        .stripMargin.replaceAll("\n", ""))),

    // P8: schema evolution across append batches — the lakehouse
    // reality that column sets GROW: batch 1 writes (doc_id, n_chars),
    // batch 2 adds `lang`; the unified read uses mergeSchema so old
    // rows surface the new column as NULL, and downstream aggregation
    // group-keys on it null-safely. The WRITE path is exercised for
    // real (two physical parquet batches with different schemas under
    // one root); the oracle replays the semantics from the base table
    // (same doc_id%2 batch rule → CASE-null lang). At scale,
    // mergeSchema's footer reconciliation is per-file metadata work —
    // the data itself is never rewritten, which is the entire point
    // of evolution-by-union over migration-by-rewrite.
    // p8: replay of the batch rule — even-id docs predate the `lang`
    // column, so they group under NULL in the merged read.
    QuerySpec("p8_schema_evolution", (s, dir) => {
      // build-once via materializeAtomic (fingerprint-keyed): the two
      // schema-divergent batches are written into a private temp and
      // renamed into place complete, so concurrent sessions on the
      // same dataset never race delete-vs-read on a shared fixed path.
      // MEASUREMENT NOTE (round 8): steady-state timings of this query
      // are therefore READ-ONLY (mergeSchema reconciliation) — only
      // the first run per dataset fingerprint pays the two physical
      // writes, so post-change numbers aren't comparable to the
      // round-7 figures that included both writes every run.
      // the store key carries a RECIPE VERSION alongside the dataset
      // fingerprint: a future change to the batch-split rule or the
      // selected columns must invalidate prior materializations, or
      // steady-state runs would silently read a store that no longer
      // matches the code (and never exercise the write path again)
      val store = graft.store.AnnIndexes.materializeAtomic(s,
          graft.store.AnnIndexes.key(s, "p8v2", dir, "documents")) { tmp =>
        val d = docs(s, dir)
        d.filter(pmod(col("doc_id"), lit(2)) === 0)
          .select(col("doc_id"), col("n_chars"))
          .write.parquet(s"$tmp/batch=1")
        d.filter(pmod(col("doc_id"), lit(2)) === 1)
          .select(col("doc_id"), col("n_chars"), col("lang"))
          .write.parquet(s"$tmp/batch=2")
      }
      s.read.option("mergeSchema", "true").parquet(store)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy(asc_nulls_first("lang"))
    }, sql(
      """SELECT CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang,
        | COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        | FROM documents GROUP BY 1 ORDER BY lang NULLS FIRST"""
        .stripMargin.replaceAll("\n", ""))),

    // T31: BPE-training merge candidates — the top-50 adjacent
    // character pairs across the corpus, i.e. the argmax table of the
    // first tokenizer-training iteration. At 100 TB this is the
    // canonical map-reduce: charPairs is pure map-side explode (no
    // intermediate word table materializes), the pair agg combines
    // map-side into ≤ |alphabet|² partials, and top-50 fuses to
    // TakeOrderedAndProject.
    QuerySpec("t31_bpe_merges", (s, dir) => {
      docs(s, dir)
        .select(explode(TextAnalysis.charPairs(col("text"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("pair"))
        .limit(50)
    }, sql(
      s"""WITH words AS (
        |  SELECT unnest(regexp_extract_all(lower(text),
        |    '${TextAnalysis.SegPatternRe2}')) AS w FROM documents),
        | prs AS (
        |  SELECT unnest(list_transform(range(1, length(w)),
        |                i -> substring(w, CAST(i AS INTEGER), 2))) AS pair
        |  FROM words WHERE length(w) >= 2)
        | SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
        | FROM prs GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T33: count-min sketch frequency estimates, oracle-checked via
    // the CMS DERIVED INVARIANT (the a21 pattern): the estimate itself
    // is seeded-JVM-hash-specific, but CMS guarantees est ≥ exact and
    // est ≤ exact + ε·N with ε = e/width — so the query emits, for the
    // exact top-20 tokens, the exact count plus the boolean, and
    // DuckDB recomputes the exact side (top-20 selection AND counts)
    // and asserts TRUE. One pass builds the fixed 4×2048 grid (partial
    // buffers merge by exact addition — deterministic under any
    // partitioning); the raw estimates remain spec-observed in
    // CoreFunctionsSpec.
    QuerySpec("t33_cms_counts", (s, dir) => {
      val (depth, width, seed) = (4, 2048, 42L)
      val tok = graft.Caches.shared(docs(s, dir).select(
        explode(TextAnalysis.segTokens(col("text"))).as("tok")))
      val grid = tok.agg(
        graft.functions.CountMin.sketch(depth, width, seed)(col("tok"))
          .as("grid"),
        count(lit(1)).as("n_total"))
      val top = tok.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), asc("tok")).limit(20)
      val est = udf((g: Seq[Long], t: String) =>
        graft.functions.CountMin.estimate(g.toArray, depth, width, seed)(t))
      top.crossJoin(broadcast(grid))
        .select(col("tok"), col("exact_cnt"),
          (est(col("grid"), col("tok")) >= col("exact_cnt") &&
            est(col("grid"), col("tok")).cast("double") <=
              col("exact_cnt").cast("double") +
                col("n_total").cast("double") * (math.E / width))
            .as("within_bounds"))
        .orderBy(desc("exact_cnt"), asc("tok"))
    }, sql(
      s"""SELECT tok, COUNT(*) AS exact_cnt, TRUE AS within_bounds
        | FROM (SELECT unnest($segTokSql) AS tok
        |       FROM documents)
        | GROUP BY tok ORDER BY exact_cnt DESC, tok LIMIT 20"""
        .stripMargin.replaceAll("\n", ""))),

    // T32: vocabulary coverage — per-doc fraction of tokens inside the
    // corpus top-500 vocabulary: the tokenizer-coverage / OOV-rate
    // diagnostic run before committing to a vocab size (a doc scoring
    // low here will fragment into many unknown pieces). One cached
    // token explode feeds both the vocabulary build (a bounded top-k,
    // fused to TakeOrderedAndProject) and the per-doc rollup; the
    // 500-row vocab broadcasts back, so the corpus shuffles once, on
    // doc_id.
    QuerySpec("t32_vocab_coverage", (s, dir) => {
      TextAnalysis.vocabCoverage(
          docs(s, dir).select("doc_id", "text"), "doc_id", "text",
          vocabSize = 500)
        .orderBy("doc_id")
    }, sql(
      s"""WITH tok AS (SELECT doc_id, unnest($segTokSql) tok
        |  FROM documents),
        | vocab AS (SELECT tok, 1 AS in_vocab FROM
        |  (SELECT tok, COUNT(*) cnt FROM tok GROUP BY tok
        |   ORDER BY cnt DESC, tok LIMIT 500)),
        | j AS (SELECT doc_id, COALESCE(in_vocab, 0) AS iv
        |  FROM tok LEFT JOIN vocab USING (tok))
        | SELECT doc_id, COUNT(*) AS n_tokens,
        |  ROUND(AVG(iv), 6) AS coverage
        | FROM j GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", ""))),

    // T34: windowed co-occurrence PMI — the corpus statistic under
    // word-embedding / collocation pipelines: count unordered token
    // pairs within a ±2 window, then score pmi = ln(p(a,b)/(p(a)p(b))).
    // Scale shape: ONE pair explode feeds both the pair counts and the
    // pair total (shared via the session cache); unigram counts and
    // the two 1-row totals broadcast back onto the vocab²-bounded pair
    // table — the corpus shuffles once, on the pair key. The lift is a
    // fixed left-assoc chain of exact-int→double products, mirrored
    // term-for-term in the oracle; ln on both engines (the t11
    // precedent); top-50 fuses to TakeOrderedAndProject.
    QuerySpec("t34_pmi_pairs", (s, dir) => {
      val d = docsBalanced(s, dir)
      // unigram counts and n_tok come from the SAME script-aware
      // segmentation the pair window runs over (round 11): PMI
      // numerators and denominators share one tokenization, and
      // per-char CJK tokens join against real unigram counts instead
      // of silently dropping
      val tok = graft.Caches.shared(
        d.select(explode(TextAnalysis.segTokens(col("text"))).as("w")))
      // shared: BOTH broadcast lookup sides (c_a via w1, c_b via w2)
      // read this one materialized aggregation — without it the
      // unigram groupBy runs twice, once per join side (plan-pinned)
      val uni = graft.Caches.shared(
        tok.groupBy("w").agg(count(lit(1)).as("c")))
      val nTok = broadcast(tok.agg(count(lit(1)).as("n_tok")))
      val pairs = graft.Caches.shared(
        d.select(explode(
            TextAnalysis.cooccurrencePairs(col("text"), window = 2)).as("p"))
          .select(col("p.w1").as("w1"), col("p.w2").as("w2")))
      val nPair = broadcast(pairs.agg(count(lit(1)).as("n_pair")))
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 5)
        .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_a"))), "w1")
        .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_b"))), "w2")
        .crossJoin(nTok).crossJoin(nPair)
        .withColumn("pmi", round(log(
          (col("c_ab").cast("double") * col("n_tok") * col("n_tok")) /
            (col("n_pair").cast("double") * col("c_a") * col("c_b"))), 6))
        .select("w1", "w2", "c_ab", "pmi")
        .orderBy(desc("pmi"), asc("w1"), asc("w2"))
        .limit(50)
    }, sql(
      s"""WITH tk AS (SELECT $segTokSql tk FROM documents),
        | tok AS (SELECT unnest(tk) w FROM tk),
        | uni AS (SELECT w, COUNT(*) c FROM tok GROUP BY w),
        | tot AS (SELECT COUNT(*) n_tok FROM tok),
        | pr AS (SELECT unnest(flatten(list_transform(range(1, len(tk)),
        |   i -> list_transform(range(i + 1, least(i + 2, len(tk)) + 1),
        |     j -> [least(tk[i], tk[j]), greatest(tk[i], tk[j])])))) pair
        |  FROM tk),
        | pp AS (SELECT pair[1] w1, pair[2] w2 FROM pr),
        | pc AS (SELECT w1, w2, COUNT(*) c_ab FROM pp GROUP BY w1, w2),
        | pt AS (SELECT COUNT(*) n_pair FROM pp)
        | SELECT w1, w2, c_ab,
        |  ROUND(ln((CAST(c_ab AS DOUBLE) * n_tok * n_tok)
        |    / (CAST(n_pair AS DOUBLE) * ua.c * ub.c)), 6) AS pmi
        | FROM pc JOIN uni ua ON pc.w1 = ua.w
        |  JOIN uni ub ON pc.w2 = ub.w
        |  CROSS JOIN tot CROSS JOIN pt
        | WHERE c_ab >= 5
        | ORDER BY pmi DESC, w1, w2 LIMIT 50"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // T35: Gopher-style repetition quality filters (Rae et al. 2021,
    // table A1) — per document and per n ∈ {2, 3, 5}, the fraction of
    // characters inside (a) the most frequent word n-gram
    // (top_frac: cnt·chars(top)/chars(doc), the "top n-gram character
    // fraction" rule) and (b) ALL n-grams occurring ≥ 2 times
    // (dup_frac, the "duplicated n-gram character fraction" rule —
    // occurrences summed, the published implementations' overlap-
    // counting convention). t9 scores single-token repetition; this is
    // the n-gram family the actual Gopher/MassiveText filters use.
    // Scale shape: ZERO corpus shuffles — a per-document statistic
    // needs no exchange because every gram of a document lives in its
    // own row: sort the gram array and fold it once
    // (TextAnalysis.repetitionStats closes equal-gram runs as they
    // end), so the corpus never materializes an exploded gram table at
    // all (the groupBy-(doc, n, gram) formulation this replaced
    // shuffled ~150 gram rows per document; measured 1.4 → 0.6 s at
    // sf0.1 and the delta GROWS with corpus size). "Top" is argmax by
    // (count, chars) — a total order both engines reproduce (ties
    // beyond it can't change cnt·chars). Fractions rounded to 6
    // before hashing; docs with < n tokens yield no row for that n.
    // balanced: the gram fold is the heaviest per-row expression in
    // the text family; under the local one-file layout it would
    // otherwise run on a single core (no-op on multi-split scans).
    // t35: the n-gram construction mirrors the Spark expression
    // (1-indexed inclusive slices rejoined with single spaces); the
    // argmax-by-(count, chars) is reproduced as a windowed MAX(c)
    // followed by MAX(c·len) among the tied rows.
    QuerySpec("t35_gopher_repetition", (s, dir) => {
      Tables.balanced(docs(s, dir))
        .select(col("doc_id"), length(col("text")).as("l"),
          // the < n row-drop gate counts the SAME seg tokens the
          // grams are built from (round 11) — one tokenization,
          // both sides
          size(TextAnalysis.segTokens(col("text"))).as("ntok"),
          explode(array(Seq(2, 3, 5).map(n =>
            struct(lit(n.toLong).as("n"),
              TextAnalysis.repetitionStats(col("text"), n).as("st"))): _*))
            .as("e"))
        .filter(col("ntok") >= col("e.n"))
        .select(col("doc_id"), col("e.n").as("n"),
          round(col("e.st.topchars").cast("double") / col("l"), 6)
            .as("top_frac"),
          round(col("e.st.dupchars").cast("double") / col("l"), 6)
            .as("dup_frac"))
        .orderBy("doc_id", "n")
    }, sql(
      s"""WITH tk AS (SELECT doc_id, length(text) AS l,
        |   $segTokSql AS tk FROM documents),
        | g AS (SELECT doc_id, l, n, unnest(list_transform(
        |    range(1, len(tk) - n + 2),
        |    i -> array_to_string(tk[i : i + n - 1], ' '))) AS g
        |  FROM tk, UNNEST([2, 3, 5]) AS u(n) WHERE len(tk) >= n),
        | c AS (SELECT doc_id, l, n, g, COUNT(*) AS c FROM g
        |  GROUP BY doc_id, l, n, g),
        | m AS (SELECT *, MAX(c) OVER (PARTITION BY doc_id, n) AS mc FROM c),
        | top AS (SELECT doc_id, n, MAX(c * length(g)) AS top_chars FROM m
        |  WHERE c = mc GROUP BY doc_id, n),
        | dup AS (SELECT doc_id, l, n,
        |   COALESCE(SUM(CASE WHEN c >= 2 THEN c * length(g) END), 0)
        |    AS dup_chars
        |  FROM c GROUP BY doc_id, l, n)
        | SELECT d.doc_id, CAST(d.n AS BIGINT) AS n,
        |  ROUND(CAST(t.top_chars AS DOUBLE) / d.l, 6) AS top_frac,
        |  ROUND(CAST(d.dup_chars AS DOUBLE) / d.l, 6) AS dup_frac
        | FROM dup d JOIN top t ON d.doc_id = t.doc_id AND d.n = t.n
        | ORDER BY d.doc_id, n""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T36: Naive-Bayes language classifier — the classifier-filtering
    // component of LLM data pipelines (CCNet/GPT-3-style quality and
    // language gates are linear models over token counts; multinomial
    // NB is the one whose training is a SINGLE counting pass, the only
    // kind of model fitting that is shuffle-shaped rather than
    // iteration-shaped). Train on the doc_id%3==0 slice with gold
    // `lang` labels, Laplace-smoothed; score EVERY doc; emit the
    // confusion matrix vs gold. Contrast t24: that is a fixed
    // stopword-list heuristic, this LEARNS its evidence from the seed.
    // Determinism across engines: log-weights are quantized to
    // integer micro-nats (round(ln·1e6) as BIGINT) at model-build
    // time, so per-doc scores are exact INTEGER sums — argmax can't
    // flip on float summation order (argmax ties break by class
    // name via min(struct(-score, cls))). Residual risk, shared with
    // every ln-then-round oracle in the repo (t11/t34): the two
    // engines' libm ln can differ by 1 ulp, which flips a weight only
    // if ln·1e6 sits within ~1e-10 of an exact .5 boundary — and an
    // argmax only if two class scores then land within 1 micro-nat.
    // Scale shape: training is one explode + (cls, tok) count with
    // map-side combine (vocab-bounded result); the model and the
    // 5-row class-constant table broadcast; scoring explodes the
    // corpus ONCE map-side, probes the broadcast model, and partial-
    // aggregates to (doc, cls) rows before the single keyed shuffle.
    // t36: full NB replay — same %3 train slice, same Laplace
    // smoothing, same integer micro-nat quantization, so the per-doc
    // scores are exact integer sums in both engines and the argmax
    // (score DESC, class ASC) is bit-determined.
    // t36: tokens are the script-aware segmentation (SegPatternRe2 ≡
    // TextAnalysis.SegPattern) — unspaced-CJK docs train/score on
    // per-char features in both engines.
    QuerySpec("t36_nb_langid", (s, dir) => {
      // cache the TOKEN ARRAY, not the text (round 18 — the t44/t48
      // pattern): with text cached, segTokens ran twice (the %3 train
      // slice for the model AND every doc at scoring); the tk cache
      // tokenizes each doc exactly once. Same tokens, same counts.
      val d = graft.Caches.shared(Tables.balanced(docs(s, dir))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.segTokens(col("text")).as("tk")))
      val train = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      nbConfusion(d, nbTokCountsFromTk(train), nbDocCounts(train))
    }, sql(
      s"""WITH d AS (SELECT doc_id, lang, regexp_extract_all(text,
        |   '${TextAnalysis.SegPatternRe2}') AS tk
        |   FROM documents),
        | train AS (SELECT * FROM d WHERE doc_id % 3 = 0),
        | cnts AS (SELECT cls, tok, COUNT(*) AS c FROM (
        |   SELECT lang AS cls, unnest(tk) AS tok FROM train)
        |  GROUP BY cls, tok),
        | tots AS (SELECT cls, SUM(c) AS tot FROM cnts GROUP BY cls),
        | voc AS (SELECT COUNT(DISTINCT tok) AS v FROM cnts),
        | pri AS (SELECT lang AS cls, COUNT(*) AS nd FROM train
        |  GROUP BY lang),
        | ntr AS (SELECT COUNT(*) AS n FROM train),
        | cls AS (SELECT t.cls,
        |   CAST(ROUND(ln(CAST(p.nd AS DOUBLE) / ntr.n) * 1000000)
        |    AS BIGINT) AS prior6,
        |   CAST(ROUND(ln(1.0 / (t.tot + voc.v)) * 1000000)
        |    AS BIGINT) AS miss6,
        |   t.tot + voc.v AS den
        |  FROM tots t JOIN pri p ON t.cls = p.cls, voc, ntr),
        | model AS (SELECT c.cls, c.tok,
        |   CAST(ROUND(ln(CAST(c.c + 1 AS DOUBLE) / k.den) * 1000000)
        |    AS BIGINT) AS w6
        |  FROM cnts c JOIN cls k ON c.cls = k.cls),
        | doctok AS (SELECT doc_id, lang, unnest(tk) AS tok FROM d),
        | sc AS (SELECT dt.doc_id, dt.lang, k.cls,
        |   SUM(COALESCE(m.w6, k.miss6)) + MIN(k.prior6) AS score
        |  FROM doctok dt CROSS JOIN cls k
        |   LEFT JOIN model m ON m.cls = k.cls AND m.tok = dt.tok
        |  GROUP BY dt.doc_id, dt.lang, k.cls),
        | pred AS (SELECT doc_id, lang, cls,
        |   ROW_NUMBER() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, cls) AS rn FROM sc)
        | SELECT lang, cls AS predicted, COUNT(*) AS cnt
        | FROM pred WHERE rn = 1
        | GROUP BY lang, cls ORDER BY lang, predicted"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // T37: REAL iterative BPE training — k rounds of "count adjacent
    // piece pairs, merge the argmax" (Sennrich et al. 2016), the loop
    // t31 unrolls only the first step of. The industrial shape: the
    // corpus pays ONE word-count pass; every training round then runs
    // over the VOCAB (word, count) table — segmentation is the pure
    // per-row expression TextAnalysis.bpeSegment with the merges
    // learned so far as broadcast literals, pair counts are weighted
    // by word frequency with map-side combine, and the argmax is a
    // TakeOrdered(1). k driver-side argmax collects of ONE ROW each
    // are the loop-carried state — the d11 k-means training
    // precedent, not a driver bottleneck. Output is the learned merge
    // table (rank, l, r, pair_count); the oracle re-derives each
    // round's argmax from scratch in SQL given the CLAIMED previous
    // merges inlined (the v21 trained-constants pattern), so a wrong
    // merge at any rank breaks the hash.
    // Not in the bench headline, for d16's reason: 6 training rounds over
    // a few-hundred-word vocab is pure fixed stage latency at local SFs
    // (t38, which IS headlined, loads the same build-once model sidecar
    // and times the corpus-scale encode — only the first trial after a
    // testdata regeneration pays training, the d11-codebook convention).
    // Hash-checked at 3 SFs.
    QuerySpec("t37_bpe_train", (s, dir) => {
      val merges = bpeModelFor(s, dir)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((l, r, c), i) => (i + 1L, l, r, c) }
        .toDF("rank", "l", "r", "pair_count")
        .orderBy("rank")
    }, t37OracleSql),

    // T38: corpus BPE ENCODE under the t37-trained tokenizer — the
    // real per-document token counter (t15/t26's regex pieces are the
    // proxy; token budgets, packing and billing all want THIS number).
    // Scale shape: the model comes from the build-once sidecar
    // (bpeModelFor — first run per corpus trains, the steady state
    // loads; t37/t38 therefore share one identical model); application
    // segments only the VOCAB (word → piece count, a bounded table
    // that BROADCASTS), and the corpus pays one token explode probed
    // against it map-side, partial-aggregated to one row per doc
    // before the single doc_id shuffle. The corpus never runs the
    // merge folds itself — per-word work is done once per DISTINCT
    // word, the original-BPE word-count trick applied to inference.
    QuerySpec("t38_bpe_encode", (s, dir) => {
      val merges = bpeModelFor(s, dir)
      val pieces = bpeWordCounts(s, dir).select(col("w"),
        size(TextAnalysis.bpeSegment(col("w"),
          merges.map(m => (m._1, m._2)))).cast("long").as("np"))
      Tables.balanced(docs(s, dir))
        .select(col("doc_id"),
          explode(TextAnalysis.segTokens(lower(col("text")))).as("w"))
        .join(broadcast(pieces), "w")
        .groupBy("doc_id")
        .agg(sum("np").as("bpe_tokens"), count(lit(1)).as("n_words"))
        .orderBy("doc_id")
    }, t38OracleSql, headline = true),

    // T39: Unicode script composition per document — the multilingual
    // routing primitive (which tokenizer/quality model applies, which
    // corpus bucket a page lands in). Per-script char counts via
    // Unicode script classes (Java \p{IsX} ≡ RE2 \p{X} — verified
    // char-for-char on mixed-script fixtures), dominant script by
    // (count, name) struct-max with deterministic ties. Pure per-row
    // map work inside the scan — a corpus of any size pays zero
    // shuffles for what is a row-local statistic.
    // t39: RE2 spells the script classes \p{X} where Java spells them
    // \p{IsX} — same Unicode Script property the single-pass
    // ScriptCounts kernel reads via Character.UnicodeScript (verified
    // char-for-char). The oracle keeps the one-regex-per-script replay
    // (correctness reference, not the production kernel); the
    // dominant-script CASE chain tests names in DESCENDING order so
    // equal counts resolve to the lexicographically LARGER name —
    // exactly Spark's (count, name) struct-max tie-break.
    // Not in the bench headline: five regex passes over the same scan
    // shape t40 times (map-only, zero shuffles) — no plan family the
    // headline doesn't already measure; oracle-checked at 3 SFs + the
    // Unicode fixture.
    QuerySpec("t39_script_mix", (s, dir) => {
      // round 9: ONE code-point scan emits all nine script counts +
      // digits (ScriptCounts, codegen'd) — the round-8 shape paid six
      // full regexp traversals per row for four scripts. Dominant
      // script stays the (count, name) struct-max: ties break to the
      // lexicographically LARGER script name (explicit rule, replayed
      // as a name-descending CASE chain in the oracle).
      val fields = graft.functions.ScriptCountsKernel.FieldNames
      val scriptFields = fields.dropRight(1) // all but n_digit
      val d0 = docs(s, dir).select(col("doc_id"),
        graft.functions.ScriptCounts(col("text")).as("sc"))
      d0.select(
          col("doc_id") +:
            fields.map(f => col(s"sc.$f").as(f)) :+
            when(greatest(scriptFields.map(f => col(s"sc.$f")): _*) === 0,
                lit("none"))
              .otherwise(array_max(array(scriptFields.map(f =>
                struct(col(s"sc.$f").as("c"),
                  lit(f.stripPrefix("n_")).as("s"))): _*)).getField("s"))
              .as("dominant"): _*)
        .orderBy("doc_id")
    }, sql({
      val k = graft.functions.ScriptCountsKernel
      val cnts = k.Re2Names.zip(k.FieldNames).map { case (re2, f) =>
        s"length(regexp_replace(text, '[^\\p{$re2}]', '', 'g')) AS $f"
      } :+ "length(regexp_replace(text, '[^\\p{N}]', '', 'g')) AS n_digit"
      val casts = k.FieldNames.map(f => s"CAST($f AS BIGINT) AS $f")
      val namesDesc = k.FieldNames.dropRight(1)
        .map(_.stripPrefix("n_")).sorted.reverse
      val whens = namesDesc
        .map(n => s"WHEN n_$n = mx THEN '$n'").mkString(" ")
      s"""WITH c AS (SELECT doc_id, ${cnts.mkString(", ")}
         | FROM documents),
         | g AS (SELECT *, greatest(${k.FieldNames.dropRight(1)
               .mkString(", ")}) AS mx FROM c)
         | SELECT doc_id, ${casts.mkString(", ")},
         |  CASE WHEN mx = 0 THEN 'none' $whens END AS dominant
         | FROM g ORDER BY doc_id""".stripMargin.replaceAll("\n", "")
    })),

    // T40: NFC-canonical fingerprinting — dedup identity that survives
    // Unicode composition differences ("café" precomposed vs
    // e + combining acute are byte-different, duplicate documents).
    // The normalize is a native codegen'd expression
    // (functions.NfcNormalize, java.text.Normalizer) with an
    // already-normalized fast path, so the common ASCII corpus pays
    // one quick-check scan per row; DuckDB's nfc_normalize computes
    // the identical Unicode mapping, making the oracle portable.
    // Row-local map work — zero shuffles.
    // t40: DuckDB's nfc_normalize computes the same Unicode canonical
    // composition as java.text.Normalizer NFC.
    QuerySpec("t40_nfc_fingerprint", (s, dir) => {
      val norm = graft.functions.NfcNormalize(col("text"))
      docs(s, dir).select(
          col("doc_id"),
          (col("text") =!= norm).as("changed"),
          md5(trim(regexp_replace(lower(norm), TextAnalysis.PortableWs, " ")))
            .as("fp_nfc"))
        .orderBy("doc_id")
    }, sql(
      """SELECT doc_id,
        | text != nfc_normalize(text) AS changed,
        | md5(trim(regexp_replace(lower(nfc_normalize(text)),
        |   '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp_nfc
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T42: NFKC-compatibility + casefold canonical fingerprint — t40's
    // PRODUCTION sibling: web dedup needs identity across
    // compatibility variants (ﬁle vs file, full-width Ａｂｃ vs abc,
    // ㎏ vs kg) and case (É vs é), not just composition form. The
    // canonical key is NFC∘simpleFold∘NFKD (functions.NfkcCasefold, a
    // native codegen'd expression with an ASCII fast path — zero
    // Normalizer calls on the common corpus row). DuckDB has no NFKC
    // function, so the oracle is built at DUMP TIME (the v21
    // inlined-constants pattern): the corpus's code-point ALPHABET is
    // collected (bounded — an alphabet, not a corpus), each
    // non-identity code point's fold image is inlined as a chained
    // replace, and DuckDB recomposes with its own nfc_normalize and
    // recomputes the whitespace-collapse + md5 + changed flag
    // independently. Row-local map work — zero shuffles.
    QuerySpec("t42_canonical_key", (s, dir) => {
      val canon = graft.functions.NfkcCasefold(col("text"))
      docs(s, dir).select(
          col("doc_id"),
          (col("text") =!= canon).as("changed"),
          md5(trim(regexp_replace(canon, TextAnalysis.PortableWs, " ")))
            .as("fp_cfc"))
        .orderBy("doc_id")
    }, t42OracleSql, headline = true),

    // T41: Zipf's-law fit over the token frequency spectrum — the
    // corpus-health diagnostic (natural text slopes ≈ −1; templateized
    // or spammy corpora flatten/steepen). Least squares over
    // (ln rank, ln count) of the top-1000 tokens with the t36
    // integer-quantization discipline: both logs are rounded to
    // integer 1e-4-nats BEFORE summation, so every moment sum and
    // cross product stays EXACT in 64-bit integers (n·Σxy ≤
    // 1000·1000·7e4·3.5e5 ≈ 2.5e16 ≪ 2^63, with ln(count) bounded by
    // any physical corpus), and the final casts convert the SAME
    // int64 on both engines — IEEE nearest-even is deterministic, so
    // identical integers give identical doubles even above 2^53,
    // hence identical slope/intercept; float summation order can't
    // flip the fit. (1e6 quantization would overflow n·Σxy past 2^63
    // on Spark while DuckDB's HUGEINT sums stayed exact — a
    // portability trap, not just a wrongness one.) Scale shape: counts are one map-side-combined agg fused to
    // TakeOrdered(1000); the fit itself runs on ≤1000 BOUNDED rows
    // (rank window + one agg), corpus-size-independent.
    // t41: every moment is an exact 64-bit integer (1e-4-nat
    // quantized logs), and casting the same integer to DOUBLE is
    // deterministic in both engines, so the fit agrees bit-for-bit.
    // Not in the bench headline: t31's count-agg shape plus a 1000-row
    // bounded fit — no plan family the headline doesn't already measure;
    // oracle-checked at 3 SFs + the Unicode fixture.
    QuerySpec("t41_zipf_fit", (s, dir) => {
      val top = docs(s, dir)
        .select(explode(TextAnalysis.segTokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("tok"))
        .limit(1000)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("cnt"), asc("tok"))
      val pts = top
        .withColumn("rk", row_number().over(w))
        .select(
          round(log(col("rk").cast("double")) * 1e4).cast("long").as("x"),
          round(log(col("cnt").cast("double")) * 1e4).cast("long").as("y"))
      pts.agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("n"),
          // nullif guard: a degenerate corpus (one distinct token →
          // n = 1, all x equal) zeroes the denominator; double ÷ 0 is
          // NaN/Inf in Spark but an error-or-NULL in DuckDB, so the
          // engines would diverge exactly where the comparison should
          // fail loudly. NULL slope/intercept, identically on both
          // sides, is the portable "no fit" answer.
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            nullif((col("n") * col("sxx") - col("sx") * col("sx")), lit(0))
              .cast("double"),
            6).as("slope"),
          // intercept back in nats: (Σy − m·Σx)/n is 1e-4-nats ÷ 1e4
          round((col("sy").cast("double") -
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              nullif((col("n") * col("sxx") - col("sx") * col("sx")), lit(0))
                .cast("double") *
              col("sx").cast("double")) /
            col("n").cast("double") / 1e4, 6).as("intercept_ln"))
    }, sql(
      s"""WITH tc AS (SELECT tok, COUNT(*) AS cnt FROM (
        |   SELECT unnest(regexp_extract_all(text,
        |     '${TextAnalysis.SegPatternRe2}')) AS tok FROM documents)
        |  GROUP BY tok ORDER BY cnt DESC, tok LIMIT 1000),
        | pts AS (SELECT
        |  CAST(round(ln(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok)) * 1e4)
        |    AS BIGINT) AS x,
        |  CAST(round(ln(cnt) * 1e4) AS BIGINT) AS y FROM tc),
        | m AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |  SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM pts)
        | SELECT CAST(n AS BIGINT) AS n,
        |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE), 6) AS slope,
        |  ROUND((CAST(sy AS DOUBLE)
        |    - CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(NULLIF(n * sxx - sx * sx, 0) AS DOUBLE)
        |      * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) / 1e4, 6) AS intercept_ln
        | FROM m""".stripMargin.replaceAll("\n", ""))),

    // T11: tf-idf top terms per document — the IR feature-extraction
    // shape: two keyed aggs (term frequency, doc frequency), a hash
    // join, a 1-row broadcast for N, rank window for top-3. Natural
    // log on both engines; scores rounded before ranking.
    QuerySpec("t11_tfidf_top_terms", (s, dir) => {
      val d = docs(s, dir)
      val n = broadcast(d.agg(count(lit(1)).as("n")))
      val tf = graft.Caches.shared(d.select(col("doc_id"),
          explode(TextAnalysis.segTokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(desc("score"), asc("tok"))
      tf.join(dfreq, "tok").crossJoin(n)
        .withColumn("score",
          round(col("tf") * log(col("n").cast("double") / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("tok"), col("score"))
        .orderBy(asc("doc_id"), desc("score"), asc("tok"))
    }, sql(
      s"""WITH tok AS (SELECT doc_id, unnest($segTokSql) tok
        |  FROM documents),
        | tf AS (SELECT doc_id, tok, COUNT(*) tf FROM tok GROUP BY doc_id, tok),
        | df AS (SELECT tok, COUNT(*) df FROM tf GROUP BY tok),
        | n AS (SELECT COUNT(*) n FROM documents)
        | SELECT doc_id, tok,
        |  ROUND(tf * ln(CAST(n AS DOUBLE) / df), 6) AS score
        | FROM tf JOIN df USING (tok), n
        | QUALIFY row_number() OVER (PARTITION BY doc_id
        |   ORDER BY score DESC, tok) <= 3
        | ORDER BY doc_id, score DESC, tok""".stripMargin.replaceAll("\n", ""))),

    // T28: sparse tf-idf similarity join — document pairs by cosine
    // over PRUNED tf-idf vectors (df ≤ 100 drops ubiquitous terms),
    // computed through the inverted index: explode (doc, term, w),
    // equi-join on the term, per-pair dot from the posting lists. The
    // sparse complement of the dense-embedding near-dup (d5): shuffle
    // width = Σ posting-list² over shared terms, bounded by the df cap
    // (the standard vocabulary-pruning move that also kills term
    // skew), never |docs|². Bounded input like d2 (doc_id < 1000).
    QuerySpec("t28_tfidf_neardup", (s, dir) => {
      Dedup.tfidfSimilarityPairs(
          docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
          threshold = 0.5, maxDf = 100L)
        .orderBy("a_id", "b_id")
    }, sql(
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id < 1000),
        | tok AS (SELECT doc_id, unnest($segTokSql) tok FROM d),
        | tf AS (SELECT doc_id, tok, COUNT(*) tf FROM tok GROUP BY 1, 2),
        | df AS (SELECT tok, COUNT(*) df FROM tf GROUP BY 1),
        | n AS (SELECT COUNT(*) n FROM d),
        | w AS (SELECT doc_id, tok, tf * ln(CAST(n AS DOUBLE) / df) AS w
        |   FROM tf JOIN df USING (tok), n WHERE df <= 100),
        | nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY 1),
        | dots AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |   SUM(a.w * b.w) AS dot
        |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        | SELECT a_id, b_id, cosine FROM (
        |  SELECT a_id, b_id, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM dots JOIN nrm na ON dots.a_id = na.doc_id
        |   JOIN nrm nb ON dots.b_id = nb.doc_id)
        | WHERE cosine >= 0.5 ORDER BY a_id, b_id"""
        .stripMargin.replaceAll("\n", ""))),

    // T12: unigram surprise (perplexity-style quality signal): mean
    // −ln p(token) under the corpus unigram distribution. The exploded
    // token projection feeds tf, the total and the final join — one
    // persisted pass.
    QuerySpec("t12_unigram_surprise", (s, dir) => {
      val tok = graft.Caches.shared(docs(s, dir).select(col("doc_id"),
          explode(TextAnalysis.segTokens(col("text"))).as("tok")))
      val cnt = tok.groupBy("tok").agg(count(lit(1)).as("c"))
      val tot = broadcast(cnt.agg(sum("c").cast("double").as("tot")))
      tok.join(cnt, "tok").crossJoin(tot)
        .groupBy("doc_id")
        .agg(round(avg(-log(col("c").cast("double") / col("tot"))), 6)
          .as("surprise"))
        .orderBy("doc_id")
    }, sql(
      s"""WITH tok AS (SELECT doc_id, unnest($segTokSql) tok
        |  FROM documents),
        | c AS (SELECT tok, COUNT(*) c FROM tok GROUP BY tok),
        | t AS (SELECT CAST(SUM(c) AS DOUBLE) tot FROM c)
        | SELECT doc_id, ROUND(AVG(-ln(c / tot)), 6) AS surprise
        | FROM tok JOIN c USING (tok), t
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T16: bigram-LM cross-entropy — mean −ln p(w_i | w_{i-1}) under
    // corpus counts (add-one-free MLE; the document's first token has
    // no history and is excluded). Extends t12's unigram surprise to a
    // conditional model: two keyed aggs (bigram and history counts),
    // a broadcast-eligible join on the history key, one final per-doc
    // agg — the n-gram-LM scoring shape at corpus scale.
    QuerySpec("t16_bigram_surprise", (s, dir) => {
      val bi = graft.Caches.shared(docs(s, dir)
        .filter(size(TextAnalysis.segTokens(col("text"))) >= 2)
        .select(col("doc_id"),
          explode(TextAnalysis.ngramsSeg(col("text"), 2)).as("bg")))
      val bgCnt = bi.groupBy("bg").agg(count(lit(1)).as("c_bg"))
      val hist = bgCnt
        .groupBy(substring_index(col("bg"), " ", 1).as("h"))
        .agg(sum("c_bg").as("c_h"))
      bi.join(bgCnt, "bg")
        .join(hist, substring_index(col("bg"), " ", 1) === col("h"))
        .groupBy("doc_id")
        .agg(round(avg(-log(col("c_bg").cast("double") / col("c_h"))), 6)
          .as("surprise"))
        .orderBy("doc_id")
    }, sql(
      s"""WITH tk AS (SELECT doc_id, $segTokSql tk FROM documents
        |   WHERE len($segTokSql) >= 2),
        | bi AS (SELECT doc_id, tk[i] || ' ' || tk[i+1] AS bg, tk[i] AS h
        |   FROM tk, UNNEST(range(1, len(tk))) u(i)),
        | cb AS (SELECT bg, COUNT(*) c_bg FROM bi GROUP BY bg),
        | ch AS (SELECT h, COUNT(*) c_h FROM bi GROUP BY h)
        | SELECT doc_id, ROUND(AVG(-ln(c_bg / CAST(c_h AS DOUBLE))), 6)
        |   AS surprise
        | FROM bi JOIN cb USING (bg) JOIN ch USING (h)
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // P1: the composed training-data prep pipeline — quality+length
    // filter → exact near-dup collapse by canonical fingerprint
    // (min-id representative) → deterministic hash split → per-split
    // corpus stats. One declared query exercising the full chain the
    // engine exists for; every stage is the scale shape (map filters,
    // one agg per stage, no windows over the whole corpus).
    QuerySpec("p1_training_prep", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      d.filter(col("quality") >= 0.35 && col("n_tokens").between(20, 2000))
        .groupBy("fp")
        .agg(min("doc_id").as("doc_id"),
          min_by(col("n_tokens"), col("doc_id")).as("n_tokens"))
        .select(Sampling.splitLabel(col("doc_id"), 13).as("split"),
          col("n_tokens"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("split")
    }, sql({
      val stops = TextAnalysis.EnglishStopwords
        .map(s => s"'$s'").mkString("[", ",", "]")
      s"""WITH m AS (SELECT doc_id, text,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> list_contains($stops, t))) AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS ttr
         |  FROM documents),
         | q AS (SELECT doc_id, text, n_tokens,
         |  ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + ttr +
         |    LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 4.0, 1.0)) / 3.0, 6)
         |    AS quality FROM m),
         | f AS (SELECT doc_id, n_tokens,
         |  md5(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp
         |  FROM q WHERE quality >= 0.35 AND n_tokens BETWEEN 20 AND 2000),
         | dd AS (SELECT MIN(doc_id) AS doc_id, arg_min(n_tokens, doc_id) AS n_tokens
         |  FROM f GROUP BY fp),
         | sp AS (SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
         |  < 'd' THEN 'train' ELSE 'test' END AS split, n_tokens FROM dd)
         | SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT)
         |  AS sum_tokens FROM sp GROUP BY split ORDER BY split"""
        .stripMargin.replaceAll("\n", "")
    }), headline = true),

    // T18: quality deciles — every doc binned into exact corpus-wide
    // score deciles (docs with equal scores share a decile). The naive
    // form is ntile(10) OVER (ORDER BY q) — a single-partition sort of
    // the corpus. This is the scale shape instead: aggregate to the
    // per-score histogram (q is ROUNDED to 6dp, so the value domain is
    // capped at ~10⁶ rows no matter the corpus size), prefix-sum that
    // bounded histogram, and derive each score's decile from its
    // cumulative rank — corpus rows are touched only by the one keyed
    // groupBy.
    QuerySpec("t18_quality_deciles", (s, dir) => {
      val q = docs(s, dir)
        .select(TextAnalysis.qualityScore(col("text")).as("q"))
      val hist = q.groupBy("q").agg(count(lit(1)).as("c"))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy("q")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val n = broadcast(q.agg(count(lit(1)).as("n")))
      hist.withColumn("before", sum("c").over(wCum) - col("c"))
        .crossJoin(n)
        .withColumn("decile", floor(col("before") * 10 / col("n")) + 1)
        .groupBy("decile")
        .agg(sum("c").as("n_docs"), min("q").as("min_q"), max("q").as("max_q"))
        .orderBy("decile")
    }, sql({
      val stops = TextAnalysis.EnglishStopwords
        .map(s => s"'$s'").mkString("[", ",", "]")
      s"""WITH m AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> list_contains($stops, t))) AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS ttr
         |  FROM documents),
         | q AS (SELECT ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + ttr +
         |    LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 4.0, 1.0)) / 3.0, 6)
         |    AS q FROM m),
         | c AS (SELECT q, COUNT(*) AS c FROM q GROUP BY q),
         | cc AS (SELECT q, c, CAST(SUM(c) OVER (ORDER BY q
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS BIGINT)
         |    AS bf FROM c),
         | n AS (SELECT COUNT(*) AS n FROM q)
         | SELECT (bf * 10) // n + 1 AS decile, CAST(SUM(c) AS BIGINT) AS n_docs,
         |  MIN(q) AS min_q, MAX(q) AS max_q
         | FROM cc, n GROUP BY decile ORDER BY decile"""
        .stripMargin.replaceAll("\n", "")
    }), headline = true),

    // P2: sequence packing — documents laid end-to-end in doc_id
    // order, each assigned the 512-token context window its first
    // token lands in; per-pack audit (docs, tokens, id range, window
    // straddles). The Spark side is the two-phase distributed prefix
    // sum (operators.Packing) — per-partition local prefixes plus one
    // tiny per-partition-base window — never the single-partition
    // `SUM OVER (ORDER BY id)` the oracle below is allowed to use.
    QuerySpec("p2_sequence_packing", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Packing.packSummary(d, "doc_id", "n_tokens", ctxSize = 512)
        .orderBy("pack_id")
    }, sql(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        | c AS (SELECT doc_id, n, CAST(SUM(n) OVER (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS st FROM t)
        | SELECT st // 512 AS pack_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |  CAST(SUM(CASE WHEN n > 0 AND (st + n - 1) // 512 > st // 512
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_split
        | FROM c GROUP BY pack_id ORDER BY pack_id"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // P3: the materialized packing plan — one row per (doc, window)
    // segment with the token count landing in that window; documents
    // split at 512-token boundaries. What the training-example writer
    // executes after p2's audit; segments of every non-final window
    // sum to exactly 512 (pinned in spec).
    QuerySpec("p3_pack_segments", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Packing.packSegments(d, "doc_id", "n_tokens", ctxSize = 512)
        .select("doc_id", "pack_id", "seg_tokens")
        .orderBy("doc_id", "pack_id")
    }, sql(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        | c AS (SELECT doc_id, n, CAST(SUM(n) OVER (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS st FROM t),
        | sp AS (SELECT doc_id, n, st, st // 512 AS p0,
        |   (st + n - 1) // 512 - st // 512 + 1 AS spans FROM c WHERE n > 0)
        | SELECT doc_id, p0 + u.i AS pack_id,
        |  LEAST(st + n, (p0 + u.i + 1) * 512)
        |   - GREATEST(st, (p0 + u.i) * 512) AS seg_tokens
        | FROM sp, UNNEST(range(0, spans)) AS u(i)
        | ORDER BY doc_id, pack_id""".stripMargin.replaceAll("\n", ""))),

    // T19: leakage-safe grouped split — train/test assignment hashed
    // on the GROUP key (registrable domain, as planted in u1/u2), not
    // the row key, so near-duplicate pages from one site can never
    // straddle the split boundary (the contamination mode row-level
    // splits are blind to). Same pure-hash reproducibility contract as
    // t7.
    QuerySpec("t19_grouped_split", (s, dir) => {
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val domain = concat(lit("site"), pmod(col("doc_id"), lit(20)),
        lit("."), tld)
      docs(s, dir).select(col("doc_id"), domain.as("domain"))
        .withColumn("split", Sampling.splitLabel(col("domain"), 13))
        .orderBy("doc_id")
    }, sql(
      """WITH d AS (SELECT doc_id,
        |  'site' || CAST(doc_id % 20 AS VARCHAR) || '.' ||
        |  (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
        |  AS domain FROM documents)
        | SELECT doc_id, domain, CASE WHEN substring(md5(domain), 1, 1) < 'd'
        |  THEN 'train' ELSE 'test' END AS split
        | FROM d ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T20: per-source quality z-score — how a doc's quality sits
    // within ITS OWN source's distribution (corpus-wide thresholds
    // over-prune clean sources and under-prune noisy ones). Two-level
    // shape: one keyed agg for per-source moments, broadcast join
    // back, map-stage normalize.
    QuerySpec("t20_quality_zscore", (s, dir) => {
      val q = docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text")).as("q"))
      val m = q.groupBy("source").agg(
        avg("q").as("mu"), stddev_samp(col("q")).as("sd"))
      q.join(broadcast(m), "source")
        .select(col("doc_id"),
          when(col("sd") > 0, round((col("q") - col("mu")) / col("sd"), 4))
            .as("z"))
        .orderBy("doc_id")
    }, sql({
      val stops = TextAnalysis.EnglishStopwords
        .map(s => s"'$s'").mkString("[", ",", "]")
      s"""WITH m AS (SELECT doc_id, source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    t -> list_contains($stops, t))) AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS ttr
         |  FROM documents),
         | q AS (SELECT doc_id, source,
         |  ROUND((LEAST(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) + ttr +
         |    LEAST(CAST(n_stop AS DOUBLE) / n_tokens * 4.0, 1.0)) / 3.0, 6)
         |    AS q FROM m),
         | s AS (SELECT source, AVG(q) AS mu, STDDEV_SAMP(q) AS sd
         |  FROM q GROUP BY source)
         | SELECT doc_id, CASE WHEN sd > 0 THEN ROUND((q - mu) / sd, 4) END AS z
         | FROM q JOIN s USING (source) ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", "")
    })),

    // T15: BPE-ish token accounting — pieces from the regex
    // pre-tokenizer vs whitespace tokens, the budget signal an LLM
    // pipeline reports per document. Pure map stage (regex in the scan
    // projection), no shuffle before the final order.
    // t15: the pre-tokenizer pattern is TextAnalysis.BpePattern in its
    // RE2 spelling — one definition, two engines.
    QuerySpec("t15_bpe_tokens", (s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        size(TextAnalysis.bpePieces(col("text"))).cast("long").as("n_pieces"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .withColumn("pieces_per_token",
          round(col("n_pieces").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    }, sql(
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text,
         |   '${TextAnalysis.BpePatternRe2}')) AS BIGINT) AS n_pieces,
         | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         | ROUND(CAST(len(regexp_extract_all(text,
         |   '${TextAnalysis.BpePatternRe2}')) AS DOUBLE)
         |  / len(string_split(text, ' ')), 6) AS pieces_per_token
         | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // D8: cross-document repeated passages — chunk every doc into
    // fixed token windows, fingerprint each chunk, keep fingerprints
    // seen in ≥2 distinct docs. The passage-level face of exact dedup
    // (the "same boilerplate paragraph in thousands of pages" case):
    // explode + two keyed aggs, never a pairwise comparison — at
    // 100 TB this is one shuffle of (fp, doc_id) pairs after map-side
    // distinct, linear in corpus size.
    QuerySpec("d8_repeated_passages", (s, dir) => {
      Dedup.repeatedPassages(docs(s, dir), "doc_id", "text", maxTokens = 16)
        .orderBy("fp")
    }, sql(
      s"""WITH toks AS (SELECT doc_id, $segTokSql tk FROM documents),
        | ch AS (SELECT doc_id,
        |  md5(array_to_string(tk[(i-1)*16+1 : (i-1)*16+16], ' ')) AS fp
        |  FROM toks, UNNEST(range(1, CAST(CEIL(len(tk)/16.0) AS BIGINT) + 1)) AS u(i)),
        | d AS (SELECT DISTINCT doc_id, fp FROM ch)
        | SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        | FROM d GROUP BY fp HAVING COUNT(*) >= 2 ORDER BY fp"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // D17: winnowing fingerprints (Schleimer et al. 2003, the MOSS
    // algorithm) — cross-document shared passages at ANY offset, the
    // stride-1 generalization of d8's 16-aligned chunks: hash every
    // 8-token gram, keep each 4-window's min hash. Guarantee: a shared
    // run of ≥ 11 tokens always yields a shared fingerprint, at ~2/5
    // the stored density of all-grams. Per-doc map work; one
    // fingerprint-keyed shuffle for the match aggregation.
    // d17: same two nested bounded HOFs in list algebra; DuckDB slices
    // are inclusive (tk[i : i+7] = 8 grams, g[j : j+3] = 4 hashes) and
    // clamp at the list end exactly like Spark's slice(start, len).
    // Gram hash = int64 md5 slice (md5LongSql ≡ Dedup.md5Long).
    QuerySpec("d17_winnowing", (s, dir) => {
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text", k = 8, w = 4)
        .groupBy("fp")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy("fp")
    }, sql(
      s"""WITH toks AS (SELECT doc_id, regexp_extract_all(text,
        |   '${TextAnalysis.SegPatternRe2}') tk FROM documents),
        | gs AS (SELECT doc_id, list_transform(
        |   range(1, greatest(len(tk) - 7, 1) + 1),
        |   i -> ${md5LongSql("array_to_string(tk[i : i + 7], ' ')")}) AS g
        |   FROM toks),
        | fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(g) - 3, 1) + 1),
        |   j -> list_min(g[j : j + 3])))) AS fp FROM gs)
        | SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
        | FROM fp GROUP BY fp HAVING COUNT(*) >= 2 ORDER BY fp"""
        .stripMargin.replaceAll("\n", ""))),

    // D18: shared-passage PAIR decisions — the MOSS output d17's
    // fingerprints exist for: per doc pair, how many winnowing
    // fingerprints are shared and what fraction of the smaller doc's
    // fingerprint set that covers (containment). Singleton and
    // >64-doc boilerplate fps are pruned BEFORE the fp self-join
    // (the maxDf move), so the pair fanout is bounded per key; one
    // fp-keyed exchange + one pair-keyed agg, int64 fp keys (4×
    // narrower than round-8's md5-hex strings).
    // d18: the pair decision winnowing feeds — shared-fp counts +
    // containment per doc pair; singleton/boilerplate fps pruned
    // before the self-join exactly as the engine does.
    QuerySpec("d18_shared_passages", (s, dir) => {
      Dedup.sharedPassagePairs(docsBalanced(s, dir), "doc_id", "text",
          k = 8, w = 4, minShared = 2L, maxDocsPerFp = 64L)
        .orderBy("a_id", "b_id")
    }, sql(
      s"""WITH toks AS (SELECT doc_id, regexp_extract_all(text,
        |   '${TextAnalysis.SegPatternRe2}') tk FROM documents),
        | gs AS (SELECT doc_id, list_transform(
        |   range(1, greatest(len(tk) - 7, 1) + 1),
        |   i -> ${md5LongSql("array_to_string(tk[i : i + 7], ' ')")}) AS g
        |   FROM toks),
        | fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(g) - 3, 1) + 1),
        |   j -> list_min(g[j : j + 3])))) AS fp FROM gs),
        | nfp AS (SELECT doc_id, COUNT(*) AS nfp FROM fp GROUP BY doc_id),
        | keep AS (SELECT fp FROM fp GROUP BY fp
        |   HAVING COUNT(*) BETWEEN 2 AND 64),
        | pr AS (SELECT f.doc_id, f.fp FROM fp f JOIN keep USING (fp)),
        | pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |   COUNT(*) AS shared_fps
        |   FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |   GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        | SELECT a_id, b_id, shared_fps,
        |   ROUND(CAST(shared_fps AS DOUBLE) / least(na.nfp, nb.nfp), 6)
        |     AS containment
        | FROM pairs JOIN nfp na ON na.doc_id = a_id
        |   JOIN nfp nb ON nb.doc_id = b_id
        | ORDER BY a_id, b_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // D19: boilerplate-paragraph removal (CCNet-family paragraph-hash
    // cleanup, Wenzek et al. 2020) — paragraphs whose hash appears in
    // MORE than 32 distinct docs are dropped from EVERY doc (nav
    // bars/cookie banners repeat across a site; no occurrence is
    // content), docs rebuilt from survivors in order. Frequency
    // semantics, unlike d15's keep-first. The synthetic corpus has no
    // paragraph structure, so it is PLANTED deterministically (the t8
    // PII precedent): 10-word paragraphs plus one boilerplate
    // paragraph appended to every doc — which the op must then strip
    // from all of them. Scale shape: int64 paragraph hashes, one
    // (h, doc)-distinct + h-keyed count, threshold-bounded boilerplate
    // set broadcast back, one doc-keyed ordered rebuild.
    // d19: the planted paragraph structure (10-word chunks + the
    // boilerplate tail) is replayed arithmetically; paragraph hashes
    // are md5LongSql ≡ Dedup.md5Long; chr(10) joins avoid literal
    // newlines in the SQL string.
    // d19: paragraphs derive from RE-SPLITTING the joined planted
    // text (spl), never from the pre-join chunk array — a source
    // chunk may itself contain \n (the fixture's CRLF class), which
    // the engine's paraView split sees but the raw array would hide.
    QuerySpec("d19_boilerplate_removal", (s, dir) => {
      val withParas = docs(s, dir).select(col("doc_id"),
        concat(
          array_join(Chunker.chunksCol(col("text"), 10), "\n"),
          lit("\nsubscribe now cookie policy accept terms")).as("text"))
      Dedup.boilerplateRemoval(withParas, "doc_id", "text", maxDocs = 32L)
        .orderBy("doc_id")
    }, sql(
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
        | pt AS (SELECT doc_id, list_append(
        |   list_transform(range(1, GREATEST(CAST(CEIL(len(tk)/10.0) AS BIGINT), 1) + 1),
        |     i -> array_to_string(tk[(i-1)*10+1 : (i-1)*10+10], ' ')),
        |   'subscribe now cookie policy accept terms') AS paras FROM base),
        | spl AS (SELECT doc_id,
        |   string_split(array_to_string(paras, chr(10)), chr(10)) AS paras
        |  FROM pt),
        | p AS (SELECT doc_id, CAST(u.i - 1 AS INT) AS pn, paras[CAST(u.i AS INT)] AS para
        |   FROM spl, UNNEST(range(1, len(paras) + 1)) AS u(i)),
        | hh AS (SELECT doc_id, pn, para,
        |   ${md5LongSql("para")} AS h FROM p),
        | bo AS (SELECT h FROM (SELECT h, doc_id FROM hh GROUP BY h, doc_id)
        |   GROUP BY h HAVING COUNT(*) > 32)
        | SELECT doc_id, COUNT(*) AS n_paras,
        |  CAST(SUM(CASE WHEN h IN (SELECT h FROM bo) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN h NOT IN (SELECT h FROM bo)
        |    THEN para END, chr(10) ORDER BY pn), '') AS new_text
        | FROM hh GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", ""))),

    // D20: exact-substring dedup REMOVAL (Lee et al. 2021,
    // "Deduplicating Training Data Makes Language Models Better") —
    // any 8-seg-token run appearing in >= 2 distinct docs is
    // duplicated text; covered tokens are removed from every doc
    // EXCEPT the smallest-id holder (keep-one-canonical-copy — vs
    // d19's drop-everywhere boilerplate semantics and d18's
    // report-only pairs). Gram resolution stands in for the paper's
    // suffix array: a duplicated run of length L >= 8 is covered
    // exactly by its L-7 grams. One cached gram pass, g-keyed dup
    // table on int64 keys, constant-fanout (x8) coverage expansion,
    // per-doc hash-set rebuild (array_except) — linear per row; the
    // corpus never self-joins.
    // d20: full replay — same seg tokens, same stride-1 8-gram int64
    // hashes, same keep-one (min doc_id) semantics; covered positions
    // expand per hit, kept tokens rebuilt by position anti-join, docs
    // with everything removed (or no tokens) surface via the LEFT
    // JOIN with an empty text_clean.
    QuerySpec("d20_substring_removal", (s, dir) => {
      Dedup.exactSubstringRemoval(docsBalanced(s, dir), "doc_id", "text",
          k = 8)
        .orderBy("doc_id")
    }, sql(
      s"""WITH d AS (SELECT doc_id, $segTokSql tk FROM documents),
        | g AS (SELECT doc_id, CAST(u.i AS INT) AS st,
        |   ${md5LongSql("array_to_string(tk[CAST(u.i AS INT) : CAST(u.i AS INT) + 7], ' ')")} AS g
        |  FROM d, UNNEST(range(1, len(tk) - 6)) AS u(i)),
        | dup AS (SELECT g, MIN(doc_id) AS keep_id
        |  FROM (SELECT DISTINCT g, doc_id FROM g)
        |  GROUP BY g HAVING COUNT(*) >= 2),
        | cov AS (SELECT DISTINCT g.doc_id, g.st + CAST(u.j AS INT) AS p
        |  FROM g JOIN dup USING (g), UNNEST(range(0, 8)) AS u(j)
        |  WHERE g.doc_id <> dup.keep_id),
        | pos AS (SELECT doc_id, CAST(u.i AS INT) AS p,
        |   tk[CAST(u.i AS INT)] AS w
        |  FROM d, UNNEST(range(1, len(tk) + 1)) AS u(i)),
        | kept AS (SELECT pos.doc_id, pos.p, pos.w
        |  FROM pos LEFT JOIN cov ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        |  WHERE cov.p IS NULL),
        | agg AS (SELECT doc_id, COUNT(*) AS nk,
        |   string_agg(w, ' ' ORDER BY p) AS tc FROM kept GROUP BY doc_id)
        | SELECT d.doc_id, len(d.tk) AS n_tokens,
        |  len(d.tk) - COALESCE(a.nk, 0) AS n_removed,
        |  COALESCE(a.tc, '') AS text_clean
        | FROM d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // D21: benchmark DECONTAMINATION (Brown et al. 2020 appendix C;
    // Rae et al. 2021 §A.3) — the train/test-overlap check every LM
    // pipeline runs before training: a train doc sharing any 13-gram
    // of the NORMALIZED token stream (NFKC-casefold + punctuation
    // strip, the papers' convention — round 12) with the eval
    // benchmark is contaminated. The benchmark is a deterministic
    // doc_id % 23 slice of the corpus; contamination is PLANTED (the
    // t8/d19 precedent) so the check is non-vacuous at every SF:
    // train docs with doc_id % 13 == 5 get the first 16 seg tokens of
    // benchmark doc (doc_id - doc_id % 23) appended — MUTATED
    // (ASCII-uppercased, a ", " wedged between words) the way
    // reformatted benchmark text escapes a raw-gram screen, so the
    // plant exercises precisely what normalization buys (a raw-gram
    // d21 scores these docs clean; spec-pinned in Round12OpsSpec).
    // Scale shape: the bench gram set is distinct + BROADCAST
    // (benchmarks are tiny next to a 100 TB corpus) — the corpus gram
    // pass joins it map-side with zero corpus exchange; only the
    // narrow per-doc report joins by id.
    QuerySpec("d21_benchmark_decontamination", (s, dir) =>
      benchmarkDecontamination(s, dir).orderBy("doc_id"), d21OracleSql,
      headline = true),

    // T43: the Gopher RULE SET (Rae et al. 2021, table A1) as a
    // per-document keep/drop decision with per-rule flags — the
    // canonical web-corpus quality gate (t3's composite score is a
    // ranking signal; this is the filter decision production pipelines
    // apply). Every rule compares in EXACT INTEGER arithmetic
    // (hash_cnt·10 ≤ wc, not hash_cnt/wc ≤ 0.1), so no float boundary
    // can diverge between engines. Words are whitespace tokens — the
    // rules are defined over delimiter-separated words by the paper.
    // Pure map work in the scan projection; zero shuffles.
    QuerySpec("t43_gopher_rules", (s, dir) => gopherRules(docs(s, dir))
      .orderBy("doc_id"), sql(
      s"""WITH ${gopherRuleCtesSql("documents")}
         | SELECT doc_id, wc,
         |  wc BETWEEN 50 AND 100000 AS r_wordcount,
         |  (len - (wc - 1)) >= wc * 3 AND (len - (wc - 1)) <= wc * 10
         |    AS r_meanwordlen,
         |  hash_cnt * 10 <= wc AS r_hash,
         |  ell_cnt * 10 <= wc AS r_ellipsis,
         |  alpha_w * 5 >= wc * 4 AS r_alpha,
         |  stop_hits >= 2 AS r_stopwords,
         |  (wc BETWEEN 50 AND 100000)
         |   AND ((len - (wc - 1)) >= wc * 3 AND (len - (wc - 1)) <= wc * 10)
         |   AND hash_cnt * 10 <= wc AND ell_cnt * 10 <= wc
         |   AND alpha_w * 5 >= wc * 4 AND stop_hits >= 2 AS keep
         | FROM c ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T44: n-gram LM perplexity scoring — the CCNet quality-filtering
    // step (Wenzek et al. 2020): fit a bigram LM with Laplace
    // smoothing on a held-out slice (doc_id%3==0, the t36 train-slice
    // convention), score EVERY document's average negative log-
    // likelihood over its seg-token bigrams, and cut the corpus into
    // head/middle/tail terciles — the signal CCNet filters crawls
    // with (low-ppl docs read like the reference corpus).
    // Determinism across engines: the per-bigram NLL
    // ln((c1(w1)+V)/(c2(w1,w2)+1)) is quantized to integer micro-nats
    // PER MODEL CELL (a6 = round(ln(c1+V)·1e6), b6 = round(ln(c2+1)
    // ·1e6) — the t36 move), so every doc score is an exact integer
    // sum and the tercile cut reads rounded exact divisions only.
    // Unseen w1 backs off to ln(V) (c1=0), unseen bigram to b6=0
    // (ln 1) — both exact model constants. Docs with < 2 seg tokens
    // have no bigram and emit no row (the t35 row-drop convention).
    // Scale shape: training is two counting passes with map-side
    // combine; the unigram a6 table is vocab-bounded and BROADCASTS,
    // but the bigram model is NOT assumed broadcastable (bigram vocab
    // grows far past the driver at web scale) — scoring pre-
    // aggregates per-doc gram counts map-side and joins the model on
    // the (w1, w2) key, one exchange per side; the tercile is t18's
    // bounded-histogram prefix sum (the rounded score domain caps the
    // window input at ~10⁶ rows), never an ntile over the corpus.
    // t44: full LM replay — same %3 train slice, same Laplace
    // smoothing, same per-cell micro-nat quantization (a6/b6 computed
    // by the SAME decomposition the engine uses, so the two sides'
    // rounding points coincide); doc scores are exact integer sums,
    // the tercile reads the bounded avg_nll histogram. Residual ln
    // 1-ulp risk shared with t11/t34/t36 (flips only on a ~.5 micro-
    // nat boundary).
    QuerySpec("t44_lm_perplexity", (s, dir) => {
      val d = graft.Caches.shared(docsBalanced(s, dir)
        .select(col("doc_id"), TextAnalysis.segTokens(col("text")).as("tk")))
      val train = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      lmPerplexity(d, lmUniCounts(train), lmBigCounts(train))
    }, sql(
      s"""WITH d AS (SELECT doc_id, $segTokSql tk FROM documents),
        | dg AS (SELECT doc_id, tk[CAST(u.i AS INT)] AS w1,
        |   tk[CAST(u.i AS INT) + 1] AS w2
        |  FROM d, UNNEST(range(1, len(tk))) AS u(i)),
        | uni AS (SELECT w, COUNT(*) AS c1 FROM (
        |   SELECT unnest(tk) AS w FROM d WHERE doc_id % 3 = 0) GROUP BY w),
        | voc AS (SELECT COUNT(*) AS v FROM uni),
        | a AS (SELECT w AS w1,
        |   CAST(ROUND(ln(CAST(c1 + v AS DOUBLE)) * 1000000) AS BIGINT) AS a6
        |  FROM uni, voc),
        | b AS (SELECT w1, w2,
        |   CAST(ROUND(ln(CAST(COUNT(*) + 1 AS DOUBLE)) * 1000000) AS BIGINT)
        |    AS b6
        |  FROM dg WHERE doc_id % 3 = 0 GROUP BY w1, w2),
        | g AS (SELECT doc_id, w1, w2, COUNT(*) AS c FROM dg GROUP BY 1, 2, 3),
        | sc AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_big,
        |   CAST(SUM(c * (COALESCE(a6,
        |     CAST(ROUND(ln(CAST(v AS DOUBLE)) * 1000000) AS BIGINT))
        |     - COALESCE(b6, 0))) AS BIGINT) AS nll6
        |  FROM g LEFT JOIN a USING (w1) LEFT JOIN b USING (w1, w2), voc
        |  GROUP BY doc_id),
        | sa AS (SELECT doc_id, n_big, nll6,
        |   (2 * nll6 + n_big) // (2 * n_big) AS avg_nll6 FROM sc),
        | hist AS (SELECT avg_nll6, COUNT(*) AS hc FROM sa GROUP BY avg_nll6),
        | nn AS (SELECT COUNT(*) AS n FROM sa),
        | bk AS (SELECT avg_nll6, CAST(FLOOR((SUM(hc) OVER (ORDER BY avg_nll6
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - hc)
        |     * 3 / nn.n) + 1 AS INT) AS bucket
        |  FROM hist, nn)
        | SELECT sa.doc_id, sa.n_big, sa.nll6, sa.avg_nll6, bk.bucket
        | FROM sa JOIN bk USING (avg_nll6) ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // T47: t44 conditioned on LANGUAGE — CCNet's real shape (one LM
    // per language, terciles cut within each; see lmPerplexityByLang's
    // scaladoc for why the single-LM terciles are a language detector
    // on a mixed corpus, not a quality signal).
    // t47: t44's replay with every model cell, the smoothing fallback
    // and the tercile cut keyed by lang.
    QuerySpec("t47_perlang_perplexity", (s, dir) => {
      lmPerplexityByLang(docsBalanced(s, dir).select(col("doc_id"),
        col("lang"), TextAnalysis.segTokens(col("text")).as("tk")))
    }, sql(
      s"""WITH d AS (SELECT doc_id, lang, $segTokSql tk FROM documents),
        | dg AS (SELECT doc_id, lang, tk[CAST(u.i AS INT)] AS w1,
        |   tk[CAST(u.i AS INT) + 1] AS w2
        |  FROM d, UNNEST(range(1, len(tk))) AS u(i)),
        | uni AS (SELECT lang, w, COUNT(*) AS c1 FROM (
        |   SELECT lang, unnest(tk) AS w FROM d WHERE doc_id % 3 = 0)
        |  GROUP BY lang, w),
        | voc AS (SELECT lang, COUNT(*) AS v FROM uni GROUP BY lang),
        | a AS (SELECT lang, w AS w1,
        |   CAST(ROUND(ln(CAST(c1 + v AS DOUBLE)) * 1000000) AS BIGINT) AS a6
        |  FROM uni JOIN voc USING (lang)),
        | b AS (SELECT lang, w1, w2,
        |   CAST(ROUND(ln(CAST(COUNT(*) + 1 AS DOUBLE)) * 1000000) AS BIGINT)
        |    AS b6
        |  FROM dg WHERE doc_id % 3 = 0 GROUP BY lang, w1, w2),
        | g AS (SELECT doc_id, lang, w1, w2, COUNT(*) AS c
        |  FROM dg GROUP BY 1, 2, 3, 4),
        | sc AS (SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_big,
        |   CAST(SUM(c * (COALESCE(a6,
        |     CAST(ROUND(ln(CAST(COALESCE(v, 1) AS DOUBLE)) * 1000000)
        |      AS BIGINT))
        |     - COALESCE(b6, 0))) AS BIGINT) AS nll6
        |  FROM g LEFT JOIN a USING (lang, w1)
        |   LEFT JOIN b USING (lang, w1, w2)
        |   LEFT JOIN voc USING (lang)
        |  GROUP BY doc_id, lang),
        | sa AS (SELECT doc_id, lang, n_big, nll6,
        |   (2 * nll6 + n_big) // (2 * n_big) AS avg_nll6 FROM sc),
        | hist AS (SELECT lang, avg_nll6, COUNT(*) AS hc FROM sa
        |  GROUP BY lang, avg_nll6),
        | nn AS (SELECT lang, COUNT(*) AS n FROM sa GROUP BY lang),
        | bk AS (SELECT hist.lang, avg_nll6,
        |   CAST(FLOOR((SUM(hc) OVER (PARTITION BY hist.lang
        |     ORDER BY avg_nll6
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - hc)
        |     * 3 / nn.n) + 1 AS INT) AS bucket
        |  FROM hist JOIN nn ON hist.lang = nn.lang)
        | SELECT sa.doc_id, sa.lang, sa.n_big, sa.nll6, sa.avg_nll6,
        |  bk.bucket
        | FROM sa JOIN bk ON sa.lang = bk.lang AND sa.avg_nll6 = bk.avg_nll6
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T48: MODEL-BASED quality filtering — the fastText/LR-classifier
    // stage every production pipeline runs after the rule gates
    // (GPT-3's WebText-vs-CommonCrawl classifier, Brown et al. 2020
    // app. A; fastText quality filters since): distill t43's Gopher
    // rule DECISION (the shared gopherRules table — weak supervision,
    // labels are free) into a Naive Bayes over seg tokens, then score
    // EVERY doc with an integer micro-nat log-odds. The classifier
    // generalizes past the rules: a doc failing no rule but written
    // in drop-class vocabulary scores negative, and vice versa. Every
    // model cell is quantized to micro-nats exactly like t36/t44
    // (b6 = q6(ln(c+1)) per (class, token); class normalizers and
    // +1-smoothed priors as q6 constants), so doc scores are exact
    // integer sums in both engines. Scale shape: the per-class token
    // model is JOINED on tok (full-corpus vocab outgrows the driver
    // at web scale — t44's bigram-model argument), per-doc token
    // counts pre-aggregate map-side, and the five class constants
    // broadcast as one row; docs shuffle once, on doc_id.
    // t48: full replay — the language-agnostic t43 rule labels
    // (whitespace words, the paper's unit; the English-specific
    // stop-word rule excluded, see the query comment), the %3 train
    // slice, per-(class, token) micro-nat cells with the SAME q6
    // decomposition the engine quantizes at, and the exact integer
    // log-odds sum.
    QuerySpec("t48_quality_classifier", (s, dir) => {
      val d = graft.Caches.shared(docsBalanced(s, dir).select(col("doc_id"),
        TextAnalysis.segTokens(col("text")).as("tk")))
      val train = d.filter(pmod(col("doc_id"), lit(3)) === 0)
        .join(qualityLabels(docsBalanced(s, dir)), "doc_id")
      qualityLogOdds(d, qualityTokCounts(train), qualityDocCounts(train))
    }, sql(
      s"""WITH $t48ReplayCtes
        | SELECT doc_id, n_tokens,
        |  $t48LogOddsSql AS logodds6,
        |  ($t48LogOddsSql) > 0 AS pred_keep
        | FROM sc, cn, dc ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T49: classifier EVALUATION rollup (round 13) — the third rung
    // of the classifier-gate family t24 established for language-ID:
    // train (t48's %3==0 slice) → score (t48) → EVALUATE. The t48
    // predictions are compared against the rule labels on a HELD-OUT
    // slice (doc_id%3==2 — disjoint from the train slice by
    // construction), and the whole confusion matrix plus the derived
    // operating metrics land in ONE row: tp/fp/fn/tn, precision,
    // recall, accuracy, F1. Every ratio is a count/count division
    // (F1 via its harmonic identity 2tp/(2tp+fp+fn)), so round(·, 6)
    // cannot hit a cross-engine half-way tie (the round-12 tie-class
    // analysis: k·1e6 carries 2^7·5^6 factors). Scale shape: the
    // scoring pipeline is t48's (model joined on tok, docs shuffle
    // once); the evaluation itself is one keyed filter + one global
    // aggregate — partial map-side, four longs per partition. This is
    // the number a pipeline operator reads before trusting the
    // classifier to gate a 100 TB corpus.
    // t49: the SAME replay chain as t48 (labels + model + scores —
    // one definition, so the evaluation can never drift from the
    // classifier it evaluates), restricted to the held-out %3==2
    // slice and folded into the confusion counts + count/count
    // metrics (F1 via the harmonic identity — still count/count).
    // Not in the bench headline: it is t48's full scoring pass
    // (headlined) plus one keyed filter + one global 4-long aggregate — no
    // new plan family; oracle-checked + fixture-gated.
    QuerySpec("t49_quality_eval", (s, dir) => {
      val d = graft.Caches.shared(docs(s, dir).select(col("doc_id"),
        TextAnalysis.segTokens(col("text")).as("tk")))
      val labels = graft.Caches.shared(qualityLabels(docs(s, dir)))
      val train = d.filter(pmod(col("doc_id"), lit(3)) === 0)
        .join(labels, "doc_id")
      val scored =
        qualityLogOdds(d, qualityTokCounts(train), qualityDocCounts(train))
      qualityConfusion(scored, labels)
    }, sql(
      s"""WITH $t48ReplayCtes,
        | fin AS (SELECT doc_id, ($t48LogOddsSql) > 0 AS pred_keep
        |  FROM sc, cn, dc),
        | ev AS (SELECT lab.keep AS rk, fin.pred_keep AS pk
        |  FROM fin JOIN lab USING (doc_id) WHERE doc_id % 3 = 2),
        | cm AS (SELECT COUNT(*) AS n_holdout,
        |   CAST(SUM(CASE WHEN rk AND pk THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |   CAST(SUM(CASE WHEN NOT rk AND pk THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |   CAST(SUM(CASE WHEN rk AND NOT pk THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |   CAST(SUM(CASE WHEN NOT rk AND NOT pk THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM ev)
        | SELECT n_holdout, tp, fp, fn, tn,
        |  CASE WHEN tp + fp > 0
        |   THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
        |  CASE WHEN tp + fn > 0
        |   THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
        |  CASE WHEN n_holdout > 0
        |   THEN ROUND(CAST(tp + tn AS DOUBLE) / n_holdout, 6) END AS accuracy,
        |  CASE WHEN 2 * tp + fp + fn > 0
        |   THEN ROUND(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6)
        |   END AS f1
        | FROM cm""".stripMargin.replaceAll("\n", ""))),

    // T45: C4 line-level cleaning (Raffel et al. 2020 §2.2) — the
    // third rung of the cleaning ladder's RULE family: t43 decides
    // per DOCUMENT (Gopher), this decides per LINE (C4), d19 decides
    // per cross-doc paragraph frequency (CCNet). The corpus has no
    // line structure, so lines + violations are PLANTED (the t8/d19/
    // d21 precedent) deterministically per (doc_id, line): 8-word
    // chunks; (doc_id+i) % 7 == 3 lines get " javascript now." (the
    // paper's banned word, still punctuated + long — isolates rule
    // 3), % 3 == 2 lines stay unpunctuated (isolates rule 1), the
    // rest get "."; short final chunks violate the ≥ 5-words rule
    // naturally. Page-level: doc_id % 17 == 3 plants a lorem-ipsum
    // line, % 19 == 7 a "{" code line — each dooms the whole page.
    // Pure scan projection on both the planting and the filter: zero
    // shuffles end to end.
    // t45: full replay — same 8-word chunk lines, same per-(doc,line)
    // planting CASE (1-based i here vs the engine's 0-based, offset
    // folded into the modulus operand), same page markers, then the
    // C4 rules verbatim: terminal-punct regex, >= 5 whitespace words,
    // word-exact javascript ban, >= 3 kept lines, lorem-ipsum / brace
    // page bans. The punctuation anchor is \z (end of TEXT) on both
    // sides — Java's $ also matches before a trailing \r, RE2's does
    // not, so $ would diverge on CRLF lines.
    QuerySpec("t45_c4_cleaning", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        TextAnalysis.letBound(Chunker.chunksCol(col("text"), 8)) { ls =>
          val marked = transform(sequence(lit(0), size(ls) - 1), i =>
            when((col("doc_id") + i) % 7 === 3,
              concat(element_at(ls, i + 1), lit(" javascript now.")))
              .when((col("doc_id") + i) % 3 === 2, element_at(ls, i + 1))
              .otherwise(concat(element_at(ls, i + 1), lit("."))))
          val withLorem = when(col("doc_id") % 17 === 3,
            concat(marked,
              array(lit("lorem ipsum dolor sit amet consectetur."))))
            .otherwise(marked)
          val full = when(col("doc_id") % 19 === 7,
            concat(withLorem, array(lit("function() { return; }"))))
            .otherwise(withLorem)
          array_join(full, "\n")
        }.as("text"))
      TextAnalysis.c4Clean(planted, "doc_id", "text").orderBy("doc_id")
    }, sql(
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') tk
        |   FROM documents),
        | ch AS (SELECT doc_id, list_transform(
        |   range(1, GREATEST(CAST(CEIL(len(tk)/8.0) AS BIGINT), 1) + 1),
        |   i -> array_to_string(tk[(i-1)*8+1 : (i-1)*8+8], ' ')) AS ls
        |  FROM base),
        | pl AS (SELECT doc_id, list_transform(range(1, len(ls) + 1),
        |   i -> CASE WHEN (doc_id + i - 1) % 7 = 3
        |      THEN ls[CAST(i AS INT)] || ' javascript now.'
        |     WHEN (doc_id + i - 1) % 3 = 2 THEN ls[CAST(i AS INT)]
        |     ELSE ls[CAST(i AS INT)] || '.' END) AS ls FROM ch),
        | doc AS (SELECT doc_id, array_to_string(list_concat(list_concat(ls,
        |   CASE WHEN doc_id % 17 = 3
        |    THEN ['lorem ipsum dolor sit amet consectetur.']
        |    ELSE CAST([] AS VARCHAR[]) END),
        |   CASE WHEN doc_id % 19 = 7 THEN ['function() { return; }']
        |    ELSE CAST([] AS VARCHAR[]) END), chr(10)) AS text FROM pl),
        | k AS (SELECT doc_id, text,
        |   CAST(len(string_split_regex(text, '\\r?\\n')) AS BIGINT)
        |    AS n_lines,
        |   list_filter(string_split_regex(text, '\\r?\\n'),
        |     x -> regexp_matches(x, '[.!?"]\\z')
        |      AND len(string_split(x, ' ')) >= 5
        |      AND NOT list_contains(string_split(x, ' '), 'javascript'))
        |    AS kept
        |  FROM doc),
        | r AS (SELECT doc_id, n_lines,
        |   CAST(len(kept) AS BIGINT) AS n_kept,
        |   (len(kept) >= 3 AND NOT contains(text, 'lorem ipsum')
        |     AND NOT contains(text, '{')) AS keep_doc, kept FROM k)
        | SELECT doc_id, n_lines, n_kept, keep_doc,
        |  CASE WHEN keep_doc THEN array_to_string(kept, chr(10))
        |   ELSE '' END AS clean_text
        | FROM r ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", "")), headline = true),

    // T46: within-document repeated-line removal (RefinedWeb §3.2 /
    // MassiveWeb A.1.2 intra-doc dedup — nav bars and footers repeat
    // INSIDE a page; drop repeats keep-FIRST before any cross-doc
    // pass). Duplicates are PLANTED: 6-word chunk lines, then every
    // line whose (doc_id + i) % 5 == 1 is re-appended at the end of
    // the page — deterministic dupes at every SF (plus any natural
    // chunk collisions, handled identically by both sides). Row-local
    // keep-first via array_position in an indexed filter: zero
    // shuffles.
    // t46: full replay — same 6-word chunk lines, same re-appended
    // (doc_id + i) % 5 == 1 duplicate planting, keep-first via the
    // min-position self-rank (explode + first-occurrence join — the
    // set-based spelling of the engine's row-local array_position);
    // kept is never empty (line 1 always survives) so the join is
    // inner. Lines derive from RE-SPLITTING the joined text (spl),
    // never from the pre-join array: a source chunk may itself
    // contain \n (the fixture's CRLF class), which the engine's
    // split(text, "\n") sees but the raw array would hide.
    // Not in the bench headline: it is t45's scan shape (split-once line
    // array + HOF filter, zero shuffles) with an array_position body — no
    // new plan family; oracle-checked at 3 SFs + the fixture.
    QuerySpec("t46_intradoc_dedup", (s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        TextAnalysis.letBound(Chunker.chunksCol(col("text"), 6)) { ls =>
          val extraIdx = filter(sequence(lit(0), size(ls) - 1),
            i => (col("doc_id") + i) % 5 === 1)
          val extra = transform(extraIdx, i => element_at(ls, i + 1))
          array_join(concat(ls, extra), "\n")
        }.as("text"))
      TextAnalysis.intraDocLineDedup(planted, "doc_id", "text")
        .orderBy("doc_id")
    }, sql(
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') tk
        |   FROM documents),
        | ch AS (SELECT doc_id, list_transform(
        |   range(1, GREATEST(CAST(CEIL(len(tk)/6.0) AS BIGINT), 1) + 1),
        |   i -> array_to_string(tk[(i-1)*6+1 : (i-1)*6+6], ' ')) AS ls
        |  FROM base),
        | pt AS (SELECT doc_id, list_concat(ls, list_transform(
        |   list_filter(range(1, len(ls) + 1),
        |     i -> (doc_id + i - 1) % 5 = 1),
        |   i -> ls[CAST(i AS INT)])) AS ls FROM ch),
        | spl AS (SELECT doc_id,
        |   string_split(array_to_string(ls, chr(10)), chr(10)) AS ls
        |  FROM pt),
        | pos AS (SELECT doc_id, CAST(u.i AS INT) AS pn,
        |   ls[CAST(u.i AS INT)] AS line
        |  FROM spl, UNNEST(range(1, len(ls) + 1)) AS u(i)),
        | fst AS (SELECT doc_id, line, MIN(pn) AS fp FROM pos
        |  GROUP BY doc_id, line),
        | kept AS (SELECT p.doc_id, p.pn, p.line FROM pos p JOIN fst f
        |  ON p.doc_id = f.doc_id AND p.line = f.line AND p.pn = f.fp),
        | agg AS (SELECT doc_id, COUNT(*) AS nk,
        |   string_agg(line, chr(10) ORDER BY pn) AS tc FROM kept
        |  GROUP BY doc_id)
        | SELECT spl.doc_id, CAST(len(spl.ls) AS BIGINT) AS n_lines,
        |  CAST(len(spl.ls) - agg.nk AS BIGINT) AS n_dupes,
        |  agg.tc AS text_clean
        | FROM spl JOIN agg USING (doc_id) ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", ""))),

    // D1: exact dedup on a key expression (hash-groupBy; first-writer-
    // wins representative = min id, the reference's R10 semantics).
    QuerySpec("d1_exact_dedup", (s, dir) => {
      Dedup.exactDedupKey(docs(s, dir),
          array_join(slice(split(col("text"), " ", -1), 1, 5), " "), "doc_id")
        .orderBy("dedup_key")
    }, sql(
      """SELECT array_to_string(string_split(text, ' ')[1:5], ' ') AS dedup_key,
        | COUNT(*) AS cnt, MIN(doc_id) AS keep_id
        | FROM documents GROUP BY 1 ORDER BY dedup_key"""
        .stripMargin.replaceAll("\n", ""))),

    // D10: incremental dedup of a new batch against the already-seen
    // corpus through a broadcast Bloom pre-filter + exact anti-join
    // rescue — result provably identical to a plain anti-join (no
    // false negatives; positives re-checked exactly), so it is fully
    // oracle-checked even though a probabilistic sketch sits on the
    // scale path. Seen = every third doc's fingerprint; batch = the
    // rest.
    QuerySpec("d10_bloom_incremental", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val seen = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      val incoming = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      Dedup.incrementalDedupBloom(incoming, seen, "fp")
        .select("doc_id")
        .orderBy("doc_id")
    }, sql(
      """WITH f AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp
        |  FROM documents)
        | SELECT doc_id FROM f WHERE doc_id % 3 <> 0
        |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 3 = 0)
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // D14: the same incremental dedup served from PERSISTED Bloom
    // state — built ONCE from the seen corpus (fingerprint-keyed
    // sidecar, so reruns and bench trials skip the O(seen) scan like
    // d11's codebook), then every batch dedupes with ZERO jobs over
    // `seen` (the daily-ingest loop d10 re-scans per batch). The
    // no-rescan property is spec-verified by deleting the seen files
    // between batches; geometry derives from the seen count (a fixed
    // guess silently degrades fpp once the corpus outgrows it), and
    // fpp=1e-8 makes a dropped-novel-row collision ~1e-5 per corpus,
    // so the exact anti-join oracle still hash-matches.
    QuerySpec("d14_bloom_state", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val seen = d.filter(pmod(col("doc_id"), lit(3)) === 0)
      val incoming = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      val statePath =
        graft.store.AnnIndexes.key(s, "bloomstate", dir, "documents")
      Dedup.buildBloomStateIfAbsent(seen, "fp", statePath, fpp = 1e-8)
      Dedup.incrementalDedupWithState(incoming, "fp", statePath,
          updateState = false)
        .select("doc_id")
        .orderBy("doc_id")
    }, sql(
      """WITH f AS (SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'))) AS fp
        |  FROM documents)
        | SELECT doc_id FROM f WHERE doc_id % 3 <> 0
        |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 3 = 0)
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // D15: passage-removal REWRITE — the action d8's detector informs:
    // keep only each chunk fingerprint's first (doc, chunk) occurrence
    // and rebuild every doc from its surviving chunks (exact substring
    // dedup at chunk granularity). One fp-keyed shuffle decides
    // winners; the rebuild is a per-doc ordered agg, bounded by doc
    // size.
    QuerySpec("d15_chunk_dedup", (s, dir) => {
      Dedup.dedupChunksRewrite(docs(s, dir), "doc_id", "text",
          maxTokens = 16)
        .orderBy("doc_id")
    }, sql(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') tk FROM documents),
        | ch AS (SELECT doc_id, i - 1 AS cn,
        |  array_to_string(tk[(i-1)*16+1:(i-1)*16+16], ' ') AS ct
        |  FROM toks, UNNEST(range(1, CAST(CEIL(len(tk)/16.0) AS BIGINT) + 1)) AS u(i)),
        | w AS (SELECT *, row_number() OVER (PARTITION BY md5(ct)
        |  ORDER BY doc_id, cn) AS rn FROM ch)
        | SELECT doc_id, COUNT(*) AS n_chunks,
        |  CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN rn = 1 THEN ct END, ' ' ORDER BY cn), '')
        |    AS new_text
        | FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // P4: deterministic corpus shuffle — md5-keyed global positions
    // via the distributed two-phase prefix sum (never a single-task
    // sort): the reproducible shuffle a pipeline runs before packing
    // so example order decorrelates from ingest order.
    QuerySpec("p4_corpus_shuffle", (s, dir) => {
      Sampling.shufflePositions(docs(s, dir).select("doc_id"),
          "doc_id", "-s42")
        .select("doc_id", "pos")
        .orderBy("doc_id")
    }, sql(
      """SELECT doc_id, row_number() OVER (
        |  ORDER BY md5(CAST(doc_id AS VARCHAR) || '-s42'), doc_id) AS pos
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // P5: shuffled packing — the composed pre-training shape: docs get
    // reproducible md5-shuffled positions (p4), then pack offsets in
    // THAT order (p2's two-phase prefix sum keyed on pos). Two
    // distributed prefix sums end-to-end; no single-task sort anywhere.
    QuerySpec("p5_shuffled_packing", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      Packing.withPackOffsets(
          Sampling.shufflePositions(d, "doc_id", "-s42"),
          "pos", "n_tokens", ctxSize = 2048)
        .select("doc_id", "pos", "start_offset", "pack_id")
        .orderBy("doc_id")
    }, sql(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens FROM documents),
        | p AS (SELECT doc_id, n_tokens, row_number() OVER (
        |  ORDER BY md5(CAST(doc_id AS VARCHAR) || '-s42'), doc_id) AS pos FROM t),
        | o AS (SELECT doc_id, pos, n_tokens, SUM(n_tokens) OVER (
        |  ORDER BY pos ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset FROM p)
        | SELECT doc_id, pos, CAST(start_offset AS BIGINT) AS start_offset,
        |  CAST(start_offset // 2048 AS BIGINT) AS pack_id
        | FROM o ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // D2: exact bigram-Jaccard near-dup pairs — the O(N²) correctness
    // oracle, so its input is a bounded sample (doc_id < 1000; the
    // full sf0.01 corpus) regardless of SF. The corpus-wide path is
    // d3's MinHash banding, verified against this.
    QuerySpec("d2_ngram_jaccard", (s, dir) => {
      Dedup.ngramJaccardPairs(
          docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
          n = 2, threshold = 0.4)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("a_id", "b_id")
    }, sql(
      s"""WITH s AS (SELECT doc_id, ${shingleListSql(2)} sh
        |  FROM (SELECT doc_id, $segTokSql tk FROM documents
        |        WHERE doc_id < 1000))
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
        | ORDER BY a_id, b_id""".stripMargin.replaceAll("\n", ""))),

    // D16: exact Jaccard pairs via prefix filtering (AllPairs/PPJoin)
    // — the corpus-scale EXACT set-similarity join (token-keyed
    // equi-join on rarest-first prefixes + verification; no cross
    // product, plan-pinned), hash-checked against its own O(N²)
    // brute-force SQL. UNBOUNDED, unlike d2: this is the scale path,
    // so it runs the whole corpus. TRIGRAM shingles where d2 uses
    // bigrams — prefix filtering's selectivity IS the df tail, and the
    // synthetic vocabulary is so small (~30 words ⇒ ~900 possible
    // bigrams over 5000 sf0.1 docs) that every bigram is common and
    // bigram prefixes prune nothing (measured 160 s at sf0.1);
    // trigrams restore the Zipf-like tail a real corpus has (~27k
    // possible, avg df ~10) and the candidate join collapses to the
    // true near-pairs. Same algorithm, exactness unaffected — shingle
    // size is the tuning knob, as in the AllPairs literature.
    // d16's oracle is d2's brute-force definition at TRIGRAM shingles,
    // unbounded (d16 is the scale path): prefix filtering is exact, so
    // the scale algorithm must hash-match the O(N²) SQL.
    // Not in the bench headline: the exact prefix-filtered similarity join
    // is ~9 chained shuffle stages (df → ordering → prefix self-join →
    // verify → dedup), and at sf0.1 its ~6.5 s wall is dominated by fixed
    // per-stage scheduling for 256 output pairs — it would measure
    // local-mode stage latency, not the algorithm (sf0.01→sf0.1 grows 10×
    // data for ~3.7× wall as that latency amortizes). d3's MinHash
    // banding remains the headline's near-dup representative; d16 stays
    // oracle-checked (hash vs the O(N²) brute-force SQL) at 3 SFs.
    QuerySpec("d16_prefix_jaccard", (s, dir) => {
      Dedup.prefixJaccardJoin(docs(s, dir), "doc_id", "text",
          n = 3, threshold = 0.4)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("a_id", "b_id")
    }, sql(
      s"""WITH s AS (SELECT doc_id, ${shingleListSql(3)} sh
        |  FROM (SELECT doc_id, $segTokSql tk FROM documents))
        | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.4
        | ORDER BY a_id, b_id""".stripMargin.replaceAll("\n", ""))),

    // D6: near-dup pairs → dedup clusters (connected components via
    // min-label propagation). Bounded input like d2; the oracle
    // computes the transitive closure with a recursive CTE.
    QuerySpec("d6_dup_clusters", (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
        n = 2, threshold = 0.4)
      Dedup.dupClusters(pairs).orderBy("id")
    }, sql(DupClustersOracle)),

    // D9: the same clusters via alternating star contraction
    // (large-star/small-star) — O(log n) rounds regardless of
    // component shape, vs d6's O(diameter) label propagation. Output
    // contract is identical, so it shares d6's recursive-CTE oracle.
    // identical output contract (component min labels over the same
    // pair graph), so the star-contraction form shares the oracle
    QuerySpec("d9_dup_clusters_star", (s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
        docs(s, dir).filter(col("doc_id") < 1000), "doc_id", "text",
        n = 2, threshold = 0.4)
      Dedup.dupClustersStar(pairs).orderBy("id")
    }, sql(DupClustersOracle)),

    // D7: the end-to-end dedup decision — drop every cluster member
    // except the minimum-id representative, keep all unpaired docs
    // (pairs → components → anti-join; what a real pipeline executes
    // after d2/d3-style pair detection).
    QuerySpec("d7_global_dedup", (s, dir) => {
      val bounded = docs(s, dir).filter(col("doc_id") < 1000)
      val pairs = Dedup.ngramJaccardPairs(bounded, "doc_id", "text",
        n = 2, threshold = 0.4)
      val drop = Dedup.dupClusters(pairs)
        .filter(col("id") =!= col("label"))
        .select(col("id").as("doc_id"))
      bounded.select("doc_id")
        .join(drop, Seq("doc_id"), "left_anti")
        .orderBy("doc_id")
    }, sql(
      s"""WITH RECURSIVE sh AS (SELECT doc_id, ${shingleListSql(2)} s
        |  FROM (SELECT doc_id, $segTokSql tk FROM documents
        |        WHERE doc_id < 1000)),
        | pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |     / len(list_distinct(list_concat(a.s, b.s))) >= 0.4),
        | e AS (SELECT a_id AS src, b_id AS dst FROM pr
        |  UNION ALL SELECT b_id, a_id FROM pr),
        | reach AS (SELECT src AS id, src AS r FROM e
        |  UNION
        |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
        | lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id)
        | SELECT doc_id FROM documents WHERE doc_id < 1000
        |  AND doc_id NOT IN (SELECT id FROM lab WHERE id <> label)
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // D3: MinHash+LSH candidate pairs verified by exact Jaccard —
    // served from the build-once materialized (id, shingles, signature)
    // index (the ingest-time shape; spec pins equality with the inline
    // form). PRECISION-ORACLE checked (round 7): the emitted pair set
    // is seeded-MinHash-specific, but each pair's Jaccard is a pure
    // function of documents.text — at dump time the pairs are inlined
    // and DuckDB recomputes every Jaccard independently (d2's shingle
    // SQL), so a wrong verify value or a sub-threshold emission
    // hash-mismatches. Recall-vs-d2 stays asserted in ScalaTest.
    QuerySpec("d3_minhash_neardup", (s, dir) => {
      // mh2: recipe version — round 11's script-aware shinglesSeg
      // changes the stored shingle sets, so round-10 whitespace-shingle
      // indexes must not be reused (the p8 store-key principle)
      val path =
        graft.store.AnnIndexes.key(s, "mh2", dir, "documents", "_n2_h64")
      graft.store.AnnIndexes.materializeAtomic(s, path) { tmp =>
        Dedup.buildMinHashIndex(docs(s, dir), "doc_id", "text", tmp,
          shingleN = 2, numHashes = 64)
      }
      Dedup.minHashNearDupPairsFromIndex(
          s.read.parquet(path), threshold = 0.4, numHashes = 64, bands = 16)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy("a_id", "b_id")
    }, d3OracleSql, headline = true),

    // D4: SimHash near-dup pairs. SIGNATURE-CONDITIONAL ORACLE
    // (round 7, see d4OracleSql): the xxhash64-derived signature has
    // no DuckDB recomputation (spec'd against golden values instead),
    // so the per-doc signatures are inlined at dump time and DuckDB
    // re-derives the ENTIRE pair set independently — pigeonhole chunk
    // blocking, candidate dedup, bit_count(xor) Hamming, threshold.
    QuerySpec("d4_simhash_neardup", (s, dir) => {
      Dedup.simHashNearDupPairs(docs(s, dir), "doc_id", "text",
          maxHamming = 10, blocks = 4)
        .orderBy("a_id", "b_id")
    }, d4OracleSql, headline = true),

    // D5: embedding-cosine near-dup via LSH buckets. PRECISION-ORACLE
    // checked (round 7, the d3 pattern): pairs inlined at dump time,
    // DuckDB recomputes each cosine from the embeddings table — the
    // bucket assignment stays engine-native, the verify arithmetic and
    // threshold are cross-engine-checked. Recall vs exact v4 asserted
    // in ScalaTest.
    QuerySpec("d5_embedding_neardup", (s, dir) => {
      Dedup.embeddingNearDupPairs(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, threshold = 0.3, bits = 6)
        .orderBy("a_id", "b_id")
    }, d5OracleSql, headline = true),

    // D11: semantic dedup (SemDeDup shape) — k-means cells, within-cell
    // near-dup components collapsed to min-id representatives. Emits
    // the full DECISION TABLE (vec_id, rep_id, cos_to_rep,
    // within_radius); kept set ≡ rows with vec_id = rep_id.
    // PRECISION-ORACLE checked (round 7): the mapping is inlined at
    // dump time and DuckDB recomputes every member→representative
    // cosine (and the ≥-radius verdict) from the embeddings table —
    // each collapse decision's justification is cross-engine-verified;
    // the seeded k-means cells stay engine-native and recall vs the
    // exact pairwise oracle stays asserted in ScalaTest. Threshold
    // 0.45 is the near-duplicate bar on this corpus (the 0.3 band is
    // the diffuse similar-topic mass — deduping there collapses 89%
    // of the corpus and densifies the CC graph for nothing).
    QuerySpec("d11_semantic_dedup", (s, dir) => {
      // nCells DERIVED from the corpus size (round 11 — the dump-time
      // derived-constant discipline applied to the DECLARED query):
      // target ~1k vectors per cell so within-cell pair work scales
      // ~N·1024 instead of N²/nCells with a PINNED nCells=16 — the one
      // measured sf3 superlinearity of round 10. Round 12: the count
      // comes straight from the parquet FOOTERS (block row counts,
      // mandatory metadata) — zero Spark jobs where the round-11
      // count() ran one ~0.4 s metadata job per invocation; the scan
      // fallback only fires for a non-parquet store. max(16, ·) keeps
      // small corpora at the spec'd round-7 geometry (sf0.001–0.1 are
      // byte-identical to the old query), and the codebook sidecar key
      // carries the derived value so a regenerated/larger corpus
      // retrains instead of loading a mismatched codebook.
      val n = graft.store.ParquetStats
        .rowCount(s, s"$dir/embeddings.parquet")
        .getOrElse(Tables.load(s, dir, "embeddings").count())
      val nCells = math.max(16, ((n + 1023) / 1024).toInt)
      // build-once codebook sidecar (keyed like the ANN indexes): the
      // first run trains k-means, every later run loads the cells and
      // skips training — spec-pinned by job count in DedupTextSpec
      val modelPath = graft.store.AnnIndexes.key(
        s, "semcb", dir, "embeddings", s"_n$nCells")
      // balanced (round 18): the multi-probe cell assignment (nCells
      // centroid distances per vector) is the heavy map work and the
      // embeddings table is one local file — spread it (no-op on a
      // multi-split table at scale; placement only)
      Dedup.semanticDedupMapWithCodebook(
          Tables.balanced(Tables.load(s, dir, "embeddings")
            .select("vec_id", "embedding")),
          "vec_id", "embedding", nCells = nCells, threshold = 0.45, modelPath)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    }, d11OracleSql, headline = true),

    // T25: approximate heavy hitters — the most frequent tokens via
    // Spark's freqItems (Karp/Misra-Gries family): single pass, fixed
    // memory, no exact global count. Completes the sketch family next
    // to HLL (a21), quantile (a26), Bloom (d10) and MinHash/SimHash.
    // Oracle-checked via the MG no-false-negative DERIVED INVARIANT:
    // the sketch admits false positives by contract (its raw set is
    // engine-specific), but every token with frequency > support·N
    // MUST be in it — so the query emits sketch ∩ exact-frequent with
    // exact counts, which equals the exact-frequent set iff the
    // guarantee held, and DuckDB recomputes that set standalone. A
    // sketch that drops a true heavy hitter loses a row → hash fail.
    // t25/t33: the sketch queries' derived-invariant oracles (see the
    // query Scaladocs): DuckDB recomputes the EXACT side — the
    // frequent-token set for t25, the top-20 token counts for t33 —
    // and asserts the sketch-contract booleans are TRUE.
    QuerySpec("t25_freq_items", (s, dir) => {
      val toks = graft.Caches.shared(docs(s, dir)
        .select(explode(TextAnalysis.segTokens(col("text"))).as("tok")))
      val items = toks.stat.freqItems(Seq("tok"), support = 0.02)
        .head().getSeq[String](0)
      val total = broadcast(toks.agg(count(lit(1)).as("n_total")))
      toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .crossJoin(total)
        .filter(col("cnt") > col("n_total") * 0.02)
        .filter(col("tok").isInCollection(items))
        .select("tok", "cnt")
        .orderBy("tok")
    }, sql(
      s"""WITH tk AS (SELECT unnest($segTokSql) AS tok
        |   FROM documents),
        | n AS (SELECT COUNT(*) AS n_total FROM tk)
        | SELECT tok, COUNT(*) AS cnt FROM tk, n GROUP BY tok, n_total
        | HAVING COUNT(*) > n_total * 0.02 ORDER BY tok"""
        .stripMargin.replaceAll("\n", ""))),

    // T24: language-ID confusion matrix — predicted vs labeled
    // language counts, the evaluation rollup that decides whether the
    // lang-ID heuristic is good enough to gate a corpus on. Pure map
    // stage (the t4 classifier) + one keyed aggregation.
    QuerySpec("t24_langid_confusion", (s, dir) => {
      docs(s, dir)
        .select(col("lang"), TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "lang_pred")
    }, sql({
      def filt(stops: Seq[String]) =
        s"len(list_filter(tk, x -> list_contains(${
          stops.map(s => s"'$s'").mkString("[", ",", "]")}, x)))"
      val l = TextAnalysis.StopwordsByLang
      s"""WITH t AS (SELECT doc_id, lang, text,
         |   regexp_split_to_array(lower(text), '[ \\t\\n\\x0B\\f\\r]+') tk FROM documents),
         | sc AS (SELECT doc_id, lang, text,
         |   ${filt(l("en"))} AS en, ${filt(l("de"))} AS de,
         |   ${filt(l("es"))} AS es, ${filt(l("fr"))} AS fr FROM t),
         | b AS (SELECT doc_id, lang, text, en, de, es, fr,
         |   GREATEST(en, de, es, fr) AS mx FROM sc),
         | p AS (SELECT doc_id, lang, CASE
         |  WHEN len(text) > 0 AND 5 * len(regexp_replace(text,
         |    '[^\\x{4e00}-\\x{9fff}]', '', 'g')) >= len(text) THEN 'zh'
         |  WHEN mx > 0 THEN (CASE WHEN fr = mx THEN 'fr'
         |    WHEN es = mx THEN 'es' WHEN en = mx THEN 'en' ELSE 'de' END)
         |  ELSE 'und' END AS lang_pred FROM b)
         | SELECT lang, lang_pred, COUNT(*) AS cnt FROM p
         | GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""
        .stripMargin.replaceAll("\n", "")
    })),

    // D13: cross-source duplicate matrix — PREFIX-dup pairs that CROSS
    // source boundaries (mirror sites, syndication — bodies diverge
    // after the shared opening, so exact fingerprints miss them): how
    // much of each source is redundant with another, the signal behind
    // source-level dedup ordering. One shuffle on the fingerprint; dup
    // groups are tiny so the within-group join never blows up.
    QuerySpec("d13_cross_source_dups", (s, dir) => {
      val f = docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalysis.prefixFingerprint(col("text"), 10).as("fp"))
      val a = f.select(col("fp"), col("doc_id").as("a_id"),
        col("source").as("src_a"))
      val b = f.select(col("fp"), col("doc_id").as("b_id"),
        col("source").as("src_b"))
      a.join(b, Seq("fp"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("dup_pairs"))
        .orderBy("src_a", "src_b")
    }, sql(
      """WITH f AS (SELECT doc_id, source,
        |  md5(array_to_string(list_slice(string_split(
        |    trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')), ' '),
        |    1, 10), ' ')) AS fp
        |  FROM documents)
        | SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS dup_pairs
        | FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        | GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replaceAll("\n", ""))),

    // T23: duplicated-window rate — for each doc, the fraction of its
    // 8-token sliding windows that occur anywhere else in the corpus
    // (including its own repeats): the fine-grained substring-
    // duplication diagnostic behind "dedup the training set at the
    // substring level" (cf. the passage-level d8 — this is the
    // window-granularity score, not the removal). One explode to
    // window strings (linear, ~n_tokens rows/doc), one shuffle on the
    // window key for the global counts, joined back on the same key.
    QuerySpec("t23_dup_window_rate", (s, dir) => {
      Dedup.dupWindowRate(docs(s, dir), "doc_id", "text", w = 8)
        .orderBy("doc_id")
    }, sql(
      s"""WITH t AS (SELECT doc_id, $segTokSql AS tk
        |   FROM documents),
        | w AS (SELECT doc_id,
        |   array_to_string(list_slice(tk, i, i + 7), ' ') AS win
        |  FROM t, UNNEST(range(1, len(tk) - 6)) AS u(i) WHERE len(tk) >= 8),
        | c AS (SELECT win, COUNT(*) AS c FROM w GROUP BY win)
        | SELECT doc_id, COUNT(*) AS n_win,
        |  CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  ROUND(CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*), 6) AS dup_rate
        | FROM w JOIN c USING (win) GROUP BY doc_id ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", ""))),

    // T22: per-source distribution divergence — KL(source ‖ corpus)
    // over unigram distributions, the quantitative "how different is
    // this domain" signal behind mixture weighting and contamination
    // triage. One explode of the corpus (linear), one shuffle on
    // (source, token); the source totals and the 1-row corpus total
    // broadcast back; the token marginals join on the token key.
    // KL is finite by construction: every source token is in the
    // corpus marginal.
    QuerySpec("t22_source_divergence", (s, dir) => {
      val toks = docs(s, dir).select(col("source"),
        explode(TextAnalysis.segTokens(col("text"))).as("tok"))
      val st = toks.groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
      val perSource = st.groupBy("source").agg(sum("c_st").as("n_s"))
      val perTok = st.groupBy("tok").agg(sum("c_st").as("c_t"))
      val total = st.agg(sum("c_st").cast("double").as("n"))
      st.join(broadcast(perSource), "source")
        .join(perTok, "tok")
        .crossJoin(broadcast(total))
        .withColumn("contrib",
          (col("c_st") / col("n_s")) *
            log((col("c_st") / col("n_s")) / (col("c_t") / col("n"))))
        .groupBy("source")
        .agg(round(sum("contrib"), 6).as("kl"))
        .orderBy("source")
    }, sql(
      s"""WITH st AS (SELECT source, tok, COUNT(*) AS c_st
        |  FROM (SELECT source, unnest($segTokSql) AS tok
        |        FROM documents) GROUP BY source, tok),
        | s AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
        | t AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY tok),
        | n AS (SELECT CAST(SUM(c_st) AS DOUBLE) AS n FROM st)
        | SELECT st.source, ROUND(SUM(
        |   (c_st / n_s) * ln((c_st / n_s) / (c_t / n.n))), 6) AS kl
        | FROM st JOIN s USING (source) JOIN t USING (tok) CROSS JOIN n
        | GROUP BY st.source ORDER BY st.source""".stripMargin.replaceAll("\n", ""))),

    // D12: policy-pluggable cluster representatives — same duplicate
    // clusters as d6/d7, but the kept doc is chosen by QUALITY (here:
    // longest text, ties to min id) instead of min-id. Dedup policy
    // and cluster discovery are orthogonal: labels come from the CC
    // pass, the keep decision is one windowed rank per cluster
    // (clusters are small, the window partitions by label).
    QuerySpec("d12_quality_keep", (s, dir) =>
      d12Decision(s, dir).filter(col("kept"))
        .select(col("asset_id").as("doc_id"))
        .orderBy("doc_id"), sql(
      s"""WITH RECURSIVE $d12DedupCtes
        | SELECT asset_id AS doc_id FROM dec WHERE kept
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // T21: winsorized feature — clamp a heavy-tailed per-doc feature
    // at its corpus p05/p95 (the outlier-robust normalization step
    // before any scale-sensitive model). The two quantiles are ONE
    // 1-row aggregate broadcast back over the scan — the corpus is
    // read twice but shuffled never; the clamp itself is a codegen
    // map stage.
    QuerySpec("t21_winsorize", (s, dir) => {
      val d = docs(s, dir)
      val pct = d.agg(
        round(expr("percentile(n_chars, 0.05)"), 6).as("lo"),
        round(expr("percentile(n_chars, 0.95)"), 6).as("hi"))
      d.crossJoin(broadcast(pct))
        .select(col("doc_id"),
          round(least(greatest(col("n_chars").cast("double"), col("lo")),
            col("hi")), 6).as("clamped"))
        .orderBy("doc_id")
    }, sql(
      """WITH p AS (SELECT ROUND(quantile_cont(n_chars, 0.05), 6) AS lo,
        |   ROUND(quantile_cont(n_chars, 0.95), 6) AS hi FROM documents)
        | SELECT doc_id, ROUND(LEAST(GREATEST(CAST(n_chars AS DOUBLE), lo),
        |   hi), 6) AS clamped
        | FROM documents, p ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))),

    // U3: per-domain frequency cap — keep at most `cap` docs per
    // registrable domain, chosen by key-hash order (not arrival
    // order), the de-biasing step that stops a single crawled mega-
    // domain from dominating the corpus. Deterministic: the kept set
    // is a pure function of (domain, md5(doc_id)), stable across
    // runs, engines and partitionings. Scale shape: one shuffle on
    // domain; the rank<=cap filter compiles to WindowGroupLimit, so
    // each map partition forwards at most cap rows per domain instead
    // of sorting whole domains (asserted in PlanShapeSpec).
    QuerySpec("u3_domain_cap", (s, dir) => {
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val domain = concat(lit("site"), pmod(col("doc_id"), lit(20)),
        lit("."), tld)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("domain")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      docs(s, dir).select(col("doc_id"), domain.as("domain"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("doc_id", "domain")
        .orderBy("doc_id")
    }, sql(
      """WITH d AS (SELECT doc_id,
        |  'site' || CAST(doc_id % 20 AS VARCHAR) || '.' ||
        |  (CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END)
        |  AS domain FROM documents),
        | r AS (SELECT doc_id, domain, row_number() OVER (PARTITION BY domain
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM d)
        | SELECT doc_id, domain FROM r WHERE rk <= 5 ORDER BY doc_id"""
        .stripMargin.replaceAll("\n", ""))),

    // B1: BM25 keyword top-k — the lexical retrieval half of hybrid
    // search. Tokens are filtered to the query terms inside the scan
    // projection before the explode, so the shuffle carries only
    // query-term occurrences; corpus stats and per-term df broadcast;
    // rounded-score TakeOrderedAndProject finishes.
    QuerySpec("b1_bm25_topk", (s, dir) => {
      Bm25.topK(docs(s, dir), "text", "doc_id",
        Seq("spark", "shuffle", "partition"), k = 20)
    }, sql(
      s"""WITH dl AS (SELECT doc_id, len($segTokSql) AS dl
        |   FROM documents),
        | st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf
        |   FROM (SELECT doc_id, unnest($segTokSql) AS tok
        |         FROM documents)
        |   WHERE tok IN ('spark', 'shuffle', 'partition') GROUP BY 1, 2),
        | df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1)
        | SELECT tf.doc_id, ROUND(SUM(
        |   ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
        |   * tf.tf * 2.2
        |   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4) AS score
        | FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
        | GROUP BY tf.doc_id
        | ORDER BY score DESC, doc_id LIMIT 20""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // B2: reciprocal-rank fusion of two bounded rankings — BM25
    // (lexical) fused with a length ranking standing in for any second
    // scorer. Both inputs are top-50-bounded before the fuse, so the
    // full-outer join is over two 50-row lists no matter the corpus
    // size; this is the hybrid-search merge step as its own operator.
    QuerySpec("b2_rrf_fusion", (s, dir) => {
      val d = docs(s, dir)
      val lexical = Bm25.ranked(
        Bm25.score(d, "text", "doc_id", Seq("spark", "shuffle", "partition"))
          .select(col("doc_id"), round(col("score"), 4).as("score")),
        "doc_id", "score", n = 50)
      val byLength = Bm25.ranked(
        d.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", n = 50)
      Bm25.rrfFuse(lexical, byLength, "doc_id", c = 60, k = 20)
    }, sql(
      s"""WITH dl AS (SELECT doc_id, len($segTokSql) AS dl
        |   FROM documents),
        | st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf
        |   FROM (SELECT doc_id, unnest($segTokSql) AS tok
        |         FROM documents)
        |   WHERE tok IN ('spark', 'shuffle', 'partition') GROUP BY 1, 2),
        | df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        | sc AS (SELECT tf.doc_id, ROUND(SUM(
        |   ln(1 + (st.n - df.df + 0.5) / (df.df + 0.5))
        |   * tf.tf * 2.2
        |   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl))), 4) AS score
        |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY tf.doc_id),
        | lex AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
        |  FROM (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 50)),
        | lng AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank_b
        |  FROM (SELECT doc_id, n_chars FROM documents
        |        ORDER BY n_chars DESC, doc_id LIMIT 50))
        | SELECT doc_id,
        |  ROUND(COALESCE(CAST(1 AS DOUBLE) / (60 + rank_a), 0)
        |      + COALESCE(CAST(1 AS DOUBLE) / (60 + rank_b), 0), 6) AS rrf,
        |  CAST(rank_a AS INTEGER) AS rank_a, CAST(rank_b AS INTEGER) AS rank_b
        | FROM lex FULL OUTER JOIN lng USING (doc_id)
        | ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin.replaceAll("\n", ""))),

    // T50: document-level blocklist screen (round 14) — the LIST rule
    // of the cleaning ladder: t43 decides on shape statistics
    // (Gopher), t45 on line structure (C4 lines), t48 learns a
    // classifier; this is C4 §2.2's remaining page-level rule (drop
    // any page containing a blocklisted word) next to the rate form
    // production stacks layer on it (tolerate a below-threshold
    // fraction). The rate verdict is an integer cross-multiplication
    // (30·n_bad ≤ n_tok — the m11 containment precedent; no float
    // boundary), the match unit is lowercase ASCII letter runs (the
    // t1/t3 whitespace-family precedent — a blocklist matches plain
    // words, so this rung deliberately does NOT seg-tokenize).
    // The corpus is clean, so hits are PLANTED per doc_id (t8
    // precedent) with case + punctuation variation so the
    // normalization is load-bearing. Pure scan projection — zero
    // shuffles before the output sort; at 100 TB this is a map-only
    // pass with the (tiny) blocklist inlined in the plan.
    // t50: plant + letter-run normalization + blocklist count replayed
    // verbatim; both verdicts are integer comparisons.
    QuerySpec("t50_toxicity_filter", (s, dir) => {
      blocklistCounts(docs(s, dir))
        .select(col("doc_id"), col("n_tok"), col("n_bad"),
          // greatest(1, ·): a doc with NO ASCII letter runs (possible
          // on a non-Latin corpus — fixture-swept) has n_bad = 0 too,
          // so its rate is a true 0, never a divide-by-zero
          round(col("n_bad").cast("double") /
              greatest(lit(1L), col("n_tok")), 6)
            .as("tox_rate"),
          (col("n_bad") === 0).as("c4_keep"),
          (col("n_bad") * 30 <= col("n_tok")).as("rate_keep"))
        .orderBy("doc_id")
    }, sql(
      s"""WITH $t50CountCtes
        | SELECT doc_id, n_tok, n_bad,
        |  ROUND(n_bad::DOUBLE / GREATEST(1, n_tok), 6) AS tox_rate,
        |  n_bad = 0 AS c4_keep,
        |  n_bad * 30 <= n_tok AS rate_keep
        | FROM blc ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T51: readability scoring (round 14) — the Flesch–Kincaid grade
    // (Kincaid et al. 1975), the classic difficulty signal curation
    // and curriculum stacks compute next to the quality score:
    // words = lowercase ASCII letter runs, sentences = [.!?]+ runs
    // (floored at 1), syllables = vowel-group count with a 1-syllable
    // floor for vowelless words (the standard heuristic — no
    // dictionary). The whole-text vowel-group count equals the
    // per-word sum because groups cannot cross a non-letter, so the
    // heavy regex runs ONCE per document, not once per word. Pure
    // scan projection, zero shuffles; the FK arithmetic is three IEEE
    // flops on integer-derived doubles, written in the same shape in
    // both engines.
    // t51/p9: the FK readability block (fkCtesSql) is ONE definition
    // shared by both oracles — the engine twin is withReadability.
    QuerySpec("t51_readability", (s, dir) => {
      withReadability(docsBalanced(s, dir))
        .select(col("doc_id"), col("n_words"), col("n_sent"),
          col("n_syll"), round(col("fk"), 4).as("fk_grade"))
        .orderBy("doc_id")
    }, sql(
      s"""WITH $fkCtesSql
        | SELECT doc_id, n_words, n_sent, n_syll,
        |  ROUND(fk, 4) AS fk_grade
        | FROM fkx ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T52: filter FUNNEL report (round 14; dedup stage round 15;
    // decontamination stage round 16) — the number a pipeline
    // operator reads before committing a
    // cleaning config: the gates applied IN SEQUENCE (each stage sees
    // only the previous stage's survivors — the FineWeb/RefinedWeb
    // ablation table shape), not independent reports. Stages: gopher
    // rules (t43's language-agnostic subset — the labels t48 trains
    // on, ONE definition) → blocklist (t50's C4-list verdict, ONE
    // definition) → dedup (textDupDecision's full-corpus winnowing
    // keep set, ONE definition — the FineWeb ablation interleaves
    // dedup between the rule gates and the classifier, and that is
    // where its largest token deltas come from) → decontamination
    // (d21's benchmark-overlap decision, ONE definition — the
    // ablation drops train/test leakage after dedup, before spending
    // classifier compute on leaked docs) → quality classifier
    // (t48's pred_keep, ONE scoring pipeline). Per stage: docs
    // in/kept + SEG-TOKEN volume in/kept and both removal rates —
    // the volume is what the decision is about (the d22 lesson: one
    // 500-page dup ≠ one tweet). Classifier coverage is LEFT-joined
    // (a doc with zero seg tokens scores as drop, never silently
    // vanishes from the funnel); decontamination coverage too (d21
    // screens TRAIN docs only — the %23 benchmark slice is eval data
    // held outside a real corpus, so it passes unscreened). Scale
    // shape: the label scan, the
    // blocklist scan, the dedup decision (fp-keyed joins bounded by
    // maxDocsPerFp — work ingest already pays for d22), the d21 gram
    // screen (bench grams broadcast — zero corpus exchange) and t48's
    // scoring pass (model JOINED on tok), then ONE global 12-long
    // fold — partial map-side; the 5 output rows are built from that
    // single row.
    QuerySpec("t52_filter_funnel", (s, dir) => {
      // ONE fused, cached base projection (round-17 optimization):
      // the seg-token array AND the two map-stage gate facts come out
      // of the SAME balanced scan — the round-16 shape materialized
      // two separate caches (tokens; facts), paying the corpus scan +
      // balancing exchange twice, then joined them corpus-wide to
      // label the training slice. Here the label rides the row (zero
      // train join) and the winnowing dedup pass reads the cached
      // tokens instead of re-scanning + re-tokenizing the corpus
      // (textDupDecisionFromTokens) — guide §2.4 / §1.2 step 1.
      val base = graft.Caches.shared(perDocGateFacts(docsBalanced(s, dir))
        .select(col("doc_id"), TextAnalysis.segTokens(col("text")).as("tk"),
          col("g_keep"), col("b_keep")))
      val d = base.select(col("doc_id"), col("tk"))
      val facts = base.select(col("doc_id"), col("g_keep"), col("b_keep"))
      val train = base.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("tk"), col("g_keep").as("keep"))
      val scored =
        qualityLogOdds(d, qualityTokCounts(train), qualityDocCounts(train))
      val flags = facts
        .join(textDupDecisionFromTokens(s, dir, d)
          .select(col("asset_id").as("doc_id"), col("kept").as("d_keep")),
          "doc_id")
        // decontamination (round 16 — stage 4): d21's benchmark-
        // overlap decision, ONE definition. LEFT join: d21 screens
        // TRAIN docs only; the %23 benchmark slice is eval data a
        // real pipeline holds outside the corpus, so it passes
        // through unscreened (coalesce TRUE)
        .join(benchmarkDecontamination(s, dir)
          .select(col("doc_id"), (!col("contaminated")).as("c_keep")),
          Seq("doc_id"), "left")
        .join(scored.select(col("doc_id"), col("n_tokens"),
          col("pred_keep")), Seq("doc_id"), "left")
        .select(col("g_keep"), col("b_keep"), col("d_keep"),
          coalesce(col("c_keep"), lit(true)).as("c_keep"),
          coalesce(col("pred_keep"), lit(false)).as("p_keep"),
          coalesce(col("n_tokens"), lit(0L)).as("nt"))
      funnelFold(flags)
    }, t52OracleSql, headline = true,
      sf1Chains = Some((s, dir) => t52Sf1Chains(s, dir))),

    // P9: curriculum phase assignment (round 14) — the easy→hard
    // schedule (Bengio et al. 2009) a data-ordering pipeline runs
    // after cleaning: each document gets a difficulty bin (FK grade
    // decibinned to a BOUNDED integer domain) and a phase = quartile
    // of the bin distribution, via t18's bounded-histogram pattern —
    // the global sort a naive ntile() would do is replaced by a
    // histogram over ~hundreds of distinct bins (the window runs on
    // the HISTOGRAM, never the corpus) joined back broadcast. The
    // within-phase order key is the p4 md5 discipline (reproducible,
    // engine-portable), emitted for the shard writer to sort by —
    // assignment here, ordering there. Two aggregates + one broadcast
    // join at any corpus size.
    QuerySpec("p9_curriculum", (s, dir) => {
      curriculumPhases(docs(s, dir))
        .select(col("doc_id"), round(col("fk"), 4).as("fk_grade"),
          col("bin"), col("phase"),
          md5(concat(col("doc_id").cast("string"), lit("-p9")))
            .as("curriculum_key"))
        .orderBy("doc_id")
    }, sql(
      s"""WITH $fkCtesSql,
        | b AS (SELECT doc_id, fk,
        |   CAST(ROUND(fk * 10) AS BIGINT) AS bin FROM fkx),
        | h AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
        | n AS (SELECT COUNT(*) AS n FROM b),
        | ph AS (SELECT bin,
        |   SUM(c) OVER (ORDER BY bin
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
        |    AS before FROM h)
        | SELECT doc_id, ROUND(fk, 4) AS fk_grade, b.bin,
        |  CAST(FLOOR(before * 4 / n) AS BIGINT) + 1 AS phase,
        |  md5(CAST(doc_id AS VARCHAR) || '-p9') AS curriculum_key
        | FROM b JOIN ph ON b.bin = ph.bin CROSS JOIN n
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // P10: curriculum PACKING (round 15) — the artifact p9's schedule
    // exists for: p9 assigns each document a difficulty phase and an
    // md5 order key "for the shard writer", and this IS that writer's
    // plan — WITHIN each phase, documents take p4's reproducible
    // md5-shuffled positions (md5(doc_id||'-p9') is exactly p9's
    // curriculum_key, so the order key and the position assignment
    // cannot drift) and pack offsets restart at 0 per phase via p2's
    // two-phase distributed prefix sum. The composed clean → schedule
    // → pack chain: a trainer then reads phase 1's shards before
    // phase 2's (easy→hard, Bengio et al. 2009) with every context
    // window dense. Scale shape: ONE generalized two-phase prefix sum
    // over the whole corpus (Packing.perPhasePackOffsets) — the local
    // window partitions by (phase, sampled-range bucket) and the
    // per-phase reset is structural, so positions and offsets restart
    // at each phase with no global sort, no single-task window, and
    // no pass-per-phase (the looped form paid the boundary-sample +
    // window machinery 8× — measured 6.7 s at sf0.1 vs ~2 s fused);
    // the phase table joins back broadcast off the bounded histogram.
    // Packing.writeCurriculumShards materializes this same plan as
    // partitionBy(phase, shard_id) parquet (spec-pinned: non-final
    // shards exactly at their token budget, phase-monotone contents).
    // p10: the p9 phase assignment (same fkx/bin/quartile block), then
    // per-PHASE md5 positions and running-sum offsets — the window
    // partitions by phase, replaying the engine's phase-restarting
    // two-phase prefix sum.
    QuerySpec("p10_curriculum_packing", (s, dir) => {
      curriculumPacking(s, dir)
        .select("doc_id", "phase", "pos", "n_tokens", "start_offset",
          "pack_id", "shard_id")
        .orderBy("doc_id")
    }, sql(
      s"""WITH $p10CtesSql
        | SELECT doc_id, phase, pos, n_tokens,
        |  CAST(so AS BIGINT) AS start_offset,
        |  CAST(so // 2048 AS BIGINT) AS pack_id,
        |  CAST(so // 2048 // 64 AS BIGINT) AS shard_id
        | FROM oo ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T53: REPETITION filter (round 15) — the other half of Gopher's
    // table A1 (Rae et al. 2021): t43 carries the word-count /
    // symbol-ratio rules; the repetition family catches the
    // degenerate-generation / boilerplate shapes those miss —
    // duplicate-LINE fraction (docs assembled from a repeated
    // template), duplicate-line CHARACTER fraction (one huge repeated
    // line ≠ many tiny ones), and top-2-gram character fraction (a
    // single phrase dominating the text). Lines are 10-word chunks
    // (d19's convention — the corpus has no line structure) and
    // violations are PLANTED (t8/d19/d21 precedent), scaled WITH the
    // document so each rule fires at every SF: %9==4 docs repeat
    // their first line n_lines times (dup_line_frac > 1/2), %11==7
    // docs append one line of "zz yy" × 6·n_lines (top-2-gram chars ≈
    // 1/3 of the doc). Thresholds are the paper's 0.30 / 0.20 / 0.20,
    // compared in EXACT integer cross-multiplication (10·dup ≤
    // 3·lines etc.) so no float boundary can diverge between engines.
    // Scale shape: the line/gram tables explode in the scan
    // projection and fold under ONE doc-keyed shuffle each (partial
    // map-side); the top-gram pick is max-count + lexicographic-min
    // via two keyed aggs + a co-keyed join — no per-doc window sort,
    // no corpus self-join.
    // T54: PII detection + REDACTION (round 16) — the privacy rung
    // every production corpus pipeline runs between the quality gates
    // and the shard writer (C4 strips lines by blocklist; modern
    // stacks detect-and-mask structured identifiers): per document,
    // how many emails / IPv4s / phone-shaped numbers appear, whether
    // it is PII-free, and the fingerprint of the text with every
    // match masked (<EMAIL>/<IP>/<PHONE>, applied in that fixed
    // order — masks carry no digits, so a later pattern can never
    // match across an earlier replacement). Patterns are the shared
    // backslash-free constants (EmailPat/Ipv4Pat/PhonePat); both
    // engines count with leftmost-first non-overlapping semantics and
    // replace globally, so counts AND the redacted fingerprint
    // hash-match. The fingerprint (md5) stands in for the redacted
    // text itself — same bytes checked, tidy compare. PII is PLANTED
    // per doc_id class (piiPlantedText, ONE definition). Pure scan
    // projection — zero shuffles before the output sort; at 100 TB a
    // map-only pass with the patterns inlined in the plan.
    // t54: the same plant surgery, the same shared backslash-free
    // patterns, counts via regexp_extract_all and the same
    // fixed-order global replace chain — the md5 fingerprint compares
    // the REDACTED BYTES, not just the counts.
    QuerySpec("t54_pii_redaction", (s, dir) =>
      piiCounts(docsBalanced(s, dir)).orderBy("doc_id"), sql(
      s"""WITH pt AS ($piiPlantSql)
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '$EmailPat')) AS BIGINT)
        |   AS n_emails,
        |  CAST(len(regexp_extract_all(text, '$Ipv4Pat')) AS BIGINT)
        |   AS n_ips,
        |  CAST(len(regexp_extract_all(text, '$PhonePat')) AS BIGINT)
        |   AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '$EmailPat', '<EMAIL>', 'g'), '$Ipv4Pat', '<IP>', 'g'),
        |    '$PhonePat', '<PHONE>', 'g')) AS red_fp,
        |  len(regexp_extract_all(text, '$EmailPat')) = 0
        |   AND len(regexp_extract_all(text, '$Ipv4Pat')) = 0
        |   AND len(regexp_extract_all(text, '$PhonePat')) = 0
        |   AS pii_free
        | FROM pt ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // t53: the same 10-word chunk lines, the same document-scaled
    // plants, then both repetition tables (line counts, bigram counts
    // over the flattened per-line words) and the same exact-integer
    // keep comparisons.
    QuerySpec("t53_repetition_filter", (s, dir) => {
      val lined = graft.Caches.shared(docsBalanced(s, dir)
        .select(col("doc_id"), t53PlantedLines(col("doc_id"), col("text"))
          .as("ls"))
        .withColumn("text", array_join(col("ls"), "\n"))
        .withColumn("total_chars", length(col("text")).cast("long"))
        .withColumn("n_lines", size(col("ls")).cast("long")))
      val lm = lined.select(col("doc_id"), explode(col("ls")).as("line"))
        .groupBy("doc_id", "line").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L))
          .as("n_dup_lines"),
          sum(when(col("c") > 1, col("c") * length(col("line")))
            .otherwise(0L)).as("dup_chars"))
      val gcnt = lined
        .select(col("doc_id"),
          explode(TextAnalysis.letBound(
            expr("flatten(transform(ls, l -> split(l, ' ')))")) { tk =>
            when(size(tk) >= 2,
              transform(sequence(lit(1), size(tk) - 1),
                i => concat(element_at(tk, i), lit(" "),
                  element_at(tk, i + 1))))
              .otherwise(expr("CAST(array() AS array<string>)"))
          }).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val mx = gcnt.groupBy("doc_id").agg(max("c").as("mc"))
      val top = gcnt.join(mx, "doc_id").filter(col("c") === col("mc"))
        .groupBy("doc_id")
        .agg(min("g").as("top_bigram"), max("c").as("top_cnt"))
      val topChars = coalesce(col("top_cnt"), lit(0L)) *
        length(coalesce(col("top_bigram"), lit(""))).cast("long")
      lined.select("doc_id", "n_lines", "total_chars")
        .join(lm, "doc_id")
        .join(top, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"), col("total_chars"),
          col("n_dup_lines"),
          round(col("n_dup_lines").cast("double") / col("n_lines"), 6)
            .as("dup_line_frac"),
          round(col("dup_chars").cast("double") / col("total_chars"), 6)
            .as("dup_char_frac"),
          coalesce(col("top_bigram"), lit("")).as("top_bigram"),
          coalesce(col("top_cnt"), lit(0L)).as("top_cnt"),
          round(topChars.cast("double") / col("total_chars"), 6)
            .as("top_char_frac"),
          (col("n_dup_lines") * 10 <= col("n_lines") * 3 &&
            col("dup_chars") * 5 <= col("total_chars") &&
            topChars * 5 <= col("total_chars")).as("keep"))
        .orderBy("doc_id")
    }, sql(
      """WITH base AS (SELECT doc_id, string_split(text, ' ') tk
        |   FROM documents),
        | ch AS (SELECT doc_id, list_transform(
        |   range(1, GREATEST(CAST(CEIL(len(tk)/10.0) AS BIGINT), 1) + 1),
        |   i -> array_to_string(tk[(i-1)*10+1 : (i-1)*10+10], ' '))
        |    AS ls FROM base),
        | pl AS (SELECT doc_id, list_concat(list_concat(ls,
        |   CASE WHEN doc_id % 9 = 4 THEN
        |     list_transform(range(1, len(ls) + 1), i -> ls[1])
        |    ELSE CAST([] AS VARCHAR[]) END),
        |   CASE WHEN doc_id % 11 = 7 THEN
        |     [array_to_string(list_transform(range(1, len(ls) * 6 + 1),
        |       i -> 'zz yy'), ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END) AS ls FROM ch),
        | txt AS (SELECT doc_id, ls,
        |   CAST(length(array_to_string(ls, chr(10))) AS BIGINT)
        |    AS total_chars,
        |   CAST(len(ls) AS BIGINT) AS n_lines FROM pl),
        | lc AS (SELECT doc_id, line, COUNT(*) AS c FROM
        |   (SELECT doc_id, unnest(ls) AS line FROM txt) GROUP BY 1, 2),
        | lm AS (SELECT doc_id,
        |   CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |    AS n_dup_lines,
        |   CAST(SUM(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END)
        |    AS BIGINT) AS dup_chars
        |  FROM lc GROUP BY doc_id),
        | tkx AS (SELECT doc_id,
        |   flatten(list_transform(ls, l -> string_split(l, ' '))) AS tk
        |  FROM txt),
        | gr AS (SELECT doc_id,
        |   tk[CAST(u.i AS INT)] || ' ' || tk[CAST(u.i AS INT) + 1] AS g
        |  FROM tkx, UNNEST(range(1, len(tk))) AS u(i)),
        | gc AS (SELECT doc_id, g, COUNT(*) AS c FROM gr GROUP BY 1, 2),
        | mx AS (SELECT doc_id, MAX(c) AS mc FROM gc GROUP BY 1),
        | top AS (SELECT gc.doc_id, MIN(g) AS top_bigram,
        |   CAST(MAX(gc.c) AS BIGINT) AS top_cnt
        |  FROM gc JOIN mx ON gc.doc_id = mx.doc_id AND gc.c = mx.mc
        |  GROUP BY 1)
        | SELECT t.doc_id, n_lines, total_chars, n_dup_lines,
        |  ROUND(n_dup_lines::DOUBLE / n_lines, 6) AS dup_line_frac,
        |  ROUND(dup_chars::DOUBLE / total_chars, 6) AS dup_char_frac,
        |  COALESCE(top_bigram, '') AS top_bigram,
        |  COALESCE(top_cnt, 0) AS top_cnt,
        |  ROUND((COALESCE(top_cnt, 0)
        |     * length(COALESCE(top_bigram, '')))::DOUBLE / total_chars, 6)
        |   AS top_char_frac,
        |  (n_dup_lines * 10 <= n_lines * 3
        |   AND dup_chars * 5 <= total_chars
        |   AND COALESCE(top_cnt, 0) * length(COALESCE(top_bigram, '')) * 5
        |    <= total_chars) AS keep
        | FROM txt t JOIN lm USING (doc_id) LEFT JOIN top USING (doc_id)
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // P11: domain MIXTURE allocation (round 15) — the data-mixing
    // plan every multi-source pre-training corpus publishes (The
    // Pile's per-set epochs, Gao et al. 2020; DoReMi's domain
    // weights): given per-domain token supply and a token budget with
    // a target mixture, the per-domain sampling rate — capped at 1.0
    // where a domain cannot fill its target without repeating (the
    // up-sampling decision is the operator's, not the planner's).
    // Here: domains = lang, budget = half the corpus, target =
    // uniform. Rates are EXACT millionths (floor division) so both
    // engines emit identical integers; alloc_tokens = tokens·rate6
    // div 10⁶. Scale shape: one lang-keyed aggregation (partial
    // map-side, the key domain is tiny) + a broadcast 1-row total —
    // the planning pass costs one corpus scan regardless of size.
    // p11: one lang aggregate + the same exact-millionths floor
    // arithmetic.
    QuerySpec("p11_domain_mixture", (s, dir) =>
      domainMixture(s, dir).orderBy("lang"), sql(
      """WITH bl AS (SELECT lang,
        |   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |   CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        | tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |   CAST(SUM(tokens) AS BIGINT) AS total FROM bl)
        | SELECT lang, n_docs, tokens,
        |  CAST((total // 2) // nd AS BIGINT) AS target_tokens,
        |  CAST(LEAST(1000000, ((total // 2) // nd) * 1000000 // tokens)
        |   AS BIGINT) AS rate6,
        |  CAST(tokens * LEAST(1000000,
        |    ((total // 2) // nd) * 1000000 // tokens) // 1000000
        |   AS BIGINT) AS alloc_tokens,
        |  LEAST(1000000, ((total // 2) // nd) * 1000000 // tokens)
        |   = 1000000 AS capped
        | FROM bl, tt ORDER BY lang""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // P13: mixture SAMPLING (round 16) — EXECUTING p11's plan: p11
    // says each domain's sampling rate; this is the per-document
    // decision a pipeline actually applies — deterministic and
    // reproducible (the p4 md5 discipline: a doc is kept iff
    // md5(doc_id||'-p13') mod 10⁶ < rate6, so reruns, engines and
    // partitionings all agree; no RNG state to ship). Capped domains
    // (rate6 = 10⁶) keep everything by construction — the md5 residue
    // is always < 10⁶; under-supplied domains cannot be up-sampled by
    // a keep/drop decision (epoch repetition is the trainer's knob).
    // Expected kept token mass per domain ≈ p11's alloc_tokens
    // (spec-checked within tolerance; the decision itself is exact —
    // the oracle replays every row). Scale shape: p11's bounded plan
    // (one lang-keyed agg + broadcast 1-row total) joins back
    // broadcast on lang; the decision is pure map work in the scan —
    // one corpus pass, zero corpus exchange.
    // p13: p11's rate table replayed, then every document's md5
    // residue decision — md5Long is the ONE shared 60-bit spelling
    // (non-negative, so % ≡ pmod in both engines).
    QuerySpec("p13_mixture_sampling", (s, dir) => {
      val rates = domainMixture(s, dir).select("lang", "rate6")
      docs(s, dir)
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .join(broadcast(rates), "lang")
        .withColumn("sampled",
          pmod(Dedup.md5Long(
            concat(col("doc_id").cast("string"), lit("-p13"))),
            lit(1000000L)) < col("rate6"))
        .select("doc_id", "lang", "n_tokens", "rate6", "sampled")
        .orderBy("doc_id")
    }, sql(
      s"""WITH bl AS (SELECT lang,
        |   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens,
        |   CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        | tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        |   CAST(SUM(tokens) AS BIGINT) AS total FROM bl),
        | pl AS (SELECT lang, CAST(LEAST(1000000,
        |   ((total // 2) // nd) * 1000000 // tokens) AS BIGINT) AS rate6
        |  FROM bl, tt)
        | SELECT doc_id, d.lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  rate6,
        |  ${md5LongSql("CAST(doc_id AS VARCHAR) || '-p13'")} % 1000000
        |   < rate6 AS sampled
        | FROM documents d JOIN pl ON d.lang = pl.lang
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // P12: shard MANIFEST (round 16) — the metadata table the packed
    // artifact ships with: one row per (phase, shard) with segment
    // count, distinct documents, token volume, position and doc-id
    // spans, and an order-independent content hash (bit-XOR of the
    // 60-bit md5 of each segment's (pack_id, pos, doc_id, seg_tokens)
    // key — the shared md5Long spelling, so DuckDB replays it
    // verbatim; XOR cannot overflow where an ANSI SUM of raw hashes
    // would). This is what a trainer's dataloader and a
    // resume-after-failure consume, and what `Demo pack-verify` diffs
    // the on-disk bytes against; Packing.writeCurriculumShards
    // persists exactly this table as the artifact's `_manifest`.
    // Scale shape: p10's one generalized prefix sum + the bounded
    // segment explode, then ONE (phase, shard)-keyed aggregation with
    // map-side partials — output is #shards rows, never corpus rows.
    // p12: p10's replay chain extended with the segment explode (one
    // row per (doc, context window), boundary-split token counts) and
    // the per-(phase, shard) manifest fold; the content hash is
    // bit_xor over the SAME md5Long spelling every gram table uses.
    QuerySpec("p12_pack_manifest", (s, dir) => {
      Packing.curriculumManifest(
        Packing.perPhaseSegments(curriculumPacking(s, dir), "n_tokens",
          ctxSize = 2048, packsPerShard = 64),
        "doc_id", "phase")
        .orderBy("phase", "shard_id")
    }, sql(
      s"""WITH $p10CtesSql,
        | oob AS (SELECT doc_id, phase, pos, n_tokens,
        |   CAST(so AS BIGINT) AS so FROM oo),
        | sg AS (SELECT doc_id, phase, pos, n_tokens, so,
        |   so // 2048 + u.i AS pack_id
        |  FROM oob, UNNEST(range(0,
        |    (so + n_tokens - 1) // 2048 - so // 2048 + 1)) AS u(i)
        |  WHERE n_tokens > 0),
        | sg2 AS (SELECT doc_id, phase, pos, pack_id,
        |   LEAST(so + n_tokens, (pack_id + 1) * 2048)
        |     - GREATEST(so, pack_id * 2048) AS seg_tokens,
        |   pack_id // 64 AS shard_id FROM sg)
        | SELECT phase, shard_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_segs,
        |  CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_docs,
        |  CAST(SUM(seg_tokens) AS BIGINT) AS tokens,
        |  MIN(pos) AS min_pos, MAX(pos) AS max_pos,
        |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
        |  bit_xor(${md5LongSql(
             "CAST(pack_id AS VARCHAR) || '|' || CAST(pos AS VARCHAR)" +
               " || '|' || CAST(doc_id AS VARCHAR) || '|' ||" +
               " CAST(seg_tokens AS VARCHAR)")}) AS content_hash
        | FROM sg2 GROUP BY phase, shard_id
        | ORDER BY phase, shard_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // P14: trainer RESUME PLAN (round 17) — the restart lookup a
    // crashed trainer actually performs: given consumed global token
    // counts T (checkpoints), locate the exact (phase, shard, pack,
    // offset-in-pack) of the first UNCONSUMED token under the
    // artifact's consumption order (phase ASC, then the dense
    // per-phase pack stream — every non-final pack holds exactly ctx
    // tokens by construction, so within a phase the lookup is pure
    // integer math: local = T − phase_base, pack = local div ctx,
    // offset = local mod ctx, shard = pack div pps). Checkpoints here
    // are the 10 evenly spaced global offsets k·(total div 11) —
    // deterministic integers, so the oracle replays every row; the
    // artifact face is [[Packing.resumePlan]], which reads only the
    // `_manifest` + `_params` sidecars (metadata — ZERO shard or
    // corpus reads; spec-pinned ≡ this query on a written artifact).
    // Scale shape: per-phase totals fold from p10's offsets plan
    // (partial map-side, #phases rows), then every join is a
    // broadcast of that handful of rows against 10 checkpoint rows —
    // the one corpus pass is the packing plan itself.
    // p14: p10's replay chain folded to per-phase token totals, then
    // the checkpoint lookup is pure integer math over that handful of
    // rows — the same floor divisions both engines spell exactly.
    QuerySpec("p14_resume_plan", (s, dir) => {
      val pt = curriculumPacking(s, dir)
        .groupBy("phase").agg(sum("n_tokens").as("ptok"))
      val wP = org.apache.spark.sql.expressions.Window.orderBy("phase")
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val pb = pt.withColumn("base", sum("ptok").over(wP) - col("ptok"))
      val tot = pt.agg(sum("ptok").as("total"))
      s.range(1, 11).toDF("k")
        .crossJoin(broadcast(tot))
        .withColumn("t_global", col("k") * expr("total div 11"))
        .join(broadcast(pb), col("t_global") >= col("base") &&
          col("t_global") < col("base") + col("ptok"))
        .withColumn("local", col("t_global") - col("base"))
        .select(col("k"), col("t_global"), col("phase"),
          expr("local div 2048 div 64").as("shard_id"),
          expr("local div 2048").as("pack_id"),
          (col("local") % lit(2048L)).as("offset_in_pack"))
        .orderBy("k")
    }, sql(
      s"""WITH $p10CtesSql,
        | pt AS (SELECT phase, CAST(SUM(n_tokens) AS BIGINT) AS ptok
        |  FROM oo GROUP BY phase),
        | pb AS (SELECT phase, ptok,
        |   SUM(ptok) OVER (ORDER BY phase
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ptok
        |    AS base FROM pt),
        | tt AS (SELECT CAST(SUM(ptok) AS BIGINT) AS total FROM pt),
        | ck AS (SELECT CAST(g.k AS BIGINT) AS k,
        |   CAST(g.k * (total // 11) AS BIGINT) AS t_global
        |  FROM generate_series(1, 10) AS g(k), tt)
        | SELECT k, t_global, phase,
        |  CAST((t_global - base) // 2048 // 64 AS BIGINT) AS shard_id,
        |  CAST((t_global - base) // 2048 AS BIGINT) AS pack_id,
        |  CAST((t_global - base) % 2048 AS BIGINT) AS offset_in_pack
        | FROM ck JOIN pb ON t_global >= base AND t_global < base + ptok
        | ORDER BY k""".stripMargin.replaceAll("\n", "")), headline = true),

    // P15: EPOCH SHARD SHUFFLE (round 17) — the reproducible
    // between-epoch reshuffle a trainer's dataloader performs over
    // the packed artifact: curriculum order fixes the PHASE sequence,
    // so each epoch permutes the SHARDS WITHIN each phase (the
    // shard-level shuffle streaming loaders actually do — a global
    // sample shuffle would defeat sequential shard reads) by the p4
    // md5 discipline: order = rank of md5(phase|shard|'e'epoch)
    // within (epoch, phase) — deterministic across reruns, engines,
    // partitionings and data-parallel workers; no RNG state to ship.
    // Epochs 1..3 here; the artifact face is
    // [[Packing.epochShardOrder]] (manifest-only — zero shard or
    // corpus reads; spec-pinned against a plain-Scala permutation on
    // a written artifact). Scale shape: the shard universe folds
    // from the SAME segment plan p12's manifest folds from; the rank
    // window runs over #shards × epochs rows — metadata scale.
    // p15: p12's shard universe, then the same md5 rank both engines
    // spell identically — the ONE shared md5Long over the ONE shared
    // key string.
    QuerySpec("p15_epoch_shuffle", (s, dir) =>
      Packing.epochShardOrderOf(
        Packing.perPhaseSegments(curriculumPacking(s, dir), "n_tokens",
            ctxSize = 2048, packsPerShard = 64)
          .select("phase", "shard_id").distinct(),
        epochs = 3), sql(
      s"""WITH $p10CtesSql,
        | oob AS (SELECT doc_id, phase, pos, n_tokens,
        |   CAST(so AS BIGINT) AS so FROM oo),
        | sg AS (SELECT phase, so // 2048 + u.i AS pack_id
        |  FROM oob, UNNEST(range(0,
        |    (so + n_tokens - 1) // 2048 - so // 2048 + 1)) AS u(i)
        |  WHERE n_tokens > 0),
        | sh AS (SELECT DISTINCT phase,
        |   CAST(pack_id // 64 AS BIGINT) AS shard_id FROM sg),
        | ep AS (SELECT CAST(g.e AS BIGINT) AS epoch
        |  FROM generate_series(1, 3) AS g(e)),
        | hx AS (SELECT epoch, phase, shard_id,
        |   ${md5LongSql("CAST(phase AS VARCHAR) || '|' || " +
             "CAST(shard_id AS VARCHAR) || '|' || 'e' || " +
             "CAST(epoch AS VARCHAR)")} AS h
        |  FROM sh, ep)
        | SELECT epoch, phase, shard_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY epoch, phase
        |    ORDER BY h, shard_id) - 1 AS BIGINT) AS order_pos
        | FROM hx ORDER BY epoch, phase, order_pos""".stripMargin
        .replaceAll("\n", "")), headline = true),

    // T56: gate DRIFT monitor (round 17) — the data-quality dashboard
    // a production ingest watches: an upstream crawler/extractor
    // regression shows up as a sudden shift in a gate's pass rate
    // long before anyone reads a data card. Arrival order is modeled
    // as 24 equal doc_id ranges (deterministic; the oracle replays
    // the same integer split); from batch 20 on, a PLANTED
    // degradation (hash spam scaled with the document — m tokens of
    // '#### ' with m = n_chars div 50 + 1, so the Gopher hash rule
    // flips at every SF and every doc shape: 40m hashes vs wc0 + m ≤
    // (n_chars+1)/2 + m words) simulates the regression. Per batch:
    // exact-integer pass rates (×10⁶) for the gopher, blocklist and
    // PII gates from the SAME fused perDocGateFacts projection every
    // report uses; then s24's 16ths-scaled integer EWMA (ONE
    // definition — EventQueries.ewmaScan; the oracle replays the
    // recursion as a recursive CTE) and an alert when a batch's rate
    // deviates from the PREVIOUS EWMA by more than 15 pp — the
    // planted batches fire the gopher alert, the untouched gates
    // show the monitor staying quiet. Scale shape: one corpus pass
    // (the fused facts scan) + a 24-row fold — the EWMA/alert chain
    // runs on the batch table, never the corpus; the 24-row window
    // is the bounded-window class the histogram patterns use.
    // t56: the same 24-range split, the same scaled hash-spam plant,
    // the gate CTE blocks re-sourced from the degraded text (ONE
    // spelling each), exact-integer rates, and s24's EWMA recursion
    // replayed as a recursive CTE with the same 15 pp alert rule.
    QuerySpec("t56_gate_drift", (s, dir) => {
      val dd = docsBalanced(s, dir)
      val withB = dd
        .crossJoin(broadcast(dd.agg((max("doc_id") + 1L).as("nid"))))
        .withColumn("batch",
          least(lit(23L), expr("doc_id * 24 div nid")))
      val degraded = withB.withColumn("text",
        when(col("batch") >= 20,
          concat(col("text"), lit(" "),
            expr("repeat('#### ', CAST(n_chars div 50 + 1 AS INT))")))
          .otherwise(col("text")))
      val facts = perDocGateFacts(degraded
        .select(col("doc_id"), col("text"), col("batch")))
      def cnt(p: org.apache.spark.sql.Column) =
        sum(when(p, 1L).otherwise(0L))
      val rates = facts.groupBy("batch").agg(
          count(lit(1)).as("n_docs"),
          cnt(col("g_keep")).as("gp"),
          cnt(col("b_keep")).as("bp"),
          cnt(col("pii_free")).as("pp"))
        .select(col("batch"), col("n_docs"),
          expr("gp * 1000000 div n_docs").as("g_rate6"),
          expr("bp * 1000000 div n_docs").as("b_rate6"),
          expr("pp * 1000000 div n_docs").as("p_rate6"))
      val folded = rates
        .agg(sort_array(collect_list(struct(col("batch"), col("n_docs"),
          col("g_rate6"), col("b_rate6"), col("p_rate6")))).as("ser"))
        .withColumn("ge",
          EventQueries.ewmaScan(expr("transform(ser, x -> x.g_rate6)")))
        .withColumn("be",
          EventQueries.ewmaScan(expr("transform(ser, x -> x.b_rate6)")))
        .withColumn("pe",
          EventQueries.ewmaScan(expr("transform(ser, x -> x.p_rate6)")))
        .select(explode(arrays_zip(col("ser"), col("ge"), col("be"),
          col("pe"))).as("z"))
        .select(col("z.ser.batch").as("batch"),
          col("z.ser.n_docs").as("n_docs"),
          col("z.ser.g_rate6").as("g_rate6"),
          col("z.ser.b_rate6").as("b_rate6"),
          col("z.ser.p_rate6").as("p_rate6"),
          col("z.ge").as("g_ewma16"), col("z.be").as("b_ewma16"),
          col("z.pe").as("p_ewma16"))
      val w = org.apache.spark.sql.expressions.Window.orderBy("batch")
      def alert(r: String, e: String) = coalesce(
        abs(lit(16L) * col(r) - lag(e, 1).over(w)) > lit(2400000L),
        lit(false))
      folded
        .withColumn("g_alert", alert("g_rate6", "g_ewma16"))
        .withColumn("b_alert", alert("b_rate6", "b_ewma16"))
        .withColumn("p_alert", alert("p_rate6", "p_ewma16"))
        .orderBy("batch")
    }, sql(
      s"""WITH RECURSIVE mx AS (SELECT MAX(doc_id) + 1 AS nid
        |  FROM documents),
        | t56src AS (SELECT d.doc_id,
        |   CASE WHEN LEAST(23, d.doc_id * 24 // mx.nid) >= 20
        |    THEN d.text || ' ' ||
        |      repeat('#### ', CAST(d.n_chars // 50 + 1 AS INT))
        |    ELSE d.text END AS text,
        |   CAST(LEAST(23, d.doc_id * 24 // mx.nid) AS BIGINT) AS batch
        |  FROM documents d, mx),
        | ${gopherRuleCtesSql("t56src")},
        | gk AS (SELECT doc_id, (wc BETWEEN 50 AND 100000)
        |   AND ((len - (wc - 1)) >= wc * 3 AND (len - (wc - 1)) <= wc * 10)
        |   AND hash_cnt * 10 <= wc AND ell_cnt * 10 <= wc
        |   AND alpha_w * 5 >= wc * 4 AS g_keep FROM c),
        | ${t50CountCtesFrom("t56src")},
        | pt AS (${piiPlantSqlFrom("t56src")}),
        | pii AS (SELECT doc_id,
        |   len(regexp_extract_all(text, '$EmailPat')) = 0
        |    AND len(regexp_extract_all(text, '$Ipv4Pat')) = 0
        |    AND len(regexp_extract_all(text, '$PhonePat')) = 0
        |    AS pii_free
        |  FROM pt),
        | j AS (SELECT s.batch, gk.g_keep, blc.n_bad = 0 AS b_keep,
        |   pii.pii_free
        |  FROM t56src s JOIN gk USING (doc_id) JOIN blc USING (doc_id)
        |   JOIN pii USING (doc_id)),
        | rt AS (SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |   CAST(SUM(CASE WHEN g_keep THEN 1 ELSE 0 END) * 1000000
        |     // COUNT(*) AS BIGINT) AS g_rate6,
        |   CAST(SUM(CASE WHEN b_keep THEN 1 ELSE 0 END) * 1000000
        |     // COUNT(*) AS BIGINT) AS b_rate6,
        |   CAST(SUM(CASE WHEN pii_free THEN 1 ELSE 0 END) * 1000000
        |     // COUNT(*) AS BIGINT) AS p_rate6
        |  FROM j GROUP BY batch),
        | pl AS (SELECT *, ROW_NUMBER() OVER (ORDER BY batch) AS i
        |  FROM rt),
        | r AS (
        |  SELECT i, batch, n_docs, g_rate6, b_rate6, p_rate6,
        |    CAST(16 * g_rate6 AS BIGINT) AS ge,
        |    CAST(16 * b_rate6 AS BIGINT) AS be,
        |    CAST(16 * p_rate6 AS BIGINT) AS pe,
        |    false AS g_alert, false AS b_alert, false AS p_alert
        |   FROM pl WHERE i = 1
        |  UNION ALL
        |  SELECT p.i, p.batch, p.n_docs, p.g_rate6, p.b_rate6,
        |    p.p_rate6,
        |    CAST((3 * r.ge + 16 * p.g_rate6) // 4 AS BIGINT),
        |    CAST((3 * r.be + 16 * p.b_rate6) // 4 AS BIGINT),
        |    CAST((3 * r.pe + 16 * p.p_rate6) // 4 AS BIGINT),
        |    abs(16 * p.g_rate6 - r.ge) > 2400000,
        |    abs(16 * p.b_rate6 - r.be) > 2400000,
        |    abs(16 * p.p_rate6 - r.pe) > 2400000
        |   FROM r JOIN pl p ON p.i = r.i + 1)
        | SELECT batch, n_docs, g_rate6, b_rate6, p_rate6,
        |  ge AS g_ewma16, be AS b_ewma16, pe AS p_ewma16,
        |  g_alert, b_alert, p_alert
        | FROM r ORDER BY batch""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // T55: per-domain DATA CARD (round 17) — the per-language ×
    // per-gate breakdown a corpus release publishes (The Pile §2,
    // Dolma, FineWeb data cards): t52 gives the whole-corpus
    // sequential funnel; the card is the same ONE-definition gate
    // tables folded one level finer, per `lang` — docs and seg-token
    // volume, each gate's independent pass count (gopher rules,
    // blocklist, full-corpus dedup, benchmark decontamination,
    // PII-free, quality classifier), the final all-gates keep with
    // its doc/token keep rates, and the readability distribution (the
    // p9 FK decibin summed exactly; its mean as the one derived
    // double). Every flag comes from the SAME definition its
    // standalone query hash-checks (t43/t48 labels, t50 counts,
    // textDupDecision, d21, t54's piiCounts, p9's bin) — the card can
    // never drift from the gates it reports. Decontamination is
    // LEFT-joined, coalesce TRUE (the %23 benchmark slice is eval
    // data, unscreened — the t52 convention); classifier coverage
    // LEFT-joined, zero-token docs score as drop. Scale shape: the
    // gate scans the pipeline already pays, then ONE lang-keyed fold
    // with map-side partials — output is #languages rows, never
    // corpus rows; rates are exact-integer ratios rounded at the end.
    QuerySpec("t55_data_card", (s, dir) => {
      // ONE fused, cached base: seg-tokens + every map-stage fact
      // (labels, blocklist, PII, FK bin) from the SAME balanced scan;
      // the training label rides the row and the winnowing dedup pass
      // reads the cached tokens — the t52 fusion, one level finer
      // (round-17 optimization; guide §2.4 / §1.2 step 1)
      val base = graft.Caches.shared(perDocGateFacts(docsBalanced(s, dir))
        .select(col("doc_id"), col("lang"),
          TextAnalysis.segTokens(col("text")).as("tk"),
          col("g_keep"), col("b_keep"), col("pii_free"), col("bin")))
      val d = base.select(col("doc_id"), col("tk"))
      val facts = base.select(col("doc_id"), col("lang"), col("g_keep"),
        col("b_keep"), col("pii_free"), col("bin"))
      val train = base.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("tk"), col("g_keep").as("keep"))
      val scored =
        qualityLogOdds(d, qualityTokCounts(train), qualityDocCounts(train))
      val flags = facts
        .join(textDupDecisionFromTokens(s, dir, d)
          .select(col("asset_id").as("doc_id"), col("kept").as("d_keep")),
          "doc_id")
        .join(benchmarkDecontamination(s, dir)
          .select(col("doc_id"), (!col("contaminated")).as("c_keep")),
          Seq("doc_id"), "left")
        .join(scored.select(col("doc_id"), col("n_tokens"),
          col("pred_keep")), Seq("doc_id"), "left")
        .select(col("lang"), col("g_keep"), col("b_keep"), col("d_keep"),
          coalesce(col("c_keep"), lit(true)).as("c_keep"),
          coalesce(col("pred_keep"), lit(false)).as("p_keep"),
          coalesce(col("n_tokens"), lit(0L)).as("nt"),
          col("pii_free"), col("bin"))
      dataCardFold(flags)
    }, t55OracleSql, headline = true,
      sf1Chains = Some((s, dir) => t55Sf1Chains(s, dir))),
  )

  /** t55's per-lang fold — ONE definition for the batch query and the
    * from-state face ([[graft.streaming.FunnelStreams.dataCardFromState]]):
    * a (lang, g_keep, b_keep, d_keep, c_keep, p_keep, nt, pii_free,
    * bin) flag frame folds to #languages rows with per-gate pass
    * counts, the all-gates keep rates and the FK decibin sum — partial
    * map-side, never corpus rows out. */
  private[graft] def dataCardFold(flags: DataFrame): DataFrame = {
    def cnt(p: org.apache.spark.sql.Column) =
      sum(when(p, 1L).otherwise(0L))
    val keepAll = col("g_keep") && col("b_keep") && col("d_keep") &&
      col("c_keep") && col("pii_free") && col("p_keep")
    flags.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("nt").as("n_tokens"),
        cnt(col("g_keep")).as("gopher_pass"),
        cnt(col("b_keep")).as("blocklist_pass"),
        cnt(col("d_keep")).as("dedup_pass"),
        cnt(col("c_keep")).as("decon_pass"),
        cnt(col("pii_free")).as("pii_free_docs"),
        cnt(col("p_keep")).as("classifier_pass"),
        cnt(keepAll).as("docs_kept"),
        sum(when(keepAll, col("nt")).otherwise(0L)).as("tokens_kept"),
        sum("bin").as("fk_bin_sum"))
      .withColumn("doc_keep_rate",
        round(col("docs_kept").cast("double") / col("n_docs"), 6))
      .withColumn("token_keep_rate",
        when(col("n_tokens") > 0,
          round(col("tokens_kept").cast("double") / col("n_tokens"), 6)))
      .withColumn("mean_fk_bin",
        round(col("fk_bin_sum").cast("double") / col("n_docs"), 4))
      .orderBy("lang")
  }

  /** t52's funnel fold — ONE definition for the batch query and the
    * from-state face ([[graft.streaming.FunnelStreams]]): a
    * (g_keep, b_keep, d_keep, c_keep, p_keep, nt) flag frame folds to
    * ONE global 12-long row (partial map-side) and explodes into the
    * 5 ordered stage rows with doc/token removal rates. */
  private[graft] def funnelFold(flags: DataFrame): DataFrame = {
    def cnt(p: org.apache.spark.sql.Column) =
      sum(when(p, 1L).otherwise(0L))
    def vol(p: org.apache.spark.sql.Column) =
      sum(when(p, col("nt")).otherwise(0L))
    val tot = flags.agg(
      count(lit(1)).as("n0"), sum("nt").as("t0"),
      cnt(col("g_keep")).as("n1"), vol(col("g_keep")).as("t1"),
      cnt(col("g_keep") && col("b_keep")).as("n2"),
      vol(col("g_keep") && col("b_keep")).as("t2"),
      cnt(col("g_keep") && col("b_keep") && col("d_keep")).as("n3"),
      vol(col("g_keep") && col("b_keep") && col("d_keep")).as("t3"),
      cnt(col("g_keep") && col("b_keep") && col("d_keep") &&
        col("c_keep")).as("n4"),
      vol(col("g_keep") && col("b_keep") && col("d_keep") &&
        col("c_keep")).as("t4"),
      cnt(col("g_keep") && col("b_keep") && col("d_keep") &&
        col("c_keep") && col("p_keep")).as("n5"),
      vol(col("g_keep") && col("b_keep") && col("d_keep") &&
        col("c_keep") && col("p_keep")).as("t5"))
    def rate(in: org.apache.spark.sql.Column,
        kept: org.apache.spark.sql.Column) =
      when(in > 0, round((in - kept).cast("double") / in, 6))
    def stage(ord: Long, name: String, nIn: String, nKept: String,
        tIn: String, tKept: String) =
      struct(lit(ord).as("ord"), lit(name).as("stage"),
        col(nIn).as("docs_in"), col(nKept).as("docs_kept"),
        rate(col(nIn), col(nKept)).as("doc_removal_rate"),
        col(tIn).as("tokens_in"), col(tKept).as("tokens_kept"),
        rate(col(tIn), col(tKept)).as("token_removal_rate"))
    tot.select(explode(array(
        stage(1L, "gopher_rules", "n0", "n1", "t0", "t1"),
        stage(2L, "blocklist", "n1", "n2", "t1", "t2"),
        stage(3L, "dedup", "n2", "n3", "t2", "t3"),
        stage(4L, "decontaminate", "n3", "n4", "t3", "t4"),
        stage(5L, "classifier", "n4", "n5", "t4", "t5")))
        .as("r"))
      .select(col("r.*"))
      .orderBy("ord")
  }

  /** t54's detection + redaction body — ONE definition for the t54
    * query and the t55 data card's PII gate: plant, per-pattern
    * leftmost-first counts, the fixed-order global mask chain's md5
    * fingerprint, and the pii_free verdict. Pure scan projection. */
  /** [[piiCounts]] in COLUMN-PRESERVING form: the planted text lives
    * in an underscore temp so the caller's `text` is untouched — the
    * [[perDocGateFacts]] chain link. */
  private def piiFacts(d: DataFrame): DataFrame = {
    val masked = regexp_replace(regexp_replace(regexp_replace(
      col("_ptext"), EmailPat, "<EMAIL>"), Ipv4Pat, "<IP>"),
      PhonePat, "<PHONE>")
    def cnt(pat: String) =
      size(regexp_extract_all(col("_ptext"), lit(pat), lit(0)))
        .cast("long")
    d.withColumn("_ptext", piiPlantedText(col("doc_id"), col("text")))
      .withColumn("n_emails", cnt(EmailPat))
      .withColumn("n_ips", cnt(Ipv4Pat))
      .withColumn("n_phones", cnt(PhonePat))
      .withColumn("red_fp", md5(masked))
      .withColumn("pii_free",
        col("n_emails") === 0 && col("n_ips") === 0 &&
          col("n_phones") === 0)
      .drop("_ptext")
  }

  private[graft] def piiCounts(d: DataFrame): DataFrame =
    piiFacts(d).select(col("doc_id"), col("n_emails"), col("n_ips"),
      col("n_phones"), col("red_fp"), col("pii_free"))

  /** t53's planted line list: 10-word chunk lines (d19's convention)
    * plus the two repetition plants, each scaled WITH the document so
    * the rule it targets fires at every SF. ONE definition — the
    * oracle replays the same construction. */
  private def t53PlantedLines(
      id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    TextAnalysis.letBound(Chunker.chunksCol(text, 10)) { base =>
      concat(base,
        when(pmod(id, lit(9)) === 4,
          array_repeat(element_at(base, 1), size(base)))
          .otherwise(expr("CAST(array() AS array<string>)")),
        when(pmod(id, lit(11)) === 7,
          array(array_join(
            array_repeat(lit("zz yy"), size(base) * 6), " ")))
          .otherwise(expr("CAST(array() AS array<string>)")))
    }

  /** p10's packed curriculum plan — ONE definition for the query and
    * [[graft.operators.Packing.writeCurriculumShards]]'s spec input:
    * (doc_id, phase, pos, n_tokens, start_offset, pack_id, shard_id)
    * with positions and offsets restarting per phase. ctx 2048 / 64
    * packs per shard — the p5 context size. */
  private[graft] def curriculumPacking(
      s: SparkSession, dir: String): DataFrame = {
    // ONE fused scan (round-17 optimization): the FK decibin AND the
    // token count come out of the same projection, so the phase
    // assignment and n_tokens never meet through a corpus-wide doc_id
    // join (the previous shape ran two document scans and glued them
    // with a shuffle join — two corpus exchanges for columns one scan
    // computes in place). `balanced` spreads the regex-heavy
    // projection across cores under the local one-file layout
    // (provable no-op on multi-split scans at cluster scale).
    val binned = Tables.balanced(docs(s, dir))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .transform(withReadability)
      .withColumn("bin", round(col("fk") * 10).cast("long"))
      .select(col("doc_id"), col("bin"), col("n_tokens"))
    // the JOINED frame is what gets cached: the prefix sum reads it on
    // three branches (boundary sample, local window, per-bucket
    // subtotals) — uncached, each branch re-runs the histogram +
    // broadcast join (measured 2× the p10/p12/p14 wall at sf0.1). The
    // binned input stays uncached on this path (cacheInput = false):
    // its two consumers (histogram, join-back) are parallel map scans,
    // cheaper than a third cache materialization job.
    val phased = graft.Caches.shared(
      curriculumPhasesOver(binned, cacheInput = false)
        .select("doc_id", "phase", "n_tokens"))
    Packing.perPhasePackOffsets(phased, "doc_id", "n_tokens",
      phaseCol = "phase", salt = "-p9", ctxSize = 2048, packsPerShard = 64)
  }

  /** p9's phase assignment — ONE definition shared by the p9 query and
    * p10's packing: FK decibin (bounded integer domain), phase =
    * quartile of the bin distribution via t18's bounded-histogram
    * prefix sum (the window runs on the HISTOGRAM, never the corpus),
    * broadcast-joined back. Returns (doc_id, fk, bin, phase). */
  private[graft] def curriculumPhases(d: DataFrame): DataFrame =
    curriculumPhasesOver(Tables.balanced(d)
      .transform(withReadability)
      .withColumn("bin", round(col("fk") * 10).cast("long"))
      .select(col("doc_id"), col("fk"), col("bin")))

  /** The quartile-of-bin-histogram phase assignment over an
    * already-binned frame (any columns + `bin`) — the shared body of
    * [[curriculumPhases]] and [[curriculumPacking]]'s fused scan. The
    * binned frame is cached (round-17 optimization: it feeds the
    * histogram AND the broadcast join back — unshared, the readability
    * scan ran 3×: histogram, count, join), and the corpus count
    * derives from the histogram instead of a second corpus pass. */
  private def curriculumPhasesOver(
      binnedIn: DataFrame, cacheInput: Boolean = true): DataFrame = {
    val binned =
      if (cacheInput) graft.Caches.shared(binnedIn) else binnedIn
    val hist = binned.groupBy("bin").agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("bin")
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // coalesce: on an empty input sum aggregates to one NULL row where
    // count(lit(1)) yielded 0 — keep the old count semantics (ADVICE r17)
    val n = broadcast(hist.agg(coalesce(sum("c"), lit(0L)).as("n")))
    val phases = hist
      .withColumn("before", sum("c").over(wCum) - col("c"))
      .crossJoin(n)
      .select(col("bin"),
        (floor(col("before") * 4 / col("n")) + 1).cast("long")
          .as("phase"))
    binned.join(broadcast(phases), "bin")
  }

  /** p11's domain-mixture plan — ONE definition for the p11 query and
    * p13's sampling decision: per-domain token supply vs the uniform
    * half-corpus budget, the rate in EXACT millionths capped at 1.0.
    * The tiny per-domain table is shared (unshared, the corpus scan
    * runs twice); output is domain-bounded, never corpus rows. */
  private def domainMixture(s: SparkSession, dir: String): DataFrame = {
    val byLang = graft.Caches.shared(docs(s, dir)
      .select(col("lang"), TextAnalysis.tokenCount(col("text")).as("nt"))
      .groupBy("lang")
      .agg(sum("nt").as("tokens"), count(lit(1)).as("n_docs")))
    val nDomains = broadcast(
      byLang.agg(count(lit(1)).as("nd"), sum("tokens").as("total")))
    byLang.crossJoin(nDomains)
      .withColumn("target_tokens", expr("(total div 2) div nd"))
      .withColumn("rate6", least(lit(1000000L),
        expr("(target_tokens * 1000000) div tokens")))
      .withColumn("alloc_tokens", expr("(tokens * rate6) div 1000000"))
      .select(col("lang"), col("n_docs"), col("tokens"),
        col("target_tokens"), col("rate6"), col("alloc_tokens"),
        (col("rate6") === 1000000L).as("capped"))
  }

  /** Phase assignment for NEW documents from a frozen cut table (the
    * first difficulty bin per phase — what `Demo pack` persists as
    * the artifact's `_phase_cuts`, so an APPENDER assigns new
    * documents the ORIGINAL schedule's phases; re-deriving quartiles
    * from the union would reshuffle old documents' phases and
    * contradict shard immutability):
    * phase = the largest phase whose first bin is ≤ the document's
    * bin (bins below every cut fall to phase 1 — an easier document
    * than any the schedule has seen belongs at the front). `cuts` is
    * bounded by the phase count (4 rows), so it collects to a literal
    * when-chain — pure map-side work in the scan at any corpus
    * size. Returns (doc_id, phase, n_tokens). */
  private[graft] def phasesFromCuts(
      d: DataFrame, cuts: Seq[(Long, Long)]): DataFrame = {
    require(cuts.nonEmpty,
      "empty phase-cut table — the artifact's _phase_cuts sidecar is " +
        "missing or truncated (re-run `pack`, or restore the sidecar)")
    val sorted = cuts.sortBy(_._2) // ascending min_bin
    val binned = withReadability(d)
      .withColumn("bin", round(col("fk") * 10).cast("long"))
    val phase = sorted.tail.foldLeft(lit(sorted.head._1)) {
      case (acc, (p, minBin)) =>
        when(col("bin") >= minBin, p).otherwise(acc)
    }
    binned.select(col("doc_id"), phase.cast("long").as("phase"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
  }

  /** t52's funnel fold tail — ONE spelling for the full oracle and
    * the sf1 chain rollup: `fpk`/`ffl`/`ftot` CTEs + the 5 stage rows.
    * `dedupRef` is the dedup decision table (the `dec` CTE or the
    * materialized `__CHAIN_dedup__`), `deconRef` the d21 contamination
    * table (`dxrep` or `__CHAIN_decon__`). Decontamination is
    * LEFT-joined with COALESCE TRUE — the %23 benchmark slice is
    * never screened. */
  private def t52FoldSql(dedupRef: String, deconRef: String): String =
    s"""fpk AS (SELECT doc_id, n_tokens,
      |   ($t48LogOddsSql) > 0 AS pred_keep
      |  FROM sc, cn, dc),
      | ffl AS (SELECT lab.doc_id, lab.keep AS g_keep,
      |   blc.n_bad = 0 AS b_keep,
      |   ddc.kept AS d_keep,
      |   COALESCE(NOT dxr.contaminated, TRUE) AS c_keep,
      |   COALESCE(fpk.pred_keep, FALSE) AS p_keep,
      |   COALESCE(fpk.n_tokens, 0) AS nt
      |  FROM lab JOIN blc USING (doc_id)
      |   JOIN $dedupRef ddc ON lab.doc_id = ddc.asset_id
      |   LEFT JOIN $deconRef dxr ON lab.doc_id = dxr.doc_id
      |   LEFT JOIN fpk ON lab.doc_id = fpk.doc_id),
      | ftot AS (SELECT
      |   CAST(COUNT(*) AS BIGINT) AS n0,
      |   CAST(SUM(nt) AS BIGINT) AS t0,
      |   CAST(SUM(CASE WHEN g_keep THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |   CAST(SUM(CASE WHEN g_keep THEN nt ELSE 0 END) AS BIGINT) AS t1,
      |   CAST(SUM(CASE WHEN g_keep AND b_keep THEN 1 ELSE 0 END)
      |     AS BIGINT) AS n2,
      |   CAST(SUM(CASE WHEN g_keep AND b_keep THEN nt ELSE 0 END)
      |     AS BIGINT) AS t2,
      |   CAST(SUM(CASE WHEN g_keep AND b_keep AND d_keep THEN 1 ELSE 0
      |     END) AS BIGINT) AS n3,
      |   CAST(SUM(CASE WHEN g_keep AND b_keep AND d_keep THEN nt ELSE 0
      |     END) AS BIGINT) AS t3,
      |   CAST(SUM(CASE WHEN g_keep AND b_keep AND d_keep AND c_keep
      |     THEN 1 ELSE 0 END) AS BIGINT) AS n4,
      |   CAST(SUM(CASE WHEN g_keep AND b_keep AND d_keep AND c_keep
      |     THEN nt ELSE 0 END) AS BIGINT) AS t4,
      |   CAST(SUM(CASE WHEN g_keep AND b_keep AND d_keep AND c_keep
      |     AND p_keep THEN 1 ELSE 0 END) AS BIGINT) AS n5,
      |   CAST(SUM(CASE WHEN g_keep AND b_keep AND d_keep AND c_keep
      |     AND p_keep THEN nt ELSE 0 END) AS BIGINT) AS t5
      |  FROM ffl)
      | SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS ord, 'gopher_rules' AS stage,
      |   n0 AS docs_in, n1 AS docs_kept,
      |   CASE WHEN n0 > 0 THEN ROUND((n0 - n1)::DOUBLE / n0, 6) END
      |    AS doc_removal_rate,
      |   t0 AS tokens_in, t1 AS tokens_kept,
      |   CASE WHEN t0 > 0 THEN ROUND((t0 - t1)::DOUBLE / t0, 6) END
      |    AS token_removal_rate
      |  FROM ftot
      |  UNION ALL SELECT CAST(2 AS BIGINT), 'blocklist', n1, n2,
      |   CASE WHEN n1 > 0 THEN ROUND((n1 - n2)::DOUBLE / n1, 6) END,
      |   t1, t2,
      |   CASE WHEN t1 > 0 THEN ROUND((t1 - t2)::DOUBLE / t1, 6) END
      |  FROM ftot
      |  UNION ALL SELECT CAST(3 AS BIGINT), 'dedup', n2, n3,
      |   CASE WHEN n2 > 0 THEN ROUND((n2 - n3)::DOUBLE / n2, 6) END,
      |   t2, t3,
      |   CASE WHEN t2 > 0 THEN ROUND((t2 - t3)::DOUBLE / t2, 6) END
      |  FROM ftot
      |  UNION ALL SELECT CAST(4 AS BIGINT), 'decontaminate', n3, n4,
      |   CASE WHEN n3 > 0 THEN ROUND((n3 - n4)::DOUBLE / n3, 6) END,
      |   t3, t4,
      |   CASE WHEN t3 > 0 THEN ROUND((t3 - t4)::DOUBLE / t3, 6) END
      |  FROM ftot
      |  UNION ALL SELECT CAST(5 AS BIGINT), 'classifier', n4, n5,
      |   CASE WHEN n4 > 0 THEN ROUND((n4 - n5)::DOUBLE / n4, 6) END,
      |   t4, t5,
      |   CASE WHEN t4 > 0 THEN ROUND((t4 - t5)::DOUBLE / t4, 6) END
      |  FROM ftot)
      | ORDER BY ord""".stripMargin

  /** t52's full oracle, emitted dump-time (round 16 — the
    * decontamination stage embeds d21's canon chain, which needs the
    * corpus alphabet): the SAME t48 replay chain, the SAME t50 count
    * block, the SAME textDedupCtes decision chain, the SAME d21
    * replay (prefixed `dx` — its `d`/`tr` names collide with the t48
    * chain's), then the shared funnel fold. Every stage decision
    * comes from the one definition its standalone query hash-checks;
    * CTE name sets are disjoint by construction (asserted in
    * Round15OpsSpec). RECURSIVE for the dedup chain's transitive
    * closure. */
  private def t52OracleSql(s: SparkSession, dir: String): Option[String] =
    Some(s"""WITH RECURSIVE $t48ReplayCtes,
      | $t50CountCtes,
      | $textDedupCtes,
      | ${d21ReplayCtes(s, dir, "dx")},
      | ${t52FoldSql("dec", "dxrep")}"""
      .stripMargin.replaceAll("\n", ""))

  /** t55's per-lang fold tail — ONE spelling for the full oracle and
    * the sf1 chain rollup (the t52FoldSql pattern): the PII gate
    * (shared plant + patterns), the classifier coverage, and the
    * lang-grouped per-gate counts with the exact-integer rates.
    * `dedupRef`/`deconRef` as in [[t52FoldSql]]. */
  private def t55FoldSql(dedupRef: String, deconRef: String): String = {
    val keepAll = "g_keep AND b_keep AND d_keep AND c_keep AND " +
      "pii_free AND p_keep"
    s"""t55pt AS ($piiPlantSql),
      | pix AS (SELECT doc_id,
      |   len(regexp_extract_all(text, '$EmailPat')) = 0
      |   AND len(regexp_extract_all(text, '$Ipv4Pat')) = 0
      |   AND len(regexp_extract_all(text, '$PhonePat')) = 0 AS pii_free
      |  FROM t55pt),
      | fpk AS (SELECT doc_id, n_tokens,
      |   ($t48LogOddsSql) > 0 AS pred_keep
      |  FROM sc, cn, dc),
      | crd AS (SELECT src.lang, lab.keep AS g_keep,
      |   blc.n_bad = 0 AS b_keep,
      |   ddc.kept AS d_keep,
      |   COALESCE(NOT dxr.contaminated, TRUE) AS c_keep,
      |   COALESCE(fpk.pred_keep, FALSE) AS p_keep,
      |   COALESCE(fpk.n_tokens, 0) AS nt,
      |   pix.pii_free,
      |   CAST(ROUND(fkx.fk * 10) AS BIGINT) AS bin
      |  FROM documents src
      |   JOIN lab ON src.doc_id = lab.doc_id
      |   JOIN blc ON src.doc_id = blc.doc_id
      |   JOIN $dedupRef ddc ON src.doc_id = ddc.asset_id
      |   LEFT JOIN $deconRef dxr ON src.doc_id = dxr.doc_id
      |   LEFT JOIN fpk ON src.doc_id = fpk.doc_id
      |   JOIN pix ON src.doc_id = pix.doc_id
      |   JOIN fkx ON src.doc_id = fkx.doc_id)
      | SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
      |  CAST(SUM(CASE WHEN g_keep THEN 1 ELSE 0 END) AS BIGINT)
      |   AS gopher_pass,
      |  CAST(SUM(CASE WHEN b_keep THEN 1 ELSE 0 END) AS BIGINT)
      |   AS blocklist_pass,
      |  CAST(SUM(CASE WHEN d_keep THEN 1 ELSE 0 END) AS BIGINT)
      |   AS dedup_pass,
      |  CAST(SUM(CASE WHEN c_keep THEN 1 ELSE 0 END) AS BIGINT)
      |   AS decon_pass,
      |  CAST(SUM(CASE WHEN pii_free THEN 1 ELSE 0 END) AS BIGINT)
      |   AS pii_free_docs,
      |  CAST(SUM(CASE WHEN p_keep THEN 1 ELSE 0 END) AS BIGINT)
      |   AS classifier_pass,
      |  CAST(SUM(CASE WHEN $keepAll THEN 1 ELSE 0 END) AS BIGINT)
      |   AS docs_kept,
      |  CAST(SUM(CASE WHEN $keepAll THEN nt ELSE 0 END) AS BIGINT)
      |   AS tokens_kept,
      |  CAST(SUM(bin) AS BIGINT) AS fk_bin_sum,
      |  ROUND(SUM(CASE WHEN $keepAll THEN 1 ELSE 0 END)::DOUBLE
      |    / COUNT(*), 6) AS doc_keep_rate,
      |  CASE WHEN SUM(nt) > 0 THEN
      |    ROUND(SUM(CASE WHEN $keepAll THEN nt ELSE 0 END)::DOUBLE
      |      / SUM(nt), 6) END AS token_keep_rate,
      |  ROUND(SUM(bin)::DOUBLE / COUNT(*), 4) AS mean_fk_bin
      | FROM crd GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** t55's full oracle, emitted dump-time like t52's (its
    * decontamination gate embeds d21's canon chain): the SAME t48 /
    * t50 / dedup / d21(dx) chains plus the FK block, folded per lang
    * by [[t55FoldSql]]. */
  private def t55OracleSql(s: SparkSession, dir: String): Option[String] =
    Some(s"""WITH RECURSIVE $t48ReplayCtes,
      | $t50CountCtes,
      | $textDedupCtes,
      | ${d21ReplayCtes(s, dir, "dx")},
      | $fkCtesSql,
      | ${t55FoldSql("dec", "dxrep")}"""
      .stripMargin.replaceAll("\n", ""))

  /** t52's sf1 chain plan ([[graft.QuerySpec.sf1Chains]]): the one-WITH
    * replay carries the full-corpus winnowing closure AND the d21 gram
    * screen — both DuckDB-temp-bound at sf1 (the d22 class). Staged
    * form: materialize the dedup decision and the contamination table
    * once each, then replay the (cheap) t48 + t50 + funnel fold over
    * them. Session-scoped (the decon chain embeds the dump-time canon
    * chain for `dir`'s alphabet). */
  private def t52Sf1Chains(
      s: SparkSession, dir: String): Seq[(String, String)] =
    Seq(
      "dedup" -> (s"WITH RECURSIVE $textDedupCtes" +
        " SELECT asset_id, kept FROM dec").replaceAll("\n", ""),
      "decon" -> (s"WITH ${d21ReplayCtes(s, dir, "")}" +
        " SELECT doc_id, contaminated FROM rep").replaceAll("\n", ""),
      "rollup" -> (s"WITH $t48ReplayCtes, $t50CountCtes, " +
        t52FoldSql("__CHAIN_dedup__", "__CHAIN_decon__"))
        .replaceAll("\n", ""))

  /** t55's sf1 chain plan: t55 embeds the same two DuckDB-temp-bound
    * chains as t52 (winnowing closure + d21 gram screen) — the
    * identical staged form, with the per-lang fold as the rollup. */
  private def t55Sf1Chains(
      s: SparkSession, dir: String): Seq[(String, String)] =
    Seq(
      "dedup" -> (s"WITH RECURSIVE $textDedupCtes" +
        " SELECT asset_id, kept FROM dec").replaceAll("\n", ""),
      "decon" -> (s"WITH ${d21ReplayCtes(s, dir, "")}" +
        " SELECT doc_id, contaminated FROM rep").replaceAll("\n", ""),
      "rollup" -> (s"WITH $t48ReplayCtes, $t50CountCtes, $fkCtesSql, " +
        t55FoldSql("__CHAIN_dedup__", "__CHAIN_decon__"))
        .replaceAll("\n", ""))

  /** Oracle-side distinct word-n-gram shingle list over a `tk` token
    * list, INCLUDING Spark [[TextAnalysis.shingles]]' whole-text
    * fallback: a document shorter than n tokens contributes its whole
    * text as one shingle (so two identical one-token documents — e.g.
    * unspaced-CJK docs under the whitespace splitter — are Jaccard-1
    * duplicates in BOTH engines, not NaN-vs-1 divergent; surfaced by
    * the round-9 unspaced-CJK fixture). */
  private def shingleListSql(n: Int): String = {
    val gram = (0 until n)
      .map(j => if (j == 0) "tk[i]" else s"tk[i + $j]")
      .mkString(" || ' ' || ")
    s"CASE WHEN len(tk) >= $n THEN list_distinct(list_transform(" +
      s"range(1, len(tk) - ${n - 2}), i -> $gram)) " +
      "ELSE [array_to_string(tk, ' ')] END"
  }

  /** Oracle-side script-aware token list (≡ [[TextAnalysis.segTokens]]):
    * the RE2 spelling of the same segmentation pattern, so every oracle
    * that replays a seg-tokenized query derives its tokens from the ONE
    * shared constant — the two sides of the tokenizer cannot drift
    * independently (the round-10 regression class). */
  private def segTokSql: String = TextAnalysis.segTokSqlOf("text")

  private def q6lnSql(x: String): String =
    s"CAST(ROUND(ln(CAST($x AS DOUBLE)) * 1000000) AS BIGINT)"

  /** d12's near-dup keep DECISION as a full (asset_id, rep_id, kept)
    * table — one row per bounded doc. The d12 query keeps only the
    * kept ids (its historical shape); d22's cross-modality audit
    * reads the whole decision. ONE definition for both. */
  private[graft] def d12Decision(
      s: SparkSession, dir: String): DataFrame = {
    val bounded = docs(s, dir).filter(col("doc_id") < 1000)
    val pairs = Dedup.ngramJaccardPairs(bounded, "doc_id", "text",
      n = 2, threshold = 0.4)
    val labels = Dedup.dupClusters(pairs)
      .withColumnRenamed("id", "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(desc("n_chars"), asc("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    bounded.select("doc_id", "n_chars")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .select(col("doc_id").as("asset_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("kept"))
  }

  /** d12's replay as a CTE block ending in `dec` (asset_id, rep_id,
    * kept) — shared verbatim by the d12 oracle and d22's audit oracle
    * (prefixed there). */
  private[operators] lazy val d12DedupCtes: String =
    s"""sh AS (SELECT doc_id, ${shingleListSql(2)} s
      |  FROM (SELECT doc_id, $segTokSql tk FROM documents
      |        WHERE doc_id < 1000)),
      | pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |     / len(list_distinct(list_concat(a.s, b.s))) >= 0.4),
      | e AS (SELECT a_id AS src, b_id AS dst FROM pr
      |  UNION ALL SELECT b_id, a_id FROM pr),
      | reach AS (SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src),
      | lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
      | f AS (SELECT d.doc_id, d.n_chars,
      |   COALESCE(lab.label, d.doc_id) AS label
      |  FROM (SELECT doc_id, n_chars FROM documents WHERE doc_id < 1000) d
      |  LEFT JOIN lab ON d.doc_id = lab.id),
      | rep AS (SELECT label, doc_id AS rep_id FROM f
      |  QUALIFY row_number() OVER (PARTITION BY label
      |   ORDER BY n_chars DESC, doc_id) = 1),
      | dec AS (SELECT f.doc_id AS asset_id, rep.rep_id,
      |   f.doc_id = rep.rep_id AS kept
      |  FROM f JOIN rep USING (label))""".stripMargin

  /** The CTE names [[d12DedupCtes]] defines — the prefix map d22's
    * audit oracle renames with. */
  private[operators] val d12DedupCteNames: Seq[String] =
    Seq("sh", "pr", "e", "reach", "lab", "f", "rep", "dec")

  /** FULL-CORPUS text dedup decision (round 14 — d22's text rung):
    * d12's n-gram-Jaccard chain is bounded to 1000 docs by its O(N²)
    * brute ORACLE, so an audit built on it reported a slice, not the
    * corpus. This decision rides the corpus-scale winnowing chain
    * instead (d17 fingerprints → d18 shared-passage pairs, singleton/
    * boilerplate fps pruned before the self-join) and collapses the
    * pair graph exactly like d12 does: connected components, keep the
    * longest doc (n_chars desc, ties min id), singletons keep
    * themselves. Every stage is linear-ish (fp-keyed join bounded by
    * maxDocsPerFp) and the replay SQL exists for every piece — so the
    * decision covers EVERY document at every SF. */
  private[graft] def textDupDecision(
      s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // the winnowing fingerprint pass is the heavy map work — feed it
    // the balanced scan (round-17 optimization; the narrow (doc_id,
    // n_chars) decision projection stays on the plain scan)
    val pairs = Dedup.sharedPassagePairs(docsBalanced(s, dir), "doc_id",
        "text", k = 8, w = 4, minShared = 2L, maxDocsPerFp = 64L)
      .select(col("a_id"), col("b_id"))
    dupDecisionFromPairs(d.select("doc_id", "n_chars"), pairs)
  }

  /** [[textDupDecision]] over an ALREADY-TOKENIZED (doc_id, tk) frame —
    * the shared-scan form for t52/t55, whose cached seg-token
    * projection is exactly the winnowing pass's input: the fingerprint
    * selection, pair pruning and keep decision are the SAME definitions
    * (winnowFps / sharedPassagePairsFrom / dupDecisionFromPairs), only
    * the corpus re-scan + re-tokenize is skipped (round-17
    * optimization — guide §1.2 step 1, "don't compute things twice").
    * `s`/`dir` feed the narrow (doc_id, n_chars) decision projection,
    * which never touches `text`. */
  private[graft] def textDupDecisionFromTokens(
      s: SparkSession, dir: String, toks: DataFrame): DataFrame = {
    val pairs = Dedup.sharedPassagePairsFrom(
      graft.Caches.shared(
        Dedup.winnowFingerprintsFromTokens(toks, "doc_id", "tk",
            k = 8, w = 4)
          .select(col("doc_id").cast("long").as("id"), col("fp"))),
      minShared = 2L, maxDocsPerFp = 64L)
      .select(col("a_id"), col("b_id"))
    dupDecisionFromPairs(docs(s, dir).select("doc_id", "n_chars"), pairs)
  }

  /** The pair-graph → keep-decision collapse shared by the batch
    * [[textDupDecision]] and the from-state funnel
    * ([[graft.streaming.FunnelStreams]]): connected components over
    * the pairs, keep the longest doc per cluster (n_chars desc, ties
    * min id), singletons keep themselves. `d` = (doc_id, n_chars)
    * for every document the decision must cover. */
  private[graft] def dupDecisionFromPairs(
      d: DataFrame, pairs: DataFrame): DataFrame = {
    // shared: the label table feeds BOTH the member rank and the
    // singleton anti-join below — unshared, the whole closure chain
    // would run twice
    val labels = graft.Caches.shared(Dedup.dupClustersAuto(pairs)
      .withColumnRenamed("id", "doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(desc("n_chars"), asc("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // Rank ONLY cluster members (round 15): the round-14 form gave
    // every singleton label = doc_id after a left join and ran the
    // keep-rank window over ALL docs — a corpus-wide exchange spent
    // ranking one-row partitions. Cluster members are a tiny fraction
    // of the corpus, so the window input here is the inner join
    // (O(members)); non-members pass through as self-representatives
    // with zero window work. Decision-identical by construction: a
    // singleton's one-row partition always ranked itself first.
    val members = d.select("doc_id", "n_chars")
      .join(labels, "doc_id")
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .select(col("doc_id").as("asset_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("kept"))
    val singles = d.select(col("doc_id").as("asset_id"))
      .join(labels.select(col("doc_id").as("asset_id")),
        Seq("asset_id"), "left_anti")
      .select(col("asset_id"), col("asset_id").as("rep_id"),
        lit(true).as("kept"))
    members.unionByName(singles)
  }

  /** [[textDupDecision]]'s replay as a CTE block ending in `dec`
    * (asset_id, rep_id, kept) — d17's winnowing fingerprints, d18's
    * pruned pair join, transitive closure, longest-doc keep. `toks`
    * also carries the seg-token count (d22's text volume weight).
    * Every CTE name is ≥ 3 chars: single-letter names collide with
    * regex escapes (`\f`) and SQL lambda params (`a`, `b`, `i`, `j`)
    * under d22's word-boundary prefix rename — the round-13 advisor
    * finding. */
  /** d21's full decision chain — ONE definition for the d21 query and
    * t52's decontamination stage (round 16): the %23 benchmark slice,
    * the MUTATED planted passages (%13==5 train docs get the
    * benchmark's first 16 seg tokens ASCII-uppercased with ", "
    * wedged between words — the reformatting a raw-gram screen
    * misses), then the normalized 13-gram containment test
    * ([[Dedup.benchmarkContamination]]). Covers TRAIN docs only
    * (%23≠0); the benchmark slice itself is eval data a real pipeline
    * holds outside the corpus — funnel callers left-join and treat it
    * as unscreened. */
  private[graft] def benchmarkDecontamination(
      s: SparkSession, dir: String): DataFrame = {
    val (train, bench) = decontamInputs(s, dir)
    Dedup.benchmarkContamination(train, bench, "doc_id", "text", k = 13)
  }

  /** d21's (train, bench) input pair — the %23 benchmark slice and
    * the plant-mutated train frame — exposed so the STREAMING face
    * ([[graft.streaming.FunnelStreams]]' screen-at-ingest fold) feeds
    * the exact same planted inputs batch-at-a-time. */
  private[graft] def decontamInputs(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // balanced: the gram passes are the heavy map work of d21 —
    // single-core under the local one-file layout. Round 18: balance
    // AFTER each leg's %23 filter, not before — the shared
    // docsBalanced frame fed two consumers, so the corpus text rode
    // the round-robin exchange TWICE (once per leg); filtering first
    // exchanges each leg's slice exactly once (4% + 96% instead of
    // 100% + 100%). Row placement only — leg contents are identical.
    val bench = Tables.balanced(docs(s, dir)
      .filter(col("doc_id") % 23 === 0))
    val pass = bench.select(col("doc_id").as("b_id"),
      concat_ws(" ",
        slice(TextAnalysis.segTokens(col("text")), 1, 16)).as("passage"))
    val train = Tables.balanced(docs(s, dir)
      .filter(col("doc_id") % 23 =!= 0))
      .withColumn("b_id", col("doc_id") - (col("doc_id") % 23))
      .join(broadcast(pass), Seq("b_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 5 && col("passage").isNotNull &&
            length(col("passage")) > 0,
          concat(col("text"), lit(" "), translate(
            regexp_replace(col("passage"), " ", " , "),
            "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")))
          .otherwise(col("text")).as("text"))
    (train, bench)
  }

  private[graft] lazy val textDedupCtes: String =
    s"""toks AS (SELECT doc_id, n_chars, $segTokSql tk,
      |   len($segTokSql) AS ntok FROM documents),
      | grs AS (SELECT doc_id, list_transform(
      |   range(1, greatest(len(tk) - 7, 1) + 1),
      |   i -> ${md5LongSql("array_to_string(tk[i : i + 7], ' ')")}) AS g
      |   FROM toks),
      | fpt AS (SELECT doc_id, unnest(list_distinct(list_transform(
      |   range(1, greatest(len(g) - 3, 1) + 1),
      |   j -> list_min(g[j : j + 3])))) AS fp FROM grs),
      | keepf AS (SELECT fp FROM fpt GROUP BY fp
      |   HAVING COUNT(*) BETWEEN 2 AND 64),
      | pfp AS (SELECT fpt.doc_id, fpt.fp FROM fpt JOIN keepf USING (fp)),
      | prs AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM pfp x JOIN pfp y ON x.fp = y.fp AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      | edg AS (SELECT a_id AS src, b_id AS dst FROM prs
      |  UNION ALL SELECT b_id, a_id FROM prs),
      | rch AS (SELECT src AS id, src AS r FROM edg
      |  UNION
      |  SELECT rch.id, edg.dst FROM rch JOIN edg ON rch.r = edg.src),
      | labx AS (SELECT id, MIN(r) AS label FROM rch GROUP BY id),
      | mem AS (SELECT toks.doc_id, toks.n_chars, toks.ntok,
      |   COALESCE(labx.label, toks.doc_id) AS label
      |  FROM toks LEFT JOIN labx ON toks.doc_id = labx.id),
      | repx AS (SELECT label, doc_id AS rep_id FROM mem
      |  QUALIFY row_number() OVER (PARTITION BY label
      |   ORDER BY n_chars DESC, doc_id) = 1),
      | dec AS (SELECT mem.doc_id AS asset_id, repx.rep_id,
      |   mem.doc_id = repx.rep_id AS kept, mem.ntok
      |  FROM mem JOIN repx USING (label))""".stripMargin

  /** The CTE names [[textDedupCtes]] defines. */
  private[graft] val textDedupCteNames: Seq[String] =
    Seq("toks", "grs", "fpt", "keepf", "pfp", "prs", "edg", "rch",
      "labx", "mem", "repx", "dec")

  /** The t48 replay chain, shared verbatim by the t48 oracle and the
    * t49 evaluation oracle (one definition — the evaluation can never
    * drift from the classifier it evaluates): the language-agnostic
    * t43 rule labels (whitespace words, the paper's unit; the
    * English-specific stop-word rule excluded), the %3 train slice,
    * per-(class, token) micro-nat cells with the SAME q6
    * decomposition the engine quantizes at. Ends at `sc` (per-doc
    * n_tokens + bdiff) with `lab`/`cn`/`dc` in scope. */
  private lazy val t48ReplayCtes: String =
    s"""m AS (SELECT doc_id, text, string_split(text, ' ') AS wtk
      |   FROM documents),
      | lab AS (SELECT doc_id,
      |   (CAST(len(wtk) AS BIGINT) BETWEEN 50 AND 100000)
      |   AND ((length(text) - (len(wtk) - 1)) >= len(wtk) * 3
      |     AND (length(text) - (len(wtk) - 1)) <= len(wtk) * 10)
      |   AND len(regexp_extract_all(text, '#')) * 10 <= len(wtk)
      |   AND len(regexp_extract_all(text, '\\.\\.\\.')) * 10 <= len(wtk)
      |   AND len(list_filter(wtk, w -> regexp_matches(w, '\\p{L}'))) * 5
      |     >= len(wtk) * 4 AS keep
      |  FROM m),
      | d AS (SELECT doc_id, $segTokSql tk FROM documents),
      | tr AS (SELECT d.doc_id, tk, keep FROM d JOIN lab USING (doc_id)
      |  WHERE doc_id % 3 = 0),
      | tc AS (SELECT keep, tok, COUNT(*) AS c FROM
      |   (SELECT keep, unnest(tk) AS tok FROM tr) GROUP BY 1, 2),
      | cn AS (SELECT
      |   SUM(CASE WHEN keep THEN c ELSE 0 END) AS nk,
      |   SUM(CASE WHEN NOT keep THEN c ELSE 0 END) AS ndt,
      |   COUNT(DISTINCT tok) AS v FROM tc),
      | dc AS (SELECT SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS dk,
      |   SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS dd FROM tr),
      | mdl AS (SELECT tok,
      |   COALESCE(MAX(CASE WHEN keep THEN ${q6lnSql("c + 1")} END), 0) AS bk6,
      |   COALESCE(MAX(CASE WHEN NOT keep THEN ${q6lnSql("c + 1")} END), 0)
      |    AS bd6
      |  FROM tc GROUP BY tok),
      | g AS (SELECT doc_id, tok, COUNT(*) AS m FROM
      |   (SELECT doc_id, unnest(tk) AS tok FROM d) GROUP BY 1, 2),
      | sc AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
      |   CAST(SUM(m * (COALESCE(bk6, 0) - COALESCE(bd6, 0))) AS BIGINT)
      |    AS bdiff
      |  FROM g LEFT JOIN mdl USING (tok) GROUP BY doc_id)""".stripMargin

  /** t49's evaluation fold — ONE definition for the batch query and
    * the streaming from-state face: join `scored` (t48's output
    * shape, pred_keep per doc) to the rule `labels` (doc_id, keep),
    * restrict to the HELD-OUT doc_id%3==2 slice, and fold the
    * confusion matrix plus count/count operating metrics into one
    * row. F1 via its harmonic identity 2tp/(2tp+fp+fn) stays
    * count/count, so no ratio can hit the cross-engine rounding-tie
    * class. */
  private[graft] def qualityConfusion(
      scored: DataFrame, labels: DataFrame): DataFrame = {
    def cnt(p: org.apache.spark.sql.Column) =
      sum(when(p, 1L).otherwise(0L))
    scored.join(labels, "doc_id")
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .agg(
        count(lit(1)).as("n_holdout"),
        cnt(col("keep") && col("pred_keep")).as("tp"),
        cnt(!col("keep") && col("pred_keep")).as("fp"),
        cnt(col("keep") && !col("pred_keep")).as("fn"),
        cnt(!col("keep") && !col("pred_keep")).as("tn"))
      .select(col("n_holdout"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fp")), 6))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double") / (col("tp") + col("fn")), 6))
          .as("recall"),
        when(col("n_holdout") > 0,
          round((col("tp") + col("tn")).cast("double") / col("n_holdout"), 6))
          .as("accuracy"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          round((lit(2) * col("tp")).cast("double") /
            (lit(2) * col("tp") + col("fp") + col("fn")), 6))
          .as("f1"))
  }

  /** t48's exact integer log-odds over `sc`/`cn`/`dc` columns. */
  private lazy val t48LogOddsSql: String =
    s"bdiff - n_tokens * (${q6lnSql("nk + v")} - ${q6lnSql("ndt + v")})" +
      s" + ${q6lnSql("dk + 1")} - ${q6lnSql("dd + 1")}"

  /** Oracle twin of [[piiPlantedText]] over `documents` — the body of
    * the plant CTE, ONE spelling shared by the t54 and t55 oracles
    * (two copies of the plant surgery could drift independently). */
  private lazy val piiPlantSql: String = piiPlantSqlFrom("documents")

  /** [[piiPlantSql]] parameterized by its source relation — the t56
    * drift monitor plants PII onto its degraded-text CTE, everything
    * else onto `documents`; ONE spelling of the plant. */
  private def piiPlantSqlFrom(src: String): String =
    s"""SELECT doc_id, text ||
      |   CASE WHEN doc_id % 6 = 1 THEN ' Reach me at user' ||
      |     CAST(doc_id AS VARCHAR) || '@Example.org for details.'
      |    ELSE '' END ||
      |   CASE WHEN doc_id % 10 = 3 THEN ' Server at 10.0.' ||
      |     CAST(doc_id % 256 AS VARCHAR) || '.7 responded.'
      |    ELSE '' END ||
      |   CASE WHEN doc_id % 8 = 5 THEN ' Call 555-867-' ||
      |     lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today.'
      |    ELSE '' END AS text
      |  FROM $src""".stripMargin

  /** Oracle twin of [[gopherFacts]]' rule inputs — a CTE block ending
    * in `c(doc_id, wc, len, hash_cnt, ell_cnt, alpha_w, stop_hits)`,
    * parameterized by its source relation (t43 reads `documents`; the
    * t56 drift monitor reads its degraded-text CTE) — ONE spelling of
    * the tokenization and the six rule inputs. */
  private def gopherRuleCtesSql(src: String): String = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      .map(s => s"'$s'").mkString("[", ",", "]")
    s"""m AS (SELECT doc_id, text, string_split(text, ' ') AS tk
       |  FROM $src),
       | c AS (SELECT doc_id,
       |  CAST(len(tk) AS BIGINT) AS wc, length(text) AS len,
       |  len(regexp_extract_all(text, '#')) AS hash_cnt,
       |  len(regexp_extract_all(text, '\\.\\.\\.')) AS ell_cnt,
       |  len(list_filter(tk, w -> regexp_matches(w, '\\p{L}'))) AS alpha_w,
       |  len(list_intersect(list_distinct(tk), $stops)) AS stop_hits
       |  FROM m)""".stripMargin
  }

  /** Oracle-side spelling of [[Dedup.md5Long]]: parse the first 15 hex
    * digits of md5(expr) back to a BIGINT with a strpos fold — 60 bits,
    * exact in a signed 64-bit value in both engines (16 digits would
    * overflow Spark's signed long — the round-8 HUGEINT trap). */
  private def md5LongSql(expr: String): String =
    "list_reduce(list_transform(range(1, 16), " +
      s"h -> strpos('0123456789abcdef', substr(md5($expr), h, 1)) - 1), " +
      "(a, b) -> a * 16 + b)"

  /** Transitive-closure CC oracle (DuckDB recursive CTE) shared by the
    * label-propagation (d6) and star-contraction (d9) cluster queries. */
  private val DupClustersOracle: String =
    s"""WITH RECURSIVE sh AS (SELECT doc_id, ${shingleListSql(2)} s
      |  FROM (SELECT doc_id, $segTokSql tk FROM documents
      |        WHERE doc_id < 1000)),
      | pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |     / len(list_distinct(list_concat(a.s, b.s))) >= 0.4),
      | e AS (SELECT a_id AS src, b_id AS dst FROM pr
      |  UNION ALL SELECT b_id, a_id FROM pr),
      | reach AS (SELECT src AS id, src AS r FROM e
      |  UNION
      |  SELECT reach.id, e.dst FROM reach JOIN e ON reach.r = e.src)
      | SELECT id, MIN(r) AS label FROM reach GROUP BY id ORDER BY id"""
      .stripMargin.replaceAll("\n", "")

  /** Inlined-pair precision oracles (round 7): the pair/mapping SETS
    * are engine-specific (seeded MinHash bands / hyperplane buckets /
    * k-means cells have no SQL form), but each emitted pair's
    * similarity is a pure function of the base tables — so at dump
    * time the emitted sets are re-derived and inlined as VALUES, and
    * DuckDB recomputes every pair's exact Jaccard / cosine from
    * documents / embeddings independently. A pair whose claimed
    * similarity is wrong (or below its threshold) hash-mismatches:
    * candidate-generation + verify PRECISION is oracle-checked;
    * recall stays spec'd. */
  private def longPairValues(
      df: DataFrame, aCol: String, bCol: String): Option[String] = {
    val rows = df.select(col(aCol), col(bCol)).collect()
    if (rows.isEmpty) None
    else Some(rows.map(r => s"(${r.getLong(0)},${r.getLong(1)})").mkString(","))
  }

  /** d4's signature-conditional oracle (round 7): the 64-bit SimHash
    * signature is the one engine-native ingredient (per-token xxhash64
    * has no DuckDB recomputation — spec'd against golden values in
    * SimHashSpec), so the per-doc signatures are inlined at dump time
    * as the O(N) trained-constants analogue of v21's k-means
    * centroids. EVERYTHING downstream is re-derived independently in
    * SQL: the pigeonhole blocking (4×16-bit chunk extraction +
    * equi-join), candidate dedup, the Hamming distance
    * (bit_count∘xor), and the ≤ maxHamming cut — a wrong chunk split,
    * a lost candidate, or a wrong Hamming value all hash-mismatch. */
  private def d4OracleSql(s: SparkSession, dir: String): Option[String] = {
    val sigs = docs(s, dir)
      .select(col("doc_id").cast("long"),
        Dedup.simHash(col("text")).cast("long"))
      .collect()
    if (sigs.isEmpty) None
    else {
      val vals = sigs.map(r => s"(${r.getLong(0)},${r.getLong(1)})")
        .mkString(",")
      Some(
        s"""WITH s(id, sig) AS (SELECT * FROM (VALUES $vals)),
           | ch AS (SELECT id, sig, blk, (sig >> (blk * 16)) & 65535 AS chunk
           |   FROM s, (SELECT unnest([0, 1, 2, 3]) AS blk)),
           | cand AS (SELECT DISTINCT a.id AS a_id, b.id AS b_id
           |   FROM ch a JOIN ch b
           |     ON a.blk = b.blk AND a.chunk = b.chunk AND a.id < b.id)
           | SELECT c.a_id, c.b_id,
           |   CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
           | FROM cand c JOIN s x ON x.id = c.a_id JOIN s y ON y.id = c.b_id
           | WHERE bit_count(xor(x.sig, y.sig)) <= 10
           | ORDER BY a_id, b_id""".stripMargin.replaceAll("\n", ""))
    }
  }

  private def d3OracleSql(s: SparkSession, dir: String): Option[String] =
    longPairValues(graft.SparkEntry.queries("d3_minhash_neardup")(s, dir), "a_id", "b_id")
      .map { vals =>
        s"""WITH sh AS (SELECT doc_id, ${shingleListSql(2)} sh
           |  FROM (SELECT doc_id, $segTokSql tk FROM documents)),
           | p(a_id, b_id) AS (SELECT * FROM (VALUES $vals))
           | SELECT p.a_id, p.b_id,
           |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |    / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
           | FROM p JOIN sh a ON a.doc_id = p.a_id
           |  JOIN sh b ON b.doc_id = p.b_id
           | ORDER BY a_id, b_id""".stripMargin.replaceAll("\n", "")
      }

  private def d5OracleSql(s: SparkSession, dir: String): Option[String] =
    longPairValues(graft.SparkEntry.queries("d5_embedding_neardup")(s, dir), "a_id", "b_id")
      .map { vals =>
        s"""WITH p(a_id, b_id) AS (SELECT * FROM (VALUES $vals))
           | SELECT p.a_id, p.b_id,
           |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
           |    CAST(b.embedding AS DOUBLE[])), 6) AS similarity
           | FROM p JOIN embeddings a ON a.vec_id = p.a_id
           |  JOIN embeddings b ON b.vec_id = p.b_id
           | ORDER BY a_id, b_id""".stripMargin.replaceAll("\n", "")
      }

  private def d11OracleSql(s: SparkSession, dir: String): Option[String] =
    longPairValues(graft.SparkEntry.queries("d11_semantic_dedup")(s, dir), "vec_id", "rep_id")
      .map { vals =>
        val cos = "ROUND(list_cosine_similarity(a.emb, b.emb), 6)"
        s"""WITH m(vec_id, rep_id) AS (SELECT * FROM (VALUES $vals)),
           | e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
           |       FROM embeddings)
           | SELECT m.vec_id, m.rep_id,
           |  CASE WHEN m.vec_id = m.rep_id THEN NULL ELSE $cos END
           |   AS cos_to_rep,
           |  CASE WHEN m.vec_id = m.rep_id THEN NULL ELSE $cos >= 0.45 END
           |   AS within_radius
           | FROM m JOIN e a ON a.id = m.vec_id JOIN e b ON b.id = m.rep_id
           | ORDER BY m.vec_id""".stripMargin.replaceAll("\n", "")
      }

  private def sqEsc(s: String) = s.replace("'", "''")

  /** One BPE merge applied to segmentation CTE s{i} → s{i+1} in
    * DuckDB: the chr(1)-sentinel-seeded list_reduce fold (the corpus
    * is ASCII text, so the sentinel can't collide), shared by the t37
    * and t38 oracles so the subtle splice/strip/escape logic exists
    * exactly once. `carry` is the non-pieces column threaded through
    * (word counts for training, the word itself for encoding). */
  private def segCteSql(a: String, b: String, i: Int, carry: String): String =
    s""", s${i + 1} AS (SELECT $carry, list_reduce(
       |   list_prepend([chr(1)], list_transform(p, x -> [x])),
       |   (acc, x) -> CASE WHEN acc[-1] = '${sqEsc(a)}'
       |      AND x[1] = '${sqEsc(b)}'
       |     THEN list_append(acc[:-2], '${sqEsc(a + b)}')
       |     ELSE list_append(acc, x[1]) END)[2:] AS p FROM s$i)"""
      .stripMargin.replaceAll("\n", "")

  /** t37's oracle, generated from the corpus's merge table: re-derives
    * EVERY round's argmax from scratch — round i segments the vocab
    * with the CLAIMED merges 1..i-1 inlined as literal fold steps
    * (chr(1) sentinel seeds each list_reduce; the corpus is ASCII
    * text, so the sentinel can't collide), recomputes the weighted
    * pair counts, and takes its own (count DESC, l, r) argmax. Any
    * wrong claimed merge changes the derived row → hash mismatch. */
  private def t37OracleSql(s: SparkSession, dir: String): Option[String] =
      Some(bpeModelFor(s, dir)).filter(_.nonEmpty).map { merges =>
    // (an empty merge table — degenerate corpus with no adjacent
    // pairs — would render `FROM ()`; the filter above drops the
    // oracle entirely so the driver records rows-only, not a crash)
    // s_i = vocab segmented by merges 1..i (only s_0..s_{k-1} are
    // read: round i counts pairs of the PREVIOUS segmentation)
    val segCtes = merges.dropRight(1).zipWithIndex.map {
      case ((a, b, _), i) => segCteSql(a, b, i, "wc")
    }
    val cntCtes = merges.indices.map { i =>
      s""", c${i + 1} AS (SELECT p2[1] AS l, p2[2] AS r, SUM(wc) AS c
         |  FROM (SELECT wc, unnest(list_transform(range(1, len(p)),
         |    j -> [p[j], p[j + 1]])) AS p2 FROM s$i WHERE len(p) >= 2)
         |  GROUP BY l, r),
         | m${i + 1} AS (SELECT ${i + 1} AS rank, l, r, c FROM c${i + 1}
         |  ORDER BY c DESC, l, r LIMIT 1)"""
        .stripMargin.replaceAll("\n", "")
    }
    val union =
      merges.indices.map(i => s"SELECT * FROM m${i + 1}")
        .mkString(" UNION ALL ")
    s"""WITH wc AS (SELECT w, COUNT(*) AS wc FROM (
       |   SELECT unnest(regexp_extract_all(lower(text),
       |     '${TextAnalysis.SegPatternRe2}')) AS w
       |   FROM documents) GROUP BY w),
       | s0 AS (SELECT wc, list_transform(range(1, length(w) + 1),
       |   i -> w[i:i]) AS p FROM wc)""".stripMargin.replaceAll("\n", "") +
      segCtes.mkString + cntCtes.mkString +
      s""" SELECT CAST(rank AS BIGINT) AS rank, l, r,
         |  CAST(c AS BIGINT) AS pair_count
         | FROM ($union) ORDER BY rank""".stripMargin.replaceAll("\n", "")
  }

  /** t38's oracle: segment the DISTINCT vocab with ALL claimed merges
    * inlined as chained folds, then join the per-word piece counts
    * back onto the corpus token stream — the same
    * vocab-once/corpus-probe shape as the Spark plan. */
  private def t38OracleSql(s: SparkSession, dir: String): Option[String] =
      Some(bpeModelFor(s, dir)).map { merges =>
    val segCtes = merges.zipWithIndex.map {
      case ((a, b, _), i) => segCteSql(a, b, i, "w")
    }
    s"""WITH vocab AS (SELECT DISTINCT
       |   unnest(regexp_extract_all(lower(text),
       |     '${TextAnalysis.SegPatternRe2}')) AS w FROM documents),
       | s0 AS (SELECT w, list_transform(range(1, length(w) + 1),
       |   i -> w[i:i]) AS p FROM vocab)""".stripMargin
      .replaceAll("\n", "") +
      segCtes.mkString +
      s""", np AS (SELECT w, len(p) AS np FROM s${merges.length}),
         | dt AS (SELECT doc_id,
         |   unnest(regexp_extract_all(lower(text),
         |     '${TextAnalysis.SegPatternRe2}')) AS w FROM documents)
         | SELECT dt.doc_id, CAST(SUM(np.np) AS BIGINT) AS bpe_tokens,
         |  COUNT(*) AS n_words
         | FROM dt JOIN np ON dt.w = np.w
         | GROUP BY dt.doc_id ORDER BY dt.doc_id"""
        .stripMargin.replaceAll("\n", "")
  }

  /** t42's oracle, generated at dump time: the corpus code-point
    * ALPHABET (bounded — an alphabet, never the corpus) maps each
    * non-identity code point to its canonical fold image
    * ([[graft.functions.UnicodeCanon.foldCodePoint]]), inlined as a
    * chained single-char replace; DuckDB then recomposes with its own
    * `nfc_normalize` and re-derives fingerprint + changed flag
    * independently. Chained replaces replay a per-ORIGINAL-char map
    * only if every fold image is itself a fixed point of the map —
    * asserted here at dump time, so a violating corpus fails loudly
    * instead of silently diverging. */
  /** Oracle-side spelling of [[graft.functions.NfkcCasefold]] over
    * `expr`: a chained per-code-point `replace` built from the CORPUS
    * ALPHABET's fold map (DuckDB has no NFKC — the t42 inlining
    * pattern, shared with d21), recomposed with `nfc_normalize`.
    * `extraCps` widens the alphabet with code points the REPLAYED SQL
    * itself introduces (d21's plant mutation adds uppercase ASCII the
    * lowercase corpus never carries — without the union the oracle's
    * fold would silently skip them). The fixed-point `require` keeps
    * the chained-replace semantics sound: no fold image may itself be
    * foldable, else a later replace would double-map it. */
  private def canonChainSql(
      s: SparkSession, dir: String, expr: String,
      extraCps: Seq[Int] = Nil): String = {
    import s.implicits._
    val cps = (docs(s, dir).select(col("text")).as[String]
      .flatMap(t => t.codePoints().toArray.toSeq)
      .distinct().collect() ++ extraCps).distinct.sorted
    val entries = cps.toSeq.flatMap { cp =>
      val from = new String(Character.toChars(cp))
      val to = graft.functions.UnicodeCanon.foldCodePoint(cp)
      if (to == from) None else Some((from, to))
    }
    entries.foreach { case (_, to) =>
      to.codePoints().toArray.foreach { c =>
        require(graft.functions.UnicodeCanon.foldCodePoint(c) ==
          new String(Character.toChars(c)),
          f"canon oracle: fold image of U+$c%04X is not a map fixed point")
      }
    }
    val chain = entries.foldLeft(expr) { case (acc, (from, to)) =>
      s"replace($acc, '${sqEsc(from)}', '${sqEsc(to)}')"
    }
    s"nfc_normalize($chain)"
  }

  /** d21's full replay, built at dump time: same % 23 benchmark
    * slice, same MUTATED planted passages (ASCII-uppercase +
    * ", "-wedged — replayed with the same translate/replace), same
    * 13-gram int64 hashes — over the NORMALIZED token stream:
    * canon-chain casefold (the corpus alphabet ∪ the uppercase ASCII
    * the mutation itself introduces), [[TextAnalysis.DecontamPunct]]
    * stripped to spaces, then the ONE shared segTokSql segmentation.
    * Tokenizer, normalizer and hash all reuse the single shared
    * spellings, so no side can drift independently. */
  /** d21's replay CTE chain, CTE names prefixed with `p` so it
    * composes into other WITH blocks without shadowing (t52 reuses it
    * under prefix "dx" — its `d`/`tr` names collide with the t48
    * chain's otherwise). Ends in `<p>rep(doc_id, n_grams, n_hits,
    * contaminated)`. */
  private def d21ReplayCtes(
      s: SparkSession, dir: String, p: String): String = {
    val extra = ('A'.toInt to 'Z'.toInt) :+ ','.toInt
    val punct = "'" + TextAnalysis.DecontamPunctChars.replace("'", "''") + "'"
    val spaces = "'" + TextAnalysis.DecontamPunctSpaces + "'"
    def normToks(expr: String): String =
      TextAnalysis.segTokSqlOf(
        s"translate(${canonChainSql(s, dir, expr, extra)}, $punct, $spaces)")
    val gram = md5LongSql(
      "array_to_string(tk[CAST(u.i AS INT) : CAST(u.i AS INT) + 12], ' ')")
    s"""${p}bench AS (SELECT doc_id, text FROM documents
      |   WHERE doc_id % 23 = 0),
      | ${p}bp AS (SELECT doc_id,
      |   array_to_string(($segTokSql)[1:16], ' ') AS passage
      |  FROM ${p}bench),
      | ${p}tr0 AS (SELECT doc_id, text FROM documents
      |   WHERE doc_id % 23 <> 0),
      | ${p}tr AS (SELECT t.doc_id,
      |   CASE WHEN t.doc_id % 13 = 5 AND p.passage IS NOT NULL
      |     AND length(p.passage) > 0
      |    THEN t.text || ' ' || translate(replace(p.passage, ' ', ' , '),
      |      'abcdefghijklmnopqrstuvwxyz', 'ABCDEFGHIJKLMNOPQRSTUVWXYZ')
      |    ELSE t.text END AS text
      |  FROM ${p}tr0 t LEFT JOIN ${p}bp p
      |   ON p.doc_id = t.doc_id - (t.doc_id % 23)),
      | ${p}d AS (SELECT doc_id, ${normToks("text")} tk FROM ${p}tr),
      | ${p}bt AS (SELECT doc_id, ${normToks("text")} tk FROM ${p}bench),
      | ${p}bg AS (SELECT DISTINCT $gram AS g
      |  FROM ${p}bt, UNNEST(range(1, len(tk) - 11)) AS u(i)),
      | ${p}tg AS (SELECT doc_id, $gram AS g
      |  FROM ${p}d, UNNEST(range(1, len(tk) - 11)) AS u(i)),
      | ${p}hits AS (SELECT doc_id, COUNT(DISTINCT g) AS n_hits
      |  FROM ${p}tg WHERE g IN (SELECT g FROM ${p}bg) GROUP BY doc_id),
      | ${p}rep AS (SELECT d.doc_id,
      |   GREATEST(len(d.tk) - 12, CAST(0 AS BIGINT)) AS n_grams,
      |   COALESCE(h.n_hits, 0) AS n_hits,
      |   COALESCE(h.n_hits, 0) > 0 AS contaminated
      |  FROM ${p}d d LEFT JOIN ${p}hits h USING (doc_id))"""
      .stripMargin
  }

  private def d21OracleSql(s: SparkSession, dir: String): Option[String] =
    Some((s"WITH ${d21ReplayCtes(s, dir, "")}" +
      " SELECT doc_id, n_grams, n_hits, contaminated FROM rep" +
      " ORDER BY doc_id").replaceAll("\n", ""))

  private def t42OracleSql(s: SparkSession, dir: String): Option[String] = {
    val canon = canonChainSql(s, dir, "text")
    Some(
      s"""SELECT doc_id, text != $canon AS changed,
         | md5(trim(regexp_replace($canon,
         |   '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) AS fp_cfc
         | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", ""))
  }

  /** p10's oracle CTE chain through `oo` (doc_id, phase, pos,
    * n_tokens, so) — the per-phase md5-ordered running-sum replay,
    * shared by the p10 offsets oracle and the p12 manifest oracle. */
  private def p10CtesSql: String =
    s"""$fkCtesSql,
      | b AS (SELECT doc_id, fk,
      |   CAST(ROUND(fk * 10) AS BIGINT) AS bin FROM fkx),
      | h AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY bin),
      | n AS (SELECT COUNT(*) AS n FROM b),
      | ph AS (SELECT bin,
      |   SUM(c) OVER (ORDER BY bin
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
      |    AS before FROM h),
      | phs AS (SELECT doc_id,
      |   CAST(FLOOR(before * 4 / n) AS BIGINT) + 1 AS phase
      |  FROM b JOIN ph ON b.bin = ph.bin CROSS JOIN n),
      | tok AS (SELECT doc_id,
      |   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      | pp AS (SELECT phs.doc_id, phase, n_tokens,
      |   CAST(row_number() OVER (PARTITION BY phase
      |     ORDER BY md5(CAST(phs.doc_id AS VARCHAR) || '-p9'),
      |       phs.doc_id) AS BIGINT) AS pos
      |  FROM phs JOIN tok USING (doc_id)),
      | oo AS (SELECT doc_id, phase, pos, n_tokens,
      |   SUM(n_tokens) OVER (PARTITION BY phase ORDER BY pos
      |     ROWS UNBOUNDED PRECEDING) - n_tokens AS so FROM pp)"""
      .stripMargin
}
