package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH band join, SimHash, embedding near-dup.
  *
  * Scale stances (the whole point of each variant):
  *  - exact: one hash-partitioned groupBy on the key — the only
  *    full-shuffle op here, and it shuffles only (key, id) pairs after
  *    map-side partial aggregation;
  *  - pairwise Jaccard is O(N²) and exists as the correctness oracle
  *    for small N; the 100 TB path is MinHash banding: candidates are
  *    generated by an equi-join on (band, band_hash) — shuffle width =
  *    number of shingle-sharing pairs, not N²;
  *  - SimHash reduces a doc to one 64-bit key; near-dup = small
  *    hamming distance, and bucketing on bit-chunks gives an equi-join
  *    candidate pass as well;
  *  - embedding near-dup reuses Similarity's LSH hyperplane buckets.
  */
object Dedup {

  /** Exact dedup on a key expression: one representative (min id) per
    * group + multiplicity. groupBy does map-side partial agg; only
    * (key, partial-min, partial-count) rows shuffle. */
  def exactDedupKey(df: DataFrame, key: Column, idCol: String): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col(idCol)).as("keep_id"))

  /** Exact full-text dedup: keep the min-id row per fingerprint. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val winners = df.select(col(idCol), fp.as("fp"))
      .groupBy("fp").agg(min(col(idCol)).as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  /** Per-document duplicated-window rate: the fraction of a doc's
    * `w`-token SLIDING windows (stride 1 — unlike the fixed chunks of
    * [[repeatedPassages]]) that occur anywhere else in the corpus.
    * The substring-level duplication diagnostic (Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" —
    * public paper; this is the scoring pass, not the removal). Docs
    * shorter than `w` tokens are excluded. One windowing pass shared
    * via the session cache by the global count and the join-back; one
    * shuffle on the window key. The key that shuffles is
    * xxhash64(window tokens) — a fixed 8-byte long, never the raw
    * ~w-token window string (which would ship the corpus ≈w× over,
    * twice, at 50-100 bytes/key); 64-bit collisions are vanishingly
    * rare and the oracle hash-compare would surface any. Output:
    * (idCol, n_win, n_dup, dup_rate). */
  def dupWindowRate(
      df: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    require(w > 0)
    val d = df
      .select(col(idCol), TextAnalysis.segTokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= w)
    val wins = graft.Caches.shared(d
      .select(col(idCol),
        explode(sequence(lit(1), size(col("tk")) - (w - 1))).as("i"),
        col("tk"))
      .select(col(idCol),
        // hash the token slice directly: xxhash64 recurses into array
        // elements, so the window string is never even materialized
        xxhash64(slice(col("tk"), col("i"), lit(w))).as("win")))
    val counts = wins.groupBy("win").agg(count(lit(1)).as("c"))
    wins.join(counts, "win")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_win"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup"))
      .select(col(idCol), col("n_win"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_win"), 6).as("dup_rate"))
  }

  /** Cross-document repeated passages: chunk each doc into fixed
    * token windows, fingerprint each chunk, keep fingerprints present
    * in ≥ 2 distinct docs. Passage-level exact dedup (boilerplate
    * detection): explode + two keyed aggs — one shuffle of (fp, id)
    * pairs after map-side distinct, linear in corpus size, never a
    * pairwise comparison. */
  def repeatedPassages(
      df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 16): DataFrame = {
    // round 11: windows are SCRIPT-AWARE seg tokens (per-char Han, one
    // run per Kana/Hangul script, whitespace words elsewhere) so an
    // unspaced CJK boilerplate paragraph fingerprints as real 16-token
    // windows instead of one window per sentence. The DETECTOR departs
    // from Chunker's whitespace chunks here deliberately; the REWRITE
    // path ([[dedupChunksRewrite]], d15) stays on Chunker because it
    // must rebuild text by rejoining chunks — a reconstruction
    // constraint a detection fingerprint doesn't have.
    val toks = TextAnalysis.segTokens(col(textCol))
    val fps = TextAnalysis.letBound(toks) { tk =>
      // empty token list (empty/whitespace-only doc) → no windows; the
      // guard keeps sequence() from seeing an inverted (1, 0) range
      when(size(tk) > 0,
        transform(
          sequence(lit(1), ceil(size(tk).cast("double") / maxTokens).cast("int")),
          i => md5(concat_ws(" ",
            slice(tk, (i - 1) * maxTokens + 1, lit(maxTokens))))))
        .otherwise(array().cast("array<string>"))
    }
    df.select(col(idCol).as("doc_id"), explode(fps).as("fp"))
      .distinct()
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
      .filter(col("n_docs") >= 2)
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS algorithm): hash every k-token gram (stride 1, unlike
    * [[repeatedPassages]]'s k-aligned chunks, so shared passages are
    * found at ANY offset), then keep the MINIMUM gram hash of every
    * window of w consecutive positions. The selection guarantee:
    * any run of ≥ w + k − 1 shared tokens between two documents
    * yields at least one shared fingerprint (both documents contain a
    * full window of identical gram hashes, and min() picks the same
    * one), while the retained density is ~2/(w+1) of positions — the
    * guarantee-per-byte tradeoff exact-aligned chunking cannot make.
    * Hash = INT64 slice of the md5 ([[md5Long]]): an 8-byte shuffle
    * key instead of round-8's 32-byte hex string — 4× narrower on the
    * fingerprint exchange, and numeric min ≡ numeric min in any
    * engine. A 60-bit hash admits cross-gram collisions (~n²/2⁶¹ per
    * corpus — ~10⁻⁵ at a billion grams); a collision can only merge
    * two gram identities, which winnowing's match semantics tolerate
    * (one extra candidate pair, re-checked downstream). Documents
    * shorter than k tokens contribute their whole-text gram; gram
    * lists shorter than w collapse to one whole-list window — both
    * clamps mirrored in the oracle. Per-row map work (two nested
    * bounded HOFs) inside the scan; the only shuffle downstream is
    * the fingerprint-keyed aggregation the caller runs. Returns one
    * row per (id, fingerprint), within-doc distinct. */
  def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "gram size and window must be >= 1")
    // tokens are the SCRIPT-AWARE segmentation: an unspaced CJK
    // passage contributes per-char grams (and therefore real shared
    // fingerprints between documents sharing it) instead of one
    // useless sentence-sized token
    df.select(col(idCol),
      explode(winnowFps(TextAnalysis.segTokens(col(textCol)), k, w))
        .as("fp"))
  }

  /** [[winnowFingerprints]] over an ALREADY-TOKENIZED (id, tk) frame —
    * the shared-scan form for composites (t52/t55) that cache the
    * seg-token projection once and feed every consumer from it: the
    * gram/window selection is byte-identical to the text form's, only
    * the tokenize pass is skipped. */
  def winnowFingerprintsFromTokens(
      df: DataFrame, idCol: String, tkCol: String,
      k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, "gram size and window must be >= 1")
    df.select(col(idCol), explode(winnowFps(col(tkCol), k, w)).as("fp"))
  }

  /** The winnowing fingerprint selection over a token-array column:
    * md5Long every stride-1 k-gram, keep the min of every w-window,
    * within-doc distinct — ONE spelling shared by the text-scanning
    * and pre-tokenized faces. */
  private def winnowFps(toks: Column, k: Int, w: Int): Column =
    TextAnalysis.letBound(toks) { tks =>
      TextAnalysis.letBound(
        transform(sequence(lit(1), greatest(size(tks) - (k - 1), lit(1))),
          i => md5Long(concat_ws(" ", slice(tks, i, lit(k)))))) { gs =>
        array_distinct(transform(
          sequence(lit(1), greatest(size(gs) - (w - 1), lit(1))),
          j => array_min(slice(gs, j, lit(w)))))
      }
    }

  /** First 15 hex digits of md5(c) as a non-negative int64 (60 bits —
    * always < 2⁶³, so the value is exact through a signed long in
    * Spark AND through the oracle's strpos-fold reparse; 16 digits
    * would overflow the signed range and diverge). The narrow-key
    * workhorse for hash-keyed shuffles where 32-hex-char strings
    * would 4× the exchange width. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Shared-passage PAIR decisions — the user-facing output of MOSS
    * that [[winnowFingerprints]] feeds: which document pairs share
    * passages, how many winnowing fingerprints they share, and what
    * fraction of the smaller document's fingerprint set the overlap
    * covers (containment — the near-dup/subset signal). One d13-shaped
    * plan: fingerprints computed once (cached), singleton and
    * too-frequent fingerprints pruned BEFORE the self-join (most
    * fingerprints are unique — the prune is what keeps the join
    * near-linear; a fingerprint in more than `maxDocsPerFp` docs is
    * boilerplate with O(n²) pair fanout and no discriminative value,
    * the same maxDf bound as [[tfidfSimilarityPairs]]), then one
    * fp-keyed self-join and one (a,b)-keyed pair aggregation.
    * Denominators join back on the pair ids — the pair set is already
    * `minShared`-filtered and orders of magnitude smaller than the
    * fingerprint set. → (a_id, b_id, shared_fps, containment[6dp]). */
  def sharedPassagePairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, w: Int, minShared: Long = 2L,
      maxDocsPerFp: Long = 64L): DataFrame =
    sharedPassagePairsFrom(
      graft.Caches.shared(
        winnowFingerprints(df, idCol, textCol, k, w)
          .select(col(idCol).cast("long").as("id"), col("fp"))),
      minShared, maxDocsPerFp)

  /** [[sharedPassagePairs]] from an ALREADY-MATERIALIZED (id, fp)
    * fingerprint table — the ingest-time/streaming-state form (the
    * minHashNearDupPairsFromIndex precedent): the winnowing pass is
    * paid once when documents land, and every pair query runs over the
    * stored posting list. `fps` must be within-doc distinct, as
    * [[winnowFingerprints]] emits. */
  def sharedPassagePairsFrom(
      fps: DataFrame, minShared: Long = 2L,
      maxDocsPerFp: Long = 64L): DataFrame = {
    val nfp = fps.groupBy("id").agg(count(lit(1)).as("nfp"))
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= 2 && col("ndocs") <= maxDocsPerFp)
      .select("fp")
    val pruned = fps.join(keep, "fp")
    val a = pruned.select(col("fp"), col("id").as("a_id"))
    val b = pruned.select(col("fp"), col("id").as("b_id"))
    a.join(b, Seq("fp"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
      .join(nfp.select(col("id").as("a_id"), col("nfp").as("nfp_a")), "a_id")
      .join(nfp.select(col("id").as("b_id"), col("nfp").as("nfp_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("shared_fps"),
        round(col("shared_fps").cast("double") /
          least(col("nfp_a"), col("nfp_b")), 6).as("containment"))
  }

  /** Incremental exact dedup of a new batch against an already-ingested
    * corpus: keep exactly the new rows whose `keyCol` does not appear in
    * `seen` — the daily-ingest primitive (continuous crawls, streaming
    * appends) where re-shuffling the historical corpus per batch is the
    * scale killer.
    *
    * The result is IDENTICAL to `newDf LEFT ANTI JOIN seen` (a Bloom
    * filter has no false negatives, so every definitely-unseen row is
    * kept outright; the false-positive sliver is rescued by an exact
    * anti-join). What the Bloom pre-filter buys is the shuffle width:
    * the anti-join's new side shrinks from |batch| to
    * (true dups + fpp·|batch|) rows — at a 1% dup rate and fpp=0.01,
    * ~2% of the batch — and the seen side ships only its key column.
    * The filter itself is built once per batch with one pass over
    * `seen`'s key column (`DataFrameStatFunctions.bloomFilter`, a
    * treeAggregate — no driver collect of the keys) and broadcast; at
    * ~1.2 GB per 10⁹ keys @1% fpp a single filter covers any
    * plausible "seen" id set, and beyond that the same construction
    * shards by key range with one filter per shard.
    *
    * `expectedSeen <= 0` triggers a count() of `seen` to size the
    * filter — pass the known cardinality in production to skip that
    * job. The membership probe is a UDF by necessity (the BloomFilter
    * sketch is an opaque broadcast object, not a Catalyst expression);
    * it is a per-row bit-test on the hot path, and the exact-join
    * semantics do not depend on it. */
  def incrementalDedupBloom(
      newDf: DataFrame, seen: DataFrame, keyCol: String,
      fpp: Double = 0.01, expectedSeen: Long = -1L): DataFrame = {
    val spark = newDf.sparkSession
    val n = if (expectedSeen > 0) expectedSeen
      else math.max(seen.select(keyCol).count(), 1L)
    val filter = seen.stat.bloomFilter(keyCol, n, fpp)
    val bc = spark.sparkContext.broadcast(filter)
    val mightContain = udf((k: String) => k != null && bc.value.mightContainString(k))
    val definitelyNew = newDf.filter(!mightContain(col(keyCol)))
    val candidates = newDf.filter(mightContain(col(keyCol)))
      .join(seen.select(keyCol).distinct(), Seq(keyCol), "left_anti")
    definitelyNew.unionByName(candidates)
  }

  /** Sparse tf-idf similarity join — document pairs by cosine over
    * df-pruned tf-idf vectors, computed through the inverted index:
    * explode (doc, term, weight), equi-join on the term, per-pair dot
    * product from the posting lists, norms joined back. The sparse
    * complement of [[embeddingNearDupPairs]]: shuffle width is
    * Σ posting-list² over shared terms, bounded by `maxDf` (the
    * vocabulary-pruning move that also kills term skew — a term in
    * more than maxDf docs carries no discriminative weight AND would
    * dominate the join), never |docs|². Cosines round to `roundTo`
    * before the threshold so the pair set is engine-deterministic. */
  def tfidfSimilarityPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Long = 100L, roundTo: Int = 6): DataFrame = {
    val nDf = broadcast(df.agg(count(lit(1)).as("n")))
    val tf = df.select(col(idCol).cast("long").as("id"),
        explode(TextAnalysis.segTokens(col(textCol))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = graft.Caches.shared(tf.join(dfreq, "tok").crossJoin(nDf)
      .filter(col("df") <= maxDf)
      .select(col("id"), col("tok"),
        (col("tf") * log(col("n").cast("double") / col("df"))).as("w")))
    val norms = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val a = w.select(col("id").as("a_id"), col("tok"), col("w").as("wa"))
    val b = w.select(col("id").as("b_id"), col("tok"), col("w").as("wb"))
    a.join(b, Seq("tok"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(norms.select(col("id").as("a_id"), col("nrm").as("na")), "a_id")
      .join(norms.select(col("id").as("b_id"), col("nrm").as("nb")), "b_id")
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), roundTo))
      .filter(col("cosine") >= threshold)
      .select("a_id", "b_id", "cosine")
  }

  /** Decontamination REMOVAL — the action t10's contamination scoring
    * informs: drop every training doc sharing more than `maxOverlap`
    * n-gram occurrences with the eval corpus, keep everything else
    * (including docs too short to carry an n-gram). Same scale shape
    * as the scorer: the eval side is small by construction, so its
    * distinct n-grams BROADCAST and the training bulk is probed
    * map-side — the corpus never shuffles on n-gram strings; the only
    * shuffle is the per-doc overlap count on the id. */
  def dropContaminated(
      train: DataFrame, evalDf: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxOverlap: Long = 10L): DataFrame = {
    val evalNgrams = evalDf
      .filter(size(TextAnalysis.segTokens(col(textCol))) >= n)
      .select(explode(TextAnalysis.shinglesSeg(col(textCol), n)).as("ng"))
      .distinct()
    val contaminated = train
      .filter(size(TextAnalysis.segTokens(col(textCol))) >= n)
      .select(col(idCol), explode(TextAnalysis.shinglesSeg(col(textCol), n)).as("ng"))
      .join(broadcast(evalNgrams), "ng")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") > maxOverlap)
      .select(idCol)
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Passage-removal REWRITE — the action [[repeatedPassages]] detects:
    * chunk each doc into fixed token windows, keep only each chunk
    * fingerprint's FIRST occurrence in (doc, chunk_number) order, and
    * rebuild every doc's text from its surviving chunks (Lee et al.'s
    * exact substring dedup at chunk granularity). Output per doc:
    * (idCol, n_chunks, n_kept, new_text) — new_text empty when every
    * chunk of a doc appeared earlier. One fingerprint-keyed shuffle
    * decides winners (min (doc, chunk) struct per fp — partial-agg
    * friendly); the rebuild is a per-doc ordered aggregation, bounded
    * by document size like any per-doc agg. */
  def dedupChunksRewrite(
      df: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 16): DataFrame = {
    val ch = graft.ingest.Chunker.chunkDocuments(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")), "text",
        maxTokens = maxTokens)
      .select(col("doc_id"), col("chunk_number"), col("chunk_text"),
        md5(col("chunk_text")).as("fp"))
    val winners = ch
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("chunk_number"))).as("w"))
      .select(col("fp"), col("w.doc_id").as("w_doc"),
        col("w.chunk_number").as("w_chunk"))
    ch.join(winners, "fp")
      .withColumn("kept",
        col("doc_id") === col("w_doc") && col("chunk_number") === col("w_chunk"))
      .groupBy(col("doc_id").as(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("kept"), struct(col("chunk_number"), col("chunk_text"))))),
            s => s.getField("chunk_text")),
          " ").as("new_text"))
  }

  /** Boilerplate-paragraph REMOVAL (the CCNet-family paragraph-hash
    * cleanup, Wenzek et al. 2020 — public): hash every paragraph of
    * every document, find hashes present in MORE than `maxDocs`
    * distinct documents (nav bars, cookie banners, footers — content
    * repeated across a site), and drop ALL their occurrences,
    * rebuilding each document from its surviving paragraphs in order.
    * The frequency-threshold semantics distinguish this from
    * [[dedupChunksRewrite]] (d15), which keeps the FIRST occurrence of
    * any duplicate chunk: boilerplate is noise in every copy, so no
    * occurrence survives.
    *
    * Scale shape: paragraphs explode map-side with int64 hashes
    * ([[md5Long]] — 8-byte keys); one (h, doc)-distinct + h-keyed
    * count finds the boilerplate set, which is SMALL by construction
    * (only hashes above the document-frequency threshold) and
    * BROADCASTS back onto the paragraph stream; the rebuild is one
    * doc-keyed ordered aggregation, bounded by document size. The
    * corpus never self-joins. Output per doc:
    * (doc_id, n_paras, n_dropped, new_text). */
  def boilerplateRemoval(
      df: DataFrame, idCol: String, textCol: String,
      maxDocs: Long): DataFrame = {
    val paras = paraTable(df, idCol, textCol)
    val boiler = paras.select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > maxDocs)
      .select("h")
    removeBoilerplateAgainst(paras, boiler)
  }

  /** The (doc_id, pn, para, h) paragraph projection — the ONE d19
    * paragraph definition, shared by the batch query and the
    * streaming delta so the two sides cannot drift (uncached; see
    * [[paraTable]] for the batch-side cached wrapper). */
  private[graft] def paraView(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pn", "para")))
      .withColumn("h", md5Long(col("para")))

  /** [[paraView]] cached for [[boilerplateRemoval]], which scans it
    * twice (frequency count + rebuild). Streaming deltas call
    * [[paraView]] directly — inside foreachBatch nothing would ever
    * release the cache. */
  private[graft] def paraTable(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Caches.shared(paraView(df, idCol, textCol))

  /** The d19 drop + rebuild against an ALREADY-DERIVED boilerplate
    * hash set (h) — the streaming-state form: the set comes from the
    * committed doc-frequency fold of everything ingested so far, and
    * only the batch being cleaned pays paragraph + rebuild work. The
    * set is threshold-bounded (real boilerplate is rare among distinct
    * paragraphs), so it broadcasts. */
  private[graft] def removeBoilerplateAgainst(
      paras: DataFrame, boiler: DataFrame): DataFrame =
    paras.join(broadcast(boiler.select(col("h"), lit(1).as("b"))),
        Seq("h"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("b").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("b").isNull, struct(col("pn"), col("para"))))),
            s => s.getField("para")),
          "\n").as("new_text"))

  /** Exact-substring dedup REMOVAL (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — public): any
    * k-token run whose hash appears in >= 2 distinct documents is
    * duplicated text; every token covered by such a run is removed
    * from every document EXCEPT the one with the smallest id (one
    * canonical copy survives — the paper's keep-one variant, vs
    * [[boilerplateRemoval]]'s drop-everywhere frequency semantics and
    * [[sharedPassagePairs]]'s report-only pairs). Gram resolution
    * (stride-1 k-gram hashes) stands in for the paper's suffix-array
    * exact match: a duplicated run of length L >= k is covered
    * exactly by its L-k+1 grams. Documents shorter than k tokens
    * carry no gram and pass through untouched (whole-short-doc
    * duplication is d1's exact dedup).
    *
    * Scale shape: one cached corpus pass emits (id, start, int64
    * gram hash) map-side; the duplicated-gram table is one
    * (g, id)-distinct + g-keyed count/min (map-side partials, 8-byte
    * keys); marking joins the gram stream back on g (both sides
    * already gram-keyed — no corpus self-join), expands each hit to
    * its k covered positions (bounded constant fanout), and one
    * id-keyed collect_set gives the per-doc covered-position set.
    * The rebuild is per-row linear: `array_except` builds a hash set
    * of the covered positions, so kept = positions \ covered in
    * O(n_tok), then one ordered projection — never an O(n_tok^2)
    * membership scan. Output per doc:
    * (doc_id, n_tokens, n_removed, text_clean) with text_clean the
    * space-joined surviving seg tokens in order. */
  def exactSubstringRemoval(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, "gram size must be >= 2")
    val toks = tokArrays(df, idCol, textCol)
    val g = graft.Caches.shared(gramStarts(toks, k))
    val dup = g.select("g", "id").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"), min("id").as("keep_id"))
      .filter(col("nd") >= 2)
      .select("g", "keep_id")
    removeCoveredAgainst(toks, g, dup, k)
  }

  /** The (id, tk) seg-token view [[exactSubstringRemoval]] and its
    * streaming face share (cached: the corpus is scanned for grams and
    * again for the rebuild). */
  private[graft] def tokArrays(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Caches.shared(df.select(
      col(idCol).cast("long").as("id"),
      TextAnalysis.segTokens(col(textCol)).as("tk")))

  /** Decontamination-normalized token stream (round 12, per the
    * published convention — Brown et al. 2020 app. C lowercase +
    * punctuation removal): NFKC-casefold, strip
    * [[TextAnalysis.DecontamPunct]] to spaces, then seg-tokenize —
    * so a benchmark passage that was re-cased, re-quoted or
    * re-punctuated in the training corpus still matches the screen.
    * Raw-gram matching (the round-11 form) misses exactly those
    * trivial reformats. Pure codegen'd map work in the scan
    * projection, same shape as [[tokArrays]]. */
  private[graft] def decontamTokens(text: Column): Column =
    TextAnalysis.segTokens(translate(
      graft.functions.NfkcCasefold(text),
      TextAnalysis.DecontamPunctChars, TextAnalysis.DecontamPunctSpaces))

  private[graft] def decontamTokArrays(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.Caches.shared(df.select(
      col(idCol).cast("long").as("id"),
      decontamTokens(col(textCol)).as("tk")))

  /** Every stride-1 k-gram of a (id, tk) table as (id, st, g) with st
    * the 1-based start and g the int64 [[md5Long]] hash — the d20 gram
    * stage (docs shorter than k emit nothing). */
  private[graft] def gramStarts(toks: DataFrame, k: Int): DataFrame =
    toks.filter(size(col("tk")) >= k)
      .select(col("id"), explode(transform(
        sequence(lit(1), size(col("tk")) - (k - 1)),
        i => struct(i.as("st"),
          md5Long(concat_ws(" ", slice(col("tk"), i, lit(k)))).as("g"))))
        .as("sg"))
      .select(col("id"), col("sg.st").as("st"), col("sg.g").as("g"))

  /** The d20 marking + rebuild against an ALREADY-DERIVED duplicated-
    * gram table (g, keep_id) — the streaming-state form: the dup table
    * comes from the committed fold of everything ingested so far, and
    * only the batch being cleaned pays gram + rebuild work. */
  private[graft] def removeCoveredAgainst(
      toks: DataFrame, g: DataFrame, dup: DataFrame, k: Int): DataFrame = {
    val cov = g.join(dup, "g")
      .filter(col("id") =!= col("keep_id"))
      .select(col("id"),
        explode(sequence(col("st"), col("st") + lit(k - 1))).as("p"))
      .groupBy("id").agg(collect_set("p").as("cov"))
    toks.join(cov, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("tk"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"))
      .withColumn("kept", array_except(
        when(size(col("tk")) > 0,
          sequence(lit(1), size(col("tk")))).otherwise(array().cast("array<int>")),
        col("cov")))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("kept"), p => element_at(col("tk"), p)))
          .as("text_clean"))
  }

  /** Benchmark DECONTAMINATION report (Brown et al. 2020 appendix C;
    * Rae et al. 2021 §A.3 — public): a training document is
    * contaminated when any stride-1 k-gram of its NORMALIZED token
    * stream ([[decontamTokens]] — NFKC-casefold + punctuation strip,
    * the papers' convention) also occurs anywhere in the evaluation
    * benchmark corpus (the canonical 13-gram train/test-overlap check
    * LM pipelines run before training). Output per TRAIN doc:
    * (idCol, n_grams, n_hits, contaminated) with n_grams the doc's
    * gram-position count over normalized tokens (max(n_tok-k+1, 0) —
    * short docs carry none and cannot be flagged; sub-k overlap is
    * invisible by design) and n_hits the number of DISTINCT gram
    * hashes shared with the benchmark.
    *
    * Scale shape: real benchmarks are tiny next to a training corpus
    * (millions of grams vs 100 TB), so the bench gram set is
    * deduplicated and BROADCAST — the corpus-side gram pass joins it
    * map-side with zero corpus exchange (plan-pinned), then one
    * id-keyed partial-agg count. The only corpus-wide shuffle is the
    * final narrow (id, n_grams) ⨝ hits report join. The corpus never
    * self-joins and never shuffles its grams. */
  def benchmarkContamination(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    contaminationAgainst(train,
      gramStarts(decontamTokArrays(bench, idCol, textCol), k)
        .select("g").distinct(),
      idCol, textCol, k)

  /** The d21 report against an ALREADY-DERIVED benchmark gram-hash set
    * (g, built over [[decontamTokens]]) — the streaming-state form:
    * the set comes from the committed fold of every benchmark slice
    * ingested so far, and only the train documents being screened pay
    * gram work. */
  private[graft] def contaminationAgainst(
      train: DataFrame, bGrams: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "gram size must be >= 2")
    val tToks = decontamTokArrays(train, idCol, textCol)
    val hits = gramStarts(tToks, k)
      .join(broadcast(bGrams), Seq("g"))
      .groupBy("id").agg(countDistinct(col("g")).as("n_hits"))
    tToks.select(col("id"),
        greatest(size(col("tk")) - (k - 1), lit(0)).cast("long").as("n_grams"))
      .join(hits, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  // -------------------------------------------------------------
  // Persistent Bloom dedup state (the daily-ingest loop)
  // -------------------------------------------------------------

  /** Build the persistent Bloom dedup state from the seen corpus: ONE
    * pass over `seen`'s key column (`stat.bloomFilter` — a
    * treeAggregate, no driver collect of keys), serialized beside the
    * corpus like the ANN index `_model` sidecars. Every subsequent
    * batch goes through [[incrementalDedupWithState]], which never runs
    * a job over `seen` again; [[incrementalDedupBloom]] (the exact
    * variant) rebuilds the filter from a full corpus scan per batch,
    * which is the cost the persisted state removes from the daily loop.
    *
    * Exactness trade, stated plainly: state-only dedup has no exact
    * anti-join rescue (that rescue is precisely what required scanning
    * `seen`), so a false positive silently DROPS a genuinely novel row
    * with probability ≈fpp. Size fpp for the loop's lifetime — at the
    * 1e-8 default a billion-key filter is ~4.8 GB and the expected
    * novel-row loss over a year of million-row daily batches is a
    * handful of rows; when exactness is mandatory, use
    * [[incrementalDedupBloom]] against the corpus instead. */
  def buildBloomState(
      seen: DataFrame, keyCol: String, statePath: String,
      expectedItems: Long, fpp: Double = 1e-8): Unit = {
    val filter = seen.stat.bloomFilter(keyCol, expectedItems, fpp)
    writeBloomState(seen.sparkSession, statePath, filter, expectedItems, fpp)
  }

  /** Build-once guard for the daily loop (the same move as the
    * semantic-dedup codebook sidecar): if `_state.bin` already exists
    * at `statePath`, skip the O(seen) build entirely — key the path by
    * the seen corpus's identity (e.g. AnnIndexes.fingerprint) so a
    * regenerated corpus gets fresh state. `expectedItems ≤ 0` derives
    * the filter geometry from an exact count of `seen` with 2×
    * headroom (one count job, paid only when actually building) —
    * geometry is frozen at build time and each OR-ed batch raises the
    * effective fpp, so pass the loop's expected LIFETIME key count
    * explicitly when batches keep arriving. Returns true iff it
    * built. */
  def buildBloomStateIfAbsent(
      seen: DataFrame, keyCol: String, statePath: String,
      expectedItems: Long = 0L, fpp: Double = 1e-8): Boolean = {
    val fin = new org.apache.hadoop.fs.Path(statePath, "_state.bin")
    val fs = fin.getFileSystem(
      seen.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(fin)) false
    else {
      val n =
        if (expectedItems > 0) expectedItems
        else math.max(1024L, 2L * seen.count())
      buildBloomState(seen, keyCol, statePath, n, fpp)
      true
    }
  }

  /** One-file state layout: (expectedItems, fpp) header + the filter
    * bits, written to a temp name and renamed into `_state.bin` — the
    * underscore keeps it invisible to Spark partition discovery, so the
    * state can live inside the corpus directory itself. */
  private def writeBloomState(
      spark: org.apache.spark.sql.SparkSession, statePath: String,
      filter: org.apache.spark.util.sketch.BloomFilter,
      expectedItems: Long, fpp: Double): Unit = {
    val dir = new org.apache.hadoop.fs.Path(statePath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"_state.bin.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(tmp, true)))
    try {
      out.writeLong(expectedItems)
      out.writeDouble(fpp)
      filter.writeTo(out)
    } finally out.close()
    val fin = new org.apache.hadoop.fs.Path(dir, "_state.bin")
    fs.delete(fin, false)
    require(fs.rename(tmp, fin), s"bloom state: cannot move $tmp into place")
  }

  private[graft] def readBloomState(
      spark: org.apache.spark.sql.SparkSession, statePath: String)
      : (org.apache.spark.util.sketch.BloomFilter, Long, Double) = {
    val fin = new org.apache.hadoop.fs.Path(statePath, "_state.bin")
    val fs = fin.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(fin),
      s"no bloom dedup state at $statePath; run buildBloomState first")
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs.open(fin)))
    try {
      val expected = in.readLong()
      val fpp = in.readDouble()
      (org.apache.spark.util.sketch.BloomFilter.readFrom(in), expected, fpp)
    } finally in.close()
  }

  /** Dedup a new batch against the persisted Bloom state: keep exactly
    * the rows whose key the filter has definitely not seen, then (by
    * default) fold the batch's own keys forward into the state for the
    * next batch. ZERO jobs touch the seen corpus — membership is
    * answered by the broadcast filter alone (see [[buildBloomState]]
    * for the fpp trade). The state advance builds the batch's filter
    * with the SAME persisted geometry (expectedItems, fpp), so
    * `mergeInPlace` is structurally compatible; the merge mutates the
    * batch copy, never the broadcast filter (which local-mode
    * executors share by reference with the driver). */
  def incrementalDedupWithState(
      newDf: DataFrame, keyCol: String, statePath: String,
      updateState: Boolean = true): DataFrame = {
    val spark = newDf.sparkSession
    val (filter, expected, fpp) = readBloomState(spark, statePath)
    val bc = spark.sparkContext.broadcast(filter)
    val mightContain = udf((k: String) => k != null && bc.value.mightContainString(k))
    val kept = newDf.filter(!mightContain(col(keyCol)))
    if (updateState) {
      val batchFilter = newDf.stat.bloomFilter(keyCol, expected, fpp)
      batchFilter.mergeInPlace(filter)
      writeBloomState(spark, statePath, batchFilter, expected, fpp)
    }
    kept
  }

  /** Exact n-gram Jaccard over all (a < b) pairs — O(N²); the oracle /
    * small-N path. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double): DataFrame = {
    // shinglesSeg (round 11): shingle identities come from the
    // script-aware segmentation, so unspaced-CJK near-dups share real
    // per-char shingles instead of one whole-sentence token
    val sh = df.select(
      col(idCol).cast("long").as("id"),
      TextAnalysis.shinglesSeg(col(textCol), n).as("sh"))
    val a = sh.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * AllPairs / PPJoin family — Bayardo, Ma & Srikant WWW'07; Xiao et
    * al. WWW'08, both public papers): the SAME (a_id, b_id, jaccard)
    * rows as [[ngramJaccardPairs]] — no false negatives, no false
    * positives — reached through a token-keyed equi-join instead of
    * the O(N²) cross product. This is the corpus-scale EXACT near-dup
    * path, completing the ladder: d2 brute force (oracle), d3 MinHash
    * banding (approximate at scale), d16 prefix filtering (exact at
    * scale).
    *
    * Why it is exact: order each record's shingle set by ascending
    * global document frequency (rarest first, ties by value —
    * deterministic). J(x,y) ≥ τ forces an overlap of at least
    * ⌈τ·|x|⌉ tokens; if x and y shared tokens ONLY outside x's first
    * |x| − ⌈τ·|x|⌉ + 1 tokens, the overlap would be capped at
    * ⌈τ·|x|⌉ − 1 — contradiction. So every qualifying pair shares a
    * token in BOTH sides' prefixes, and exploding only prefixes +
    * equi-joining on the token yields a candidate superset; exact
    * Jaccard verification keeps the true pairs. The ⌈·⌉ is computed
    * as ceil(τ·n − 1e-9): the epsilon only ever LENGTHENS the prefix
    * (more candidates), so float rounding can cost work, never
    * correctness. The size filter τ·|x| ≤ |y| (both directions; J ≥ τ
    * bounds min/max set sizes) prunes candidates inside the join.
    *
    * Scale shape: the df-count pass is one explode + map-side-combined
    * groupBy (vocabulary-sized result); the ordering pass is one
    * explode + token join against that table + one per-doc sort_array
    * agg; the candidate join keys on PREFIX tokens only — which
    * rarest-first ordering makes the lowest-df tokens in the corpus,
    * so bucket width is the df of RARE tokens, not N. Verification
    * re-joins candidate ids to the set table (id-keyed, broadcast-or-
    * shuffle by size) — full sets never ship through the token join.
    * No cross product anywhere (plan-pinned, PlanShapeSpec). */
  def prefixJaccardJoin(
      df: DataFrame, idCol: String, textCol: String, n: Int,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // Work on 64-bit shingle HASHES throughout (the dupWindowRate
    // argument: the raw ~n-token shingle string would ship the corpus
    // ≈set-size× through every shuffle at 50–100 bytes/key; the long
    // is 8 bytes, collisions are vanishingly rare and the oracle
    // hash-compare would surface one). The canonical AllPairs ordering
    // just needs to be GLOBAL and consistent — (df asc, hash) is.
    val sets = df.select(
      col(idCol).cast("long").as("id"),
      array_sort(transform(TextAnalysis.shinglesSeg(col(textCol), n),
        s => xxhash64(s))).as("sh"))
    val toks = sets.select(col("id"), explode(col("sh")).as("tok"))
    // global document frequency per shingle (shingles() already
    // de-dups within a doc, so count(1) IS the df)
    val tokDf = graft.Caches.shared(
      toks.groupBy("tok").agg(count(lit(1)).as("df")))
    // Size-DERIVED join strategy (round 8): the df table is
    // vocabulary-sized, and broadcasting it back onto the token stream
    // beats shuffling the corpus's exploded tokens — but only while it
    // fits. The pass materializes the agg anyway (it's cached and read
    // twice downstream), so one vocabulary count is free, and the
    // decision reads the SAME threshold Catalyst's planner uses
    // (spark.sql.autoBroadcastJoinThreshold) at ~24 bytes per
    // (long tok, long df) hash-relation row — an extreme-vocabulary
    // corpus falls back to the keyed shuffle join automatically
    // instead of OOMing the driver on a hinted broadcast.
    val bcastBytes =
      org.apache.spark.sql.GraftShim.autoBroadcastBytes(df.sparkSession)
    val tokDfSized =
      if (bcastBytes >= 0 && tokDf.count() * 24L <= bcastBytes)
        broadcast(tokDf)
      else tokDf
    val prefixes = toks
      .join(tokDfSized, "tok")
      .groupBy("id")
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("tok")))),
        s => s.getField("tok")).as("toks"))
      .select(col("id"), size(col("toks")).as("sz"),
        explode(slice(col("toks"), lit(1),
          size(col("toks"))
            - ceil(lit(threshold) * size(col("toks")) - lit(1e-9)).cast("int")
            + 1)).as("tok"))
    val cand = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
          col("b.sz") >= lit(threshold) * col("a.sz") - lit(1e-9) &&
          col("a.sz") >= lit(threshold) * col("b.sz") - lit(1e-9))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    // Verification: ONE primitive-array intersection per candidate;
    // |A ∪ B| = |A| + |B| − |A ∩ B|, so array_union (which would
    // allocate a merged array per pair) is never computed. Candidates
    // are NOT pre-deduplicated: a pair sharing k prefix tokens arrives
    // k times, but pre-dedup costs a full candidate-width shuffle
    // (measured: ~7% dup rate — the shuffle dwarfs the duplicate
    // verify work), while post-verify dedup shuffles only the TRUE
    // pairs, which the threshold has already made sparse.
    cand
      .join(sets.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sets.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).as("ov"),
        size(col("a_sh")).as("sza"), size(col("b_sh")).as("szb"))
      .withColumn("jaccard",
        col("ov").cast("double") / (col("sza") + col("szb") - col("ov")))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
      .distinct()
  }

  // -------------------------------------------------------------
  // MinHash + LSH banding
  // -------------------------------------------------------------

  /** Universal-hash parameters h_i(x) = (a_i·x + b_i) mod p, seeded
    * deterministically. p = 2^31-1 (Mersenne); with the base hash
    * reduced mod p first, a·h + b < 2^62 — no Long overflow under
    * ANSI mode (Spark 4 default). */
  private val MersennePrime = 2147483647L // 2^31 - 1

  private def hashParams(numHashes: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new java.util.Random(seed)
    Seq.fill(numHashes)((math.abs(r.nextLong()) % (MersennePrime - 1) + 1,
      math.abs(r.nextLong()) % MersennePrime))
  }

  /** MinHash signature column: array<long> of length `numHashes` —
    * the native expression (primitive inner loop,
    * graft.functions.MinHashSignature). */
  def minHashSignature(
      shinglesCol: Column, numHashes: Int = 64, seed: Long = 42L): Column =
    graft.functions.MinHashSignature(shinglesCol, numHashes, seed)

  /** Pure-HOF formulation of the same signature: ONE aggregate() fold
    * over the base hashes updating all running minima per shingle
    * (never one expression per hash — Catalyst does not CSE across
    * HOF lambdas; that formulation measured ~29× slower at sf0.1).
    * Kept as the semantic reference; asserted bit-equal to the native
    * expression in DedupTextSpec. */
  def minHashSignatureHof(
      shinglesCol: Column, numHashes: Int = 64, seed: Long = 42L): Column = {
    val params = hashParams(numHashes, seed)
    val aLit = typedLit(params.map(_._1))
    val bLit = typedLit(params.map(_._2))
    val base = transform(shinglesCol, s => pmod(xxhash64(s), lit(MersennePrime)))
    aggregate(
      base,
      typedLit(Seq.fill(numHashes)(MersennePrime)),
      (acc, h) => transform(
        sequence(lit(0), lit(numHashes - 1)),
        i => least(
          element_at(acc, i + 1),
          pmod(h * element_at(aLit, i + 1) + element_at(bLit, i + 1),
            lit(MersennePrime)))))
  }

  /** LSH band keys: split the signature into `bands` rows of `rowsPer`
    * values; band key = xxhash64 of the band's slice (hash expressions
    * recurse into arrays — no string building). Output
    * array<struct<band:int, key:long>> for explode + equi-join. */
  def bandKeys(sigCol: Column, bands: Int, rowsPer: Int): Column =
    array((0 until bands).map { bandIdx =>
      struct(
        lit(bandIdx).as("band"),
        xxhash64(slice(sigCol, bandIdx * rowsPer + 1, rowsPer)).as("key"))
    }: _*)

  /** Full MinHash near-dup detection: LSH candidates, then exact
    * Jaccard verification of candidates only (join back to shingles).
    * At scale: candidates ≪ N², and the verify join is candidate-sized.
    *
    * The (id, shingles, signature) projection is the shared input of
    * BOTH the band-join subtree and the two verify joins. Spark's DAG
    * recomputes a branch per consumer, so without sharing the corpus
    * is shingled three times (measured 16.3 s at sf0.1, 56% of the
    * round-1 bench). Persisting that projection — the in-memory form
    * of `buildMinHashIndex`'s materialization — pays the shingle +
    * signature pass once. At 100 TB the same projection lives as a
    * parquet index (see minHashNearDupPairsFromIndex); MEMORY_AND_DISK
    * keeps the in-line form safe when it doesn't fit the block store. */
  def minHashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 2, numHashes: Int = 64,
      bands: Int = 16, seed: Long = 42L): DataFrame = {
    val index = graft.Caches.shared(df
      .select(
        col(idCol).cast("long").as("id"),
        TextAnalysis.shinglesSeg(col(textCol), shingleN).as("sh"))
      .withColumn("sig", minHashSignature(col("sh"), numHashes, seed)))
    minHashNearDupPairsFromIndex(index, threshold, numHashes, bands)
  }

  /** Index-build form: materialize (id, shingles, signature) once.
    * This is the 100 TB shape — the signature/shingle computation is
    * paid once at ingest, and every dedup query against the index is
    * pure joins over materialized columns (no recompute, no DAG
    * double-evaluation). */
  def buildMinHashIndex(
      df: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 2, numHashes: Int = 64, seed: Long = 42L): Unit =
    df.select(
        col(idCol).cast("long").as("id"),
        TextAnalysis.shinglesSeg(col(textCol), shingleN).as("sh"))
      .withColumn("sig", minHashSignature(col("sh"), numHashes, seed))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

  /** Near-dup pairs against a materialized index (see
    * buildMinHashIndex): band join on the stored signature, exact
    * Jaccard verify on the stored shingles. */
  def minHashNearDupPairsFromIndex(
      index: DataFrame, threshold: Double, numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val rowsPer = numHashes / bands
    val banded = index
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPer)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("band"), col("key"), col("id").as("a_id"))
    val b = banded.select(col("band"), col("key"), col("id").as("b_id"))
    val cands = a.join(b, Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .distinct()
    val sh = index.select(col("id"), col("sh"))
    cands
      .join(sh.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "a_sh"), "a_id")
      .join(sh.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "b_sh"), "b_id")
      .withColumn("jaccard",
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          size(array_union(col("a_sh"), col("b_sh"))))
      .filter(col("jaccard") >= threshold)
      .select("a_id", "b_id", "jaccard")
  }

  // -------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------

  /** 64-bit SimHash over word tokens: bit j of the result is the sign
    * of Σ_tokens (bit j of xxhash64(token) ? +1 : −1). One long per
    * doc; near-duplicates have small Hamming distance.
    *
    * Implemented via aggregate() over the token array with a 64-slot
    * counter encoded as... a UDF is the pragmatic choice here: 64
    * accumulators per token don't map to array HOFs without building
    * 64 intermediate arrays per row. The UDF is a pure
    * Array[String] → Long function (deterministic, serializable). */
  def simHash(text: Column): Column =
    // segTokens (round 11): an unspaced CJK doc contributes per-char
    // token features to the bit-vote instead of one sentence-sized
    // token, so SimHash distance is meaningful on delimiter-free text
    graft.functions.SimHash(TextAnalysis.segTokens(text))

  /** Hamming distance between two simhashes: bit_count(xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with block bucketing: split the 64-bit key
    * into `blocks` chunks; pairs within hamming distance d < blocks
    * must share ≥1 exact chunk (pigeonhole) → equi-join on
    * (block, chunk) generates candidates, verified by bit_count. */
  def simHashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blocks: Int = 4): DataFrame = {
    val bitsPer = 64 / blocks
    // the signature projection feeds both self-join sides — persist so
    // the per-token UDF pass runs once, not once per branch (the d3
    // lesson: Spark recomputes a DAG branch per consumer); released
    // via Caches.release(spark) once the caller has consumed the result
    val withSig = graft.Caches.shared(df.select(
      col(idCol).cast("long").as("id"), simHash(col(textCol)).as("sig")))
    val chunked = withSig.select(
      col("id"), col("sig"),
      explode(array((0 until blocks).map { blk =>
        struct(lit(blk).as("block"),
          shiftright(col("sig"), blk * bitsPer)
            .bitwiseAND(lit((1L << bitsPer) - 1)).as("chunk"))
      }: _*)).as("bc"))
      .select(col("id"), col("sig"), col("bc.block"), col("bc.chunk"))
    val a = chunked.select(col("block"), col("chunk"),
      col("id").as("a_id"), col("sig").as("a_sig"))
    val b = chunked.select(col("block"), col("chunk"),
      col("id").as("b_id"), col("sig").as("b_sig"))
    a.join(b, Seq("block", "chunk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hammingDistance(col("a_sig"), col("b_sig")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over near-dup pairs — the step that turns
    * pairwise matches into dedup groups (keep one doc per cluster).
    * Smallest-id label propagation: every node starts labeled with its
    * own id; each round adopts the minimum label among itself and its
    * neighbors; converges in O(cluster diameter) rounds (near-dup
    * clusters are shallow). Each round is one equi-join + agg — all
    * distributed, lineage truncated per round via localCheckpoint (on
    * a cluster, swap for reliable checkpointing). Each round's
    * checkpoint blocks are freed as soon as the next round is
    * materialized (checkpointed lineage is truncated, so an
    * unpersisted round is gone for good — only rounds no consumer can
    * reach are released), leaving the loop holding at most two label
    * copies. The final round backs the returned DataFrame and stays
    * resident — it IS the result (one copy, not O(iterations)); its
    * release is registered with [[graft.Caches]], so long-lived callers
    * free it with `Caches.release(spark)` AFTER consuming. Checkpointed
    * lineage is truncated, so unlike the persisted projections a
    * released clusters DataFrame cannot be recomputed — re-collecting
    * it after release fails loudly with a missing-checkpoint-block
    * error, never returns wrong rows.
    *
    * Returns (id, label): label = the cluster's minimum member id. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col("a_id").cast("long").as("src"), col("b_id").cast("long").as("dst"))
      .unionAll(pairs
        .select(col("b_id").cast("long").as("src"), col("a_id").cast("long").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // Convergence detection rides the SAME job that materializes the
      // round (round 7): a per-round accumulator bumped by the rows
      // whose label moved, read after the eager checkpoint — one O(V)
      // pass per round instead of two (the separate count job both
      // doubled the per-round job overhead, ~2 s of fixed cost on a
      // tiny pair set, and re-scanned the labels at scale). Task
      // retries can only OVER-count moved rows — `changed` is compared
      // to zero, and a zero total cannot be inflated by replaying
      // zero-increment tasks — so the convergence decision is
      // retry-safe.
      // NO pointer-jump shortcutting here — measured, not assumed
      // (round 7, sf1 smoke: 20k pairs, chain components of diameter
      // ~22): adding label ← min(l1, label_prev(l1)) per round cut
      // rounds only 23 → 19 (stale pointers compose poorly when the
      // component min sits mid-chain) while the extra O(V) join made
      // each round ~25% slower — net 10.8 s → 12.7 s, a LOSS. At this
      // graph size each round is ~0.45 s of fixed job latency, so
      // rounds × per-round-jobs is the whole cost; the genuinely
      // fewer-round algorithm is [[dupClustersStar]] (O(log n) star
      // contraction), the documented choice for deep components.
      val movedAcc = spark.sparkContext.longAccumulator(s"cc_moved_$iter")
      val bump = udf { m: Boolean => if (m) movedAcc.add(1L); m }
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("label").as("nbr_min"))
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("_prev"),
          least(col("label"), coalesce(col("nbr_min"), col("label")))
            .as("label"))
        .withColumn("_moved", bump(col("label") =!= col("_prev")))
        .select("id", "label", "_moved")
        .localCheckpoint(true)
      changed = movedAcc.value
      // `next` is materialized — free the old round's checkpoint
      // blocks before it goes unreachable
      org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(labels)
      labels = next
      iter += 1
    }
    edges.unpersist()
    // never return silently-wrong labels: a component with diameter >
    // maxIters would exit the loop unconverged
    require(changed == 0,
      s"dupClusters did not converge in $maxIters rounds ($changed labels still moving); raise maxIters")
    val checkpointed = labels
    graft.Caches.registerCleanup(spark)(
      () => org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(checkpointed))
    checkpointed.select("id", "label")
  }

  /** Connected components by alternating star contraction (the
    * large-star / small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the deep-graph
    * complement to [[dupClusters]]. Min-label propagation converges in
    * O(component diameter) rounds, which is fine for near-dup clusters
    * (shallow by construction) but pathological for chain-shaped
    * components; star contraction converges in O(log n) rounds
    * regardless of shape:
    *
    *  - large-star (per node u): attach every STRICTLY LARGER
    *    neighbor to m = min(Γ(u) ∪ {u});
    *  - small-star (per node u): attach every neighbor ≤ u, and u
    *    itself, to that same m.
    *
    * Each phase is one groupBy + join on the edge list (all
    * distributed, no driver state); edges only ever move toward
    * smaller endpoints, and the fixpoint is a star per component
    * centered at its minimum id. Output matches dupClusters exactly:
    * (id, label = component min), one row per node of `pairs`. */
  def dupClustersStar(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    // pairs may be an expensive subtree (d9 feeds the bounded O(N²)
    // jaccard here); share one evaluation between the node list and
    // the initial edge list instead of deriving it twice
    val p = graft.Caches.shared(pairs)
    // checkpointed, not merely persisted: the RETURNED plan reads the
    // node list, which must not re-derive `pairs` after release
    val nodes = p.select(col("a_id").cast("long").as("id"))
      .unionAll(p.select(col("b_id").cast("long").as("id")))
      .distinct()
      .localCheckpoint(true)
    // canonical (u < v) edge list
    var edges = p
      .select(
        least(col("a_id"), col("b_id")).cast("long").as("u"),
        greatest(col("a_id"), col("b_id")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    // per-node minimum over Γ(x) ∪ {x}, from a symmetric adjacency
    def withMin(adj: DataFrame): DataFrame = {
      val mins = adj.groupBy("x").agg(min("n").as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      adj.join(mins, "x")
    }
    def canonical(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // large-star over the symmetric adjacency
      val adjL = edges.select(col("u").as("x"), col("v").as("n"))
        .unionAll(edges.select(col("v").as("x"), col("u").as("n")))
      // checkpointed: afterLarge feeds adjS twice and adjS feeds
      // withMin twice, so an unshared large-star subtree (its join +
      // agg included) would re-evaluate ~4× per round — the same
      // branch-recompute trap as d3's shingle pass. Blocks are freed
      // with the round's edges once `next` has materialized.
      val afterLarge = canonical(
        withMin(adjL).filter(col("n") > col("x"))
          .select(col("n").as("u"), col("m").as("v")))
        .localCheckpoint(true)
      // small-star over the canonical direction (neighbors < x); a
      // self-row (x, x) in the adjacency attaches x itself to m in the
      // same single pass (no second withMin evaluation — the d3
      // branch-recompute lesson)
      val adjS = afterLarge.select(col("v").as("x"), col("u").as("n"))
        .unionAll(afterLarge.select(col("v").as("x")).distinct()
          .select(col("x"), col("x").as("n")))
      val next = canonical(
        withMin(adjS).select(col("n").as("u"), col("m").as("v")))
        .localCheckpoint(true)
      // fixpoint = identical edge sets, tested in ONE job: both sets
      // are already distinct, so they are equal iff no (u, v) key of
      // the tagged union appears on only one side (min==max of the tag
      // means one-sided). Counts alone can coincide; three separate
      // count jobs per round (the round-4 shape) were two too many.
      converged = next.select(col("u"), col("v"), lit(1).as("_new"))
        .unionAll(edges.select(col("u"), col("v"), lit(0).as("_new")))
        .groupBy("u", "v")
        .agg(min("_new").as("mn"), max("_new").as("mx"))
        .filter(col("mn") === col("mx"))
        .count() == 0L
      org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(edges)
      org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(afterLarge)
      edges = next
      iter += 1
    }
    require(converged,
      s"dupClustersStar did not converge in $maxIters rounds")
    // fixpoint edges are (root, member) stars: a member's label is its
    // unique root; roots (and singletons) label themselves. The
    // returned plan reads the final checkpointed edge set — its blocks
    // are released at Caches.release(spark), after which (as with
    // dupClusters) the result fails loudly rather than recomputing.
    val finalEdges = edges
    graft.Caches.registerCleanup(spark) { () =>
      org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(finalEdges)
      org.apache.spark.sql.GraftShim.releaseLocalCheckpoint(nodes)
    }
    nodes
      .join(finalEdges.select(col("v").as("id"), col("u").as("root")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("label"))
  }

  /** Size-DERIVED connected components (round 8, the d16 join-strategy
    * principle applied to CC): near-dup pair graphs are usually a
    * vanishing fraction of the corpus — often broadcast-sized — and
    * every distributed CC round then costs pure fixed stage latency
    * (measured at sf1: 20.7k pairs, star contraction 10.3 s vs ~0 s of
    * actual work). The pair count is measured on the CACHED pair set
    * (one cheap count over data the caller reuses), and:
    *
    *  - pairs ≤ autoBroadcastJoinThreshold / 16 bytes: collect to the
    *    driver, union–find with path compression (exact, min-id
    *    labels), return as a LOCAL relation — which then BROADCASTS
    *    into the caller's label join/anti-join, eliminating the whole
    *    per-round job cascade. This is the same "fits in a
    *    broadcast-sized structure" budget Catalyst itself plans with.
    *  - larger: [[dupClustersStar]] — O(log n) distributed rounds,
    *    no driver materialization of the edge set.
    *
    * Output contract identical to [[dupClusters]]/[[dupClustersStar]]
    * ((id, label = component min), one row per node of `pairs`);
    * equality across all three spec-pinned on random graphs with the
    * threshold forced both ways. */
  def dupClustersAuto(pairs: DataFrame): DataFrame =
    dupClustersAuto(pairs, MaxDriverPairs)

  /** The threshold is a per-16-byte-pair proxy, but collect()
    * materializes Rows + the union-find maps at ~10× that estimate, so
    * an absolute pair cap keeps a session that tunes
    * autoBroadcastJoinThreshold into the hundreds of MB (common for
    * wide dim joins) from pushing tens of millions of pairs through the
    * driver: 4M pairs ≈ 350 MB of driver heap, safe under any plausible
    * driver size, and far past the crossover where star contraction's
    * fixed stage latency stops dominating anyway. */
  private val MaxDriverPairs = 4L * 1000 * 1000

  /** [[dupClustersAuto]] with the driver branch's pair cap given. */
  private[graft] def dupClustersAuto(
      pairs: DataFrame, maxDriverPairs: Long): DataFrame = {
    val spark = pairs.sparkSession
    val p = graft.Caches.shared(pairs
      .select(col("a_id").cast("long").as("a_id"),
        col("b_id").cast("long").as("b_id")))
    val bcast = org.apache.spark.sql.GraftShim.autoBroadcastBytes(spark)
    val n = p.count()
    if (bcast >= 0 && n * 16L <= bcast && n <= maxDriverPairs) {
      val edges = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      // union–find, path-halving; roots resolved to component MIN id
      val idx = scala.collection.mutable.HashMap.empty[Long, Int]
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      def of(id: Long): Int = idx.getOrElseUpdate(id, { ids += id; ids.size - 1 })
      edges.foreach { case (a, b) => of(a); of(b) }
      val parent = Array.tabulate(ids.size)(identity)
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(of(a)), find(of(b)))
        if (ra != rb) parent(ra) = rb
      }
      val minOf = scala.collection.mutable.HashMap.empty[Int, Long]
      ids.indices.foreach { i =>
        val r = find(i)
        val v = ids(i)
        if (minOf.get(r).forall(v < _)) minOf(r) = v
      }
      import spark.implicits._
      ids.indices.map(i => (ids(i), minOf(find(i))))
        .toDF("id", "label")
    } else dupClustersStar(p)
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023, public):
    * cluster embeddings with the spherical k-means codebook, detect
    * near-duplicate pairs ONLY within each cluster, collapse each
    * duplicate component to its min-id representative, and keep
    * everything else. Cells turn the O(N²) pairwise scan into
    * sum-over-cells O(Σ|cell|²) — with balanced cells, N²/nCells —
    * reached through a plain equi-join on the cell id; the codebook
    * is data-adaptive (unlike the data-oblivious hyperplane buckets of
    * [[embeddingNearDupPairs]]), so semantically-close vectors land in
    * the same cell by construction rather than by hash luck. Cross-
    * cell near-dup pairs are the recall loss, bounded in the spec
    * against the exact pairwise oracle. Returns the KEPT rows of `df`
    * (the dedup decision, not the pair list). */
  def semanticDedup(
      df: DataFrame, idCol: String, embCol: String,
      nCells: Int, threshold: Double): DataFrame =
    semanticDedupWith(df, idCol, embCol,
      Ivf.train(df, idCol, embCol, nCells), threshold)

  /** [[semanticDedup]] with a build-once codebook sidecar: the first
    * invocation per `modelPath` trains the k-means cells and persists
    * them (atomically, [[graft.store.AnnIndexes.materializeAtomic]]);
    * every later invocation — including a fresh process — loads the
    * codebook and skips training entirely. Semantic dedup over a
    * stable corpus reuses its trained cells across runs the way IVF
    * search reuses its `_model` sidecar: train is index BUILD, paid
    * once at ingest, never a per-run cost. */
  def semanticDedupWithCodebook(
      df: DataFrame, idCol: String, embCol: String,
      nCells: Int, threshold: Double, modelPath: String): DataFrame =
    semanticDedupWith(df, idCol, embCol,
      codebook(df, idCol, embCol, nCells, modelPath), threshold)

  /** The k-means codebook sidecar at `modelPath`: trained and saved by
    * the first call, memoized for the process
    * ([[graft.store.AnnIndexes.model]]). */
  private def codebook(df: DataFrame, idCol: String, embCol: String,
      nCells: Int, modelPath: String): Ivf.IvfModel = {
    val spark = df.sparkSession
    graft.store.AnnIndexes.model(spark, modelPath) { tmp =>
      val model = Ivf.train(df, idCol, embCol, nCells)
      Ivf.saveModel(spark, model, tmp)
      model
    }(Ivf.loadModel(spark, _))
  }

  /** The dedup decision for a given codebook: within-cell pairs →
    * duplicate components → keep each component's min-id member. */
  def semanticDedupWith(
      df: DataFrame, idCol: String, embCol: String,
      model: Ivf.IvfModel, threshold: Double): DataFrame = {
    val pairs = semanticNearDupPairs(df, idCol, embCol, model, threshold)
    // size-derived CC (round 8): driver union-find for
    // broadcast-sized pair graphs (the measured sf1 case - every
    // distributed round was fixed stage latency on 20k pairs), star
    // contraction (O(log n) rounds regardless of component shape;
    // min-label's sf1 chain ran 23) beyond the broadcast budget.
    // Identical (id, label = component min) contract either way -
    // property-pinned on random pair graphs (Round8OpsSpec).
    val drop = dupClustersAuto(pairs.select("a_id", "b_id"))
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** The full semantic-dedup DECISION TABLE instead of just the kept
    * rows: every input id mapped to its surviving representative —
    * (id, rep_id, cos_to_rep, within_radius) — with rep/singleton rows
    * carrying (id, id, null, null). This is the auditable form: each
    * collapse decision exposes the member→representative cosine
    * (recomputed exactly, same guarded dot/norms formula as the pair
    * verify), so an oracle can independently recompute it from the
    * embeddings table for the emitted mapping (the d11 precision
    * oracle). `within_radius` is DERIVED (cos ≥ threshold), not
    * asserted: a member collapsed through a transitive chain may
    * legitimately sit below the radius of its final representative,
    * and both engines must agree on that verdict rather than fail.
    * Kept set ≡ rows where id = rep_id (spec-pinned equal to
    * [[semanticDedupWith]]). One extra keyed join on rep_id over the
    * corpus — reps are a pure function of the pair components. */
  def semanticDedupMapWith(
      df: DataFrame, idCol: String, embCol: String,
      model: Ivf.IvfModel, threshold: Double): DataFrame = {
    val base = graft.Caches.shared(df.select(
      col(idCol).cast("long").as("id"), col(embCol).as("emb"),
      graft.functions.VectorFunctions.l2_norm(col(embCol)).as("nrm")))
    val pairs = semanticNearDupPairs(df, idCol, embCol, model, threshold)
    // size-derived CC — see semanticDedupWith's rationale
    val cl = dupClustersAuto(pairs.select("a_id", "b_id")) // (id, label)
    val mapped = base.join(cl, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("rep_id"),
        col("emb"), col("nrm"))
    val reps = base.select(col("id").as("rep_id"), col("emb").as("rep_emb"),
      col("nrm").as("rep_nrm"))
    mapped.join(reps, Seq("rep_id"))
      .select(col("id"), col("rep_id"),
        when(col("id") === col("rep_id"), lit(null).cast("double"))
          .otherwise(round(
            when(col("nrm") === 0.0 || col("rep_nrm") === 0.0, 0.0)
              .otherwise(
                graft.functions.VectorFunctions.dot_product(col("emb"), col("rep_emb"))
                  / (col("nrm") * col("rep_nrm"))), 6)).as("cos_to_rep"))
      .withColumn("within_radius",
        when(col("cos_to_rep").isNull, lit(null).cast("boolean"))
          .otherwise(col("cos_to_rep") >= threshold))
  }

  /** [[semanticDedupMapWith]] + the build-once codebook sidecar of
    * [[semanticDedupWithCodebook]]. */
  def semanticDedupMapWithCodebook(
      df: DataFrame, idCol: String, embCol: String,
      nCells: Int, threshold: Double, modelPath: String): DataFrame =
    semanticDedupMapWith(df, idCol, embCol,
      codebook(df, idCol, embCol, nCells, modelPath), threshold)

  /** Within-cell near-duplicate pairs for [[semanticDedup]] — exact
    * cosine over cell-mates only (norms hoisted; one cached
    * cell-assignment pass feeds both self-join branches). Each vector
    * is indexed under its top-`probes` cells (multi-probe assignment,
    * [[Ivf.topCellsOf]]) so boundary-straddling pairs still meet; a
    * pair sharing several cells is deduped by the final distinct. */
  def semanticNearDupPairs(
      df: DataFrame, idCol: String, embCol: String,
      model: Ivf.IvfModel, threshold: Double, probes: Int = 2): DataFrame = {
    val assigned = graft.Caches.shared(df.select(
      col(idCol).cast("long").as("id"), col(embCol).as("emb"),
      graft.functions.VectorFunctions.l2_norm(col(embCol)).as("nrm"),
      explode(Ivf.topCellsOf(col(embCol), model, probes)).as("cell")))
    val a = assigned.select(col("cell"), col("id").as("a_id"),
      col("emb").as("a_emb"), col("nrm").as("a_nrm"))
    val b = assigned.select(col("cell"), col("id").as("b_id"),
      col("emb").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("similarity", round(
        when(col("a_nrm") === 0.0 || col("b_nrm") === 0.0, 0.0)
          .otherwise(
            graft.functions.VectorFunctions.dot_product(col("a_emb"), col("b_emb"))
              / (col("a_nrm") * col("b_nrm"))), 6))
      .filter(col("similarity") >= threshold)
      .select("a_id", "b_id", "similarity")
      .distinct()
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets: candidates
    * share an exact hyperplane-signature bucket; verified by exact
    * cosine. The approximate cousin of VectorQueries.v4. */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, embCol: String, dim: Int,
      threshold: Double, bits: Int = 8, seed: Long = 42L): DataFrame = {
    val planes = Similarity.hyperplanes(bits, dim, seed)
    // norms hoisted out of the pairwise verify (N, not N²; bit-identical);
    // persisted so the bits-dot-products bucket signature is computed
    // once, not once per self-join branch (Caches.release to free)
    val bucketed = graft.Caches.shared(df.select(
      col(idCol).cast("long").as("id"), col(embCol).as("emb"),
      graft.functions.VectorFunctions.l2_norm(col(embCol)).as("nrm"),
      Similarity.lshBucket(col(embCol), planes).as("bucket")))
    val a = bucketed.select(col("bucket"), col("id").as("a_id"),
      col("emb").as("a_emb"), col("nrm").as("a_nrm"))
    val b = bucketed.select(col("bucket"), col("id").as("b_id"),
      col("emb").as("b_emb"), col("nrm").as("b_nrm"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("similarity", round(
        when(col("a_nrm") === 0.0 || col("b_nrm") === 0.0, 0.0)
          .otherwise(
            graft.functions.VectorFunctions.dot_product(col("a_emb"), col("b_emb"))
              / (col("a_nrm") * col("b_nrm"))), 6))
      .filter(col("similarity") >= threshold)
      .select("a_id", "b_id", "similarity")
      .distinct()
  }
}
