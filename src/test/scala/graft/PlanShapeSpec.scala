package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression suite: the scale properties this engine
  * claims (top-k never global-sorts, dimensions broadcast, grouped
  * top-k prunes map-side, aggregations combine partially, scans prune
  * columns, ANN scans prune partitions) are asserted on the EXECUTED
  * plans of the declared queries, so a future edit that silently
  * degrades a plan fails CI rather than a 100 TB run. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Final (post-AQE) plan string: collect first so adaptive plans are
    * re-optimized to their executed form. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def planOf(name: String): String =
    finalPlan(SparkEntry.queries(name)(spark, sfDir))

  /** Collect matching nodes across AQE boundaries: AdaptiveSparkPlanExec
    * and materialized query stages hide their subtrees from a plain
    * `collect`, so unwrap them recursively. */
  private def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = pf.lift(p).toSeq
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(deepCollect(_)(pf))
  }

  private def windowsOf(df: DataFrame) = {
    df.collect()
    deepCollect(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
  }

  test("top-k queries fuse to TakeOrderedAndProject (no global sort)") {
    Seq("a6_topk_orders", "v1_cosine_topk", "t10_contamination").foreach { q =>
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n${p.take(1500)}")
    }
  }

  test("dimension join broadcasts; no shuffle of the fact side for the join") {
    val p = planOf("a3_customer_per_nation")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("grouped top-k prunes per-partition via WindowGroupLimit") {
    val p = planOf("a24_grouped_topk")
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  test("aggregations are partial (map-side combine): two HashAggregate stages") {
    val p = planOf("a1_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(1500))
  }

  test("scans prune columns: projection queries read only what they select") {
    val df = SparkEntry.queries("a7_part_projection")(spark, sfDir)
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanLike => f }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val cols = s.schema.fieldNames.toSet
      assert(cols.subsetOf(Set("p_partkey", "p_name")),
        s"a7 should scan only p_partkey/p_name, got $cols")
    }
  }

  test("batch ANN join plans dynamic partition pruning on the index scan") {
    val df = SparkEntry.queries("v8_batch_ann")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), p.take(2000))
  }

  test("t10 probes the eval side via broadcast: train bulk never shuffles on trigrams") {
    // AQE's tree string appends the pre-adaptive "== Initial Plan ==";
    // assert against the executed final section only
    val p = planOf("t10_contamination").split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // exactly one trigram-keyed exchange may exist: the SMALL eval
    // side's own distinct before it broadcasts; the train bulk reaches
    // the join with no exchange of its exploded trigrams
    assert("Exchange hashpartitioning\\(tri".r.findAllIn(p).size <= 1,
      p.take(2000))
  }

  test("funnel reuses one user_id exchange across its aggregation chain") {
    val p = planOf("s7_funnel")
    assert(p.contains("ReusedExchange"), p.take(2000))
  }

  test("repeated passages aggregates partially before its one (fp) shuffle") {
    val p = planOf("d8_repeated_passages")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("d19 boilerplate set broadcasts; paragraph stream never self-joins") {
    val p = planOf("d19_boilerplate_removal")
    // the threshold-bounded boilerplate hash set reaches the paragraph
    // stream as a broadcast — the corpus-side rows never shuffle on
    // the paragraph hash for the membership probe
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
  }

  test("d20 dup-gram probe stays g-keyed; no corpus self-join or cartesian") {
    val p = planOf("d20_substring_removal")
    // dup-gram detection and the coverage probe both key on the int64
    // gram hash; the rebuild keys on the doc id — never a cartesian
    // or an unkeyed nested-loop over the corpus
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
    // (g, id)-distinct and the per-doc coverage set aggregate with
    // map-side partials before their shuffles
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("sequence packing never windows the corpus in one partition") {
    // the only unpartitioned Window may run over the per-partition
    // subtotals (one row per partition); the corpus-wide Window must be
    // partitioned by _part. Assert: every Window with an empty
    // partition spec sits above the tiny groupBy(_part) aggregate,
    // i.e. below it there is a HashAggregate, not the raw scan.
    val windows = windowsOf(SparkEntry.queries("p2_sequence_packing")(spark, sfDir))
    assert(windows.nonEmpty)
    windows.foreach { w =>
      if (w.partitionSpec.isEmpty)
        assert(deepCollect(w) {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.nonEmpty,
          "unpartitioned Window must consume the per-partition subtotal agg, not corpus rows")
    }
  }

  test("packing persists nothing: no InMemoryRelation in the prefix-sum plans") {
    // the round-5 AQE-determinism fix cached the range-partitioned
    // corpus; round 6 replaced it with broadcast boundary literals, so
    // a cache reappearing here means a full corpus write came back
    Seq("p2_sequence_packing", "p4_corpus_shuffle", "p5_shuffled_packing")
      .foreach { q =>
        val df = SparkEntry.queries(q)(spark, sfDir)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("InMemoryTableScan") && !p.contains("InMemoryRelation"),
          s"$q materializes the corpus:\n${p.take(2000)}")
      }
  }

  test("recall harness: bounded top-k both sides, broadcast intersection") {
    // v20's ann and exact legs must both fuse to TakeOrderedAndProject
    // (k-row heaps off every partition), and the recall intersection
    // must broadcast one k-row side — the corpus never shuffles
    val p = planOf("v20_lsh_recall")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("scd2 via as-of: one keyed exchange, no join blow-up node") {
    // the as-of formulation is union + window, never an interval join:
    // no SortMergeJoin/BNLJ/cartesian over fact×versions — the window
    // sort is the per-key bounded one
    val p = planOf("a37_scd2_asof")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p.take(2000))
  }

  test("catalog upsert assigns ids without a batch-wide unpartitioned window") {
    import spark.implicits._
    // id assignment over a batch is RangeBuckets.runningSums of lit(1):
    // the only unpartitioned Window consumes the per-partition subtotal
    // aggregate (#partitions rows), never batch rows — so a million-row
    // novel-source ingest never sorts in one task
    val batch = (1 to 1000)
      .map(i => (1L, s"author$i", s"title$i", 2000 + i % 30))
      .toDF("model_id", "author", "title", "year")
    val windows = windowsOf(graft.operators.RangeBuckets.runningSums(
      batch, Nil, Seq("model_id", "author", "title", "year"),
      Seq("id" -> org.apache.spark.sql.functions.lit(1L)),
      spark.conf.get("spark.sql.shuffle.partitions").toInt))
    assert(windows.nonEmpty)
    windows.foreach { w =>
      if (w.partitionSpec.isEmpty)
        assert(deepCollect(w) {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
        }.nonEmpty,
          "unpartitioned Window must consume the per-partition subtotal agg, not batch rows")
    }
  }

  test("dup-window rate shuffles a 64-bit window key, not window strings") {
    val df = SparkEntry.queries("t23_dup_window_rate")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // every exchange keyed on the window must carry the hashed long
    // (win#..L), never the raw w-token string (~50-100 bytes/key)
    val winKeys = "hashpartitioning\\(win#\\d+L?".r.findAllIn(p).toSeq
    assert(winKeys.nonEmpty, p.take(2000))
    winKeys.foreach(k => assert(k.endsWith("L"),
      s"window shuffle key must be a long, got $k"))
    graft.Caches.release(spark)
  }

  test("scd2 join broadcasts the small dimension; no cartesian") {
    val p = planOf("a35_scd2_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("downsample and chunk-dedup aggregate partially before their one shuffle") {
    Seq("s14_downsample", "d15_chunk_dedup").foreach { q =>
      val p = planOf(q)
      assert("HashAggregate|ObjectHashAggregate|SortAggregate".r
        .findAllIn(p).size >= 2, s"$q:\n${p.take(1500)}")
      assert(!p.contains("CartesianProduct"), p.take(1500))
    }
  }

  test("filtered vector search pushes the metadata predicate to the scan") {
    val df = SparkEntry.queries("v19_filtered_topk")(spark, sfDir)
    df.collect()
    val scans = deepCollect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanLike => f
    }
    assert(scans.nonEmpty)
    // the label IN (...) predicate must reach parquet as a pushed
    // filter so row groups outside it never decode
    assert(scans.exists(_.metadata.get("PushedFilters")
        .exists(p => p.contains("In(label"))),
      scans.map(_.metadata.get("PushedFilters")).mkString("; "))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("decontamination probes eval trigrams via broadcast; train bulk never shuffles on them") {
    val p = planOf("t27_decontaminate").split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // same contract as t10: at most the eval side's own distinct may
    // exchange on the n-gram key; the train bulk must not
    assert("Exchange hashpartitioning\\(ng".r.findAllIn(p).size <= 1,
      p.take(2000))
  }

  test("retention cohorts reuse one user_id exchange between cohort agg and join-back") {
    val p = planOf("s15_retention_cohorts")
    assert(p.contains("ReusedExchange") || p.contains("InMemoryTableScan"),
      p.take(2000))
    graft.Caches.release(spark)
  }

  test("token budget cap windows per source, never unpartitioned") {
    val windows = windowsOf(SparkEntry.queries("t26_token_budget")(spark, sfDir))
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "the budget window must be partitioned by the group column"))
  }

  test("bloom incremental dedup: the anti-join sees only the filtered sliver") {
    // both union branches must carry the mightContain filter below the
    // join/union — i.e. no unionByName of two full scans
    val df = SparkEntry.queries("d10_bloom_incremental")(spark, sfDir)
    val p = finalPlan(df)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
    // the UDF predicate appears at least twice (kept branch + candidate branch)
    assert("mightContain|UDF".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("quality deciles aggregate the corpus before any unpartitioned window") {
    val windows = windowsOf(SparkEntry.queries("t18_quality_deciles")(spark, sfDir))
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(deepCollect(w) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.nonEmpty,
        "the decile window must run over the per-score histogram, not corpus rows")
    }
  }

  test("mixture oversampling explodes map-side: no shuffle below the generator") {
    val df = SparkEntry.queries("t17_mixture_epochs")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val gen = p.indexOf("Generate")
    assert(gen >= 0, p.take(1500))
    // nothing below the Generate (later in the tree string) exchanges
    assert(!p.substring(gen).contains("Exchange hashpartitioning"),
      p.substring(gen).take(1500))
  }

  test("exact cosine top-k stays in whole-stage codegen") {
    val df = SparkEntry.queries("v1_cosine_topk")(spark, sfDir)
    df.collect()
    // the tree string marks codegen stages as `*(n) Operator`
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project") || p.contains("*(1) Filter"),
      p.take(1500))
  }

  test("domain cap prunes map-side via WindowGroupLimit") {
    val p = planOf("u3_domain_cap")
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  test("bm25 top-k fuses to TakeOrderedAndProject; stats/df broadcast") {
    val p = planOf("b1_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("column profiler reads the fact table exactly once") {
    val df = SparkEntry.queries("a30_profile")(spark, sfDir)
    df.collect()
    val scans = deepCollect(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1,
      s"profiler must not rescan per column: ${scans.size} scans")
  }

  test("snapshot diff is one join of narrow (key, hash) projections") {
    val df = SparkEntry.queries("a31_snapshot_diff")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the join's input projections carry only key + hash, not the row
    val joins = deepCollect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.size == 1, p.take(1500))
    joins.head.children.foreach { side =>
      assert(side.output.size <= 2,
        s"join side must be (key, hash): ${side.output.map(_.name)}")
    }
  }

  test("binned correlation joins on the composite key, never a cartesian") {
    val p = planOf("s11_correlated_binned")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    // hash equi-join keyed on BOTH user and time bucket (broadcast at
    // this SF; shuffled hash/SMJ on the same composite key at scale)
    assert("HashJoin \\[user_id#\\d+L?, bucket#\\d+L?\\]".r
      .findFirstIn(p).isDefined, p.take(2000))
  }

  test("hard negatives: queries broadcast, per-query rank prunes map-side") {
    val p = planOf("v14_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("label centroids aggregate partially: map-side combine of vector buffers") {
    val df = SparkEntry.queries("v13_label_centroids")(spark, sfDir)
    df.collect()
    val aggs = deepCollect(df.queryExecution.executedPlan) {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    // partial + final stages for the typed buffer (never a corpus-wide
    // posexplode: the Generate must sit ABOVE the aggregation)
    assert(aggs.size >= 2, df.queryExecution.executedPlan.toString.take(2000))
    val p = df.queryExecution.executedPlan.toString
    val gen = p.indexOf("Generate")
    val agg = p.indexOf("Aggregate")
    assert(gen >= 0 && agg >= 0 && gen < agg,
      "posexplode must run on the aggregated centroids, not the corpus")
  }

  test("pagerank: top-100 fuses to TakeOrderedAndProject; pairs build cached once") {
    val df = SparkEntry.queries("g1_part_pagerank")(spark, sfDir)
    val p = finalPlan(df)
    assert(p.contains("TakeOrderedAndProject"),
      "rounded-rank top-100 must not global-sort")
    // the co-purchase pair build (ObjectHashAggregate over collect_list)
    // must come from the shared cache, not re-derive per branch: the
    // executed plan may DESCRIBE the cached plan inside its
    // InMemoryRelation, but only InMemoryTableScans may CONSUME it
    assert(p.contains("InMemoryTableScan"), "pair cache not used")
    Caches.release(spark)
  }

  test("adamic-adar: top-100 fuses to TakeOrderedAndProject; agg combines partially") {
    val p = planOf("g4_adamic_adar")
    assert(p.contains("TakeOrderedAndProject"),
      "score top-100 must not global-sort")
    // the wedge-pair aggregation must combine map-side before its
    // exchange (partial_ entries in the HashAggregate)
    assert(p.contains("partial_sum") || p.contains("partial"),
      "pair aggregation must have a partial (map-side) phase")
    Caches.release(spark)
  }

  test("cdc apply: latest-wins window computed once, never over the snapshot") {
    val df = SparkEntry.queries("a38_cdc_apply")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the consuming plan holds NO WindowExec: the changelog's
    // latest-wins window runs exactly once, inside the shared-cached
    // `latest` build — the snapshot side is never windowed or sorted
    val outerWins = deepCollect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(outerWins.isEmpty,
      s"snapshot-side plan must be window-free, got ${outerWins.length}")
    // `latest` feeds two consumers (anti-join keys + live rows) from
    // the cache, and its one-time cached build IS the keyed window
    val imts = deepCollect(plan) {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(imts.length >= 2, s"latest must be cache-served, got ${imts.length}")
    val cached = imts.head.relation.cachedPlan.toString
    assert(cached.contains("Window") && cached.contains("order_key"),
      "cached latest build must be the order_key-partitioned window")
    Caches.release(spark)
  }

  test("bpe merges: one shuffle, no word-table materialization") {
    val df = SparkEntry.queries("t31_bpe_merges")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("TakeOrderedAndProject"),
      "top-50 must not global-sort")
    val exchanges = deepCollect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // pure map-reduce: the only data movement is the pair-count
    // exchange (map-side partials of ≤ alphabet² keys)
    assert(exchanges.length == 1,
      s"expected exactly 1 shuffle, got ${exchanges.length}")
    Caches.release(spark)
  }

  test("dsir: feature model broadcasts; corpus shuffles once, on doc_id") {
    val df = SparkEntry.queries("t30_dsir_weights")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bcasts = deepCollect(plan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, "the 256-row model must broadcast-join")
    // exchanges on the SCORING side: only the final doc_id aggregation
    // may move corpus-derived rows; the model-side exchanges move
    // ≤256-row frames. Count hash-partition exchanges keyed on doc_id.
    val exchanges = deepCollect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the final orderBy legitimately adds a rangepartitioning exchange
    // over the per-doc aggregates; the corpus-wide constraint is on
    // HASH shuffles
    val docIdShuffles = exchanges.map(_.outputPartitioning.toString)
      .count(s => s.contains("hashpartitioning") && s.contains("doc_id"))
    assert(docIdShuffles <= 1,
      s"corpus must hash-shuffle once on doc_id, saw $docIdShuffles")
    Caches.release(spark)
  }

  test("pca projection: map-side only — no hash shuffle anywhere in the plan") {
    val df = SparkEntry.queries("v24_pca_project")(spark, sfDir)
    df.collect()
    val exchanges = deepCollect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the broadcast centered-dot-product projection must add NO keyed
    // data movement; the single legitimate exchange is the output
    // orderBy's range partitioning
    val hash = exchanges.map(_.outputPartitioning.toString)
      .count(_.contains("hashpartitioning"))
    assert(hash == 0, s"projection must not hash-shuffle, saw $hash")
    assert(exchanges.length <= 1,
      s"expected at most the output-sort exchange, got ${exchanges.length}")
    Caches.release(spark)
  }

  test("zorder key: scan → projection → TakeOrderedAndProject, zero shuffles") {
    val df = SparkEntry.queries("p7_zorder_key")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("TakeOrderedAndProject"),
      "bounded output must not global-sort")
    val exchanges = deepCollect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"Morton keying is pure map-side, saw ${exchanges.length} shuffles")
    Caches.release(spark)
  }

  test("hopping windows: the slide explode is map-side — one keyed agg shuffle") {
    val df = SparkEntry.queries("s19_hopping_counts")(spark, sfDir)
    df.collect()
    val exchanges = deepCollect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // window(size, slide) multiplies rows in the scan projection, not
    // via a join/shuffle: hash exchanges = the single aggregation
    val hash = exchanges.map(_.outputPartitioning.toString)
      .count(_.contains("hashpartitioning"))
    assert(hash == 1, s"expected 1 agg shuffle, got $hash")
    Caches.release(spark)
  }

  test("activity streaks: every stage keys on user_id — no extra exchange") {
    val df = SparkEntry.queries("s20_activity_streaks")(spark, sfDir)
    df.collect()
    val exchanges = deepCollect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // distinct keys on (user_id, d); window + both rollups then reuse
    // user_id partitionings — at most those two hash exchanges
    val hash = exchanges.map(_.outputPartitioning.toString)
      .count(_.contains("hashpartitioning"))
    assert(hash <= 2, s"expected ≤2 keyed shuffles, got $hash")
    Caches.release(spark)
  }

  test("interval union: one keyed shuffle feeds windows and both rollups") {
    val df = SparkEntry.queries("s18_interval_union")(spark, sfDir)
    df.collect()
    val exchanges = deepCollect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    val userShuffles = exchanges.map(_.outputPartitioning.toString)
      .count(s => s.contains("hashpartitioning") && s.contains("user_id"))
    assert(userShuffles == 1,
      s"islands + both rollups must reuse ONE user_id exchange, saw $userShuffles")
    Caches.release(spark)
  }

  test("t34 PMI: unigram/total sides broadcast — pair key is the ONLY corpus shuffle; top-50 bounded") {
    val df = SparkEntry.queries("t34_pmi_pairs")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    val exchanges = deepCollect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // pair counts key on (w1, w2); the unigram table is built once
    // (w) and every lookup side reaches the pair table via broadcast
    val hash = exchanges.map(_.outputPartitioning.toString)
      .count(_.contains("hashpartitioning"))
    assert(hash <= 2, s"expected ≤2 keyed shuffles (pair + unigram), got $hash")
    Caches.release(spark)
  }

  test("a40 sketch rollup: both sketch aggs are partial (map-side combine)") {
    val df = SparkEntry.queries("a40_sketch_rollup")(spark, sfDir)
    val p = finalPlan(df)
    // partial HllSketchAgg on the map side for the per-group partials
    // AND the direct pass — the corpus is never shuffled raw
    assert("partial_hll_sketch_agg".r.findAllIn(p.toLowerCase).size >= 2
      || "HashAggregate".r.findAllIn(p).size >= 4, p.take(2500))
    Caches.release(spark)
  }

  test("m5 image phash: the asset scan is the only input — no joins, no shuffles beyond the sort") {
    val df = SparkEntry.queries("m5_image_phash")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "phash extraction must be a pure map stage:\n" + p.take(1500))
    Caches.release(spark)
  }

  test("t35 gopher repetition: NO aggregation anywhere — the fold is map-side") {
    // the operator's whole claim: a per-doc statistic pays zero
    // keyed shuffles. The plan must be scan → (rebalance) → project
    // (the sorted-gram fold) → sort, with no HashAggregate and no
    // hash-partitioned exchange.
    val df = SparkEntry.queries("t35_gopher_repetition")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    assert(!p.toString.contains("HashAggregate"),
      "t35 must not aggregate:\n" + p.toString.take(1500))
    val keyed = deepCollect(p) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(keyed.isEmpty,
      s"t35 must have no keyed shuffle, got ${keyed.size}")
  }

  test("a42 correlated subquery decorrelates: no per-row subquery, one aggregate + join") {
    val df = SparkEntry.queries("a42_correlated_max")(spark, sfDir)
    // the optimizer must have rewritten the correlated scalar
    // subquery away — a surviving one would execute per outer row
    assert(!df.queryExecution.optimizedPlan.toString
      .contains("scalar-subquery"),
      df.queryExecution.optimizedPlan.toString.take(1500))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Join"), p.take(1500))
  }

  test("s22 sequence mining: ONE window pass (both leads share it), top-k fused") {
    val df = SparkEntry.queries("s22_sequence_mining")(spark, sfDir)
    val ws = windowsOf(df)
    assert(ws.size == 1,
      s"both leads must share one WindowExec, got ${ws.size}")
    assert(df.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("t36 NB classifier: model and class constants broadcast; corpus shuffles only on (doc, cls)") {
    val df = SparkEntry.queries("t36_nb_langid")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan
    val bcasts = deepCollect(p) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      case n: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => n
    }
    assert(bcasts.size >= 2, // class cross-join + model left join
      "NB scoring must probe broadcast tables:\n" + p.toString.take(2000))
    assert(!p.toString.contains("SortMergeJoin"),
      "the vocab-bounded model must never sort-merge:\n" +
        p.toString.take(1500))
    Caches.release(spark)
  }

  test("t39/t40/t54 are single-codegen map scans: no exchange before the output sort") {
    // row-local statistics must never shuffle the corpus; the only
    // exchange allowed is the final presentation orderBy's range
    // partitioning. t40's NfcNormalize participates in whole-stage
    // codegen (defineCodeGen), so the scan+project fuses. t54's six
    // regex passes (3 counts + 3 replaces) are all codegen'd builtins
    // and must stay inside the one span (round 16).
    Seq("t39_script_mix", "t40_nfc_fingerprint",
      "t54_pii_redaction").foreach { q =>
      val p = planOf(q).split("== Initial Plan ==")(0)
      assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
        s"$q:\n${p.take(2000)}")
      // "*(n)" is the tree-string rendering of a WholeStageCodegen span
      assert(p.contains("*(1)"), s"$q:\n${p.take(2000)}")
    }
  }

  test("d17 winnowing: fingerprints shuffle once (fp agg), corpus never joins pairwise") {
    val p = planOf("d17_winnowing").split("== Initial Plan ==")(0)
    // one fp-keyed exchange for the match aggregation; no join at all
    assert("Exchange hashpartitioning\\(fp".r.findAllIn(p).size == 1,
      p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("t41 zipf: counts fuse to TakeOrdered; the fit runs on bounded rows") {
    val p = planOf("t41_zipf_fit").split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("t47 per-lang LM: unigram/voc models broadcast, bigram model joined — never nested-loop") {
    val p = planOf("t47_perlang_perplexity")
    // the per-language unigram table (a6) and per-language vocab sizes
    // broadcast back onto the gram stream; the bigram model is a keyed
    // join by design (bigram vocab outgrows the driver at web scale) —
    // what must NEVER appear is a cartesian/nested-loop over the corpus
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
    Caches.release(spark)
  }

  test("t48 quality classifier: constants broadcast as one row, never a cartesian") {
    val p = planOf("t48_quality_classifier")
    // the five class constants (nk/ndt/v/dk/dd) ride a broadcast (the
    // 1-row crossJoin legitimately plans as a broadcast nested loop —
    // the repo's 1-row-constant convention); what must NEVER appear is
    // an unbroadcast CartesianProduct over the corpus
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    Caches.release(spark)
  }

  test("m9 image dedup: no cartesian anywhere; the decision never all-pairs") {
    // the pair stage is the pigeonhole-banded equi-join over exact-hash
    // class REPRESENTATIVES (quadratic identical-hash classes collapse
    // before pairing); the collapse itself is hash-keyed groupBys and
    // label-partitioned windows — a cartesian/nested-loop node in any
    // stage means the blocking regressed
    val df = SparkEntry.queries("m9_image_dedup")(spark, sfDir)
    val p = finalPlan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
    // the keep-rank window partitions by cluster label — never a
    // single-partition window over all assets
    val ws = windowsOf(df)
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty),
      s"m9 keep-rank window must partition by label:\n${ws.mkString("\n")}")
    Caches.release(spark)
  }

  test("t49 quality eval: one global fold, no cartesian, constants broadcast") {
    // the evaluation is t48's scoring pass + one keyed filter + one
    // global aggregate — the class constants still ride the 1-row
    // broadcast convention, and nothing may plan a corpus cartesian
    val p = planOf("t49_quality_eval")
    assert(p.contains("BroadcastExchange"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    Caches.release(spark)
  }

  test("m12 image resize: pure map stage — no exchange except the output sort") {
    // decode + resample happen inside the narrow mapPartitions; the
    // only exchange allowed is the deterministic output ordering's
    // range partitioning (and AQE's read coalescing around it)
    val df = SparkEntry.queries("m12_image_resize")(spark, sfDir)
    df.collect()
    val shuffles = deepCollect(df.queryExecution.executedPlan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.forall(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
      s"resize must not shuffle before the output sort:\n$shuffles")
    Caches.release(spark)
  }

  test("m11 video dedup: frameset classes shuffle on the FIXED-WIDTH hashed key, never the sig string") {
    // the exact-frameset signature is an unbounded sorted hash-set
    // string (~20 bytes × sampled frames — a 70 KB shuffle key for a
    // 2 h film); round 13 keys the class exchange on
    // (xxhash64(sig), octet_length(sig)) instead, and no cartesian /
    // nested-loop may appear anywhere in the decision
    val df = SparkEntry.queries("m11_video_dedup")(spark, sfDir)
    val p = finalPlan(df)
    assert(p.contains("hashpartitioning(sigh#"),
      s"class exchange must key on the hashed signature:\n${p.take(2000)}")
    assert(!p.contains("hashpartitioning(sig#"),
      "the unbounded sig string must never be a shuffle key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
    // round 14: the maxDf prune must be the aggregate + join-back
    // form, never a Window over fh — a window buffers the ubiquitous
    // hash's whole partition in ONE task before pruning it. The only
    // window allowed anywhere in the decision is the keep-rank one,
    // which partitions by the cluster label.
    val ws = windowsOf(SparkEntry.queries("m11_video_dedup")(spark, sfDir))
    assert(ws.forall(w => !w.partitionSpec.exists(
        _.toString.contains("fh#"))),
      s"the df prune must never be a Window over fh:\n${ws.mkString("\n")}")
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.exists(
        _.toString.contains("label#"))),
      s"only the label-partitioned keep-rank window is expected:\n${ws.mkString("\n")}")
    Caches.release(spark)
  }

  test("g1 pagerank step: ZERO exchanges — the step reuses the cached dst partitioning, rank rides a broadcast") {
    // One unrolled step of the iteration (step plans are identical in
    // form: each reads the cached dst-partitioned edge table and the
    // previous cached rank table): the edges must come straight off
    // their InMemoryRelation with NO exchange anywhere in the step —
    // the dst-keyed mass aggregate REUSES the cache's hash
    // partitioning (round-18 restructure; before, each step paid an
    // exchange of the agg partials), and the O(V) rank-weight side
    // rides a broadcast. ANY ShuffleExchange here means either AQE
    // demoted the join (re-shuffling O(E) per step) or the aggregate
    // stopped recognizing the cached partitioning — both regressions
    // this test pins.
    val s = spark
    import s.implicits._
    val ring = (0L until 2000L).map(i => (i, (i + 1) % 2000L))
    val edges = (ring ++ ring.map(_.swap)).toDF("src", "dst")
    val ranks = graft.operators.Graph.pageRank(edges, "src", "dst",
      iterations = 1)
    ranks.collect()
    val plan = ranks.queryExecution.executedPlan
    val shuffles = deepCollect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      s"zero exchanges per step (dst partitioning reused), got ${shuffles.size}:\n" +
        plan.toString.take(2000))
    val bhj = deepCollect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, "the rank join must be a BroadcastHashJoin:\n" +
      plan.toString.take(2000))
    assert(deepCollect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "no sort-merge join may enter the iteration")
    Caches.release(spark)
  }

  test("g1 pagerank step past the broadcast limit: unhinted joins, the same ranks") {
    // The rank side of the g1 pin's ring cannot broadcast under a
    // 64 KiB spark.sql.maxBroadcastTableSize (its hashed relation
    // alone starts with a 1 MiB page): an explicit hint would make
    // BroadcastExchangeExec fail the query. The step must drop its
    // hints instead and still produce the default session's ranks.
    val s = spark
    import s.implicits._
    val ring = (0L until 2000L).map(i => (i, (i + 1) % 2000L))
    val edges = (ring ++ ring.map(_.swap)).toDF("src", "dst")
    def ranks(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = ranks(graft.operators.Graph.pageRank(edges, "src", "dst",
      iterations = 3))
    Caches.release(spark)
    val keys = Seq("spark.sql.maxBroadcastTableSize",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.maxBroadcastTableSize", "64k")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = graft.operators.Graph.pageRank(edges, "src", "dst",
        iterations = 3)
      val got = ranks(df)
      val plan = df.queryExecution.executedPlan
      assert(deepCollect(plan) {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.isEmpty, "no broadcast past the limit:\n" + plan.toString.take(2000))
      assert(got.keySet == expected.keySet)
      got.foreach { case (id, v) =>
        assert(math.abs(v - expected(id)) < 1e-12, s"node $id: $v vs ${expected(id)}")
      }
    } finally {
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      Caches.release(spark)
    }
  }

  test("p13 mixture sampling: the corpus leg rides a broadcast — its only exchange is the output sort") {
    // the rate table is domain-bounded and must broadcast; the corpus
    // scan's md5 decision is map work, so the ONLY corpus-side
    // exchange allowed is the presentation orderBy's range partition.
    // A hash exchange on the corpus leg means the join demoted to
    // sort-merge and the whole corpus shuffles to apply a per-row
    // filter — the exact degradation this pin exists to catch.
    val df = SparkEntry.queries("p13_mixture_sampling")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(deepCollect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }.nonEmpty, "rate table must broadcast:\n" + plan.toString.take(2000))
    assert(deepCollect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }.isEmpty, "no sort-merge join:\n" + plan.toString.take(2000))
    // hash exchanges may appear only under the bounded rate-table
    // subtree (the lang agg); the corpus side feeds the BHJ directly.
    // The tiny side's aggregates are lang-keyed: every hash exchange
    // must partition on lang, never on doc_id.
    val hashEx = deepCollect(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning
            .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical
              .HashPartitioning] &&
            e.outputPartitioning.toString.contains("doc_id") => e
    }
    assert(hashEx.isEmpty,
      "no corpus-keyed hash exchange (the presentation orderBy's " +
        "range partition is the one allowed corpus exchange):\n" +
        plan.toString.take(2000))
    Caches.release(spark)
  }
}
