package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Cdc, Dedup, Sampling, Similarity}

/** Round-6 contract specs: label-type-generic k-NN, the weighted-sample
  * positivity contract, null-safe rollup merging, and the Bloom-state
  * build-once guard. */
class Round6OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  test("knnClassify handles string labels; prediction keeps the label type") {
    import spark.implicits._
    // axis-aligned vectors: queries are exact copies of train vectors,
    // so nearest neighbors are fully determined and votes predictable
    val train = Seq(
      (100L, Array(1.0, 0.0, 0.0), "alpha"),
      (101L, Array(0.9, 0.1, 0.0), "alpha"),
      (102L, Array(0.8, 0.2, 0.0), "beta"),
      (103L, Array(0.0, 1.0, 0.0), "beta"),
      (104L, Array(0.0, 0.9, 0.1), "beta"),
      (105L, Array(0.0, 0.8, 0.2), "gamma")
    ).toDF("id", "emb", "lbl")
    val queries = Seq(
      (1L, Array(1.0, 0.05, 0.0)), // nearest 3: alpha, alpha, beta → alpha
      (2L, Array(0.0, 1.0, 0.05)) // nearest 3: beta, beta, gamma → beta
    ).toDF("id", "emb")
    val out = Similarity.knnClassify(queries, train, "id", "emb", "lbl", k = 3)
    assert(out.schema("predicted").dataType ==
      org.apache.spark.sql.types.StringType)
    val got = out.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "alpha", 2L -> "beta"))
  }

  test("knnClassify vote tie breaks to the smallest label, any type") {
    import spark.implicits._
    // two train points per label at equal distance → 2-2 vote with
    // k=4; the winner must be the lexicographically smaller label
    val train = Seq(
      (10L, Array(1.0, 0.0), "zed"),
      (11L, Array(1.0, 0.0), "zed"),
      (12L, Array(1.0, 0.0), "ant"),
      (13L, Array(1.0, 0.0), "ant")
    ).toDF("id", "emb", "lbl")
    val queries = Seq((1L, Array(1.0, 0.0))).toDF("id", "emb")
    val got = Similarity.knnClassify(queries, train, "id", "emb", "lbl", k = 4)
      .collect().map(r => r.getString(1))
    assert(got.toSeq == Seq("ant"))
  }

  test("weightedSample excludes non-positive and null weights") {
    import spark.implicits._
    val rows = (1L to 50L).map(i => (i, i.toDouble)) ++
      Seq((51L, 0.0), (52L, -3.0))
    val df = rows.toDF("id", "w")
      .union(Seq((53L, Option.empty[Double])).toDF("id", "w"))
    val kept = Sampling.weightedSample(df, "id", "w", n = 53)
      .select("id").collect().map(_.getLong(0)).toSet
    // all 50 valid rows sampled (n ≥ valid count); bad rows never —
    // before the filter, w ≤ 0 gave ln(u)/w ≥ 0, outranking every
    // valid row
    assert(kept == (1L to 50L).toSet)
  }

  test("mergeRollup merges null-key partials into one row, like groupBy") {
    import spark.implicits._
    val state = Seq((Some("a"), 10L, 2L), (Option.empty[String], 5L, 1L))
      .toDF("k", "s", "n")
    val delta = Seq((Some("a"), 3L, 1L), (Option.empty[String], 7L, 2L),
      (Some("b"), 1L, 1L)).toDF("k", "s", "n")
    val merged = Cdc.mergeRollup(state, delta, Seq("k"))
    val got = merged.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (Some("a"), 13L, 3L),
      (None, 12L, 3L), // one merged null-key row, not two
      (Some("b"), 1L, 1L)))
    // and equals re-aggregating the union (groupBy treats null as a key)
    val full = state.union(delta).groupBy("k")
      .agg(sum("s").as("s"), sum("n").as("n")).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(got == full)
  }

  test("buildBloomStateIfAbsent builds once, then skips and leaves state intact") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("bloom_guard").toString + "/state"
    val seen = (1L to 100L).map(i => (i, s"fp_$i")).toDF("id", "fp")
    assert(Dedup.buildBloomStateIfAbsent(seen, "fp", path))
    val batch = (50L to 150L).map(i => (i, s"fp_$i")).toDF("id", "fp")
    val kept1 = Dedup.incrementalDedupWithState(batch, "fp", path,
      updateState = false).select("id").collect().map(_.getLong(0)).toSet
    assert(kept1 == (101L to 150L).toSet)
    // second build call with DIFFERENT seen data is a no-op: the
    // existing state keeps answering (the build-once guard)
    val other = (1000L to 1100L).map(i => (i, s"fp_$i")).toDF("id", "fp")
    assert(!Dedup.buildBloomStateIfAbsent(other, "fp", path))
    val kept2 = Dedup.incrementalDedupWithState(batch, "fp", path,
      updateState = false).select("id").collect().map(_.getLong(0)).toSet
    assert(kept2 == kept1)
  }

  test("recall queries: one row, hits in [0,k], recall = hits/10; oracles present") {
    val q = SparkEntry.queries
    for (name <- Seq("v20_lsh_recall", "v21_ivf_recall", "v22_pq_recall",
        "v23_ivfpq_recall")) {
      val rows = q(name)(spark, sfDir).collect()
      assert(rows.length == 1, name)
      val hits = rows(0).getLong(0)
      assert(hits >= 0 && hits <= 10, s"$name hits=$hits")
      assert(rows(0).getDouble(1) == hits / 10.0, name)
    }
    // every recall oracle is in the table, each a function of the
    // corpus: the model-dependent ones rebuild their model from (s, dir)
    val o = SparkEntry.oracles
    for (name <- Seq("v20_lsh_recall", "v21_ivf_recall", "v22_pq_recall",
        "v23_ivfpq_recall"))
      assert(o.contains(name), s"missing oracle for $name")
    // the IVF oracle embeds the trained centroids as literals
    assert(o("v21_ivf_recall")(spark, sfDir).exists(_.contains("cellv(i, cv)")))
  }

  test("scd2ViaAsOf ≡ scd2Join when intervals partition the timeline") {
    import spark.implicits._
    import graft.operators.Temporal
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // key 1: three contiguous versions, final OPEN; key 2: two
    // contiguous versions, final CLOSED (tombstone path); key 3: one
    // open version; key 4 exists only in facts (no-version path)
    val dim = Seq(
      (1L, ts("2024-01-01 00:00:00"), Option(ts("2024-02-01 00:00:00")), "a"),
      (1L, ts("2024-02-01 00:00:00"), Option(ts("2024-03-01 00:00:00")), "b"),
      (1L, ts("2024-03-01 00:00:00"), Option.empty[java.sql.Timestamp], "c"),
      (2L, ts("2024-01-01 00:00:00"), Option(ts("2024-02-01 00:00:00")), "d"),
      (2L, ts("2024-02-01 00:00:00"), Option(ts("2024-03-01 00:00:00")), "e"),
      (3L, ts("2024-01-15 00:00:00"), Option.empty[java.sql.Timestamp], "f")
    ).toDF("k", "valid_from", "valid_to", "payload")
    // facts: before first version, at boundaries, inside intervals,
    // at and after a closed timeline's end
    val facts = (for {
      k <- Seq(1L, 2L, 3L, 4L)
      d <- Seq("2023-12-15 00:00:00", "2024-01-01 00:00:00",
        "2024-01-20 12:34:56", "2024-02-01 00:00:00", "2024-02-15 00:00:00",
        "2024-03-01 00:00:00", "2024-07-04 00:00:00")
    } yield (k, ts(d))).toDF("k", "ts")
      .withColumn("fact_id", monotonically_increasing_id())

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "ts", "payload").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), Option(r.getString(2))))
      .toSet
    val viaJoin = rows(Temporal.scd2Join(facts, dim, "k", "k", "ts"))
    val viaAsOf = rows(Temporal.scd2ViaAsOf(facts, dim, "k", "k", "ts"))
    assert(viaAsOf == viaJoin)
    // sanity on the shape itself: key 2 facts at/after 2024-03-01 get
    // null payload (tombstone), key 1's stay "c"
    assert(viaJoin.contains((2L, ts("2024-03-01 00:00:00"), None)))
    assert(viaJoin.contains((2L, ts("2024-07-04 00:00:00"), None)))
    assert(viaJoin.contains((1L, ts("2024-07-04 00:00:00"), Some("c"))))
    assert(viaJoin.contains((4L, ts("2024-02-15 00:00:00"), None)))
  }

  test("matryoshkaTopK rejects an empty tie-break") {
    val e = Tables.load(spark, sfDir, "embeddings")
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopK(e, "embedding",
        Array.fill(64)(0.1), k = 5, prefixDim = 16, rerank = 20)
    }
  }

  test("s16 attribution mechanics: first/last touch, purchase-first → NULL, non-converters dropped") {
    import spark.implicits._
    // user 1: view → click → purchase → signup (attribution ignores
    //   post-conversion events); user 2: purchase opens the history;
    // user 3: never converts — excluded entirely
    val log = Seq(
      (1L, 10L, 100L, "view"), (1L, 20L, 101L, "click"),
      (1L, 30L, 102L, "purchase"), (1L, 40L, 103L, "signup"),
      (2L, 10L, 200L, "purchase"), (2L, 20L, 201L, "click"),
      (3L, 10L, 300L, "view"), (3L, 20L, 301L, "click"))
      .toDF("user_id", "us", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("us")))
    // drive the same logic inline (the query reads Tables.events; the
    // mechanics are what we pin here)
    val wSeq = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val wUser = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val got = log
      .withColumn("rn", row_number().over(wSeq))
      .withColumn("prn",
        min(when(col("event_type") === "purchase", col("rn"))).over(wUser))
      .filter(col("prn").isNotNull)
      .groupBy("user_id")
      .agg(
        max(when(col("rn") === 1, col("event_type"))).as("first_touch"),
        max(when(col("rn") === col("prn") - 1, col("event_type"))).as("last_touch"))
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(got == Set(
      (1L, "view", Some("click")), // first=first event, last=pre-purchase
      (2L, "purchase", None))) // purchase-first: nothing to attribute
  }

  test("t30 DSIR weights rank the target language above every other") {
    val w = SparkEntry.queries("t30_dsir_weights")(spark, sfDir)
    val byLang = w.join(Tables.load(spark, sfDir, "documents")
        .select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(avg("dsir_weight").as("aw"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Caches.release(spark)
    val others = byLang.collect { case (l, v) if l != "en" => v }
    assert(others.nonEmpty && byLang("en") > others.max,
      s"en ${byLang("en")} vs $byLang")
  }

  test("applyChangelog: latest seq wins; insert/update/upsert/delete paths") {
    import spark.implicits._
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val ch = Seq(
      (2L, "b2", "U", 1), (2L, null, "D", 2), // delete overrides update
      (3L, "c2", "U", 1),                     // update existing
      (4L, "d", "I", 1),                      // insert new
      (5L, "e2", "U", 1)                      // update of absent key → upsert
    ).toDF("k", "v", "op", "seq")
    val out = Cdc.applyChangelog(snap, ch, Seq("k"), "seq", "op")
      .orderBy("k").collect().map(r => r.getLong(0) -> r.getString(1))
    Caches.release(spark)
    assert(out.toSeq == Seq(1L -> "a", 3L -> "c2", 4L -> "d", 5L -> "e2"))
  }

  test("applyChangelog rejects a changes schema missing op/seq") {
    import spark.implicits._
    val snap = Seq((1L, "a")).toDF("k", "v")
    val bad = Seq((1L, "a", 1)).toDF("k", "v", "seq")
    intercept[IllegalArgumentException] {
      Cdc.applyChangelog(snap, bad, Seq("k"), "seq", "op")
    }
  }

  test("charPairs: in-word adjacent pairs, lowercased; short words empty") {
    import spark.implicits._
    val got = Seq("Abca x yZ").toDF("text")
      .select(graft.operators.TextAnalysis.charPairs(col("text")).as("p"))
      .collect().head.getSeq[String](0)
    assert(got == Seq("ab", "bc", "ca", "yz"))
  }

  test("compaction planGroups: next-fit grouping, closed form + byte bound") {
    import spark.implicits._
    val m = Seq(
      ("a", "f1", 5000L), ("a", "f2", 4000L), ("a", "f3", 3000L),
      ("a", "f4", 200L), ("b", "g1", 9000L), ("b", "g2", 100L)
    ).toDF("p", "f", "sz")
    val out = graft.store.Compaction.planGroups(m, "p", "f", "sz", 6000L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    // next-fit over size-desc order: preceding-bytes div 6000
    assert(out == Map(
      ("a", "f1") -> 0L, ("a", "f2") -> 0L, ("a", "f3") -> 1L,
      ("a", "f4") -> 2L, ("b", "g1") -> 0L, ("b", "g2") -> 1L), out.toString)
    // bound: every group total < target + its largest member
    val sums = graft.store.Compaction.planGroups(m, "p", "f", "sz", 6000L)
      .groupBy("p", "grp").agg(sum("sz").as("tot"), max("sz").as("mx"))
      .collect()
    sums.foreach(r =>
      assert(r.getLong(2) < 6000L + r.getLong(3), r.toString))
  }

  test("s17 transition probabilities sum to 1 per source state") {
    val q = SparkEntry.queries("s17_markov_transitions")
    val rows = q(spark, sfDir).groupBy("src")
      .agg(sum("p").as("tot"), sum("cnt").as("n")).collect()
    rows.foreach { r =>
      // rounding each term to 6dp bounds the per-row drift by 5e-7·k
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-4, s"src ${r.getString(0)}")
    }
    assert(rows.length == 5) // all five event types appear as sources
  }
}
