package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Sampling, TextAnalysis}

/** Invariant specs for the round-5 pipeline operators (the oracle
  * pins exact values; these pin the properties that must survive any
  * refactor: budget caps, permutation-ness, prefix-closedness,
  * dedup-completeness). */
class Round5OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = Tables.load(spark, sfDir, "documents")

  test("token budget cap: per-group totals within budget, kept set is a quality prefix") {
    val scored = docs.select(col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
    val kept = Sampling.tokenBudgetCap(scored, "source", "doc_id",
      "n_tokens", "quality", budget = 800L)
    // totals never exceed the budget
    val over = kept.groupBy("source").agg(sum("n_tokens").as("t"))
      .filter(col("t") > 800L).count()
    assert(over == 0)
    // prefix-closed: within a source, every kept row outranks every
    // dropped row in (quality desc, doc_id asc) order
    val keptRows = kept.select("source", "quality", "doc_id").collect()
      .map(r => (r.getString(0), (-r.getDouble(1), r.getLong(2)))).toSeq
    val dropped = scored.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("source", "quality", "doc_id").collect()
      .map(r => (r.getString(0), (-r.getDouble(1), r.getLong(2)))).toSeq
    val worstKept = keptRows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val bestDropped = dropped.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    bestDropped.foreach { case (src, bd) =>
      worstKept.get(src).foreach(wk =>
        assert(implicitly[Ordering[(Double, Long)]].lt(wk, bd),
          s"source $src kept a row ranked below a dropped one"))
    }
  }

  test("shuffle positions: a permutation, stable across partitionings, salted") {
    val d = docs.select("doc_id")
    val pos = Sampling.shufflePositions(d, "doc_id", "-s42")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = d.count()
    assert(pos.values.toSeq.sorted == (1L to n).toSeq, "positions must be 1..N")
    // partitioning-invariant (the prefix-sum contract)
    val repart = Sampling.shufflePositions(d.repartition(7), "doc_id", "-s42")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repart == pos)
    // a different salt is a genuinely different permutation
    val other = Sampling.shufflePositions(d, "doc_id", "-s43")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(other != pos)
    // and decorrelated from ingest order: not the identity
    assert(pos.count { case (id, p) => p == id + 1 } < n / 2)
  }

  test("decontamination removal: drops exactly the >threshold-overlap docs") {
    val train = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val evalDf = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
    val kept = Dedup.dropContaminated(train, evalDf, "doc_id", "text",
      n = 3, maxOverlap = 10L)
    // kept ⊆ train, and no kept doc exceeds the overlap bar
    assert(kept.join(train, Seq("doc_id"), "left_anti").isEmpty)
    val evalTris = evalDf.select(explode(
      TextAnalysis.shingles(col("text"), 3)).as("t")).distinct()
    val overlaps = train
      .select(col("doc_id"), explode(TextAnalysis.shingles(col("text"), 3)).as("t"))
      .join(evalTris, "t").groupBy("doc_id").agg(count(lit(1)).as("n"))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    overlaps.collect().foreach { r =>
      val (id, ov) = (r.getLong(0), r.getLong(1))
      assert(keptIds.contains(id) == (ov <= 10L),
        s"doc $id overlap $ov kept=${keptIds.contains(id)}")
    }
    // docs too short for a trigram are always kept
    val short = train.filter(TextAnalysis.tokenCount(col("text")) < 3)
      .select("doc_id").collect().map(_.getLong(0))
    assert(short.forall(keptIds.contains))
  }

  test("mergeRollup ≡ full re-aggregation; disjoint and overlapping keys; zero fill") {
    import spark.implicits._
    val state = Seq((1L, 3L, 100L), (2L, 1L, 50L)).toDF("k", "cnt", "sv")
    val delta = Seq((2L, 2L, 25L), (3L, 4L, 75L)).toDF("k", "cnt", "sv")
    val got = graft.operators.Cdc.mergeRollup(state, delta, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 3L, 100L), (2L, 3L, 75L), (3L, 4L, 75L)))
    // and on real data: merging a ts-split rollup equals the full one
    val e = Tables.events(spark, sfDir)
    def rollup(df: org.apache.spark.sql.DataFrame) = df.groupBy("user_id")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("sv_cents"))
    val cutoff = lit("2024-01-10 00:00:00").cast("timestamp")
    val merged = graft.operators.Cdc.mergeRollup(
        rollup(e.filter(col("ts") < cutoff)),
        rollup(e.filter(col("ts") >= cutoff)), Seq("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val full = rollup(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == full)
  }

  test("scd2 join: exactly one version per covered fact, nulls outside coverage") {
    import spark.implicits._
    val dim = Seq(
      (1L, "2020-01-01 00:00:00", "2021-01-01 00:00:00", "bronze"),
      (1L, "2021-01-01 00:00:00", null, "gold"),
      (2L, "2020-06-01 00:00:00", "2020-07-01 00:00:00", "silver"))
      .toDF("k", "valid_from", "valid_to", "tier")
      .select(col("k"), col("valid_from").cast("timestamp").as("valid_from"),
        col("valid_to").cast("timestamp").as("valid_to"), col("tier"))
    val fact = Seq(
      (10L, 1L, "2020-06-15 00:00:00"), // → bronze
      (11L, 1L, "2021-01-01 00:00:00"), // boundary: from-inclusive → gold
      (12L, 1L, "2025-01-01 00:00:00"), // open-ended current → gold
      (13L, 2L, "2020-08-01 00:00:00"), // outside coverage → null
      (14L, 3L, "2020-06-15 00:00:00")) // unknown key → null
      .toDF("fid", "k", "ts")
      .select(col("fid"), col("k"), col("ts").cast("timestamp").as("ts"))
    val got = graft.operators.Temporal
      .scd2Join(fact, dim, "k", "k", "ts")
      .select("fid", "tier").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(10L -> "bronze", 11L -> "gold", 12L -> "gold",
      13L -> null, 14L -> null))
    // exactly one output row per fact — versions never multiply facts
    assert(got.size == 5)
  }

  test("knn classification: majority vote matches a straight-line reference") {
    // (the synthetic embeddings carry no label-cluster structure —
    // intra-label cosine ≈ inter — so accuracy-vs-truth is not a
    // meaningful assertion here; the vote MECHANICS are)
    val e = Tables.load(spark, sfDir, "embeddings")
    val train = e.filter(col("vec_id") >= 50)
    val labels = train.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val nn = graft.operators.Similarity.crossTopK(
        e.filter(col("vec_id") < 50), "vec_id", "embedding",
        train, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // straight-line majority vote, ties to the smaller label
    val expected = nn.groupBy(_._1).view.mapValues { hits =>
      hits.map(h => labels(h._2)).groupBy(identity).view.mapValues(_.size)
        .toSeq.minBy { case (l, votes) => (-votes, l) }._1
    }.toMap
    val predicted = SparkEntry.queries("v17_knn_classify")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(predicted == expected)
    // exactly one prediction per query, drawn from its neighbor labels
    assert(predicted.keySet == nn.map(_._1).toSet)
  }

  test("tfidf similarity join: canonical pairs, bounded cosine, identical texts at 1") {
    // (df-pruning legitimately empties vectors made only of ubiquitous
    // tokens — this tiny-vocabulary corpus does that a lot — so
    // "every near-dup must appear" is NOT an invariant here; the
    // invariants are the pair canon, the cosine bounds, and that
    // identical texts which DO appear score exactly 1.)
    val pairs = SparkEntry.queries("t28_tfidf_neardup")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(pairs.nonEmpty)
    pairs.foreach { case ((a, b), c) =>
      assert(a < b && c >= 0.5 && c <= 1.000001) }
    // identical-fingerprint docs have identical tf-idf vectors: any
    // such pair the join surfaces must score exactly 1.0
    val fp = docs.filter(col("doc_id") < 1000)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.filter { case ((a, b), _) => fp(a) == fp(b) }
      .foreach { case (p, c) =>
        assert(c >= 0.999999, s"identical pair $p scored $c") }
    // independent straight-line check of one surfaced pair's cosine
    val ((pa, pb), pc) = pairs.maxBy(_._2)
    val texts = docs.filter(col("doc_id").isin(pa, pb))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val n = docs.filter(col("doc_id") < 1000).count().toDouble
    val tfs = docs.filter(col("doc_id") < 1000)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).split(" ", -1).groupBy(identity).view.mapValues(_.length).toMap)
      .toMap
    val dfm = tfs.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size).toMap
    def vec(id: Long): Map[String, Double] = tfs(id).collect {
      case (t, c) if dfm(t) <= 100 => t -> c * math.log(n / dfm(t))
    }.toMap
    val (va, vb) = (vec(pa), vec(pb))
    val dot = va.keySet.intersect(vb.keySet).toSeq.map(t => va(t) * vb(t)).sum
    val ref = dot / (math.sqrt(va.values.map(x => x * x).sum) *
      math.sqrt(vb.values.map(x => x * x).sum))
    assert(math.abs(ref - pc) < 1e-5, s"pair ($pa,$pb): engine $pc vs reference $ref")
    graft.Caches.release(spark)
  }

  test("matryoshka search: returned sims exact, recall over coarse floor, no global sort") {
    import org.apache.spark.sql.functions.typedLit
    val e = Tables.load(spark, sfDir, "embeddings")
    val probe = graft.operators.VectorQueries.probeVec
    val df = SparkEntry.queries("v18_matryoshka_topk")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.contains("Exchange rangepartitioning"), p.take(1500))
    val mat = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the full-dim re-rank reports EXACT cosines for every returned id
    val direct = e.filter(col("vec_id").isin(mat.keys.toSeq.map(Long.box): _*))
      .select(col("vec_id"), round(functions.VectorFunctions
        .cosine_similarity(col("embedding"), typedLit(probe)), 6).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(mat == direct)
    // prefix coarse pass keeps a usable share of the true top-20
    val exact = graft.operators.Similarity
      .topK(e, "embedding", probe, 20, -1.0, Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = mat.keySet.intersect(exact).size / 20.0
    assert(recall >= 0.3, s"matryoshka recall@20 $recall below 0.3")
  }

  test("weighted sample: size-n, weight-biased, partitioning-invariant") {
    val scored = docs.select(col("doc_id"),
      graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val sample = Sampling.weightedSample(scored, "doc_id", "n_tokens", n = 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sample.size == 200)
    // inclusion probability scales with weight: the sample's mean
    // token count must exceed the corpus's
    val corpusMean = scored.agg(avg("n_tokens")).head().getDouble(0)
    val sampleMean = sample.values.sum.toDouble / sample.size
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
    // identical under any partitioning (key-derived priorities)
    val repart = Sampling.weightedSample(scored.repartition(7),
        "doc_id", "n_tokens", n = 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repart == sample)
  }

  test("chunk dedup rewrite: keeps each fingerprint exactly once, counts add up") {
    val out = Dedup.dedupChunksRewrite(docs, "doc_id", "text", maxTokens = 16)
    val rows = out.collect()
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "n_kept must be <= n_chunks")
    }
    // the kept chunks across all docs = exactly the distinct fingerprints
    val distinctFps = graft.ingest.Chunker.chunkDocuments(
        docs.select(col("doc_id"), col("text")), "text", maxTokens = 16)
      .select(md5(col("chunk_text"))).distinct().count()
    assert(rows.map(_.getLong(2)).sum == distinctFps)
    // rebuild drops something only when a duplicate chunk exists
    val removed = rows.map(r => r.getLong(1) - r.getLong(2)).sum
    val totalChunks = rows.map(_.getLong(1)).sum
    assert(removed == totalChunks - distinctFps)
  }
}
