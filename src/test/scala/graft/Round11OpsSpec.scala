package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 additions: the streaming face of the winnowing dedup
  * family (d17/d18 fingerprints as Cdc.streamingRollup versioned
  * state, stream ≡ batch pinned against the oracle-checked batch
  * queries). */
class Round11OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def lastVersion(statePath: String): Long =
    new java.io.File(statePath).list()
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max

  test("streaming winnowing rollup: folded state == batch d17 table") {
    import graft.streaming.DedupStreams
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_winstream").toString
    docs.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    DedupStreams.streamingWinnowRollup(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    // several micro-batches actually folded, not one big batch
    assert(lastVersion(s"$tmp/state") >= 2)
    // the derived repeated-fingerprint table is row-identical to the
    // one-shot d17 query (the oracle-checked contract)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = DedupStreams.winnowRepeatsFromState(spark, s"$tmp/state")
    assert(streamed.isDefined, "no committed winnowing state")
    val batch = SparkEntry.queries("d17_winnowing")(spark, sfDir)
    assert(rows(streamed.get.select(col("fp"), col("n_docs"),
      col("first_doc"))) == rows(batch))
    assert(streamed.get.count() > 0, "fixture should contain repeats")
    Caches.release(spark)
  }

  test("streaming winnowing posting list: d18 pairs from state == batch d18") {
    import graft.streaming.DedupStreams
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_fpstream").toString
    docs.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    DedupStreams.streamingWinnowFps(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    assert(lastVersion(s"$tmp/state") >= 2)
    // replay idempotence: re-folding batch 0 moves nothing (the
    // versioned-state protocol skips committed batch ids)
    val before = graft.operators.Cdc.readRollup(spark, s"$tmp/state")
      .get.agg(sum("c")).head().getLong(0)
    graft.operators.Cdc.foldBatch(
      docs.limit(50), 0L, s"$tmp/state", Seq("id", "fp"),
      DedupStreams.winnowFpBatch(8, 4))
    val after = graft.operators.Cdc.readRollup(spark, s"$tmp/state")
      .get.agg(sum("c")).head().getLong(0)
    assert(before == after, "replayed batch id must be a no-op")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val streamed = DedupStreams.sharedPassagesFromState(spark, s"$tmp/state")
    assert(streamed.isDefined, "no committed posting-list state")
    val batch = SparkEntry.queries("d18_shared_passages")(spark, sfDir)
    assert(pairs(streamed.get.select("a_id", "b_id", "shared_fps",
      "containment")) == pairs(batch))
    assert(streamed.get.count() > 0, "fixture should contain shared passages")
    Caches.release(spark)
  }

  private def docsDir(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("r11_docs").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("d19: every occurrence above the doc-frequency bar is dropped") {
    import spark.implicits._
    val docs = (0 until 40).map(i =>
      (i.toLong, s"unique body $i\ncookie banner text")).toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .boilerplateRemoval(docs, "doc_id", "text", maxDocs = 32L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    // the banner (40 docs > 32) dies in ALL docs — not keep-first
    (0 until 40).foreach { i =>
      assert(out(i.toLong) == (2L, 1L, s"unique body $i"), s"doc $i")
    }
    // below the bar nothing is dropped and text round-trips
    val kept = graft.operators.Dedup
      .boilerplateRemoval(docs, "doc_id", "text", maxDocs = 64L).collect()
    assert(kept.forall(_.getLong(2) == 0L))
    assert(kept.forall(r =>
      r.getString(3) == s"unique body ${r.getLong(0)}\ncookie banner text"))
    Caches.release(spark)
  }

  test("t43 gopher rules: crafted docs flip each rule") {
    val good = (("the data and engine " * 15).trim) // 60 words, stops present
    val short = "the and of to five short words here now end" // 10 words
    val hashy = (("# " * 30) + "the and " + ("word " * 28)).trim // 30 '#' of 60
    val numeric = (("12 34 " * 30)).trim // 60 words, no letters, no stops
    val dir = docsDir(Seq(good, short, hashy, numeric))
    val got = SparkEntry.queries("t43_gopher_rules")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8)))
      .toMap
    // (r_wordcount, r_meanwordlen, r_hash, r_ellipsis, r_alpha, r_stopwords, keep)
    assert(got(0L) == (true, true, true, true, true, true, true))
    assert(got(1L)._1 == false && got(1L)._7 == false) // word count
    assert(got(2L)._3 == false && got(2L)._7 == false) // hash ratio
    assert(got(3L)._5 == false && got(3L)._6 == false &&
      got(3L)._7 == false) // alpha + stopwords
  }

  test("gcRetired removes retired-prefix sidecars, keeps live recipes") {
    val root = new java.io.File(graft.store.AnnIndexes.root)
    root.mkdirs()
    val dead = new java.io.File(root, "mh_retired_test"); dead.mkdirs()
    new java.io.File(dead, "part-0").createNewFile()
    val dead2 = new java.io.File(root, "bpe_retired_test"); dead2.mkdirs()
    val live = new java.io.File(root, "mh2_live_test"); live.mkdirs()
    // d14's state dir before it carried the corpus key is retired by
    // its whole name; the keyed shape shares the prefix and is live
    val oldBloom = new java.io.File(root, "bloomstate_0a1b2c3d"); oldBloom.mkdirs()
    val liveBloom = new java.io.File(root,
      s"bloomstate_${graft.store.AnnIndexes.keyOf("/gcspec/corpus")}_0a1b2c3d")
    liveBloom.mkdirs()
    val n = graft.store.AnnIndexes.gcRetired(spark)
    assert(n >= 3, s"expected >=3 retired entries removed, got $n")
    assert(!dead.exists && !dead2.exists, "retired prefixes must be deleted")
    assert(!oldBloom.exists, "the unkeyed bloomstate_<fp> shape must be deleted")
    assert(live.exists && liveBloom.exists, "live recipe prefixes must survive")
    live.delete(); liveBloom.delete()
  }

  test("d11 derived nCells: small corpora keep 16, growth is linear in N") {
    // the formula the declared query derives its cell count from
    def nCells(n: Long) = math.max(16, ((n + 1023) / 1024).toInt)
    assert(nCells(500) == 16 && nCells(16384) == 16)
    assert(nCells(50000) == 49 && nCells(1000000) == 977)
  }

  test("t44 LM perplexity: golden micro-nat scores on a crafted corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_t44").toString
    // train slice = docs 0 and 3 ("a b a b a b"): c1(a)=c1(b)=6, V=2,
    // c2(a,b)=6, c2(b,a)=4. doc 1 repeats the train text (all bigrams
    // seen); doc 2 is out-of-vocabulary (every bigram backs off).
    Seq(
      (0L, "a b a b a b", "en", "s", 11L),
      (3L, "a b a b a b", "en", "s", 11L),
      (1L, "a b a b a b", "en", "s", 11L),
      (2L, "z q x w v u", "en", "s", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    def q6(x: Double) = math.round(x * 1e6)
    val aSeen = q6(math.log(6 + 2.0))     // ln(c1 + V)
    val bAb = q6(math.log(6 + 1.0))       // ln(c2(a,b) + 1)
    val bBa = q6(math.log(4 + 1.0))
    val miss = q6(math.log(2.0))          // unseen w1 → ln(V)
    val got = SparkEntry.queries("t44_lm_perplexity")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(4))).toMap
    // each "a b a b a b" doc: 3·(A(a)−B(ab)) + 2·(A(b)−B(ba)), 5 grams
    val seenNll = 3 * (aSeen - bAb) + 2 * (aSeen - bBa)
    assert(got(0L) == ((5L, seenNll, 1)))
    assert(got(1L) == ((5L, seenNll, 1)))
    assert(got(3L) == ((5L, seenNll, 1)))
    // OOV doc: every gram costs exactly ln(V) micro-nats; ties put the
    // three equal-scored seen docs in bucket 1, the OOV doc alone in 3
    assert(got(2L) == ((5L, 5 * miss, 3)))
    Caches.release(spark)
  }

  test("d20 exact-substring removal: keep-one semantics on a crafted corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_d20").toString
    // doc 0 and doc 3 are identical; doc 1 embeds doc 0's 8-token run
    // "a..h" at offset 3; doc 2 is disjoint; doc 4 is shorter than the
    // gram size (sub-k duplication is d1's job, not d20's)
    Seq(
      (0L, "a b c d e f g h i j", "en", "s", 19L),
      (1L, "x y a b c d e f g h w", "en", "s", 21L),
      (2L, "p q r s t u v m n o", "en", "s", 19L),
      (3L, "a b c d e f g h i j", "en", "s", 19L),
      (4L, "a b c", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = SparkEntry.queries("d20_substring_removal")(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // smallest-id holder keeps its copy untouched
    assert(got(0L) == ((10L, 0L, "a b c d e f g h i j")))
    // doc 1: the shared run covers positions 3..10, survivors x y w
    assert(got(1L) == ((11L, 8L, "x y w")))
    // disjoint and sub-k docs pass through
    assert(got(2L) == ((10L, 0L, "p q r s t u v m n o")))
    assert(got(4L) == ((3L, 0L, "a b c")))
    // the full duplicate loses everything but still emits a row
    assert(got(3L) == ((10L, 10L, "")))
    Caches.release(spark)
  }

  test("streaming substring-dup state: removal from state == batch d20 output") {
    import graft.streaming.DedupStreams
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_d20stream").toString
    docs.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    DedupStreams.streamingSubstringDups(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    assert(lastVersion(s"$tmp/state") >= 2)
    val streamed = DedupStreams.substringRemovalFromState(
      spark, s"$tmp/state", docs)
    assert(streamed.isDefined, "no committed dup-gram state")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(rows(streamed.get) ==
      rows(SparkEntry.queries("d20_substring_removal")(spark, sfDir)))
    Caches.release(spark)
  }

  test("d21 benchmark contamination: crafted corpus semantics + broadcast plan") {
    import graft.operators.Dedup
    import spark.implicits._
    // bench doc 0: 20 distinct pure-letter tokens -> 8 thirteen-grams
    val benchWords = Seq("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
      "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra",
      "tango")
    val bench = Seq((0L, benchWords.mkString(" "))).toDF("doc_id", "text")
    val run13 = benchWords.slice(2, 15) // exactly one bench 13-gram
    val run12 = benchWords.slice(4, 16) // sub-k: no full 13-gram
    val fill = (1 to 8).map(i => "filler" + ('a' + i).toChar)
    val train = Seq(
      // 5 + 13 + 3 = 21 tokens; the copied run matches exactly 1 gram
      (1L, (fill.take(5) ++ run13 ++ fill.drop(5)).mkString(" ")),
      (2L, ((1 to 15).map(i => "word" + ('a' + i).toChar)).mkString(" ")),
      (3L, "short doc of five words"),
      // 12-token overlap only -> invisible at k=13
      (4L, (fill.take(4) ++ run12 ++ fill.drop(4)).mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.benchmarkContamination(train, bench, "doc_id", "text", 13)
    val rows = out.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rows(1L) == ((9L, 1L, true)))
    assert(rows(2L) == ((3L, 0L, false)))
    assert(rows(3L) == ((0L, 0L, false)))
    assert(rows(4L) == ((8L, 0L, false)))
    // the bench gram set joins the corpus grams map-side (broadcast),
    // never by shuffling the corpus gram table
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    Caches.release(spark)
  }

  test("streaming boilerplate counts: removal from state == batch d19 output") {
    import graft.streaming.DedupStreams
    import graft.ingest.Chunker
    // the d19 query's planted paragraph corpus, replayed here so the
    // stream folds exactly what the oracle-checked batch query sees
    val withParas = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), concat(
        array_join(Chunker.chunksCol(col("text"), 10), "\n"),
        lit("\nsubscribe now cookie policy accept terms")).as("text"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_d19stream").toString
    withParas.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    DedupStreams.streamingBoilerplateCounts(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    assert(lastVersion(s"$tmp/state") >= 2)
    val streamed = DedupStreams.boilerplateRemovalFromState(
      spark, s"$tmp/state", withParas)
    assert(streamed.isDefined, "no committed boilerplate state")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(rows(streamed.get) ==
      rows(SparkEntry.queries("d19_boilerplate_removal")(spark, sfDir)))
    // the planted banner paragraph is actually being dropped
    assert(streamed.get.agg(sum("n_dropped")).head().getLong(0) > 0)
    Caches.release(spark)
  }

  test("streaming bench grams: contamination from state == batch d21 output") {
    import graft.streaming.DedupStreams
    import graft.operators.TextAnalysis
    val d = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val bench = d.filter(col("doc_id") % 23 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_d21stream").toString
    bench.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    DedupStreams.streamingBenchGrams(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    assert(lastVersion(s"$tmp/state") >= 2)
    // the d21 query's planted train corpus, replayed
    val pass = bench.select(col("doc_id").as("b_id"),
      concat_ws(" ",
        slice(TextAnalysis.segTokens(col("text")), 1, 16)).as("passage"))
    val train = d.filter(col("doc_id") % 23 =!= 0)
      .withColumn("b_id", col("doc_id") - (col("doc_id") % 23))
      .join(broadcast(pass), Seq("b_id"), "left")
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 5 && col("passage").isNotNull &&
            length(col("passage")) > 0,
          concat(col("text"), lit(" "), col("passage")))
          .otherwise(col("text")).as("text"))
    val streamed = DedupStreams.contaminationFromState(
      spark, s"$tmp/state", train)
    assert(streamed.isDefined, "no committed bench-gram state")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(rows(streamed.get) ==
      rows(SparkEntry.queries("d21_benchmark_decontamination")(spark, sfDir)))
    assert(streamed.get.filter(col("contaminated")).count() > 0)
    Caches.release(spark)
  }

  test("streaming LM counts: scores from folded state == batch t44 output") {
    import graft.streaming.ModelStreams
    import graft.operators.TextAnalysis
    val train = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").filter(col("doc_id") % 3 === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_lmstream").toString
    train.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    ModelStreams.streamingLmCounts(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    // several micro-batches actually folded, not one big batch
    assert(lastVersion(s"$tmp/state") >= 2)
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), TextAnalysis.segTokens(col("text")).as("tk"))
    val streamed = ModelStreams.lmPerplexityFromState(spark, s"$tmp/state", d)
    assert(streamed.isDefined, "no committed LM state")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(rows(streamed.get) ==
      rows(SparkEntry.queries("t44_lm_perplexity")(spark, sfDir)))
    Caches.release(spark)
  }

  test("streaming pHash state: m8 pairs from folded state == batch m8") {
    import graft.streaming.DedupStreams
    val assets = graft.operators.PipelineQueries.m8PlantedAssets(spark, sfDir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_phstream").toString
    assets.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    DedupStreams.streamingPhashes(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    // several micro-batches actually folded, not one big batch
    assert(lastVersion(s"$tmp/state") >= 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val streamed = DedupStreams.phashPairsFromState(spark, s"$tmp/state")
    assert(streamed.isDefined, "no committed pHash state")
    val batch = SparkEntry.queries("m8_image_neardup")(spark, sfDir)
    assert(rows(streamed.get) == rows(batch))
    assert(streamed.get.count() > 0, "planted fill groups should pair")
    Caches.release(spark)
  }

  test("pHash state merge is ATOMIC: a re-emitted asset keeps ONE real hash") {
    import graft.streaming.DedupStreams
    // same asset id, two different hashes (an upstream re-crawl):
    // the merge must pick one of them wholesale — a chunk-wise
    // independent min would fuse the franken-hash (9, 7, 3, 1)
    val a = spark.createDataFrame(Seq((42L, 10, 7, 3, 1)))
      .toDF("asset_id", "h0", "h1", "h2", "h3")
    val b = spark.createDataFrame(Seq((42L, 9, 8, 3, 1)))
      .toDF("asset_id", "h0", "h1", "h2", "h3")
    val merged = DedupStreams.mergeMinChunks(a, b, Seq("asset_id"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    // packed comparison is h3-major: h3/h2 tie, a.h1=7 < b.h1=8 → a wins
    assert(merged.toSeq == Seq((42L, 10, 7, 3, 1)))
    // sign-safety (advisor, round 12): h3 ≥ 0x8000 packs into the sign
    // bits of the long — an unbiased signed min would prefer the
    // NEGATIVE-packing (unsigned-LARGER) hash over a plain small one
    val c = spark.createDataFrame(Seq((7L, 1, 1, 1, 0xFFFF)))
      .toDF("asset_id", "h0", "h1", "h2", "h3")
    val d = spark.createDataFrame(Seq((7L, 2, 2, 2, 1)))
      .toDF("asset_id", "h0", "h1", "h2", "h3")
    val m2 = DedupStreams.mergeMinChunks(c, d, Seq("asset_id"))
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(m2.toSeq == Seq((7L, 2, 2, 2, 1)),
      "unsigned h3-major order: (h3=1) beats (h3=0xFFFF)")
  }

  test("t45 c4Clean: each rule isolated on a crafted corpus") {
    import graft.operators.TextAnalysis
    def doc(id: Long, lines: String*) = (id, lines.mkString("\n"))
    val good = "alpha beta gamma delta epsilon." // 5 words, terminal .
    val df = spark.createDataFrame(Seq(
      // all lines survive
      doc(1L, good, good, "one two three four five six!", "quoted line of five words\""),
      // one violation of each LINE rule, plus 3 good lines -> kept
      doc(2L, good, "no terminal punctuation here at all", // rule 1
        "too few words.", // rule 2
        "this line mentions javascript explicitly today.", // rule 3
        good, good),
      // word-exact ban: a SUBSTRING hit is NOT a hit
      doc(3L, good, good, "we love javascripting frameworks daily."),
      // only 2 kept lines -> whole page dropped
      doc(4L, good, good, "short."),
      // page bans
      doc(5L, good, good, good, "this page embeds lorem ipsum text."),
      doc(6L, good, good, good, "code block { inside } here today."),
      // CRLF page: \r?\n splitting means a Windows-line-ended page
      // CLEANS like any other (and no \r leaks into clean_text); a
      // lone stray \r mid-line stays and fails the \z punct anchor
      (7L, (good + "\r\n") * 3 + good),
      (8L, Seq(good, good, good + "\rtail").mkString("\n")))).
      toDF("doc_id", "text")
    val r = TextAnalysis.c4Clean(df, "doc_id", "text").orderBy("doc_id")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getBoolean(3), x.getString(4))).toMap
    assert(r(1L) == ((4L, 4L, true,
      Seq(good, good, "one two three four five six!",
        "quoted line of five words\"").mkString("\n"))))
    assert(r(2L) == ((6L, 3L, true, Seq(good, good, good).mkString("\n"))))
    assert(r(3L) == ((3L, 3L, true,
      Seq(good, good, "we love javascripting frameworks daily.")
        .mkString("\n"))))
    assert(r(4L) == ((3L, 2L, false, "")))
    assert(r(5L) == ((4L, 4L, false, "")))
    // the brace line passes every LINE rule; the PAGE ban drops doc 6
    assert(r(6L) == ((4L, 4L, false, "")))
    // CRLF page: all 4 lines keep, clean_text is \r-free
    assert(r(7L) == ((4L, 4L, true, Seq(good, good, good, good).mkString("\n"))))
    // the stray-\r line fails the end-of-text punctuation anchor
    assert(r(8L) == ((3L, 2L, false, "")))
  }

  test("t46 intraDocLineDedup: keep-first semantics on a crafted corpus") {
    import graft.operators.TextAnalysis
    val df = spark.createDataFrame(Seq(
      (1L, Seq("a a", "b b", "a a", "c c", "b b", "a a").mkString("\n")),
      (2L, Seq("x", "y", "z").mkString("\n")), // no dupes
      (3L, ""))) // one empty line, no dupes
      .toDF("doc_id", "text")
    val r = TextAnalysis.intraDocLineDedup(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    assert(r(1L) == ((6L, 3L, "a a\nb b\nc c")))
    assert(r(2L) == ((3L, 0L, "x\ny\nz")))
    assert(r(3L) == ((1L, 0L, "")))
  }

  test("t45/t46 plan pin: the cleaning operators are pure scan " +
    "projections — zero exchanges before the presentation sort") {
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    for (df <- Seq(TextAnalysis.c4Clean(docs, "doc_id", "text"),
        TextAnalysis.intraDocLineDedup(docs, "doc_id", "text"))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p.take(2000))
    }
  }

  test("t45/t46 idempotence: cleaning already-clean text is the identity") {
    import graft.operators.TextAnalysis
    // seeded pseudo-random corpus: lines mixing rule-passing and
    // rule-violating shapes, CRLF endings, stray \r, dup lines
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "javascript", "lorem", "ipsum")
    def line(): String = {
      val n = 1 + rnd.nextInt(9)
      val base = Vector.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
      rnd.nextInt(4) match {
        case 0 => base
        case 1 => base + "."
        case 2 => base + "!\r" // CRLF once joined with \n
        case _ => base + "?"
      }
    }
    val docs = (0L until 60L).map { id =>
      val ls = Vector.fill(2 + rnd.nextInt(10))(line())
      val withDups = if (id % 3 == 0) ls ++ ls.take(2) else ls
      (id, withDups.mkString("\n"))
    }
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")

    // c4Clean twice == once, on the kept documents
    val once = TextAnalysis.c4Clean(df, "doc_id", "text")
      .filter(col("keep_doc")).select(col("doc_id"), col("clean_text"))
    val twice = TextAnalysis.c4Clean(
      once.withColumnRenamed("clean_text", "text"), "doc_id", "text")
    val t2 = twice.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getString(4))).toMap
    val o1 = once.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(o1.nonEmpty, "seeded corpus should keep some docs")
    o1.foreach { case (id, txt) =>
      val (nl, nk, keep, clean) = t2(id)
      assert(keep && nl == nk && clean == txt, s"doc $id not a fixed point")
    }

    // intraDocLineDedup twice == once (0 dupes the second time)
    val d1 = TextAnalysis.intraDocLineDedup(df, "doc_id", "text")
      .select(col("doc_id"), col("text_clean"))
    val d2 = TextAnalysis.intraDocLineDedup(
      d1.withColumnRenamed("text_clean", "text"), "doc_id", "text")
    val dd = d2.collect().map(r =>
      r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    d1.collect().foreach { r =>
      val (dupes, clean) = dd(r.getLong(0))
      assert(dupes == 0L && clean == r.getString(1),
        s"doc ${r.getLong(0)} not a fixed point")
    }
  }

  test("t44 LM perplexity: tercile buckets are monotone in avg_nll") {
    val rows = SparkEntry.queries("t44_lm_perplexity")(spark, sfDir)
      .select("bucket", "avg_nll6").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.map(_._1).distinct.sorted.sameElements(Seq(1, 2, 3)))
    val maxByBucket = rows.groupBy(_._1).view.mapValues(_.map(_._2).max)
    val minByBucket = rows.groupBy(_._1).view.mapValues(_.map(_._2).min)
    assert(maxByBucket(1) <= minByBucket(2) &&
      maxByBucket(2) <= minByBucket(3))
    Caches.release(spark)
  }
}
