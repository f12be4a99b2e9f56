package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def eventsSchemaDf = Tables.events(spark, sfDir)

  /** Streaming face of Tables.events: same adaptive ts normalization
    * (nanos-as-long vs native micros TIMESTAMP) over a readStream
    * source. */
  private def rawEventStream = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.load(spark, sfDir, "events").schema
    spark.readStream
      .schema(schema)
      .parquet(streamDir)
      .withColumn("ts", timestamp_micros(Tables.eventsTsMicros(schema)))
  }

  /** readStream needs a directory source; stage the single parquet
    * file into a temp dir. */
  private lazy val streamDir: String = {
    val d = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  test("streaming ingest equals batch import (shared pipeline, 3 micro-batches)") {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_ingest").toString
    // 3 files + maxFilesPerTrigger=1 → 3 micro-batches, exercising the
    // cross-batch null-safe source dedup and chunk appends
    docs.repartition(3).write.parquet(s"$tmp/docs")
    val schema = spark.read.parquet(s"$tmp/docs").schema
    val q = graft.streaming.StreamingIngest.ingestStream(
      spark, s"$tmp/docs", schema, s"$tmp/stream_store", "spec-model",
      dim = 16, maxTokens = 32)
    q.awaitTermination()
    graft.cli.Demo.importDocs(spark, docs, s"$tmp/batch_store",
      "spec-model", dim = 16, maxTokens = 32)

    val sc = spark.read.parquet(s"$tmp/stream_store/chunks")
    val bc = spark.read.parquet(s"$tmp/batch_store/chunks")
    assert(sc.count() == bc.count())
    // chunk ids are deterministic (doc, ordinal) composites, so the
    // two stores must agree row-for-row on id + content
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "chunk_number", "chunk_text")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(keyed(sc) == keyed(bc))
    // and retrieval over the two stores is indistinguishable
    val qv = graft.rag.Rag.embedQuery("row batch table", 16)
    def hits(df: org.apache.spark.sql.DataFrame) =
      graft.rag.Rag.searchChunks(df, qv, topK = 5, threshold = -1.0)
        .select("id", "chunk_text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hits(sc) == hits(bc))
  }

  test("streaming LSH index maintenance equals one-shot batch build") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_idx").toString
    // 3 files + maxFilesPerTrigger=1 → 3 append micro-batches into an
    // initially-empty index
    emb.repartition(3).write.parquet(s"$tmp/vecs")
    val schema = spark.read.parquet(s"$tmp/vecs").schema
    val q = graft.streaming.StreamingIngest.indexStream(
      spark, s"$tmp/vecs", schema, s"$tmp/stream_idx", "embedding",
      dim = 64, checkpointDir = Some(s"$tmp/ckpt"))
    q.awaitTermination()
    graft.operators.Similarity.buildLshIndex(
      emb, "embedding", dim = 64, s"$tmp/batch_idx")
    val si = spark.read.parquet(s"$tmp/stream_idx")
    val bi = spark.read.parquet(s"$tmp/batch_idx")
    // identical index CONTENTS: same (table, bucket, vec) entries
    def entries(df: org.apache.spark.sql.DataFrame) =
      df.select(col("table_id").cast("int"),
          col("lsh_bucket").cast("long"), col("vec_id").cast("long"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(entries(si) == entries(bi))
    // and identical search results through the index-query path
    val probe = graft.operators.VectorQueries.probeVec
    def hits(df: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.lshTopKFromIndex(df, "vec_id",
          "embedding", probe, k = 10, tieBreak = Seq("vec_id"))
        .select("vec_id", "similarity").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(si) == hits(bi))
  }

  test("s23 streaming face: CUSUM folded from streamed hourly state ≡ batch") {
    val batch = SparkEntry.queries("s23_cusum_changepoint")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
      .toSeq
    // Complete mode: the bounded-source replay emits every window
    // (append would withhold the final un-watermarked hour, which
    // would shift the spine max and the baseline)
    val sink = EventStreams.runToCompletion(
      EventStreams.streamingTypeHourly(rawEventStream),
      "s23_state_test", OutputMode.Complete)
    // cusumFromCounts self-joins its input (spine × counts); the
    // memory-sink plan cannot dedup attribute refs across a self-join,
    // so rebase the state onto a plain local relation first
    val state = spark.createDataFrame(
      sink.select("event_type", "hr", "c").collect().toSeq.asJava,
      sink.select("event_type", "hr", "c").schema)
    val streamed = graft.operators.EventQueries
      .cusumFromCounts(state)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
      .toSeq
    assert(streamed == batch)
    assert(streamed.exists(t => t._1 == "click" && t._5))
  }

  test("streaming hourly window agg equals batch rollup once complete") {
    val batch = eventsSchemaDf
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet

    // stream from the same parquet file: fixed schema, ts converted the
    // same way as Tables.events
    val raw = rawEventStream
    val result = EventStreams.runToCompletion(
      EventStreams.streamingHourly(raw), "hourly_test", OutputMode.Append)
    // append mode emits only watermark-closed windows; on a bounded
    // source AvailableNow closes everything except possibly the last
    // window — compare as subset + cardinality sanity
    val got = result.select("h", "event_type", "cnt").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got.subsetOf(batch), "stream emitted a row batch doesn't have")
    assert(got.size >= batch.size - 10,
      s"stream emitted ${got.size} of ${batch.size} windows")
  }

  test("streaming downsample equals batch 5-minute rollup once complete") {
    val batch = eventsSchemaDf
      .groupBy(col("user_id"), expr("unix_micros(ts) div 300000000").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sv_cents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val raw = rawEventStream
    val result = EventStreams.runToCompletion(
      EventStreams.streamingDownsample(raw), "downsample_test", OutputMode.Append)
    val got = result.select("user_id", "bucket", "n_events", "sv_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // append mode withholds watermark-open windows on a bounded source
    assert(got.subsetOf(batch), "stream emitted a bucket batch doesn't have")
    assert(got.size >= batch.size - 60,
      s"stream emitted ${got.size} of ${batch.size} buckets")
  }

  test("streaming rollup: foreachBatch mergeRollup state equals full batch re-agg") {
    import graft.operators.Cdc
    val events = eventsSchemaDf.select("user_id", "value")
    val tmp = java.nio.file.Files.createTempDirectory("graft_roll").toString
    // 3 files + maxFilesPerTrigger=1 → 3 micro-batches, so the state
    // table is folded incrementally, never rebuilt from history
    events.repartition(3).write.parquet(s"$tmp/src")
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("sv_cents"))
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    Cdc.streamingRollup(raw, s"$tmp/state", Seq("user_id"), agg,
      s"$tmp/ckpt").awaitTermination()

    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val state = Cdc.readRollup(spark, s"$tmp/state")
    assert(state.isDefined, "no committed rollup state")
    assert(keyed(state.get) == keyed(agg(events)))
    // multiple micro-batches actually folded (not one big batch): the
    // surviving version id is that of the LAST micro-batch
    val lastVersion = new java.io.File(s"$tmp/state").list()
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
    assert(lastVersion >= 2, s"expected ≥3 micro-batches, last=v$lastVersion")

    // a replayed (duplicate) batch id is a no-op — the at-least-once
    // guard: folding batch 0 again must not change the state
    val before = keyed(state.get)
    Cdc.foldBatch(spark.read.parquet(s"$tmp/src"), 0L,
      s"$tmp/state", Seq("user_id"), agg)
    assert(keyed(Cdc.readRollup(spark, s"$tmp/state").get) == before)
    // while a NEW batch id folds in — the non-streaming daily driver
    val extra = { import spark.implicits._
      Seq((999999L, 5.0)).toDF("user_id", "value") }
    Cdc.foldBatch(extra, lastVersion + 1, s"$tmp/state", Seq("user_id"), agg)
    assert(keyed(Cdc.readRollup(spark, s"$tmp/state").get) ==
      keyed(agg(events.union(extra))))
  }

  test("streaming count-min state: rollup-folded sketch equals one-pass grid") {
    import graft.functions.CountMin
    import graft.operators.{Cdc, TextAnalysis}
    val (depth, width, seed) = (4, 512, 42L)
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val toks = docs.select(
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_cms").toString
    docs.repartition(3).write.parquet(s"$tmp/src")
    // the CMS fold is literally streamingRollup keyed on the grid cell
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    Cdc.streamingRollup(raw, s"$tmp/state", Seq("cell_id"),
      b => CountMin.sketchRows(
        b.select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
        "tok", depth, width, seed),
      s"$tmp/ckpt").awaitTermination()
    val state = Cdc.readRollup(spark, s"$tmp/state")
    assert(state.isDefined, "no committed CMS state")
    val streamed = CountMin.gridOfRows(state.get, depth, width)
    // one-shot rows form AND the typed-Aggregator form agree exactly —
    // integer merges, so all three representations are bit-equal
    val oneShot = CountMin.gridOfRows(
      CountMin.sketchRows(toks, "tok", depth, width, seed), depth, width)
    val agg = toks.agg(CountMin.sketch(depth, width, seed)(col("tok")))
      .head().getSeq[Long](0).toArray
    assert(streamed.sameElements(oneShot))
    assert(streamed.sameElements(agg))
    // and a replayed batch id is a no-op on the sketch
    Cdc.foldBatch(spark.read.parquet(s"$tmp/src"), 0L, s"$tmp/state",
      Seq("cell_id"),
      b => CountMin.sketchRows(
        b.select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
        "tok", depth, width, seed))
    assert(CountMin.gridOfRows(
      Cdc.readRollup(spark, s"$tmp/state").get, depth, width)
      .sameElements(streamed))
  }

  test("streaming HLL NDV state: union-folded sketches track exact, idempotent under refold") {
    import graft.functions.HllRollup
    import graft.operators.Cdc
    import spark.implicits._
    // 3 groups, keys overlapping across micro-batches so the union
    // fold has real cross-batch merging to do
    val rows = (1 to 6000).map(i => (Seq("A", "N", "R")(i % 3), i % 700L))
    val df = rows.toDF("g", "k")
    val tmp = java.nio.file.Files.createTempDirectory("graft_hll").toString
    df.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    HllRollup.streamingNdv(raw, s"$tmp/state", Seq("g"), "k", s"$tmp/ckpt")
      .awaitTermination()
    def est(): Map[String, Long] =
      HllRollup.estimates(spark, s"$tmp/state", Seq("g")).get
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val streamed = est()
    // every group saw all 700 distinct keys; estimates inside the
    // sketch envelope of the exact NDV
    val exact = df.groupBy("g").agg(countDistinct("k").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed.keySet == exact.keySet)
    exact.foreach { case (g, n) =>
      assert(math.abs(streamed(g) - n) <= n / 10,
        s"group $g: est ${streamed(g)} vs exact $n")
    }
    // the micro-batches actually folded incrementally
    val lastVersion = new java.io.File(s"$tmp/state").list()
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
    assert(lastVersion >= 2, s"expected ≥3 micro-batches, last=v$lastVersion")
    // replayed batch id: protocol-level no-op
    Cdc.foldBatch(spark.read.parquet(s"$tmp/src"), 0L, s"$tmp/state",
      Seq("g"), HllRollup.sketchBatch(Seq("g"), "k"), HllRollup.mergeSketches)
    assert(est() == streamed)
    // IDEMPOTENCE, the union monoid's own guarantee (stronger than the
    // additive rollup's zero-delta replay): folding the ENTIRE dataset
    // again under a NEW batch id unions already-seen values into the
    // registers — the estimates must not move by one count
    Cdc.foldBatch(spark.read.parquet(s"$tmp/src"), lastVersion + 1,
      s"$tmp/state", Seq("g"),
      HllRollup.sketchBatch(Seq("g"), "k"), HllRollup.mergeSketches)
    assert(est() == streamed)
    // ...while genuinely new keys DO move their group
    Cdc.foldBatch(Seq(("A", 990001L), ("A", 990002L)).toDF("g", "k"),
      lastVersion + 2, s"$tmp/state", Seq("g"),
      HllRollup.sketchBatch(Seq("g"), "k"), HllRollup.mergeSketches)
    assert(est()("A") > streamed("A"))
  }

  test("streaming chunk ingest: readStream docs → chunk+embed → parquet append") {
    // the §7.1-step-10 extension: ingest is append-only, so the batch
    // chunk pipeline runs unchanged as a stream
    val docsDir = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      docsDir.resolve("documents.parquet"))
    val outDir = java.nio.file.Files.createTempDirectory("chunks_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString

    val docsSchema = Tables.load(spark, sfDir, "documents").schema
    val stream = spark.readStream.schema(docsSchema).parquet(docsDir.toString)
      .select("doc_id", "text")
    val chunks = graft.rag.Rag.buildChunks(stream, modelId = 1L,
      maxTokens = 32, dim = 32)
    val q = chunks.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(outDir)
    val batch = graft.rag.Rag.buildChunks(
      Tables.load(spark, sfDir, "documents").select("doc_id", "text"),
      modelId = 1L, maxTokens = 32, dim = 32)
    assert(streamed.count() == batch.count())
    assert(streamed.select("id").distinct().count() == batch.count())
  }

  test("bucketed tables join shuffle-free; unbucketed same join shuffles") {
    val li = Tables.load(spark, sfDir, "orders")
    val cu = Tables.load(spark, sfDir, "customer")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.store.Bucketing.writeBucketed(li, "orders_b", "o_custkey", 8)
      graft.store.Bucketing.writeBucketed(
        cu.withColumnRenamed("c_custkey", "o_custkey"), "customer_b",
        "o_custkey", 8)
      val bucketed = spark.table("orders_b")
        .join(spark.table("customer_b"), "o_custkey")
      assert(graft.store.Bucketing.isShuffleFree(bucketed),
        "bucketed join must not shuffle:\n" +
          bucketed.queryExecution.executedPlan.toString.take(2000))
      assert(bucketed.count() > 0)
      val unbucketed = li.join(
        cu.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey")
      assert(!graft.store.Bucketing.isShuffleFree(unbucketed),
        "control: unbucketed SMJ should shuffle")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("streaming exact dedup: watermarked dropDuplicates") {
    val raw = rawEventStream
      // duplicate the stream to create exact dups, then dedup by key
    // through the library's bounded-state form (state evicted past the
    // watermark, the unbounded-log contract)
    val doubled = EventStreams.streamingDedup(
      raw.union(raw), Seq("event_id"))
    val result = EventStreams.runToCompletion(
      doubled.select("event_id"), "dedup_test", OutputMode.Append)
    val batchCount = Tables.events(spark, sfDir).count()
    assert(result.count() == batchCount,
      s"${result.count()} != $batchCount")
    // same call on the batch face is a plain dropDuplicates
    val b = Tables.events(spark, sfDir)
    assert(EventStreams.streamingDedup(
      b.union(b), Seq("event_id")).count() == batchCount)
  }

  test("stream-stream correlated join equals batch join") {
    def raw = rawEventStream
    val streamed = EventStreams.runToCompletion(
      EventStreams.correlate(
        raw.filter(col("event_type") === "purchase"),
        raw.filter(col("event_type") === "click")),
      "corr_test", OutputMode.Append)
    val batchEvents = Tables.events(spark, sfDir)
    val batch = EventStreams.correlate(
      batchEvents.filter(col("event_type") === "purchase"),
      batchEvents.filter(col("event_type") === "click"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("l_event_id", "r_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (sSet, bSet) = (key(streamed), key(batch))
    assert(bSet.nonEmpty, "batch correlation should find pairs")
    assert(sSet == bSet,
      s"stream ${sSet.size} pairs vs batch ${bSet.size}")
  }

  test("binned correlate is bit-identical to the plain range join") {
    val e = Tables.events(spark, sfDir)
    val p = e.filter(col("event_type") === "purchase")
    val c = e.filter(col("event_type") === "click")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("l_event_id", "r_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = key(EventStreams.correlate(p, c))
    val binned = key(EventStreams.correlateBinned(p, c))
    assert(plain.nonEmpty && binned == plain)
    // no duplicate pairs despite the two-bucket right index
    val n = EventStreams.correlateBinned(p, c).count()
    assert(n == binned.size)
  }

  test("streaming CDC apply equals batch a38 across 4 ordered batches; replays skip") {
    import org.apache.spark.sql.functions.{round => fnRound}
    val dir = sfDir
    val o = Tables.load(spark, dir, "orders").select(
      col("o_orderkey").as("order_key"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"))
    // batch 0 seeds the snapshot as inserts; batches 1–3 are the a38
    // changelog split by seq — delivery order consistent with seq, the
    // CDC-log contract
    val batches = Seq(
      o.filter(col("order_key") % 4 =!= 1)
        .select(col("order_key"), col("status"), col("price"),
          lit("I").as("op"), lit(0).as("seq")),
      o.filter(col("order_key") % 4 === 1)
        .select(col("order_key"), lit("N").as("status"), col("price"),
          lit("I").as("op"), lit(1).as("seq")),
      o.filter(col("order_key") % 3 === 0)
        .select(col("order_key"), lit("X").as("status"),
          fnRound(col("price") + 10, 2).as("price"),
          lit("U").as("op"), lit(2).as("seq")),
      o.filter(col("order_key") % 6 === 0)
        .select(col("order_key"), lit(null).cast("string").as("status"),
          lit(null).cast("double").as("price"),
          lit("D").as("op"), lit(3).as("seq")))

    val d = java.nio.file.Files.createTempDirectory("cdc_stream")
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"cdc_part$i")
      b.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val src = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      val dst = d.resolve(s"b$i.parquet")
      java.nio.file.Files.move(src, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    val statePath = java.nio.file.Files
      .createTempDirectory("cdc_state").toString
    val ckpt = java.nio.file.Files
      .createTempDirectory("cdc_ckpt").toString
    val q = graft.operators.Cdc.streamingApply(
      spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(d.toString),
      statePath, Seq("order_key"), "seq", "op", ckpt)
    q.awaitTermination()

    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("order_key"), col("status"),
        fnRound(col("price"), 2).as("price"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.toString)))
      .toSet
    val want = keyed(
      SparkEntry.queries("a38_cdc_apply")(spark, dir))
    val got = keyed(graft.operators.Cdc.readSnapshot(spark, statePath).get)
    assert(got == want,
      s"stream ${got.size} rows vs batch ${want.size}; " +
        s"diff e.g. ${(got diff want).take(3)} / ${(want diff got).take(3)}")

    // at-least-once replay: re-folding an old batch id must be a no-op
    graft.operators.Cdc.applyBatch(
      batches.head.limit(5), batchId = 1L, statePath,
      Seq("order_key"), "seq", "op")
    assert(keyed(graft.operators.Cdc.readSnapshot(spark, statePath).get)
      == want, "replayed batch id mutated committed state")
    Caches.release(spark)
  }

  test("streaming sequence mining equals the batch double-lead trigrams across 3 time-ordered batches") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // batch reference: the same double-lead construction s22 uses,
    // WITHOUT the top-k cut (the stream emits the full multiset)
    val wSeq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val batch = eventsSchemaDf
      .select(col("user_id"), col("event_type").as("e1"),
        col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("e2", lead("e1", 1).over(wSeq))
      .withColumn("e3", lead("e1", 2).over(wSeq))
      .filter(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap

    val d = java.nio.file.Files.createTempDirectory("seq_stream")
    val ev = eventsSchemaDf
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(1.0 / 3, 2.0 / 3), 0.0)
    val parts = Seq(
      ev.filter(col("ts_us") < cuts(0)),
      ev.filter(col("ts_us") >= cuts(0) && col("ts_us") < cuts(1)),
      ev.filter(col("ts_us") >= cuts(1)))
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"seq_part$i")
      p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val src = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      val dst = d.resolve(s"b$i.parquet")
      java.nio.file.Files.move(src, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }
    val raw = spark.readStream
      .schema(parts.head.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(d.toString)
      .as[EventStreams.TypedEv]
    val got = EventStreams.runToCompletion(
        EventStreams.streamingSequences(raw).toDF(),
        "seq_test", OutputMode.Append)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    assert(got == batch,
      s"stream ${got.size} trigram cells vs batch ${batch.size}")
    Caches.release(spark)
  }

  test("streaming attribution equals batch s16 across 3 time-ordered batches") {
    import spark.implicits._
    val batch = SparkEntry.queries("s16_attribution")(
        spark, sfDir)
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
      .toSet

    // split the log into 3 TIME-RANGE files (not arbitrary partitions)
    // and force their arrival order via modification times, so the
    // stream processes event-time-ordered micro-batches — the ordered
    // delivery the cross-batch state contract assumes
    val d = java.nio.file.Files.createTempDirectory("attrib_stream")
    val ev = eventsSchemaDf
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"))
    val cuts = ev.stat.approxQuantile("ts_us", Array(1.0 / 3, 2.0 / 3), 0.0)
    val parts = Seq(
      ev.filter(col("ts_us") < cuts(0)),
      ev.filter(col("ts_us") >= cuts(0) && col("ts_us") < cuts(1)),
      ev.filter(col("ts_us") >= cuts(1)))
    parts.zipWithIndex.foreach { case (p, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"attrib_part$i")
      p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val src = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      val dst = d.resolve(s"b$i.parquet")
      java.nio.file.Files.move(src, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 60000L))
    }

    val raw = spark.readStream
      .schema(parts.head.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(d.toString)
      .as[EventStreams.TypedEv]
    val perUser = EventStreams.runToCompletion(
      EventStreams.streamingAttribution(raw).toDF(),
      "attrib_test", OutputMode.Append)
    val got = perUser
      .groupBy("first_touch", "last_touch")
      .agg(count(lit(1)).as("n_users"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
      .toSet
    assert(got == batch, s"stream ${got.size} cells vs batch ${batch.size}")
  }

  test("stateful streaming sessionization matches batch closed sessions") {
    import spark.implicits._
    val batch = EventStreams.sessionStats(eventsSchemaDf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.load(spark, sfDir, "events").schema
    val raw = spark.readStream
      .schema(schema)
      .parquet(streamDir)
      .select(col("event_id"), Tables.eventsTsMicros(schema).as("ts_us"),
        col("user_id"))
      .as[EventStreams.Ev]
    val result = EventStreams.runToCompletion(
      EventStreams.streamingSessionize(raw).toDF(),
      "sessions_test", OutputMode.Append)
    val got = result.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // the stream emits only CLOSED sessions; each user's final session
    // stays in state → expect batch minus one open session per user
    val users = eventsSchemaDf.select("user_id").distinct().count()
    assert(got.subsetOf(batch),
      s"streaming emitted sessions not in batch, e.g. ${(got -- batch).take(3)}")
    assert(got.size == batch.size - users,
      s"expected ${batch.size} - $users closed sessions, got ${got.size}")
  }

  test("streaming compaction plan: folded manifest state equals one-shot p6 plan") {
    import graft.store.Compaction
    // the p6 manifest shape: file-per-doc, partitioned by lang
    val manifest = Tables.load(spark, sfDir, "documents").select(
      col("lang"),
      concat(col("source"), lit("/"), col("doc_id").cast("string")).as("file"),
      length(col("text")).cast("long").as("sz"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    // 4 files + maxFilesPerTrigger=1 → 4 micro-batches of continuously
    // arriving small files; the manifest state folds incrementally
    manifest.repartition(4).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    Compaction.streamingManifest(raw, s"$tmp/state", "lang", "file", "sz",
      s"$tmp/ckpt").awaitTermination()

    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("lang", "file", "sz", "grp").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = Compaction.readPlan(spark, s"$tmp/state",
      "lang", "file", "sz", targetBytes = 8192L)
    assert(streamed.isDefined, "no committed manifest state")
    // stream == batch: the plan over the folded state is EXACTLY the
    // one-shot planGroups over the same files — p6's oracle-checked
    // shape, so the streaming face inherits its correctness gate
    val oneShot = Compaction.planGroups(manifest, "lang", "file", "sz",
      targetBytes = 8192L)
    assert(keyed(streamed.get) == keyed(oneShot))
    // several micro-batches actually folded, not one big batch
    val lastVersion = new java.io.File(s"$tmp/state").list()
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
    assert(lastVersion >= 2, s"expected ≥3 micro-batches, last=v$lastVersion")
  }

  test("streaming NB model state: folded counts == batch train, same confusion matrix") {
    import graft.streaming.ModelStreams
    import graft.operators.TextQueries
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val train = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val tmp = java.nio.file.Files.createTempDirectory("graft_nbstream").toString
    train.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    ModelStreams.streamingNbCounts(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    // several micro-batches actually folded, not one big batch
    val lastVersion = new java.io.File(s"$tmp/state").list()
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
    assert(lastVersion >= 2, s"expected >=3 micro-batches, last=v$lastVersion")
    // state == the one-shot batch aggregates (byte-identical counts)
    val st = graft.operators.Cdc.readRollup(spark, s"$tmp/state").get
    def toks(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(toks(st.filter(col("kind") === "tok").select("cls", "tok", "c")) ==
      toks(TextQueries.nbTokCounts(train).select("cls", "tok", "c")))
    assert(toks(st.filter(col("kind") === "doc")
        .select(col("cls"), lit("_").as("t"), col("c"))) ==
      toks(TextQueries.nbDocCounts(train)
        .select(col("cls"), lit("_").as("t"), col("nd"))))
    // identical state -> identical derived model -> identical matrix
    // (the exact output shape t36's DuckDB oracle hash-checks)
    def mat(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val streamed = ModelStreams.nbConfusionFromState(spark, s"$tmp/state", docs)
    assert(streamed.isDefined)
    val batch = SparkEntry.queries("t36_nb_langid")(spark, sfDir)
    assert(mat(streamed.get) == mat(batch))
    Caches.release(spark)
  }

  test("streaming BPE word-count state: folded vocab == batch, same trained merges") {
    import graft.streaming.ModelStreams
    import graft.operators.TextQueries
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpestream").toString
    docs.repartition(3).write.parquet(s"$tmp/src")
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$tmp/src").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/src")
    ModelStreams.streamingBpeWordCounts(raw, s"$tmp/state", s"$tmp/ckpt")
      .awaitTermination()
    val lastVersion = new java.io.File(s"$tmp/state").list()
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong).max
    assert(lastVersion >= 2, s"expected >=3 micro-batches, last=v$lastVersion")
    val st = graft.operators.Cdc.readRollup(spark, s"$tmp/state").get
    def wc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(wc(st) == wc(TextQueries.bpeWordCountsOf(docs)))
    // identical vocab state -> identical merge table (the exact rows
    // t37's per-round-argmax oracle re-derives)
    val streamedModel = ModelStreams.bpeModelFromState(spark, s"$tmp/state").get
    val batchModel = TextQueries.trainBpe(
      TextQueries.bpeWordCountsOf(docs), TextQueries.BpeMergeCount)
    assert(streamedModel == batchModel && streamedModel.nonEmpty)
    Caches.release(spark)
  }
}
