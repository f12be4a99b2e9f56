package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity, TextAnalysis}

class DedupTextSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = Tables.load(spark, sfDir, "documents")
  lazy val embs = Tables.load(spark, sfDir, "embeddings")

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash near-dup recovers the exact-jaccard near-dup pairs") {
    val exact = pairSet(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.4))
    val minhash = pairSet(
      Dedup.minHashNearDupPairs(docs, "doc_id", "text", 0.4, 2, 64, 16))
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    // exact-verify step makes minhash ⊆ exact; banding recall should be
    // high at jaccard ≥ 0.4 with 16 bands × 4 rows
    assert(minhash.subsetOf(exact))
    assert(minhash.size >= exact.size * 9 / 10,
      s"recall too low: ${minhash.size}/${exact.size}")
  }

  test("simhash near-dup pairs overlap jaccard near-dups; hamming sane") {
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.5))
    val sim = Dedup.simHashNearDupPairs(docs, "doc_id", "text",
      maxHamming = 10, blocks = 4)
    val simPairs = pairSet(sim)
    // near-identical docs must collapse to nearby simhashes
    val recalled = exact.intersect(simPairs)
    assert(exact.isEmpty || recalled.size >= exact.size / 2,
      s"simhash recalled ${recalled.size}/${exact.size}")
    val hams = sim.select(col("hamming").cast("long")).collect().map(_.getLong(0))
    assert(hams.forall(h => h >= 0 && h <= 10))
  }

  test("embedding LSH near-dup ⊆ exact cosine near-dup, decent recall") {
    val a = embs.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"))
    val b = embs.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
    val exact = a.join(b, col("a_id") < col("b_id"))
      .withColumn("similarity", round(
        functions.VectorFunctions.cosine_similarity(col("a_emb"), col("b_emb")), 6))
      .filter(col("similarity") >= 0.3)
    val exactPairs = pairSet(exact)
    val lsh = pairSet(Dedup.embeddingNearDupPairs(
      embs, "vec_id", "embedding", dim = 64, threshold = 0.3, bits = 6))
    assert(lsh.subsetOf(exactPairs))
    if (exactPairs.nonEmpty) {
      // 6-bit single-table LSH on 0.3-cosine pairs is a coarse filter;
      // just assert it finds something and prunes something
      assert(lsh.nonEmpty, "LSH found no near-dup pairs")
    }
  }

  test("lshTopK: results ⊆ corpus, high recall vs exact topK on near-dups") {
    val q = graft.functions.Embedding.embed("graft lsh probe", 64).map(_.toDouble)
    val exact = operators.Similarity.topK(embs, "embedding", q, 10,
        tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    val approx = operators.Similarity.lshTopK(embs, "embedding", q, 10,
        bits = 8, tables = 8, probes = 1, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(approx.nonEmpty && approx.size <= 10)
    // every approx hit must be a real corpus row scored correctly:
    // approx results are a subset of the exact ranking order
    val exactAll = operators.Similarity.topK(embs, "embedding", q, 500,
        tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(approx.toSet.subsetOf(exactAll.toSet))
    // multi-probe at 8 bits should catch a good share of the true top-10
    assert(exact.toSet.intersect(approx.toSet).size >= 3,
      s"LSH recall too low: ${exact.toSet.intersect(approx.toSet).size}/10")
  }

  test("IVF: assignment covers all rows; search recall reasonable; pruning real") {
    val model = operators.Ivf.train(embs, "vec_id", "embedding", nlist = 16)
    assert(model.nlist == 16 && model.dim == 64)
    val indexed = operators.Ivf.assign(embs, "embedding", model).cache()
    assert(indexed.filter(col("ivf_cell").isNull).count() == 0)
    val cells = indexed.groupBy("ivf_cell").count().count()
    assert(cells > 8, s"expected spread over cells, got $cells")

    val q = graft.functions.Embedding.embed("graft ivf probe", 64).map(_.toDouble)
    val exact = operators.Similarity.topK(embs, "embedding", q, 10,
      tieBreak = Seq("vec_id")).select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = operators.Ivf.search(indexed, "embedding", q, model,
      k = 10, nprobe = 8, tieBreak = Seq("vec_id"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(approx.size == 10)
    val recall = exact.intersect(approx).size
    assert(recall >= 5, s"IVF recall too low: $recall/10 at nprobe=8/16")
    // pruning is real: nprobe=1 scans a strict subset
    val scanned1 = indexed.filter(col("ivf_cell") ===
      model.rankCells(q).head).count()
    assert(scanned1 < embs.count())
    indexed.unpersist()
  }

  test("materialized LSH index: equals full-scan LSH and prunes partitions") {
    val q = graft.functions.Embedding.embed("graft lsh probe", 64).map(_.toDouble)
    val idx = spark.read.parquet(operators.VectorQueries.lshIndex(spark, sfDir))
    val fromIndex = operators.Similarity.lshTopKFromIndex(
      idx, "vec_id", "embedding", q, 10,
      bits = operators.VectorQueries.LshBits,
      tables = operators.VectorQueries.LshTables,
      probes = 1, seed = 42L, tieBreak = Seq("vec_id"))
    val fullScan = operators.Similarity.lshTopK(
      embs, "embedding", q, 10,
      bits = operators.VectorQueries.LshBits,
      tables = operators.VectorQueries.LshTables,
      probes = 1, seed = 42L, tieBreak = Seq("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "similarity").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(fromIndex) == rows(fullScan))
    assert(rows(fromIndex).nonEmpty)
    // pruning is real: the probe-bucket scan touches a small fraction
    // of the index's files (static partition pruning, pre-execution)
    val (prunedFiles, prunedParts) = store.Bucketing.scannedFiles(fromIndex)
    val (allFiles, allParts) = store.Bucketing.scannedFiles(idx)
    assert(prunedParts < allParts / 4,
      s"LSH index scan not pruned: $prunedParts/$allParts partitions")
    assert(prunedFiles < allFiles / 4,
      s"LSH index scan not pruned: $prunedFiles/$allFiles files")
  }

  test("materialized IVF index: equals in-memory IVF and prunes partitions") {
    val q = graft.functions.Embedding.embed("graft ivf probe", 64).map(_.toDouble)
    val (path, model) = operators.VectorQueries.ivfIndex(spark, sfDir)
    val idx = spark.read.parquet(path)
    val fromIndex = operators.Ivf.search(idx, "embedding", q, model,
      k = 10, nprobe = 4, tieBreak = Seq("vec_id"))
    // the same search against a freshly trained+assigned (unmaterialized)
    // corpus: train is deterministic, so the results must be identical
    val memModel = operators.Ivf.train(embs, "vec_id", "embedding",
      nlist = operators.VectorQueries.IvfCells)
    val inMem = operators.Ivf.search(
      operators.Ivf.assign(embs, "embedding", memModel), "embedding", q,
      memModel, k = 10, nprobe = 4, tieBreak = Seq("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "similarity").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(fromIndex) == rows(inMem))
    assert(rows(fromIndex).size == 10)
    val (_, prunedParts) = store.Bucketing.scannedFiles(fromIndex)
    val (_, allParts) = store.Bucketing.scannedFiles(idx)
    assert(prunedParts <= 4 && allParts > 8,
      s"IVF scan not cell-pruned: $prunedParts/$allParts partitions")
  }

  test("batch ANN: per-query results subset of exact, decent recall") {
    val idx = spark.read.parquet(operators.VectorQueries.lshIndex(spark, sfDir))
    val queries = embs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qv"))
    val batch = operators.Similarity.lshTopKBatchFromIndex(
      idx, queries, "qid", "qv", "vec_id", "embedding", k = 5, dim = 64,
      bits = operators.VectorQueries.LshBits,
      tables = operators.VectorQueries.LshTables)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // per query: every hit appears in that query's exact top-500 and
    // overlaps its exact top-5 (the query itself is always bucket-hit)
    (0L to 4L).foreach { q =>
      val qv = embs.filter(col("vec_id") === q)
        .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
      val exact5 = operators.Similarity.topK(embs, "embedding", qv, 5,
        tieBreak = Seq("vec_id")).select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got(q).nonEmpty && got(q).size <= 5)
      assert(got(q).intersect(exact5).nonEmpty, s"query $q: no overlap")
      assert(got(q).contains(q), s"query $q should find itself")
    }
  }

  test("incremental LSH index append equals full rebuild") {
    val q = graft.functions.Embedding.embed("graft lsh probe", 64).map(_.toDouble)
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 =!= 0)
    val base = java.nio.file.Files.createTempDirectory("lsh_incr").toString
    val (incrPath, fullPath) = (s"$base/incr", s"$base/full")
    operators.Similarity.buildLshIndex(half1, "embedding", 64, incrPath)
    operators.Similarity.appendToLshIndex(half2, "embedding", 64, incrPath)
    operators.Similarity.buildLshIndex(embs, "embedding", 64, fullPath)
    def hits(path: String) =
      operators.Similarity.lshTopKFromIndex(
        spark.read.parquet(path), "vec_id", "embedding", q, 10,
        tieBreak = Seq("vec_id"))
        .select("vec_id", "similarity").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(hits(incrPath) == hits(fullPath))
    assert(hits(incrPath).nonEmpty)
  }

  test("materializeAtomic: builds once, replaces corpses, keeps winners") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("matomic").toString
    val path = s"$base/idx"
    var builds = 0
    def build(tmp: String): Unit = {
      builds += 1
      Seq((1L, "x")).toDF("id", "v").write.parquet(tmp)
    }
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marked = fs.exists(
      new org.apache.hadoop.fs.Path(path, graft.store.AnnIndexes.MarkerName))

    graft.store.AnnIndexes.materializeAtomic(spark, path)(build)
    assert(builds == 1 && marked)
    assert(spark.read.parquet(path).count() == 1)
    // idempotent: a second call must not rebuild
    graft.store.AnnIndexes.materializeAtomic(spark, path)(build)
    assert(builds == 1)
    // corpse (marker missing) → replaced by a fresh build
    fs.delete(new org.apache.hadoop.fs.Path(path, graft.store.AnnIndexes.MarkerName), false)
    graft.store.AnnIndexes.materializeAtomic(spark, path)(build)
    assert(builds == 2 && marked)
    assert(spark.read.parquet(path).count() == 1)
    // no leftover build/corpse temps beside the index
    val siblings = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).toSet
    assert(siblings == Set("idx"), s"unexpected leftovers: $siblings")
  }

  test("materializeAtomic: a throwing build leaves nothing; the next call rebuilds") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("matomic_throw").toString
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def marked(path: String) = fs.exists(
      new org.apache.hadoop.fs.Path(path, graft.store.AnnIndexes.MarkerName))
    def siblings = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).toSet
    def write(tmp: String): Unit = Seq((1L, "x")).toDF("id", "v").write.parquet(tmp)
    // a build that writes a part file, then throws
    def failing(tmp: String): Nothing = {
      write(tmp)
      throw new IllegalStateException("build failed")
    }
    val path = s"$base/idx"
    val e = intercept[IllegalStateException] {
      graft.store.AnnIndexes.materializeAtomic(spark, path)(failing)
    }
    assert(e.getMessage == "build failed")
    assert(!marked(path))
    assert(siblings.isEmpty, s"leftovers of the failed build: $siblings")
    var builds = 0
    graft.store.AnnIndexes.materializeAtomic(spark, path) { tmp =>
      builds += 1
      write(tmp)
    }
    assert(builds == 1 && marked(path))
    assert(spark.read.parquet(path).count() == 1)
    assert(siblings == Set("idx"), s"unexpected leftovers: $siblings")
    // the model memo: a failed build memoizes nothing
    val mpath = s"$base/model"
    intercept[IllegalStateException] {
      graft.store.AnnIndexes.model[String](spark, mpath)(failing)(_ => "loaded")
    }
    assert(!marked(mpath))
    val m = graft.store.AnnIndexes.model[String](spark, mpath) { tmp =>
      write(tmp)
      "rebuilt"
    }(_ => "loaded")
    assert(m == "rebuilt" && marked(mpath))
    assert(siblings == Set("idx", "model"), s"unexpected leftovers: $siblings")
  }

  test("compactChunks recovers a store stranded mid-swap") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("compact_rec").toString + "/chunks"
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    store.Catalog.writeChunks(
      graft.rag.Rag.buildChunks(docs, modelId = 1L, maxTokens = 2, dim = 8), path)
    val rows = spark.read.parquet(path).count()
    // simulate a crash between the two swap renames: store moved aside
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(path + "._old")))
    val (before, after) = store.Catalog.compactChunks(spark, path)
    assert(before > 0 && after > 0)
    assert(spark.read.parquet(path).count() == rows)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "._old")))
  }

  test("chunk store compaction: same rows, fewer files") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("compact").toString + "/chunks"
    // 5 small appends → many tiny files
    (1 to 5).foreach { i =>
      val docs = Seq((i.toLong, s"alpha beta gamma delta run $i"))
        .toDF("doc_id", "text")
      store.Catalog.writeChunks(
        graft.rag.Rag.buildChunks(docs, modelId = 1L, maxTokens = 2, dim = 8),
        path)
    }
    val beforeRows = spark.read.parquet(path).collect().map(_.toString).sorted
    val (nBefore, nAfter) = store.Catalog.compactChunks(spark, path)
    val afterRows = spark.read.parquet(path).collect().map(_.toString).sorted
    assert(afterRows.sameElements(beforeRows), "compaction must not change data")
    assert(nAfter < nBefore, s"expected fewer files: $nBefore -> $nAfter")
  }

  test("materialized minhash index gives identical near-dup pairs") {
    val path = java.nio.file.Files.createTempDirectory("mh_index") + "/idx"
    operators.Dedup.buildMinHashIndex(docs, "doc_id", "text", path)
    val indexed = operators.Dedup.minHashNearDupPairsFromIndex(
      spark.read.parquet(path), threshold = 0.4)
    val direct = operators.Dedup.minHashNearDupPairs(
      docs, "doc_id", "text", threshold = 0.4)
    assert(pairSet(indexed) == pairSet(direct))
    assert(pairSet(indexed).nonEmpty)
  }

  test("native MinHashSignature expression bit-equals the HOF reference") {
    val sh = operators.TextAnalysis.shingles(col("text"), 2)
    val both = docs.limit(100).select(
      operators.Dedup.minHashSignature(sh, 64, 42L).as("native"),
      operators.Dedup.minHashSignatureHof(sh, 64, 42L).as("hof"))
    val rows = both.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("deterministic split: stable, disjoint, ~13/16 train; stratified sample exact-rerun") {
    val (train, test) = operators.Sampling.trainTestSplit(docs, "doc_id", 13)
    val (train2, _) = operators.Sampling.trainTestSplit(
      docs.repartition(7), "doc_id", 13)
    val tIds = train.select("doc_id").collect().map(_.getLong(0)).toSet
    val eIds = test.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tIds.intersect(eIds).isEmpty)
    assert(tIds.size + eIds.size == docs.count())
    // partitioning-independent
    assert(train2.select("doc_id").collect().map(_.getLong(0)).toSet == tIds)
    val frac = tIds.size.toDouble / docs.count()
    assert(frac > 0.70 && frac < 0.92, s"train fraction $frac")

    val sampled = operators.Sampling.stratifiedSample(
      docs, "lang", "doc_id", Map("en" -> 0.5, "de" -> 0.1))
    val again = operators.Sampling.stratifiedSample(
      docs.repartition(5), "lang", "doc_id", Map("en" -> 0.5, "de" -> 0.1))
    val s1 = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == again.select("doc_id").collect().map(_.getLong(0)).toSet)
    assert(sampled.filter(col("lang") === "fr").count() == 0)
  }

  test("dupClusters: min-label connected components over pair graphs") {
    import spark.implicits._
    // a 5-chain (forces multiple propagation rounds) + a separate pair
    val pairs = Seq((4L, 5L), (1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L))
      .toDF("a_id", "b_id")
    val got = Dedup.dupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      7L -> 7L, 9L -> 7L))
  }

  test("persistent bloom state: later batches dedupe with no job over seen") {
    val tmp = java.nio.file.Files.createTempDirectory("bloomstate").toString
    val seenPath = s"$tmp/seen.parquet"
    val statePath = s"$tmp/state"
    val d = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    d.filter(pmod(col("doc_id"), lit(3)) === 0).write.parquet(seenPath)
    val batch = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    // expected = the exact anti-join, computed while seen still exists
    val seen = spark.read.parquet(seenPath)
    val expected = batch.join(seen.select("fp"), Seq("fp"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Dedup.buildBloomState(seen, "fp", statePath,
      expectedItems = 10000L, fpp = 1e-8)
    // the strongest possible no-rescan assertion: REMOVE the seen
    // corpus; if any job touched it the dedup would throw
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(seenPath))
    val got = Dedup.incrementalDedupWithState(batch, "fp", statePath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    // updateState folded the batch keys forward: the same batch now
    // dedupes to nothing
    val again = Dedup.incrementalDedupWithState(batch, "fp", statePath,
      updateState = false)
    assert(again.isEmpty, "state advance must reject the ingested batch")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("exact full-text dedup keeps one row per fingerprint") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha  beta gamma"), // ws-collapse dup
      (3L, "ALPHA beta GAMMA"), (4L, "totally different")) // case dup
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L))
  }

  test("langId identifies obvious languages") {
    import spark.implicits._
    val rows = Seq(
      ("the cat sat on the mat and it was happy", "en"),
      ("der Hund ist nicht mit der Katze", "de"),
      ("el perro y la gata en un parque", "es"),
      ("le chien est dans la maison et il dort", "fr"),
      ("你好世界这是一个测试", "zh"),
      ("qwerty zxcvb", "und"))
    val got = rows.map(_._1).toDF("text")
      .select(col("text"), TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    rows.foreach { case (t, want) => assert(got(t) == want, s"for '$t'") }
  }

  test("quality score within [0,1] and orders garbage below prose") {
    import spark.implicits._
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and it was good for all of the animals in the forest that day",
      "a a a a a a a a a a a a")
      .toDF("text")
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
    val qs = df.collect().map(_.getDouble(0))
    assert(qs.forall(q => q >= 0.0 && q <= 1.0))
    assert(qs(0) > qs(1))
  }

  test("fingerprint is whitespace/case canonical") {
    import spark.implicits._
    val fps = Seq("Hello  World", "hello world", "HELLO\tWORLD ")
      .toDF("text").select(TextAnalysis.fingerprint(col("text")))
      .collect().map(_.getString(0)).distinct
    assert(fps.length == 1)
  }
}
