package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextAnalysis

/** Unit coverage for the round-3 operators: BPE-ish pre-tokenization
  * (t15), repeated-passage detection (d8), conversion funnel (s7).
  * Cross-engine values are driver-gated by their DuckDB oracles; these
  * specs pin the algebraic properties. */
class NewOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = Tables.load(spark, sfDir, "documents")

  test("bpePieces reconstructs single-spaced text exactly") {
    // every space in single-spaced text glues to its following piece,
    // so concatenating the pieces is the identity — nothing dropped,
    // nothing duplicated
    val bad = docs.select(col("doc_id"), col("text"),
        concat_ws("", TextAnalysis.bpePieces(col("text"))).as("rejoined"))
      .filter(col("rejoined") =!= col("text"))
      .count()
    assert(bad == 0)
  }

  test("bpePieces matches java.util.regex reference on sample docs") {
    val pat = java.util.regex.Pattern.compile(TextAnalysis.BpePattern)
    val rows = docs.limit(50)
      .select(col("text"), TextAnalysis.bpePieces(col("text")).as("p"))
      .collect()
    rows.foreach { r =>
      val m = pat.matcher(r.getString(0))
      val expected = Iterator.continually(m.find()).takeWhile(identity)
        .map(_ => m.group()).toSeq
      assert(r.getSeq[String](1) == expected)
    }
  }

  test("repeated passages: planted duplicate docs share every chunk fingerprint") {
    // plant exact copies of 5 docs under new ids — every chunk of a
    // copied doc is now a cross-document repeated passage
    val base = docs.select("doc_id", "text")
    val planted = base.unionByName(
      base.filter(col("doc_id") < 5)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val repeated = graft.operators.Dedup
      .repeatedPassages(planted, "doc_id", "text", maxTokens = 16)
      .collect().map(_.getString(0)).toSet
    val plantedFps = graft.ingest.Chunker.chunkDocuments(
        base.filter(col("doc_id") < 5), "text", maxTokens = 16)
      .select(md5(col("chunk_text")).as("fp"))
      .collect().map(_.getString(0)).toSet
    assert(plantedFps.nonEmpty)
    assert(plantedFps.subsetOf(repeated),
      s"${plantedFps.diff(repeated).size} planted chunks missing from d8")
    // and first_doc is the original, not the planted copy
    val firsts = graft.operators.Dedup
      .repeatedPassages(planted, "doc_id", "text", maxTokens = 16)
      .filter(col("fp").isin(plantedFps.toSeq: _*))
      .select("first_doc").collect().map(_.getLong(0))
    assert(firsts.forall(_ < 100000L))
  }

  test("parquet footer bounds equal the scanned min/max (metadata-only)") {
    val fromFooter = graft.store.ParquetStats
      .longColumnBounds(spark, s"$sfDir/events.parquet", "ts")
    assert(fromFooter.isDefined, "events.ts should carry footer stats")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // ts is physical INT64 either way (nanos-as-long or micros
    // TIMESTAMP); scan in the matching unit so footer == scan
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    val tsUnits =
      if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        org.apache.spark.sql.functions.col("ts")
      else org.apache.spark.sql.functions.unix_micros(
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    val scanned = df.select(
      org.apache.spark.sql.functions.min(tsUnits),
      org.apache.spark.sql.functions.max(tsUnits)).head()
    assert(fromFooter.get == ((scanned.getLong(0), scanned.getLong(1))))
    // absent column / absent table → None, never a wrong range
    assert(graft.store.ParquetStats
      .longColumnBounds(spark, s"$sfDir/events.parquet", "no_such").isEmpty)
    assert(graft.store.ParquetStats
      .longColumnBounds(spark, s"$sfDir/nope.parquet", "ts").isEmpty)
  }

  test("int8 quantized search keeps high recall vs exact float32 top-k") {
    val ids = (q: String) => graft.SparkEntry.queries(q)(spark, sfDir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = ids("v1_cosine_topk")
    val int8 = ids("v16_int8_topk")
    val recall = (exact & int8).size.toDouble / exact.size
    assert(recall >= 0.9, s"int8 recall@20 = $recall")
  }

  test("PQ append encodes with the frozen codebooks; search sees both halves") {
    import org.apache.spark.sql.functions.col
    val embs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_append")
    val path = dir.toString + "/idx"
    try {
      val built = graft.operators.Pq.train(half1, "vec_id", "embedding",
        m = 8, k = 16)
      graft.operators.Pq.encode(half1, "embedding", built)
        .write.parquet(path)
      graft.operators.Pq.saveModel(spark, built, s"$path/_model")
      val appended = graft.operators.Pq.appendToIndex(half2, "embedding", path)
      assert(appended.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
        built.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      // the appended index answers searches over the FULL corpus
      // identically to encoding all rows with the same codebooks
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val fromIndex = graft.operators.Pq.search(
          spark.read.parquet(path), "vec_id", "embedding", q, built,
          topK = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val fromEncode = graft.operators.Pq.search(
          graft.operators.Pq.encode(embs, "embedding", built),
          "vec_id", "embedding", q, built, topK = 10)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(fromIndex == fromEncode && fromIndex.nonEmpty)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("IVF append assigns with the frozen codebook; search sees both halves") {
    import org.apache.spark.sql.functions.col
    val embs = Tables.load(spark, sfDir, "embeddings")
    val half1 = embs.filter(col("vec_id") % 2 === 0)
    val half2 = embs.filter(col("vec_id") % 2 =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_append")
    val path = dir.toString + "/idx"
    try {
      val built = graft.operators.Ivf.buildIndex(
        half1, "vec_id", "embedding", path, nlist = 8)
      val appended = graft.operators.Ivf.appendToIndex(half2, "embedding", path)
      // append reuses the build-time codebook verbatim
      assert(appended.centroids.map(_.toSeq).toSeq ==
        built.centroids.map(_.toSeq).toSeq)
      // the appended index answers searches over the FULL corpus
      // identically to a same-codebook assignment of all rows
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val fromIndex = graft.operators.Ivf.search(
          spark.read.parquet(path), "embedding", q, built, k = 10,
          nprobe = 8, tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      val fromAssign = graft.operators.Ivf.search(
          graft.operators.Ivf.assign(embs, "embedding", built),
          "embedding", q, built, k = 10, nprobe = 8,
          tieBreak = Seq("vec_id"))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(fromIndex == fromAssign)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("IVF and PQ codebooks load back from their _-prefixed dirs without a logged warning") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val embs = Tables.load(spark, sfDir, "embeddings")
    val ivf = graft.operators.Ivf.train(embs, "vec_id", "embedding",
      nlist = 4)
    val pq = graft.operators.Pq.train(embs, "vec_id", "embedding",
      m = 8, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_codebook")
    val me = Thread.currentThread.getName
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("codebook-load", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN) &&
            e.getThreadName == me)
          warnings.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    try {
      graft.operators.Ivf.saveModel(spark, ivf, s"$dir/ivf/_coarse")
      graft.operators.Pq.saveModel(spark, pq, s"$dir/pq/_model")
      appender.start()
      root.addAppender(appender)
      val ivfBack = graft.operators.Ivf.loadModel(spark, s"$dir/ivf/_coarse")
      val pqBack = graft.operators.Pq.loadModel(spark, s"$dir/pq/_model")
      assert(ivfBack.centroids.map(_.toSeq).toSeq ==
        ivf.centroids.map(_.toSeq).toSeq)
      assert(pqBack.codebooks.flatten.flatten.toSeq ==
        pq.codebooks.flatten.flatten.toSeq)
      assert(warnings.isEmpty, warnings.toString)
    } finally {
      root.removeAppender(appender)
      appender.stop()
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("PQ ANN: 16x code compression; re-ranked recall vs exact L2 top-k") {
    import org.apache.spark.sql.functions.{asc, col, round, typedLit}
    val embs = Tables.load(spark, sfDir, "embeddings")
    val model = graft.operators.Pq.train(embs, "vec_id", "embedding",
      m = 8, k = 16)
    assert(model.dim == 64 && model.m == 8)
    val encoded = graft.operators.Pq.encode(embs, "embedding", model)
    // 8 ints vs 64 floats — the compression the operator exists for
    assert(encoded.select("pq_code").head().getSeq[Int](0).length == 8)

    val q = graft.operators.VectorQueries.probeVec
    val exact = embs
      .withColumn("d", round(graft.functions.VectorFunctions
        .l2_distance(col("embedding"), typedLit(q.toSeq)), 6))
      .orderBy(asc("d"), asc("vec_id")).limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val approx = graft.operators.Pq.search(encoded, "vec_id", "embedding",
        q, model, topK = 10, refine = 4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ recall@10 too low: $recall")
    // training determinism: same sample → same codebook
    val again = graft.operators.Pq.train(embs, "vec_id", "embedding",
      m = 8, k = 16)
    assert(again.codebooks.flatten.flatten.toSeq ==
      model.codebooks.flatten.flatten.toSeq)
  }

  test("Z-order layout localizes BOTH columns' per-file ranges") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder")
    try {
      // baseline: single-column sort — primary razor-sharp, secondary
      // spans the full domain in every file
      li.repartitionByRange(8, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.parquet(s"$dir/sorted")
      graft.store.Layout.writeZOrdered(li, s"$dir/zorder",
        "l_orderkey", "l_partkey", files = 8)

      def meanWidth(path: String, c: String): Double = {
        val bounds = graft.store.ParquetStats.perFileLongBounds(spark, path, c)
        assert(bounds.size >= 4, s"expected several files at $path")
        bounds.map { case (lo, hi) => (hi - lo).toDouble }.sum / bounds.size
      }
      val plainSecondary = meanWidth(s"$dir/sorted", "l_partkey")
      val zSecondary = meanWidth(s"$dir/zorder", "l_partkey")
      val zPrimary = meanWidth(s"$dir/zorder", "l_orderkey")
      // single-column sort leaves the secondary spanning ~the full
      // domain per file; z-order must narrow it materially
      assert(zSecondary < plainSecondary * 0.7,
        s"z-order should narrow the secondary column: $zSecondary vs $plainSecondary")
      // and the primary column's locality survives interleaving (files
      // cover rectangles, not the full domain)
      val merged = graft.store.ParquetStats
        .longColumnBounds(spark, s"$dir/zorder", "l_orderkey").get
      assert(zPrimary < (merged._2 - merged._1) * 0.8,
        s"z-order primary ranges should not span the domain: $zPrimary of ${merged._2 - merged._1}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("IVFPQ: partition-pruned scan + ADC recall vs exact L2 top-k") {
    import org.apache.spark.sql.functions.{asc, col, round, typedLit}
    val embs = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq")
    val path = dir.toString + "/idx"
    try {
      val (coarse, fine) = graft.operators.Pq.buildIvfPqIndex(
        embs, "vec_id", "embedding", path, nlist = 8, m = 8, k = 16)
      val q = graft.operators.VectorQueries.probeVec
      val hits = graft.operators.Pq.searchIvfPq(
        spark.read.parquet(path), "vec_id", "embedding", q,
        coarse, fine, topK = 10, nprobe = 4, refine = 4)
      val approx = hits.select("vec_id").collect().map(_.getLong(0)).toSet
      // the scan must touch only the probed cells' partitions (compare
      // against an unpruned scan of the same index)
      val (prunedFiles, prunedParts) = graft.store.Bucketing.scannedFiles(hits)
      val full = spark.read.parquet(path)
      full.count()
      val (allFiles, allParts) = graft.store.Bucketing.scannedFiles(full)
      assert(prunedParts <= 4 && allParts >= 7,
        s"IVFPQ scan not cell-pruned: $prunedParts/$allParts partitions")
      assert(prunedFiles < allFiles,
        s"IVFPQ scan not file-pruned: $prunedFiles/$allFiles")
      val exact = embs
        .withColumn("d", round(graft.functions.VectorFunctions
          .l2_distance(col("embedding"), typedLit(q.toSeq)), 6))
        .orderBy(asc("d"), asc("vec_id")).limit(10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = exact.intersect(approx).size.toDouble / exact.size
      assert(recall >= 0.4, s"IVFPQ recall@10 too low: $recall")
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir.toFile).deleteRecursively()
    }
  }

  test("star-contraction CC equals min-label CC on near-dup pairs") {
    val pairs = graft.operators.Dedup.ngramJaccardPairs(
      docs.filter(col("doc_id") < 200), "doc_id", "text", 2, 0.4)
    def labelMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaProp = labelMap(graft.operators.Dedup.dupClusters(pairs))
    val viaStar = labelMap(graft.operators.Dedup.dupClustersStar(pairs))
    assert(viaStar.nonEmpty && viaStar == viaProp)
    Caches.release(spark)
  }

  test("star-contraction CC converges in O(log n) rounds on a deep chain") {
    import spark.implicits._
    // a 60-node path: min-label propagation needs 59 rounds (diameter),
    // star contraction a handful — this is the shape that motivates it
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val labels = graft.operators.Dedup.dupClustersStar(chain, maxIters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 60)
    assert(labels.values.forall(_ == 0L), "one component rooted at 0")
    Caches.release(spark)
  }

  test("funnel stages partition the user population") {
    val e = Tables.events(spark, sfDir)
    val stages = SparkEntry.queries("s7_funnel")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stages.keySet.subsetOf(Set(0L, 1L, 2L, 3L)))
    assert(stages.values.sum == e.select("user_id").distinct().count(),
      "every user lands in exactly one stage")
  }
}
