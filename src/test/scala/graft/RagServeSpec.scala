package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.Demo
import graft.rag.Rag
import graft.store.{AnnIndexes, Catalog}

/** The serve path of one RAG prompt: the store handle and its
  * fingerprint key, the driver-side prompt assembly, and the one-job
  * shape of `Demo.search` + `Rag.aggregateChunkText`. */
class RagServeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft_serve").toString

  /** The prompt assembly as one Spark aggregation: the reference the
    * driver-side fold in `aggregateChunkText` must reproduce. */
  private def sparkAssembly(hits: DataFrame): String = {
    val withMeta = Seq("title", "author", "publication_date")
      .foldLeft(hits)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null: String)))
    val assembled = withMeta
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(
              (-col("similarity")).as("neg_sim"),
              col("id").as("id"),
              col("chunk_text").as("txt"),
              coalesce(col("title"), lit("unknown")).as("title"),
              coalesce(col("author"), lit("unknown")).as("author"),
              coalesce(col("publication_date").cast("string"), lit("unknown"))
                .as("pub")))),
            h => format_string(
              "Excerpt from \"%s\", by %s, published in %s: >>> %s <<<",
              h.getField("title"), h.getField("author"), h.getField("pub"),
              h.getField("txt"))),
          "\n\n"))
      .head()
    if (assembled.isNullAt(0)) "" else assembled.getString(0)
  }

  test("aggregateChunkText equals the Spark aggregation on crafted hits") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("similarity", DoubleType),
      StructField("chunk_text", StringType), StructField("title", StringType),
      StructField("author", StringType),
      StructField("publication_date", DateType)))
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(
      Row(1L, 0.5, "alpha", "T1", "A1", d("1950-01-01")),
      Row(2L, 0.5, "beta", null, "A2", null), // tie on similarity
      Row(3L, 0.0, null, "T3", null, d("1960-02-02")), // null text
      Row(4L, -0.0, "gamma", null, null, null), // -0.0 ties 0.0
      Row(5L, 0.9, "Ａ wide", "T5", "A5", null),
      // tie on similarity and id: text decides, by UTF-8 bytes (the
      // emoji's UTF-16 surrogate sorts before U+FF21, its bytes after)
      Row(5L, 0.9, "😀 emoji", "T5", "A5", null),
      Row(5L, 0.9, "Ａ wide", "T0", "A5", null),
      Row(6L, Double.NaN, "nan", "T6", "A6", null),
      Row(7L, null, "no score", "T7", "A7", null),
      Row(8L, 0.25, "ünïcode", "Tï", "Aï", d("2001-12-31")))
    val hits = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val bare = hits.select("id", "similarity", "chunk_text")
    val empty = hits.filter(lit(false))
    for (h <- Seq(hits, bare, empty, hits.filter(col("id") === 5L))) {
      val want = sparkAssembly(h)
      assert(Rag.aggregateChunkText(h) == want)
    }
    assert(sparkAssembly(empty) == "")
    assert(Rag.aggregateChunkText(hits).contains(">>> null <<<"))
  }

  test("fingerprint: the listStatus walk equals the listFiles string") {
    import spark.implicits._
    // the reference: the same string built from listFiles(p, true)
    def listFilesFingerprint(tablePath: String): String = {
      val p = new org.apache.hadoop.fs.Path(tablePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val s = it.next()
        names += s"${s.getPath.toUri.getPath.stripPrefix(tablePath)}:${s.getLen}"
      }
      f"${scala.util.hashing.MurmurHash3.stringHash(names.sorted.mkString("|"))}%08x"
    }
    val table = tmpDir() + "/chunks"
    Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 2L, "c")).toDF("id", "model_id", "t")
      .write.partitionBy("model_id").parquet(table)
    Seq((4L, 3L, "d")).toDF("id", "model_id", "t")
      .write.mode("append").partitionBy("model_id").parquet(table)
    // underscore sidecars and markers inside the table count too
    Seq(1).toDF("x").write.parquet(s"$table/_model")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(table, AnnIndexes.MarkerName)).close()
    val fp = AnnIndexes.fingerprint(spark, table)
    assert(fp == listFilesFingerprint(table))
    assert(AnnIndexes.fingerprint(spark, table + "/model_id=2") ==
      listFilesFingerprint(table + "/model_id=2"))
    assert(AnnIndexes.fingerprint(spark, table + "/absent") == "absent")
  }

  test("store handle: a re-import or compaction between two searches is visible") {
    val store = tmpDir() + "/store"
    val corpus = Demo.demoCorpus(spark)
    def importDocs(docs: DataFrame): Unit =
      Demo.importDocs(spark, docs, store, "demo-model", dim = 64, maxTokens = 32)
    def stored: Set[Long] = spark.read.parquet(s"$store/chunks")
      .select("id").collect().map(_.getLong(0)).toSet
    def served(ann: String): Set[Long] = Demo.search(spark, store, "robots",
        topK = 100, threshold = -1.0, dim = 64, ann = ann)
      .select("id").collect().map(_.getLong(0)).toSet
    importDocs(corpus.filter(col("doc_id") <= 3L))
    val before = stored
    for (ann <- Seq("exact", "ivf")) assert(served(ann) == before, ann)
    importDocs(corpus.filter(col("doc_id") > 3L))
    val after = stored
    assert(after.size > before.size)
    for (ann <- Seq("exact", "ivf")) assert(served(ann) == after, ann)
    // compaction replaces every file the previous handle had listed
    Catalog.compactChunks(spark, s"$store/chunks")
    assert(stored == after)
    for (ann <- Seq("exact", "ivf")) assert(served(ann) == after, ann)
  }

  /** Jobs and stages started while it is registered. */
  private final class Counts extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); ()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stages.incrementAndGet(); ()
    }
  }

  test("importing the demo corpus into a fresh store runs at most 5 jobs") {
    // the catalog upserts, the model lookup, the sources broadcast and
    // the [import] line cost no job of their own: what remains is the
    // two catalog appends, the chunk write and its broadcast. Before
    // the driver-side upserts this import ran 36 jobs and 36 stages.
    val corpus = Demo.demoCorpus(spark)
    val counts = new Counts
    org.apache.spark.sql.GraftShim.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(counts)
    try {
      Demo.importDocs(spark, corpus, tmpDir() + "/store", "demo-model",
        dim = 64, maxTokens = 32)
      org.apache.spark.sql.GraftShim.flushListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(counts)
    assert(counts.jobs.get <= 5,
      s"${counts.jobs.get} jobs, ${counts.stages.get} stages")
  }

  test("a served exact or ivf prompt runs one Spark job, one stage, no exchange") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val store = tmpDir() + "/store"
    Demo.importDocs(spark, Demo.demoCorpus(spark), store, "demo-model",
      dim = 64, maxTokens = 32)
    def serve(ann: String): String = Rag.aggregateChunkText(Demo.search(
      spark, store, "are robots friendly to humans", topK = 5,
      threshold = 0.01, dim = 64, ann = ann))
    for (ann <- Seq("exact", "ivf")) {
      // the first request builds the index and opens the handles
      val warm = serve(ann)
      assert(warm.nonEmpty, ann)
      val counts = new Counts
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
      val onPlan = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
          plans.add(qe.executedPlan); ()
        }
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      org.apache.spark.sql.GraftShim.flushListenerBus(spark)
      spark.sparkContext.addSparkListener(counts)
      spark.listenerManager.register(onPlan)
      val text =
        try { val t = serve(ann); org.apache.spark.sql.GraftShim.flushListenerBus(spark); t }
        finally {
          spark.sparkContext.removeSparkListener(counts)
          spark.listenerManager.unregister(onPlan)
        }
      assert(text == warm, ann)
      assert(counts.jobs.get == 1, s"$ann: ${counts.jobs.get} jobs")
      assert(counts.stages.get == 1, s"$ann: ${counts.stages.get} stages")
      assert(plans.size == 1, ann)
      val plan = plans.peek()
      assert(plan.isInstanceOf[TakeOrderedAndProjectExec], s"$ann:\n$plan")
      assert(plan.collect { case e: Exchange => e }.isEmpty, s"$ann:\n$plan")
    }
  }
}
