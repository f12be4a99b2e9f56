package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Packing, TextAnalysis}

/** Unit coverage for the round-4 operators. Cross-engine values are
  * driver-gated by DuckDB oracles; these specs pin the algebraic
  * properties and the scale-shape invariants. */
class Round4OpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
  lazy val docs = Tables.load(spark, sfDir, "documents")

  private def tokenized =
    docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n"))

  test("packing: two-phase prefix sum equals the naive global window") {
    val twoPhase = Packing.withPackOffsets(tokenized, "doc_id", "n", ctxSize = 512)
      .select("doc_id", "start_offset", "pack_id", "n_spans")
    val naive = tokenized
      .withColumn("start_offset",
        coalesce(sum(col("n")).over(
          Window.orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("n"),
          lit(0L)))
      .withColumn("pack_id", floor(col("start_offset") / 512))
      .withColumn("n_spans",
        floor((col("start_offset") + col("n") - 1) / 512) - col("pack_id") + 1)
      .select("doc_id", "start_offset", "pack_id", "n_spans")
    assert(twoPhase.exceptAll(naive).isEmpty && naive.exceptAll(twoPhase).isEmpty)
  }

  test("packing: offsets are invariant to the partition count") {
    val a = Packing.withPackOffsets(tokenized, "doc_id", "n", 512, numParts = 3)
      .select("doc_id", "start_offset").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Packing.withPackOffsets(tokenized, "doc_id", "n", 512, numParts = 17)
      .select("doc_id", "start_offset").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("bloom incremental dedup equals the plain anti-join") {
    val d = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val seen = d.filter(col("doc_id") % 2 === 0)
    val batch = d.filter(col("doc_id") % 2 =!= 0)
    val bloom = graft.operators.Dedup
      .incrementalDedupBloom(batch, seen, "fp", fpp = 0.05)
      .select("doc_id")
    val exact = batch.join(seen.select("fp").distinct(), Seq("fp"), "left_anti")
      .select("doc_id")
    assert(bloom.exceptAll(exact).isEmpty && exact.exceptAll(bloom).isEmpty)
  }

  test("bloom incremental dedup drops planted copies of seen docs") {
    val d = docs.select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
    val seen = d.filter(col("doc_id") < 100)
    // batch: 10 exact copies of seen docs (new ids) + 10 genuinely new
    val copies = seen.filter(col("doc_id") < 10)
      .select((col("doc_id") + 500000L).as("doc_id"), col("fp"))
    val fresh = d.filter(col("doc_id") >= 100 && col("doc_id") < 110)
    val kept = graft.operators.Dedup
      .incrementalDedupBloom(copies.unionByName(fresh), seen, "fp")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (100L until 110L).toSet)
  }

  test("mixture oversampling: copy counts bracket the weight; share converges") {
    val w = Map("src0" -> 2.5, "src1" -> 0.5)
    val out = graft.operators.Sampling
      .mixtureOversample(docs, "source", "doc_id", w, default = 1.0)
    val perDoc = out.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n")).collect()
    perDoc.foreach { r =>
      val wt = w.getOrElse(r.getString(1), 1.0)
      val n = r.getLong(2)
      assert(n == math.floor(wt).toLong || n == math.ceil(wt).toLong,
        s"doc ${r.getLong(0)} (${r.getString(1)}): $n copies for weight $wt")
    }
    // fractional weights are realized by the hash split: over the
    // whole stratum the mean copy count sits between floor and ceil
    val bySrc = out.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = docs.groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    w.foreach { case (src, wt) =>
      val ratio = bySrc.getOrElse(src, 0L).toDouble / base(src)
      assert(math.abs(ratio - wt) < 0.5, s"$src share $ratio vs weight $wt")
    }
    // weight-0 strata vanish entirely
    val zero = graft.operators.Sampling
      .mixtureOversample(docs, "source", "doc_id", Map("src0" -> 0.0))
      .filter(col("source") === "src0").count()
    assert(zero == 0)
  }

  test("quality deciles partition the corpus into ordered, disjoint score ranges") {
    val rows = SparkEntry.queries("t18_quality_deciles")(spark, sfDir)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    assert(rows.map(_.getLong(1)).sum == docs.count())
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo.getDouble(3) < hi.getDouble(2),
          s"decile ${lo.getLong(0)} max overlaps decile ${hi.getLong(0)} min")
      case _ => ()
    }
  }

  test("semantic dedup: kept set has no within-cell near-dup pair left") {
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val model = graft.operators.Ivf.train(emb, "vec_id", "embedding", nlist = 16)
    val kept = graft.operators.Dedup
      .semanticDedup(emb, "vec_id", "embedding", nCells = 16, threshold = 0.3)
    val leftover = graft.operators.Dedup
      .semanticNearDupPairs(kept, "vec_id", "embedding", model, threshold = 0.3)
      .count()
    assert(leftover == 0)
    // and dedup only ever removes rows, never invents them
    assert(kept.count() <= emb.count())
    assert(kept.join(emb, Seq("vec_id"), "left_anti").isEmpty)
    graft.Caches.release(spark)
  }

  test("semantic dedup codebook sidecar: same result, second run skips k-means") {
    Caches.release(spark)
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("semcb").toString
    val modelPath = s"$dir/model"
    def keptSet(): Set[Long] = {
      val r = graft.operators.Dedup
        .semanticDedupWithCodebook(emb, "vec_id", "embedding",
          nCells = 16, threshold = 0.45, modelPath)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      Caches.release(spark)
      r
    }
    def countJobs(f: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      org.apache.spark.sql.GraftShim.flushListenerBus(spark)
      spark.sparkContext.addSparkListener(l)
      try { f; org.apache.spark.sql.GraftShim.flushListenerBus(spark) }
      finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    // root paths of every file scan the queries run inside `f` read
    def scannedRoots(f: => Unit): Seq[String] = {
      val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          qe.optimizedPlan.foreach {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              r.relation match {
                case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                  h.location.rootPaths.foreach(p => roots.add(p.toUri.getPath))
                case _ =>
              }
            case _ =>
          }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      org.apache.spark.sql.GraftShim.flushListenerBus(spark)
      spark.listenerManager.register(l)
      try { f; org.apache.spark.sql.GraftShim.flushListenerBus(spark) }
      finally spark.listenerManager.unregister(l)
      roots.asScala.toSeq
    }
    var first: Set[Long] = Set.empty
    var second: Set[Long] = Set.empty
    var secondRoots: Seq[String] = Nil
    val firstJobs = countJobs { first = keptSet() }
    val secondJobs = countJobs { secondRoots = scannedRoots { second = keptSet() } }
    assert(first == second)
    // the warm call takes the codebook from the process memo: no job
    // reads the sidecar (the dedup itself still scans the embeddings)
    assert(secondRoots.nonEmpty)
    assert(!secondRoots.exists(_.startsWith(modelPath)),
      s"warm call re-read the codebook sidecar: $secondRoots")
    // sidecar result must equal the train-per-run form
    val base = graft.operators.Dedup
      .semanticDedup(emb, "vec_id", "embedding", nCells = 16, threshold = 0.45)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    Caches.release(spark)
    assert(base == first)
    // the second run loads the sidecar instead of training + saving the
    // codebook: strictly fewer jobs (sample collect + model write gone)
    assert(secondJobs < firstJobs,
      s"second run should skip k-means: $secondJobs vs $firstJobs jobs")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("semantic dedup cells capture most exact near-dup pairs") {
    val emb = Tables.load(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val model = graft.operators.Ivf.train(emb, "vec_id", "embedding", nlist = 16)
    val cellPairs = graft.operators.Dedup
      .semanticNearDupPairs(emb, "vec_id", "embedding", model, threshold = 0.3)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact pairwise oracle (corpus is small at sf0.001)
    val exact = SparkEntry.queries("v4_neardup_pairs")(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(cellPairs.subsetOf(exact), "within-cell pairs must be exact-verified")
    val recall = cellPairs.size.toDouble / exact.size
    assert(recall >= 0.5, s"cell recall $recall below 0.5")
    graft.Caches.release(spark)
  }

  test("pack segments: every non-final window sums to exactly ctxSize") {
    val segs = Packing.packSegments(tokenized, "doc_id", "n", ctxSize = 128)
      .groupBy("pack_id").agg(sum("seg_tokens").as("st"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = tokenized.agg(sum("n")).collect()(0).getLong(0)
    assert(segs.init.forall(_._2 == 128L))
    assert(segs.map(_._2).sum == total)
    assert(segs.map(_._1).toSeq == (0L until segs.length))
  }

  test("grouped split: every domain lands wholly in one split") {
    val leaky = SparkEntry.queries("t19_grouped_split")(spark, sfDir)
      .groupBy("domain").agg(countDistinct("split").as("ns"))
      .filter(col("ns") > 1).count()
    assert(leaky == 0)
  }

  test("shard writer: every shard except the last holds exactly its token budget") {
    val ctx = 64
    val pps = 8 // packs per shard → 512-token shards
    val tmp = java.nio.file.Files.createTempDirectory("graft_shards").toString
    Packing.writeShards(tokenized, "doc_id", "n", ctx, pps, tmp)
    val shards = spark.read.parquet(tmp)
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(sum("seg_tokens").as("tok"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(shards.length > 1, "fixture must span multiple shards")
    val budget = ctx.toLong * pps
    shards.init.foreach { case (id, tok) =>
      assert(tok == budget, s"shard $id holds $tok tokens, budget $budget")
    }
    assert(shards.last._2 <= budget && shards.last._2 > 0)
    // total token mass conserved
    val total = tokenized.agg(sum("n")).head().getLong(0)
    assert(shards.map(_._2).sum == total)
  }

  test("freq-items holds the Misra-Gries guarantee: no true heavy hitter missed") {
    val got = SparkEntry.queries("t25_freq_items")(spark, sfDir)
      .collect().map(_.getString(0)).toSet
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val total = toks.count()
    val exactHeavy = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(col("c") > total * 0.02)
      .collect().map(_.getString(0)).toSet
    assert(exactHeavy.nonEmpty, "fixture must have heavy tokens at 2%")
    assert(exactHeavy.subsetOf(got),
      s"missed heavy hitters: ${exactHeavy -- got}")
  }

  test("source KL divergence is non-negative (Gibbs) and finite") {
    val kl = SparkEntry.queries("t22_source_divergence")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    assert(kl.nonEmpty)
    kl.foreach { case (src, v) =>
      assert(!v.isNaN && !v.isInfinite && v >= -1e-9, s"$src kl=$v")
    }
  }

  test("dup-window rate is in [0,1]; planted exact duplicates score 1.0") {
    import spark.implicits._
    val rates = SparkEntry.queries("t23_dup_window_rate")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rates.nonEmpty && rates.values.forall(v => v >= 0.0 && v <= 1.0))
    // planted signal on a constructed corpus: an exact twin pair has
    // every window duplicated; a unique doc shares none; a doc that
    // borrows the twin's opening scores strictly between
    val planted = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"), // exact twin of 1
      (3L, "a b c d e f g h zz yy"), // shares only the opening window
      (4L, "p q r s t u v w x y")) // unique
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .dupWindowRate(planted, "doc_id", "text", w = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got(1L) == 1.0 && got(2L) == 1.0)
    assert(got(3L) > 0.0 && got(3L) < 1.0)
    assert(got(4L) == 0.0)
  }

  test("domain cap never keeps more than the cap per domain") {
    val perDomain = SparkEntry.queries("u3_domain_cap")(spark, sfDir)
      .groupBy("domain").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(perDomain.nonEmpty && perDomain.forall(_ <= 5))
  }

  test("cdc snapshot diff: insert/delete/update truth table") {
    import spark.implicits._
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val next = Seq((2L, "b"), (3L, "C"), (4L, "d")).toDF("k", "v")
    val got = graft.operators.Cdc.snapshotDiff(prev, next, Seq("k"), Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "delete", 3L -> "update", 4L -> "insert"))
  }

  test("cdc diff applied to prev reconstructs next exactly") {
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val prev = base.filter(pmod(col("doc_id"), lit(10)) =!= 3)
    val next = base.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .withColumn("n_chars",
        when(pmod(col("doc_id"), lit(5)) === 0, col("n_chars") + 1)
          .otherwise(col("n_chars")))
    val diff = graft.operators.Cdc
      .snapshotDiff(prev, next, Seq("doc_id"), Seq("n_chars"))
    // replay: drop deletes+updates from prev, add inserts+updates from next
    val touched = diff.filter(col("change_type") =!= "insert").select("doc_id")
    val incoming = next.join(
      diff.filter(col("change_type").isin("insert", "update")), Seq("doc_id"),
      "left_semi")
    val rebuilt = prev.join(touched, Seq("doc_id"), "left_anti")
      .unionByName(incoming)
    assert(rebuilt.exceptAll(next).isEmpty && next.exceptAll(rebuilt).isEmpty)
  }

  test("cdc snapshot diff: multi-column keys and compare columns") {
    import spark.implicits._
    val prev = Seq((1L, 1L, "x", 10), (1L, 2L, "y", 20)).toDF("k1", "k2", "v", "w")
    val next = Seq((1L, 1L, "x", 10), (1L, 2L, "y", 21)).toDF("k1", "k2", "v", "w")
    val got = graft.operators.Cdc
      .snapshotDiff(prev, next, Seq("k1", "k2"), Seq("v", "w"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(2))).toMap
    assert(got == Map((1L, 2L) -> "update"))
  }

  test("packing: offsets tile the token stream with no gaps or overlap") {
    val rows = Packing.withPackOffsets(tokenized, "doc_id", "n", 64)
      .select("doc_id", "n", "start_offset", "n_spans")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    var expected = 0L
    rows.foreach { case (id, n, st, spans) =>
      assert(st == expected, s"doc $id starts at $st, expected $expected")
      // span count is exactly the number of 64-token windows touched
      assert(spans == (st + math.max(n, 1) - 1) / 64 - st / 64 + 1)
      expected += n
    }
  }
}
