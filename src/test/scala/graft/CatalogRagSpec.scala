package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rag.Rag
import graft.store.Catalog

class CatalogRagSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tmpDir(): String =
    Files.createTempDirectory("graft_store").toString

  test("R8: model upsert is insert-if-absent with stable ids") {
    import spark.implicits._
    val path = tmpDir() + "/models"
    val m1 = Catalog.upsertModels(spark, path,
      Seq(("model-a", 64), ("model-b", 128)).toDF("name", "embedding_dim"))
    assert(m1.count() == 2)
    val idA = m1.filter($"name" === "model-a").head().getAs[Long]("id")
    // second upsert: one duplicate, one new
    val m2 = Catalog.upsertModels(spark, path,
      Seq(("model-a", 64), ("model-c", 32)).toDF("name", "embedding_dim"))
    assert(m2.count() == 3)
    assert(m2.filter($"name" === "model-a").head().getAs[Long]("id") == idA)
    assert(m2.select("id").distinct().count() == 3)
  }

  test("R9/R10: source upsert dedupes null-safely, first writer wins") {
    val path = tmpDir() + "/sources"
    val schema = org.apache.spark.sql.types.StructType(
      Catalog.SourcesSchema.fields.filterNot(_.name == "id"))
    def src(author: Option[String], title: Option[String], year: Option[Int]) =
      Row(author.orNull, title.orNull, Int.box(1), null, null, null,
        year.map(Int.box).orNull, Long.box(1L))
    def df(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val batch1 = df(
      src(Some("asimov"), Some("robots"), Some(1956)),
      src(None, Some("anon title"), None),
      src(None, Some("anon title"), None)) // in-batch dup with nulls
    val s1 = Catalog.upsertSources(spark, path, batch1)
    assert(s1.count() == 2, "null-keyed duplicates must collapse")
    // re-upsert the same null-keyed row: must match existing (R9 <=>)
    val s2 = Catalog.upsertSources(spark, path,
      df(src(None, Some("anon title"), None)))
    assert(s2.count() == 2)
    // lookup with nulls finds it
    val hit = Catalog.lookupSource(s2, 1L, None, Some("anon title"), None)
    assert(hit.count() == 1)
  }

  /** Each upsert case runs on the driver (the library default) and on
    * the distributed path (a driver cap of 0 rows). */
  private val upsertPaths: Seq[(String, Option[Int])] =
    Seq("driver" -> None, "distributed" -> Some(0))

  /** The table an upsert of `batch` into `before` must return, keyed on
    * `keys`: the stored rows, plus the batch's novel keys numbered by
    * `row_number() OVER (ORDER BY keys)` from the stored max id. */
  private def expectedIds(before: Seq[Row], batch: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): Set[Row] = {
    val maxId = before.map(_.getLong(0)).maxOption.getOrElse(0L)
    val stored = before.map(r => keys.indices.map(i => r.get(i + 1))).toSet
    val novel = batch.select(keys.map(col): _*).distinct()
      .withColumn("id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(keys.map(col): _*)))
      .collect().filterNot(r => stored(keys.indices.map(r.get)))
    // numbering the novel keys alone: re-rank the survivors in order
    val ranked = novel.sortBy(_.getInt(keys.length)).zipWithIndex.map {
      case (r, i) => Row.fromSeq((maxId + 1 + i) +: keys.indices.map(r.get)) }
    before.toSet ++ ranked
  }

  private def idsOf(table: org.apache.spark.sql.DataFrame, keys: Seq[String]): Seq[Row] =
    table.select(("id" +: keys).map(col): _*).collect().toSeq

  test("R9/R10: upsert ids are row_number() over the key order on both paths") {
    val schema = org.apache.spark.sql.types.StructType(
      Catalog.SourcesSchema.fields.filterNot(_.name == "id"))
    val keys = Seq("model_id", "author", "title", "year")
    def src(author: String, title: String, year: Integer, url: String) =
      Row(author, title, Int.box(1), url, null, null, year, Long.box(1L))
    def df(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val batch1 = df(
      src("le guin", "the dispossessed", 1974, "first"),
      src(null, "anon", null, "first"),
      src("asimov", null, 1956, "first"),
      src(null, "anon", null, "second"), // in-batch duplicate, null keys
      src(null, null, null, "first"),
      src("asimov", "robots", 1956, "first"),
      src("le guin", "the dispossessed", 1974, "second"))
    val batch2 = df(
      src(null, "anon", null, "third"), // stored, null-safe match
      src("asimov", "robots", 1950, "first"),
      src(null, null, 2000, "first"),
      src("asimov", "robots", 1956, "third"))
    for ((name, cap) <- upsertPaths) {
      val path = tmpDir() + "/sources"
      def upsert(b: org.apache.spark.sql.DataFrame) = cap match {
        case Some(c) => Catalog.upsertSources(spark, path, b, c)
        case None => Catalog.upsertSources(spark, path, b)
      }
      val s1 = upsert(batch1)
      val got1 = idsOf(s1, keys)
      assert(got1.toSet == expectedIds(Nil, batch1, keys), name)
      assert(got1.map(_.getLong(0)).sorted == (1L to 5L), name)
      if (cap.isEmpty) // the driver path keeps the first row in scan order
        assert(s1.filter(col("url") =!= "first").isEmpty, name)
      val got2 = idsOf(upsert(batch2), keys)
      assert(got2.toSet == expectedIds(got1, batch2, keys), name)
      assert(got2.map(_.getLong(0)).sorted == (1L to 7L), name)
      assert(idsOf(spark.read.parquet(path), keys).toSet == got2.toSet, name)
    }
  }

  test("R8: model ids follow Spark's UTF-8 string order on both paths") {
    import spark.implicits._
    // "｡" (U+FF61) sorts before "😀" (U+1F600) by UTF-8 bytes, as Spark
    // orders strings, but after it by Java's UTF-16 compareTo
    def batch(names: String*) =
      names.map(n => (n, n.length)).toDF("name", "embedding_dim")
    val b1 = batch("😀", "｡", "b", "B", "a", "｡")
    val b2 = batch("😀", "a😀", "a｡", "c")
    for ((name, cap) <- upsertPaths) {
      val path = tmpDir() + "/models"
      def upsert(b: org.apache.spark.sql.DataFrame) = cap match {
        case Some(c) => Catalog.upsertModels(spark, path, b, c)
        case None => Catalog.upsertModels(spark, path, b)
      }
      val m1 = idsOf(upsert(b1), Seq("name"))
      assert(m1.toSet == expectedIds(Nil, b1, Seq("name")), name)
      val m2 = idsOf(upsert(b2), Seq("name"))
      assert(m2.toSet == expectedIds(m1, b2, Seq("name")), name)
      assert(m2.sortBy(_.getLong(0)).map(_.getString(1)) ==
        Seq("B", "a", "b", "｡", "😀", "a｡", "a😀", "c"), name)
    }
  }

  test("R11: source type classification truth table") {
    import spark.implicits._
    val cases = Seq(
      ("short story", null, 1), ("NOVEL", null, 1), ("  sci-fi  ", null, 1),
      ("memoir", "science fiction", 1), ("memoir", "biography", 2),
      (null, "fantasy", 1), (null, null, 2), ("essay", null, 2))
    val got = cases.map { case (t, g, _) => (t, g) }
      .toDF("text_type", "genre")
      .select(Catalog.sourceTypeOf($"text_type", $"genre").as("st"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == cases.map(_._3))
  }

  test("R12: year extraction edge cases") {
    import spark.implicits._
    val got = Seq("1939", "1956", "1953-05-01", "n.d.", null)
      .toDF("pub").select(Catalog.yearOf($"pub").as("y"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    assert(got == Seq(Some(1939), Some(1956), Some(1953), None, None))
  }

  test("chunk ids are unique and stable") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y z w")).toDF("doc_id", "text")
    val chunks = Rag.buildChunks(docs, modelId = 7L, maxTokens = 2, dim = 16)
    val ids = chunks.select("id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length)
    val again = Rag.buildChunks(docs, modelId = 7L, maxTokens = 2, dim = 16)
      .select("id").collect().map(_.getLong(0))
    assert(ids.sorted.sameElements(again.sorted))
  }

  test("e2e: import corpus → search finds the on-topic chunk → generate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "robots in science fiction are often depicted as friendly helpers of humanity"),
      (2L, "the recipe calls for flour sugar butter and a pinch of salt"),
      (3L, "quantum mechanics describes the behavior of particles at small scales"))
      .toDF("doc_id", "text")
    val chunks = Rag.buildChunks(docs, modelId = 1L, maxTokens = 64, dim = 128)
    val q = Rag.embedQuery("are robots in science fiction friendly", 128)
    val hits = Rag.searchChunks(chunks, q, topK = 1, threshold = -1.0)
    assert(hits.head().getAs[Long]("source_id") == 1L,
      "the robot document should be the nearest neighbor")

    // G3/G4 assembly is deterministic
    val all = Rag.searchChunks(chunks, q, topK = 3, threshold = -1.0)
    val ctx = Rag.aggregateChunkText(all)
    assert(ctx.contains("Excerpt from") && ctx.contains(">>>"))
    val out1 = Rag.generate(chunks, "are robots friendly", topK = 2,
      threshold = -1.0, dim = 128)
    val out2 = Rag.generate(chunks, "are robots friendly", topK = 2,
      threshold = -1.0, dim = 128)
    assert(out1 == out2 && out1.startsWith("[stub-generation"))

    // empty retrieval → disclaimer branch
    val none = Rag.searchChunks(chunks, q, topK = 5, threshold = 0.999)
    val prompt = Rag.contextualizedPrompt("q?", Rag.aggregateChunkText(none))
    assert(prompt.contains("no relevant information"))
  }

  test("asof join: latest prior right row per key; nulls when none") {
    import spark.implicits._
    val left = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "ts", "l_name")
    val right = Seq((1L, 90L, "c1"), (1L, 150L, "c2"), (1L, 200L, "c3"),
      (2L, 60L, "c4"))
      .toDF("k", "ts", "r_name")
    val got = graft.operators.AsOf.asofJoin(left, right, "k", "ts", Seq("r_name"))
      .orderBy("k", "ts")
      .collect()
      .map(r => (r.getAs[String]("l_name"), Option(r.getAs[String]("asof_r_name"))))
      .toSeq
    // p1@100 → c1@90; p2@200 → c3@200 (inclusive); p3@50 → none (c4@60 later)
    assert(got == Seq(("p1", Some("c1")), ("p2", Some("c3")), ("p3", None)))
  }

  test("skew-safe asof join is bit-identical to the single-shuffle form") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 70% of left rows land on hot key 99; right has duplicate (k, ts)
    // pairs to exercise the deterministic tie-break on both paths
    val left = (1 to 2000).map { i =>
      (if (i % 10 != 0) 99L else (i % 7).toLong,
        rnd.nextInt(100000).toLong, s"l$i")
    }.toDF("k", "ts", "l_name")
    val right = ((1 to 600).map { i =>
      (if (i % 3 == 0) 99L else (i % 7).toLong,
        rnd.nextInt(100000).toLong, s"r$i")
    } ++ Seq((99L, 50000L, "dupA"), (99L, 50000L, "dupB")))
      .toDF("k", "ts", "r_name")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "ts", "l_name", "asof_r_name").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          Option(r.getString(3)))).sortBy(_.toString).toSeq
    val plain = rows(graft.operators.AsOf.asofJoin(
      left, right, "k", "ts", Seq("r_name")))
    val safe = rows(graft.operators.AsOf.asofJoinSkewSafe(
      left, right, "k", "ts", Seq("r_name"), buckets = 8))
    assert(plain.size == 2000 && safe == plain)
    // sanity: both phases fired (some rows matched within-bucket, some
    // rescued from earlier buckets, some unmatched-forever)
    assert(plain.count(_._4.isEmpty) > 0 || plain.nonEmpty)
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val direct = li.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_l_quantity"), count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = graft.operators.Skew.saltedAggregate(
        li, Seq("l_returnflag"), col("l_orderkey"), buckets = 16,
        Seq(graft.operators.Skew.sumOf("l_quantity"),
          graft.operators.Skew.countAll))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("reference demo corpus: import → demo query, deterministic across runs") {
    // the reference's own e2e shape (FIXTURES.md §2 / tasks.py demo)
    def run(): Seq[(Long, Double)] = {
      val store = tmpDir() + "/store"
      graft.cli.Demo.importDocs(spark, graft.cli.Demo.demoCorpus(spark),
        store, "demo-model", dim = 256, maxTokens = 64)
      graft.cli.Demo.search(spark, store,
        "Are robots that are depicted in science fiction generally friendly to humans?",
        topK = 5, threshold = 0.0, dim = 256)
        .select("id", "similarity").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    val r1 = run()
    val r2 = run()
    assert(r1.nonEmpty, "demo query should retrieve chunks")
    assert(r1 == r2, "retrieval must be bit-deterministic across imports")
  }

  test("chunk metadata round-trips through the store and search results") {
    // reference parity (documents.py:51-65): chunks carry the doc's
    // sidecar metadata merged with chunk_tokenizer_model / chunk_size
    // (the token CAP) / chunk_number / import_date
    val store = tmpDir() + "/store"
    graft.cli.Demo.importDocs(spark, graft.cli.Demo.demoCorpus(spark),
      store, "demo-model", dim = 64, maxTokens = 32)
    val hits = graft.cli.Demo.search(spark, store,
      "robot teachers guard the children", topK = 3, threshold = -1.0,
      dim = 64)
    assert(hits.columns.contains("metadata"))
    val m = hits.head().getAs[Map[String, String]]("metadata")
    assert(m("chunk_tokenizer_model") == "graft/whitespace-v1")
    assert(m("chunk_size") == "32")
    assert(m.contains("chunk_number") && m.contains("import_date"))
    assert(m.contains("title") && m.contains("author") &&
      m("genre") == "science fiction")
    // document key/values survive per-chunk: every chunk of a doc has
    // that doc's title
    val perDoc = spark.read.parquet(s"$store/chunks")
      .select(col("source_id"), col("metadata")("title").as("t"))
      .distinct().groupBy("source_id").count()
      .filter(col("count") > 1).count()
    assert(perDoc == 0, "each source must carry exactly one title")
  }

  test("hybrid store search: fused rrf score, chunk text joined for display") {
    val store = tmpDir() + "/store"
    graft.cli.Demo.importDocs(spark, graft.cli.Demo.demoCorpus(spark),
      store, "demo-model", dim = 64, maxTokens = 32)
    val hits = graft.cli.Demo.search(spark, store,
      "are robots friendly to humans",
      topK = 3, threshold = -1.0, dim = 64, ann = "hybrid")
    val rows = hits.select("id", "similarity", "chunk_text").collect()
    assert(rows.length == 3)
    assert(rows.forall(r => r.getDouble(1) > 0 && r.getString(2).nonEmpty))
    // display contract holds (no throw, prints score + text)
    graft.cli.Demo.display(hits)
  }

  test("ANN store search: subset of exact ranking, rebuilds on re-import") {
    val store = tmpDir() + "/store"
    graft.cli.Demo.importDocs(spark, graft.cli.Demo.demoCorpus(spark),
      store, "demo-model", dim = 64, maxTokens = 32)
    val prompt = "are robots friendly to humans"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSeq
    val exact = ids(graft.cli.Demo.search(spark, store, prompt,
      topK = 20, threshold = -1.0, dim = 64))
    val annHits = graft.cli.Demo.search(spark, store, prompt,
      topK = 5, threshold = -1.0, dim = 64, ann = "lsh")
    assert(ids(annHits).nonEmpty && ids(annHits).toSet.subsetOf(exact.toSet))
    // similarity values agree with the exact scan for the same ids
    val exactSim = graft.cli.Demo.search(spark, store, prompt,
      topK = 20, threshold = -1.0, dim = 64)
      .select("id", "similarity").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    annHits.select("id", "similarity").collect().foreach { r =>
      assert(exactSim(r.getLong(0)) == r.getDouble(1))
    }
    // the IVF codebook a search serves: the process memo's entry for
    // the store's current index path
    def servedIvf(fp: String): graft.operators.Ivf.IvfModel =
      graft.store.AnnIndexes.model[graft.operators.Ivf.IvfModel](
          spark, s"$store/ann_ivf_${fp}_d64")(
        _ => fail("the index was not built"))(
        _ => fail("the model was not memoized"))
    def centroids(m: graft.operators.Ivf.IvfModel) = m.centroids.map(_.toSeq).toSeq
    assert(ids(graft.cli.Demo.search(spark, store, prompt,
      topK = 5, threshold = -1.0, dim = 64, ann = "ivf")).nonEmpty)
    // re-import changes the chunk file set → a different index path
    val fp1 = graft.store.AnnIndexes.fingerprint(spark, s"$store/chunks")
    graft.cli.Demo.importDocs(spark, graft.cli.Demo.demoCorpus(spark)
        .filter(col("doc_id") === 1L),
      store, "demo-model", dim = 64, maxTokens = 32)
    val fp2 = graft.store.AnnIndexes.fingerprint(spark, s"$store/chunks")
    assert(fp1 != fp2, "re-import must change the index fingerprint")
    val after = graft.cli.Demo.search(spark, store, prompt,
      topK = 5, threshold = -1.0, dim = 64, ann = "lsh")
    assert(ids(after).nonEmpty)
    // IVF variant: also a subset of the exact ranking, same scores
    val ivfHits = graft.cli.Demo.search(spark, store, prompt,
      topK = 5, threshold = -1.0, dim = 64, ann = "ivf")
    val exactAfter = ids(graft.cli.Demo.search(spark, store, prompt,
      topK = 50, threshold = -1.0, dim = 64)).toSet
    assert(ids(ivfHits).nonEmpty && ids(ivfHits).toSet.subsetOf(exactAfter))
    // ...served with the codebook trained on the re-imported store
    val rebuilt = centroids(servedIvf(fp2))
    assert(rebuilt == centroids(graft.operators.Ivf.loadModel(
      spark, s"$store/ann_ivf_${fp2}_d64/_model")))
    assert(rebuilt != centroids(servedIvf(fp1)))
    // PQ variant: exact-cosine re-rank means scores also match exact
    val pqHits = graft.cli.Demo.search(spark, store, prompt,
      topK = 5, threshold = -1.0, dim = 64, ann = "pq")
    assert(ids(pqHits).nonEmpty && ids(pqHits).toSet.subsetOf(exactAfter))
    // binary variant (round 7): index-free sign-bit candidates + exact
    // re-rank — also a subset of the exact ranking
    val binHits = graft.cli.Demo.search(spark, store, prompt,
      topK = 5, threshold = -1.0, dim = 64, ann = "binary")
    assert(ids(binHits).nonEmpty && ids(binHits).toSet.subsetOf(exactAfter))
    // mmr variant (round 7): diversified re-rank over the exact pool —
    // rows carry chunk_text for display, first pick is the exact top-1
    val mmrHits = graft.cli.Demo.search(spark, store, prompt,
      topK = 5, threshold = -1.0, dim = 64, ann = "mmr")
    val mmrRows = mmrHits.select("id", "similarity", "chunk_text").collect()
    assert(mmrRows.length == 5 && mmrRows.forall(_.getString(2).nonEmpty))
    assert(ids(mmrHits).toSet.subsetOf(exactAfter))
    graft.cli.Demo.display(mmrHits)
  }

  test("approx_percentile within 2.5% of exact per group") {
    // approx_percentile returns an actual element; exact percentile
    // interpolates — at sf0.001's ~300-row groups the nearest-element
    // gap (not sketch error) dominates, so the bound is 2.5%
    val o = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val rows = o.groupBy("o_orderpriority")
      .agg(
        expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap"),
        expr("percentile(o_totalprice, 0.5)").as("ex"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ap, ex) = (r.getDouble(1), r.getDouble(2))
      assert(math.abs(ap - ex) / ex < 0.025, s"approx $ap vs exact $ex")
    }
  }

  test("approx_count_distinct within 5% of exact") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val r = li.agg(
      approx_count_distinct("l_partkey"),
      countDistinct("l_partkey")).head()
    val (approx, exact) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx $approx vs exact $exact")
  }

  test("quantized ANN search on an empty store returns empty, not a crash") {
    import spark.implicits._
    // Ivf/Pq codebooks need sample rows to train; an empty store must
    // degrade to the exact path's empty result (ADVICE r3)
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val chunks = Rag.buildChunks(docs, modelId = 1L, maxTokens = 8, dim = 16)
    val q = Rag.embedQuery("anything", dim = 16)
    val idx = tmpDir()
    assert(Rag.searchChunksAnnPq(chunks, idx + "/pq", q, topK = 3,
      threshold = -1.0).count() == 0)
    assert(Rag.searchChunksAnnIvf(chunks, idx + "/ivf", q, topK = 3,
      threshold = -1.0).count() == 0)
  }

  test("chunk store round trip with model_id partitioning") {
    import spark.implicits._
    val path = tmpDir() + "/chunks"
    val docs = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val chunks = Rag.buildChunks(docs, modelId = 3L, maxTokens = 2, dim = 16)
    Catalog.writeChunks(chunks, path)
    val back = spark.read.parquet(path)
    assert(back.count() == chunks.count())
    assert(back.columns.contains("model_id"))
    // partition pruning applies on model_id
    assert(back.filter($"model_id" === 3L).count() == chunks.count())
    assert(back.filter($"model_id" === 99L).count() == 0)
  }
}
