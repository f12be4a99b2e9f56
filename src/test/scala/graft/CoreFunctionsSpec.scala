package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.functions.{Embedding, VectorFunctions}
import graft.ingest.Chunker

object SparkTestSession {
  // local[4, 2]: 4 threads, task maxFailures = 2 — inert unless a task
  // actually fails, and required by the retry-determinism spec
  // (Round8OpsSpec injects attempt-0 task failures into ingest)
  lazy val spark: SparkSession = {
    val s = Tables.session("local[4, 2]", shufflePartitions = 4)
    // temp-dir-keyed build-once sidecars from previous test runs are
    // unreachable garbage (random temp names) — sweep at session
    // start, BEFORE this run builds any of its own
    graft.store.AnnIndexes.gcTempKeyed(s)
    s
  }

  /** Minimal property-check loop over ScalaCheck generators (the
    * scalatest-scalacheck bridge artifact is not on the offline
    * classpath). */
  def forAll[A](g: Gen[A], n: Int = 40)(f: A => Unit): Unit =
    (1 to n).foreach(_ => g.sample.foreach(f))
  def forAll2[A, B](ga: Gen[A], gb: Gen[B], n: Int = 40)(f: (A, B) => Unit): Unit =
    (1 to n).foreach(_ => for (a <- ga.sample; b <- gb.sample) f(a, b))
}

class CoreFunctionsSpec extends AnyFunSuite {
  import SparkTestSession.{forAll, forAll2}
  lazy val spark: SparkSession = SparkTestSession.spark

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b")
      .select(VectorFunctions.cosine_similarity(col("a"), col("b")))
      .head().getDouble(0)
  }

  val vecGen: Gen[Array[Float]] =
    Gen.chooseNum(2, 16).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-10f, 10f)).map(_.toArray))

  test("cosine: cos(v,v)=1 for nonzero v; zero vector → 0") {
    forAll(vecGen) { v =>
      val c = cos(v, v)
      if (v.exists(_ != 0f)) assert(math.abs(c - 1.0) < 1e-9)
      else assert(c == 0.0)
    }
    assert(cos(Array(0f, 0f), Array(1f, 2f)) == 0.0)
  }

  test("cosine: symmetric, range [-1,1], orthogonal → 0") {
    forAll2(vecGen, vecGen) { (a, b) =>
      val n = math.min(a.length, b.length)
      val c1 = cos(a.take(n), b.take(n))
      val c2 = cos(b.take(n), a.take(n))
      assert(math.abs(c1 - c2) < 1e-12)
      assert(c1 >= -1.0 - 1e-9 && c1 <= 1.0 + 1e-9)
    }
    assert(math.abs(cos(Array(1f, 0f), Array(0f, 1f))) < 1e-12)
    assert(math.abs(cos(Array(1f, 0f), Array(-1f, 0f)) + 1.0) < 1e-12)
  }

  test("cosine matches pgvector parity formula on a known pair") {
    // hand-computed: a=(1,2,3), b=(4,5,6) → 32 / (sqrt(14)*sqrt(77))
    val expect = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(cos(Array(1f, 2f, 3f), Array(4f, 5f, 6f)) - expect) < 1e-12)
  }

  test("l2_distance: known values, symmetry, triangle vs norm identity") {
    import spark.implicits._
    def d(a: Array[Float], b: Array[Float]): Double =
      Seq((a, b)).toDF("a", "b")
        .select(VectorFunctions.l2_distance(col("a"), col("b")))
        .head().getDouble(0)
    assert(d(Array(0f, 0f), Array(3f, 4f)) == 5.0)
    assert(d(Array(1f, 1f), Array(1f, 1f)) == 0.0)
    forAll2(vecGen, vecGen) { (a, b) =>
      if (a.length == b.length) {
        val ab = d(a, b)
        assert(ab >= 0.0 && math.abs(ab - d(b, a)) < 1e-12)
        // consistency with |a−b|² = |a|²+|b|²−2a·b within fp tolerance
        val viaNorms = math.sqrt(math.max(0.0,
          a.map(x => x * x.toDouble).sum + b.map(x => x * x.toDouble).sum -
            2.0 * a.zip(b).map { case (x, y) => x * y.toDouble }.sum))
        assert(math.abs(ab - viaNorms) < 1e-6, s"$ab vs $viaNorms")
      }
    }
  }

  test("dot_product and l2_norm expressions") {
    import spark.implicits._
    val r = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
      .select(
        VectorFunctions.dot_product(col("a"), col("b")),
        VectorFunctions.l2_norm(col("a")))
      .head()
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - math.sqrt(14.0)) < 1e-12)
  }

  test("embedding: deterministic, unit norm, correct dim") {
    val t = "Robots in science fiction are sometimes friendly."
    val e1 = Embedding.embed(t, 256)
    val e2 = Embedding.embed(t, 256)
    assert(e1.sameElements(e2))
    assert(e1.length == 256)
    val norm = math.sqrt(e1.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("embedding: distinct texts → distinct vectors; sensitive to tf") {
    val a = Embedding.embed("the robot is friendly", 128)
    val b = Embedding.embed("the robot is hostile", 128)
    val c = Embedding.embed("the robot is friendly friendly", 128)
    assert(!a.sameElements(b))
    assert(!a.sameElements(c))
  }

  test("embedding: the gaussian stream is java.util.Random's, bit for bit") {
    val rng = new scala.util.Random(7)
    val seeds = Seq(0L, 1L, -1L, 42L, Long.MinValue, Long.MaxValue, 0x5DEECE66DL) ++
      Seq.fill(200)(rng.nextLong())
    for (seed <- seeds; n <- Seq(1, 2, 7, 64, 1535, 1536)) {
      val want = new java.util.Random(seed)
      val got = new graft.functions.Gaussians(seed)
      (1 to n).foreach { i =>
        val (w, g) = (want.nextGaussian(), got.nextGaussian())
        assert(java.lang.Double.doubleToRawLongBits(g) ==
          java.lang.Double.doubleToRawLongBits(w), s"seed $seed draw $i: $g vs $w")
      }
    }
  }

  test("embedding: output bits are pinned") {
    // SHA-256 over the float bits of these embeddings, recorded before
    // the embedder drew its gaussians from graft.functions.Gaussians
    // instead of java.util.Random
    val texts = Seq(
      "Robots of the world, arise! The robots organize and demand rights; " +
        "robots ask whether servitude is the only future for machines.",
      "a b a c a b",
      "")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (t <- texts; d <- Seq(1536, 64); f <- Embedding.embed(t, d))
      md.update(java.nio.ByteBuffer.allocate(4)
        .putInt(java.lang.Float.floatToRawIntBits(f)).array())
    assert(md.digest().map("%02x".format(_)).mkString ==
      "69bbfe9b87b1f9f9b8aaac96709a67a6a8bc18fc547db0c25626e652fe8f430a")
  }

  test("embedding via UDF on a DataFrame") {
    import spark.implicits._
    val df = Seq("one small step", "for a robot").toDF("text")
      .withColumn("emb", Embedding.embedColumn(col("text"), 64))
    val rows = df.select(VectorFunctions.l2_norm(col("emb"))).collect()
    assert(rows.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-5))
  }

  test("chunker: scala impl edge cases") {
    assert(Chunker.chunkText(null, 4).isEmpty)
    assert(Chunker.chunkText("", 4) == Vector(""))
    assert(Chunker.chunkText("a b c d", 4) == Vector("a b c d"))
    assert(Chunker.chunkText("a b c d e", 4) == Vector("a b c d", "e"))
    assert(Chunker.chunkText("a b c d e f g h i", 4) ==
      Vector("a b c d", "e f g h", "i"))
  }

  test("chunker: column impl agrees with scala impl; covers the doc") {
    import spark.implicits._
    val texts = Seq(
      "a b c d e f g", "single", "x y", "", "w1 w2 w3 w4 w5 w6 w7 w8 w9")
    val got = texts.toDF("text")
      .select(col("text"), Chunker.chunksCol(col("text"), 3).as("chunks"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toVector)
      .toMap
    texts.foreach { t =>
      assert(got(t) == Chunker.chunkText(t, 3), s"for '$t'")
      // re-joining chunks reconstructs the document exactly
      assert(got(t).mkString(" ") == t)
    }
  }

  test("GraftExtensions injects vector + sketch SQL functions") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    // same SparkContext, new session built WITH the extensions (the
    // shared test session was built without them)
    val s2 = SparkSession.builder()
      .master("local[2]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = s2.sql(
        """SELECT
          | cosine_similarity(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
          | minhash_signature(array('a b', 'b c'), 4, 42L) AS mh,
          | simhash64(array('a', 'b')) AS sh,
          | l2_distance(array(3.0F, 0.0F), array(0.0F, 4.0F)) AS d""".stripMargin).head()
      assert(r.getDouble(0) == 1.0)
      assert(r.getSeq[Long](1).length == 4)
      assert(r.getDouble(3) == 5.0)
      val again = s2.sql("SELECT simhash64(array('a', 'b'))").head().getLong(0)
      assert(r.getLong(2) == again, "simhash must be deterministic")
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("shingles property: let-bound column form equals the Scala reference") {
    import spark.implicits._
    def reference(text: String, n: Int): Seq[String] = {
      val toks = text.split(" ", -1).toSeq
      val all =
        if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
        else Seq(toks.mkString(" "))
      all.distinct
    }
    val textGen = Gen.chooseNum(0, 30).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf("a", "bb", "ccc", "a")).map(_.mkString(" ")))
    forAll2(textGen, Gen.chooseNum(1, 4)) { (text, n) =>
      val got = Seq(text).toDF("t")
        .select(graft.operators.TextAnalysis.shingles(col("t"), n))
        .head().getSeq[String](0)
      assert(got == reference(text, n), s"text='$text' n=$n")
    }
  }

  test("chunker property: chunks rejoin to the original; sizes ≤ cap") {
    val textGen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "dddd")).map(_.mkString(" ")))
    forAll2(textGen, Gen.chooseNum(1, 7)) { (text, mt) =>
      val chunks = Chunker.chunkText(text, mt)
      assert(chunks.mkString(" ") == text,
        s"lossless rejoin failed for maxTokens=$mt")
      assert(chunks.forall(_.split(" ", -1).length <= mt))
      assert(chunks.dropRight(1).forall(_.split(" ", -1).length == mt))
    }
  }

  test("chunkDocuments: enrichment columns + ordinal") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "x")).toDF("doc_id", "text")
    val out = Chunker.chunkDocuments(docs, "text", maxTokens = 2).collect()
    val d1 = out.filter(_.getAs[Long]("doc_id") == 1L)
      .sortBy(_.getAs[Int]("chunk_number"))
    assert(d1.map(_.getAs[String]("chunk_text")).toSeq == Seq("a b", "c d", "e"))
    assert(d1.map(_.getAs[Int]("chunk_number")).toSeq == Seq(0, 1, 2))
    assert(d1.map(_.getAs[Int]("chunk_size")).toSeq == Seq(2, 2, 1))
  }
}
