package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Graph, TextAnalysis, TextQueries}

/** Round-7 adversarial property specs: each new operator is checked
  * against an INDEPENDENT Scala reference implementation on random
  * inputs — a different algorithm shape than both the Spark plan and
  * the DuckDB oracle, so a shared blind spot between those two can't
  * hide (goldens pin known cases; these sweep the space).
  */
class Round7PropertySpec2 extends AnyFunSuite {
  import SparkTestSession.forAll
  lazy val spark = SparkTestSession.spark

  private val wordGen = Gen.oneOf("a", "b", "ab", "ba", "x")
  private val docGen: Gen[String] =
    Gen.chooseNum(1, 14).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))

  /** Reference Gopher fractions: hash-map counting, no sorting. */
  private def refRepetition(text: String, n: Int): Option[(Double, Double)] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) None
    else {
      val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
      val topC = counts.values.max
      val topChars = counts.collect {
        case (g, c) if c == topC => c * g.length
      }.max
      val dupChars = counts.collect {
        case (g, c) if c >= 2 => c * g.length
      }.sum
      def r6(x: Double) = math.rint(x * 1e6) / 1e6
      Some((r6(topChars.toDouble / text.length),
        r6(dupChars.toDouble / text.length)))
    }
  }

  test("t35 ≡ hash-map reference on random small-vocab docs") {
    import spark.implicits._
    forAll(Gen.listOfN(10, docGen), n = 6) { texts =>
      val dir = java.nio.file.Files.createTempDirectory("t35_prop").toString
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "unit", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("t35_gopher_repetition")(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getDouble(2), r.getDouble(3))).toMap
      val want = (for {
        (t, i) <- texts.zipWithIndex
        n <- Seq(2, 3, 5)
        fr <- refRepetition(t, n)
      } yield (i.toLong, n.toLong) -> fr).toMap
      assert(got == want)
    }
  }

  /** Reference BPE apply: plain Scala fold, leftmost-first per merge. */
  private def refBpe(w: String, merges: Seq[(String, String)]): Seq[String] = {
    var pieces = w.map(_.toString).toVector
    for ((a, b) <- merges)
      pieces = pieces.foldLeft(Vector.empty[String]) { (acc, p) =>
        if (acc.nonEmpty && acc.last == a && p == b)
          acc.init :+ (a + b)
        else acc :+ p
      }
    pieces
  }

  test("bpeSegment ≡ mutable-fold reference on random words and merge lists") {
    import spark.implicits._
    val mergeGen = for {
      a <- Gen.oneOf("a", "b", "c", "ab", "bc", "abc")
      b <- Gen.oneOf("a", "b", "c", "ab", "ca")
    } yield (a, b)
    val wGen = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    forAll(for {
      ws <- Gen.listOfN(15, wGen)
      ms <- Gen.listOfN(5, mergeGen)
    } yield (ws, ms), n = 8) { case (ws, ms) =>
      val got = ws.toDF("w")
        .select(TextAnalysis.bpeSegment(col("w"), ms).as("p"))
        .collect().map(_.getSeq[String](0).toVector)
      val want = ws.map(w => refBpe(w, ms))
      assert(got.toSeq == want.toSeq)
    }
  }

  /** Reference NB: plain Scala maps, the same integer micro-nat
    * quantization (BigDecimal HALF_UP like Spark's round). */
  private def refNbConfusion(
      docs: Seq[(Long, String, String)]): Map[(String, String), Long] = {
    def q6(x: Double): Long =
      BigDecimal(x * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val train = docs.filter(_._1 % 3 == 0)
    val cnts = train
      .flatMap { case (_, t, l) => t.split(" ", -1).map(l -> _) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tots = cnts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val v = cnts.keys.map(_._2).toSet.size
    val nTrain = train.size
    val priors = train.groupBy(_._3).view
      .mapValues(d => q6(math.log(d.size.toDouble / nTrain))).toMap
    val classes = tots.keys.toSeq.sorted
    def score(text: String, c: String): Long = {
      val den = (tots(c) + v).toDouble
      priors(c) + text.split(" ", -1).map(tok =>
        cnts.get((c, tok)) match {
          case Some(n) => q6(math.log((n + 1) / den))
          case None => q6(math.log(1.0 / den))
        }).sum
    }
    docs.map { case (_, t, gold) =>
      val pred = classes.minBy(c => (-score(t, c), c))
      (gold, pred)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("t36 ≡ map-based NB reference on random small corpora") {
    import spark.implicits._
    val langGen = Gen.oneOf("aa", "bb", "cc")
    val caseGen = Gen.chooseNum(6, 20).flatMap(n =>
      Gen.listOfN(n, for { t <- docGen; l <- langGen } yield (t, l)))
    forAll(caseGen, n = 5) { docs0 =>
      val docs = docs0.zipWithIndex
        .map { case ((t, l), i) => (i.toLong, t, l) }
      // at least one training doc per class present in the slice,
      // else the tiny corpus has untrained classes — regenerate by
      // skipping (the declared query runs on real corpora)
      val trainLangs = docs.filter(_._1 % 3 == 0).map(_._3).toSet
      if (trainLangs.nonEmpty) {
        val dir =
          java.nio.file.Files.createTempDirectory("t36_prop").toString
        docs.map { case (i, t, l) => (i, t, l, "unit", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val got = SparkEntry.queries("t36_nb_langid")(spark, dir)
          .collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
          .toMap
        assert(got == refNbConfusion(docs))
      }
    }
  }

  test("t38 ≡ reference BPE piece counts after reference training") {
    import spark.implicits._
    // train the reference the same way: 6 rounds of weighted pair
    // argmax over the word-count dict
    def refTrain(words: Map[String, Long], k: Int): Seq[(String, String)] = {
      var merges = Vector.empty[(String, String)]
      for (_ <- 1 to k) {
        val counts = words.toSeq.flatMap { case (w, wc) =>
          val p = refBpe(w, merges)
          p.zip(p.drop(1)).map(_ -> wc)
        }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
        if (counts.nonEmpty) {
          val ((a, b), _) = counts.toSeq
            .minBy { case ((l, r), c) => (-c, l, r) }
          merges :+= ((a, b))
        }
      }
      merges
    }
    forAll(Gen.listOfN(8, docGen), n = 5) { texts =>
      val dir =
        java.nio.file.Files.createTempDirectory("t38_prop").toString
      texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, "en", "unit", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val words = texts.flatMap(_.toLowerCase.split(" ", -1))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val merges = refTrain(words, 6)
      val want = texts.zipWithIndex.map { case (t, i) =>
        val toks = t.toLowerCase.split(" ", -1)
        i.toLong ->
          (toks.map(w => refBpe(w, merges).size.toLong).sum,
            toks.length.toLong)
      }.toMap
      val got = SparkEntry.queries("t38_bpe_encode")(spark, dir)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == want)
    }
  }

  /** Reference bounded-hop shortest paths: plain relaxation over an
    * edge list in a Scala map. */
  private def refSssp(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      rounds: Int): Map[Long, Long] = {
    var dist: Map[Long, Long] = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = edges.flatMap { case (s, d, w) =>
        dist.get(s).map(ds => d -> (ds + w))
      }
      dist = (dist.toSeq ++ relaxed)
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    dist
  }

  test("ssspRounds ≡ map-relaxation reference on random weighted digraphs") {
    import spark.implicits._
    val caseGen = for {
      nNodes <- Gen.chooseNum(2, 8)
      nEdges <- Gen.chooseNum(1, 16)
      edges <- Gen.listOfN(nEdges, for {
        s <- Gen.chooseNum(0, nNodes - 1)
        d <- Gen.chooseNum(0, nNodes - 1)
        w <- Gen.chooseNum(1L, 20L)
      } yield (s.toLong, d.toLong, w))
      rounds <- Gen.chooseNum(0, 4)
    } yield (edges, rounds)
    forAll(caseGen, n = 8) { case (edges, rounds) =>
      val seeds = Set(0L)
      val got = Graph.ssspRounds(
        edges.toDF("src", "dst", "w"), "src", "dst", "w",
        Seq(Tuple1(0L)).toDF("id"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == refSssp(edges, seeds, rounds))
    }
  }
}
