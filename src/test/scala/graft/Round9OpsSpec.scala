package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 hardening specs. */
class Round9OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val Dir = "/root/testdata/sf0.001"

  test("s21 bench override is a fragment of the declared query") {
    // The headline times s21's bench shape — the production sketch
    // rollup alone — while Verify hash-checks the DECLARED query (the
    // rollup joined against exact ballast). This pins the containment:
    // re-deriving the declared output from the OVERRIDE's rows plus
    // the ballast side reproduces the declared result row-for-row, so
    // the timed plan can never silently drift away from the verified
    // one.
    val hopUs = 900L * 1000 * 1000
    val hops = 4
    val overridden = SparkEntry.specs
      .find(_.name == "s21_sliding_distinct").get.bench.get(spark, Dir)
    val e = Tables.eventsUs(spark, Dir)
    val exact = e
      .select(explode(sequence(
        expr(s"us div $hopUs") - (hops - 1),
        expr(s"us div $hopUs"))).as("win"),
        col("user_id"))
      .groupBy("win").agg(countDistinct(col("user_id")).as("exact_users"))
    val rebuilt = exact
      .join(overridden.withColumnRenamed("w_start", "ws"),
        col("win") * hopUs === col("ws"))
      .select((col("win") * hopUs).as("w_start"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <=
          col("exact_users") * 0.10).as("within_rel_err"))
      .orderBy("w_start")
    val declared =
      SparkEntry.queries("s21_sliding_distinct")(spark, Dir)
    assert(rebuilt.collect().toSeq == declared.collect().toSeq)
    Caches.release(spark)
  }

  test("dupClustersAuto driver branch respects the absolute pair cap") {
    // The broadcast threshold is only a per-16-byte-pair PROXY for
    // driver-collect safety; the absolute pair cap must route a graph
    // past it to the distributed branch even when the session
    // threshold would admit it — and the result must be identical
    // either way. The cap is forced down to 10 pairs so a 50-pair
    // chain exercises the fallback.
    import spark.implicits._
    val pairs = (0L until 50L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val viaDriver = graft.operators.Dedup.dupClustersAuto(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.conf.set("graft.dedup.maxDriverPairs", "10")
    val viaCap =
      try graft.operators.Dedup.dupClustersAuto(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset("graft.dedup.maxDriverPairs")
    assert(viaDriver == viaCap && viaCap.values.toSet == Set(0L))
    Caches.release(spark)
  }

  test("segTokens: unspaced Han per-char, café one token, scripts split") {
    import spark.implicits._
    def seg(s: String): Seq[String] =
      Seq(s).toDF("text")
        .select(graft.operators.TextAnalysis.segTokens(col("text")).as("t"))
        .collect().head.getSeq[String](0)
    // the round-9 pin: an UNSPACED Han sentence segments per character
    assert(seg("世界数据引擎") == Seq("世", "界", "数", "据", "引", "擎"))
    // while an accented Latin word stays ONE token
    assert(seg("café") == Seq("café"))
    // mixed unspaced text splits at every script boundary; Kana and
    // Hangul segment as runs, Han per char, punctuation glues to the
    // preceding non-CJK word exactly like the whitespace tokenizer
    assert(seg("abc世界です ハロー한글 café, done") ==
      Seq("abc", "世", "界", "です", "ハロ", "ー", "한글", "café,", "done"))
    // single-space ASCII text: identical to tokens() (minus empties)
    assert(seg("hello, world") == Seq("hello,", "world"))
    // and the engine matches the java.util.regex reference on all four
    val pat = java.util.regex.Pattern
      .compile(graft.operators.TextAnalysis.SegPattern)
    Seq("世界数据引擎", "café", "abc世界です ハロー한글 café, done",
        "hello, world").foreach { s =>
      val m = pat.matcher(s)
      val expected = Iterator.continually(m.find()).takeWhile(identity)
        .map(_ => m.group()).toSeq
      assert(seg(s) == expected, s"sample: $s")
    }
    Caches.release(spark)
  }

  test("winnowing finds shared UNSPACED-CJK passages (per-char grams)") {
    import spark.implicits._
    val (k, w) = (8, 4)
    // a shared unspaced Han run of w+k-1 = 11 chars between two docs
    // whose remainders differ — pre-round-9 this was ONE token per doc
    // (no gram structure at all); per-char segmentation restores the
    // selection guarantee for CJK exactly as for spaced text
    val run = "数据引擎分布式查询优化"   // 11 Han chars, unspaced
    require(run.codePointCount(0, run.length) == k + w - 1)
    val a = "完全不同的前缀内容在这里" + run + "后缀甲乙丙"
    val b = "另一份文档的开头部分" + run + "不同的结尾文字段落"
    val df = Seq((0L, a), (1L, b)).toDF("doc_id", "text")
    val fps = graft.operators.Dedup
      .winnowFingerprints(df, "doc_id", "text", k, w)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.map(_.getLong(1)).toSet }
    assert(fps(0L).intersect(fps(1L)).nonEmpty)
    Caches.release(spark)
  }

  test("t41 zipf fit yields NULL slope on a degenerate corpus") {
    // One distinct token → n = 1 → zero denominator: the guard must
    // emit NULL (the portable no-fit answer) instead of NaN/Infinity.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t41deg").toString
    Seq((1L, "hello hello hello", "en", "t", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = SparkEntry.queries("t41_zipf_fit")(spark, tmp).collect()
    assert(out.length == 1 && out(0).getLong(0) == 1L &&
      out(0).isNullAt(1) && out(0).isNullAt(2))
    Caches.release(spark)
  }
}
