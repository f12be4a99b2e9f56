package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-10 specs: shared-passage pair decisions (d18), the int64
  * md5-slice hash key, and related hardening. */
class Round10OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val Dir = "/root/testdata/sf0.001"

  test("d18 extends the winnowing guarantee to PAIR decisions") {
    import spark.implicits._
    val (k, w) = (8, 4)
    // the d17 guarantee, lifted one level: docs sharing a run of
    // ≥ w+k-1 tokens must surface as an (a_id, b_id) pair with
    // shared_fps ≥ 1 — both for spaced text and an unspaced Han run
    val hanRun = "数据引擎分布式查询优化" // 11 Han chars, unspaced
    val enRun = (1 to (k + w - 1)).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (0L, "完全不同的前缀内容在这里" + hanRun + "后缀甲乙丙"),
      (1L, "另一份文档的开头部分" + hanRun + "不同的结尾文字段落"),
      (2L, "left padding words here " + enRun + " and a distinct tail"),
      (3L, "other unrelated prefix " + enRun + " different ending words"),
      (4L, "a lone document sharing nothing with anybody at all")
    ).toDF("doc_id", "text")
    val rows = graft.operators.Dedup
      .sharedPassagePairs(df, "doc_id", "text", k, w, minShared = 1L)
      .collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "unspaced-Han pair missed")
    assert(pairs.contains((2L, 3L)), "spaced-English pair missed")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "no-overlap doc must not pair")
    // containment ∈ (0, 1] by construction (shared ≤ min(nfp))
    rows.foreach { r =>
      val c = r.getDouble(3)
      assert(c > 0.0 && c <= 1.0, s"containment out of range: $c")
    }
    Caches.release(spark)
  }

  test("d18 boilerplate cap drops >maxDocsPerFp fingerprints") {
    import spark.implicits._
    val (k, w) = (4, 2)
    // docs 0–4 are IDENTICAL (every fp has ndocs = 5 — boilerplate
    // above the cap of 3); docs 5–6 share a run between just the two
    // of them (ndocs = 2 — legitimate pair evidence under the cap)
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ")
    val run = (1 to (k + w - 1)).map(i => s"r$i").mkString(" ")
    val df = ((0 until 5).map(i => (i.toLong, boiler)) ++ Seq(
      (5L, s"five prefix words before the run $run and tail five"),
      (6L, s"six has another beginning here $run then ending six")))
      .toDF("doc_id", "text")
    val capped = graft.operators.Dedup
      .sharedPassagePairs(df, "doc_id", "text", k, w,
        minShared = 1L, maxDocsPerFp = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = graft.operators.Dedup
      .sharedPassagePairs(df, "doc_id", "text", k, w,
        minShared = 1L, maxDocsPerFp = 64L)
      .count()
    assert(capped == Set((5L, 6L)),
      s"cap must prune the 5-doc boilerplate fps, keep (5,6): $capped")
    assert(uncapped >= 11L, "uncapped run must emit all C(5,2)+1 pairs")
    Caches.release(spark)
  }

  test("md5Long matches the oracle's 15-hex-digit reparse semantics") {
    import spark.implicits._
    // golden value computed independently (DuckDB 1.0.0 strpos fold
    // and BigInt reparse agree): md5('hello') = 5d41402abc4b2a76… →
    // first 15 hex digits 0x5d41402abc4b2a7 = 419982666956583591
    val got = Seq("hello").toDF("s")
      .select(graft.operators.Dedup.md5Long(col("s"))).as[Long].head()
    assert(got == 419982666956583591L)
    // property: non-negative (60 bits) and equal to the BigInt parse
    // of the md5 prefix, for samples including unicode
    val samples = Seq("", "a", "café", "数据引擎", "tok1 tok2 tok3")
    val vals = samples.toDF("s")
      .select(col("s"), graft.operators.Dedup.md5Long(col("s")).as("h"))
      .collect()
    vals.foreach { r =>
      val s = r.getString(0)
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expect = BigInt(md5hex.take(15), 16).toLong
      assert(r.getLong(1) == expect && r.getLong(1) >= 0L,
        s"mismatch on '$s'")
    }
    Caches.release(spark)
  }
}
