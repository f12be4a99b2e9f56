package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The oracle table is a function of the corpus: its key set is fixed
  * before any query runs, and a dump writes, for exactly the queries
  * it selected, the oracle of the corpus it ran on — never one left
  * over from an earlier dump in the same JVM. */
class OracleTableSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val srcSf = "/root/testdata/sf0.001"

  /** The oracles that inline a model, a pair set or an alphabet
    * derived from the corpus. */
  private val CorpusDerived = Seq(
    "v7_ivf_topk", "v11_pq_topk", "v12_ivfpq_topk", "v21_ivf_recall",
    "v22_pq_recall", "v23_ivfpq_recall", "v24_pca_project",
    "d3_minhash_neardup", "d4_simhash_neardup", "d5_embedding_neardup",
    "d11_semantic_dedup", "t37_bpe_train", "t38_bpe_encode",
    "t42_canonical_key", "d21_benchmark_decontamination",
    "t52_filter_funnel", "t55_data_card", "r1_rag_retrieval",
    "r2_rag_prompt", "r3_hybrid_retrieval")

  private def rm(p: String): Unit = {
    val root = Path.of(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
  }

  test("the oracle table's key set is complete before any query runs") {
    val keys = SparkEntry.oracles.keySet
    val missing = CorpusDerived.filterNot(keys.contains)
    assert(missing.isEmpty, s"corpus-derived oracles missing: $missing")
    val orphans = keys.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracles without a declared query: $orphans")
    // every query is declared once, in one spec
    val names = SparkEntry.specs.map(_.name)
    assert(names.size == 233 && names.distinct.size == 233,
      s"${names.size} specs, ${names.distinct.size} distinct names")
    // the bench headline is 82 distinct declared queries, and every
    // bench-only override replaces one of them
    val headline = SparkEntry.specs.filter(_.headline).map(_.name)
    assert(headline.distinct.size == 82)
    val undeclared = headline.filterNot(SparkEntry.queries.contains)
    assert(undeclared.isEmpty, s"headline names no query declares: $undeclared")
    val strays = SparkEntry.specs.filter(_.bench.isDefined).map(_.name)
      .toSet.diff(headline.toSet)
    assert(strays.isEmpty, s"overrides of no headline query: $strays")
  }

  test("no name-keyed query table is declared outside the registry") {
    val table = """\b(?:val|def)\s+(oracleSql|corpusOracles|sf1ChainPlan|Headline|BenchOverrides)\b""".r
    val found = Files.walk(Paths.get("src/main")).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        table.findAllMatchIn(Files.readString(f)).map(m => s"$f: ${m.group(1)}")
      }
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("a targeted dump writes exactly the selected oracles, for its own corpus") {
    assume(new java.io.File(s"$srcSf/documents.parquet").exists,
      s"no testdata at $srcSf")
    // corpus B: every other document and embedding of corpus A, so
    // B's trained IVF codebook differs from A's
    val b = Files.createTempDirectory("graft_oracle_b").toString
    val outA = Files.createTempDirectory("graft_oracle_outa").toString
    val outB = Files.createTempDirectory("graft_oracle_outb").toString
    val selected = Set("v21_ivf_recall", "t42_canonical_key")
    try {
      Tables.load(spark, srcSf, "documents").filter(col("doc_id") % 2 === 0)
        .coalesce(1).write.parquet(s"$b/documents.parquet")
      Tables.load(spark, srcSf, "embeddings").filter(col("vec_id") % 2 === 0)
        .coalesce(1).write.parquet(s"$b/embeddings.parquet")

      Verify.dump(spark, srcSf, outA, selected)
      Verify.dump(spark, b, outB, selected)

      def dumped(out: String): Map[String, String] =
        new ObjectMapper()
          .readValue(Paths.get(s"$out/oracle_sql.json").toFile,
            classOf[java.util.Map[String, String]])
          .asScala.toMap
      val gotB = dumped(outB)
      assert(gotB.keySet == selected)
      for (name <- selected)
        assert(gotB(name) == SparkEntry.oracles(name)(spark, b).get,
          s"$name: the dumped oracle is not corpus B's")
      assert(dumped(outA)("v21_ivf_recall") != gotB("v21_ivf_recall"),
        "corpora A and B must train different codebooks")
    } finally {
      Seq(b, outA, outB).foreach(rm)
      // B's build-once sidecars are keyed on its temp dir
      val key = graft.store.AnnIndexes.keyOf(b)
      Option(new java.io.File(graft.store.AnnIndexes.root).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.contains(key))
        .foreach(f => rm(f.getPath))
    }
  }

  test("a dump lists the queries that threw; the check fails on each") {
    assume(new java.io.File(s"$srcSf/documents.parquet").exists,
      s"no testdata at $srcSf")
    // a corpus with documents only: t1 runs, a1 (lineitem) throws
    val corpus = Files.createTempDirectory("graft_failed_corpus")
    val out = Files.createTempDirectory("graft_failed_out").toString
    try {
      Files.copy(Paths.get(s"$srcSf/documents.parquet"),
        corpus.resolve("documents.parquet"))
      Verify.dump(spark, corpus.toString, out,
        Set("t1_token_stats", "a1_pricing_summary"))
      val failed = new ObjectMapper()
        .readValue(Paths.get(s"$out/failed.json").toFile,
          classOf[java.util.List[String]]).asScala
      assert(failed == Seq("a1_pricing_summary"))
      assume(scala.util.Try(
        Process(Seq("python3", "-c", "import duckdb")).! == 0)
        .getOrElse(false), "python3+duckdb unavailable")
      val log = new StringBuilder
      val code = Process(Seq("python3", "tools/check_correctness.py",
          srcSf, out))
        .!(ProcessLogger(l => log.append(l).append('\n')))
      assert(code == 1, log)
      assert(log.toString.contains("FAIL a1_pricing_summary"), log)
      assert(log.toString.contains("OK   t1_token_stats"), log)
    } finally Seq(corpus.toString, out).foreach(rm)
  }
}
