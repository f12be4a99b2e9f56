package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.store.AnnIndexes

/** Every build-once sidecar is named by `AnnIndexes.key`: it carries the
  * key of the corpus it was built from, so temp-corpus sidecars are
  * found by `gcTempKeyed` and by per-corpus cleanups, and two corpora
  * never share one. */
class SidecarKeySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val srcSf = "/root/testdata/sf0.001"

  /** One query per sidecar recipe, with the recipe's dir prefix. */
  private val Builders = Seq(
    "v6_lsh_topk" -> "lsh_", "v7_ivf_topk" -> "ivf_",
    "v11_pq_topk" -> "pq_", "v12_ivfpq_topk" -> "ivfpq_",
    "t38_bpe_encode" -> "bpe2_", "p8_schema_evolution" -> "p8v2_",
    "d14_bloom_state" -> "bloomstate_", "d3_minhash_neardup" -> "mh2_",
    "d11_semantic_dedup" -> "semcb_", "m10_audio_dedup" -> "wav5_",
    "m17_scene_cuts" -> "scenevid1_", "m19_silence_segments" -> "speechwav1_",
    "m7_audio_decode" -> "wav1_")

  private def rootEntries: Set[String] =
    Option(new java.io.File(AnnIndexes.root).list()).map(_.toSet)
      .getOrElse(Set.empty)

  private def rm(p: String): Unit = {
    val root = Path.of(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(f => Files.deleteIfExists(f))
  }

  test("every sidecar a temp corpus builds carries the corpus key") {
    assume(new java.io.File(s"$srcSf/documents.parquet").exists,
      s"no testdata at $srcSf")
    // rewritten by Spark: new file names, so the tables' fingerprints
    // differ from the source corpus's and every sidecar is built fresh
    val tmp = Files.createTempDirectory("graft_sidecar_key").toString
    val before = rootEntries
    try {
      for (t <- Seq("documents", "embeddings"))
        Tables.load(spark, srcSf, t).coalesce(1)
          .write.parquet(s"$tmp/$t.parquet")
      for ((name, _) <- Builders) {
        SparkEntry.queries(name)(spark, tmp).collect()
        Caches.release(spark)
      }
      val built = rootEntries -- before
      val key = AnnIndexes.keyOf(tmp)
      for ((name, prefix) <- Builders)
        assert(built.exists(_.startsWith(prefix)),
          s"$name built no $prefix sidecar: $built")
      val unkeyed = built.filterNot(_.contains(key))
      assert(unkeyed.isEmpty, s"sidecars without the corpus key: $unkeyed")
    } finally {
      rm(tmp)
      (rootEntries -- before).foreach(n => rm(s"${AnnIndexes.root}/$n"))
    }
  }

  test("sidecar paths and model memos live only in the store") {
    val src = Paths.get("src/main/scala")
    val files = Files.walk(src).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    def rel(f: Path) = src.relativize(f).toString
    // the one scratch dir no corpus keys (RelationalQueries.freshStore)
    val allowed = Set(("graft/operators/RelationalQueries.scala",
      "s\"${graft.store.AnnIndexes.root}/upsert_$name\""))
    val rootPath = """AnnIndexes\.root(\}/|\s*\+)""".r
    val handBuilt = for {
      f <- files if !rel(f).startsWith("graft/store/")
      line <- Files.readAllLines(f).asScala
      if rootPath.findFirstIn(line).nonEmpty &&
        !allowed.exists { case (file, frag) =>
          rel(f) == file && line.contains(frag) }
    } yield s"${rel(f)}: ${line.trim}"
    assert(handBuilt.isEmpty,
      s"sidecar paths built outside AnnIndexes.key:\n${handBuilt.mkString("\n")}")
    val caches = for {
      f <- files
      if Seq("graft/operators/", "graft/rag/").exists(rel(f).startsWith)
      line <- Files.readAllLines(f).asScala if line.contains("TrieMap")
    } yield s"${rel(f)}: ${line.trim}"
    assert(caches.isEmpty,
      s"module-level caches outside AnnIndexes:\n${caches.mkString("\n")}")
  }

  test("every media codec step in Multimodal has exactly one site") {
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/multimodal/Multimodal.scala")), "UTF-8")
    val steps = Seq("ImageIO.read", "ImageIO.write", "ZipInputStream(",
      "ZipOutputStream(", "AudioSystem.write", "* 299",
      "repartition(spark.sparkContext.defaultParallelism)")
    val counts = steps.map(p =>
      p -> java.util.regex.Pattern.quote(p).r.findAllMatchIn(src).size)
    val copies = counts.filter(_._2 != 1)
    assert(copies.isEmpty, s"codec steps not at exactly one site: $copies")
  }
}
