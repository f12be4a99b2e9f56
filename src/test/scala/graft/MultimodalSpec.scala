package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** The generators' pixel formula and its integer luminance. */
  private def fillLuma(seed: Long, x: Int, y: Int): Long = {
    val v = (seed + x * 97L + y * 31L) & 0xffffffL
    (((v >> 16) & 0xff) * 299 + ((v >> 8) & 0xff) * 587 + (v & 0xff) * 114) / 1000
  }

  private lazy val assets = Multimodal.syntheticAssets(
    Tables.load(spark, "/root/testdata/sf0.001", "documents"), "doc_id", "text")

  test("asset table has the declared schema") {
    assert(assets.schema("content").dataType ==
      org.apache.spark.sql.types.BinaryType)
    assert(assets.select("meta.media_type").distinct().count() == 3)
  }

  test("feature extraction: schema, determinism, batch independence") {
    val f1 = Multimodal.extractFeatures(assets, featureDim = 8, batchSize = 32)
    val f2 = Multimodal.extractFeatures(assets.repartition(7),
      featureDim = 8, batchSize = 3)
    assert(f1.schema == Multimodal.FeatureSchema)
    val m1 = f1.collect().map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    val m2 = f2.collect().map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    // results must not depend on partitioning or batch boundaries
    assert(m1 == m2)
    assert(m1.values.forall(_.length == 8))
    // n_bytes matches the utf-8 content length
    val nb = f1.select("asset_id", "n_bytes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = assets.select(col("asset_id"), length(col("content")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nb == want)
  }

  test("frame sampling explodes only video assets with ordinals") {
    val frames = Multimodal.sampleFrames(assets, everyNth = 50)
    val perAsset = frames.groupBy("asset_id").count()
    val videoIds = assets.filter(col("meta.media_type") === "video")
      .select("asset_id").collect().map(_.getLong(0)).toSet
    assert(perAsset.collect().map(_.getLong(0)).toSet == videoIds)
    val one = frames.filter(col("asset_id") === videoIds.head)
      .orderBy("frame_number").collect()
    assert(one.map(_.getInt(1)).toSeq == (0 until one.length))
    assert(one.map(_.getInt(2)).toSeq == (0 until one.length).map(_ * 50))
  }

  test("audio windows tile each asset's bytes exactly, last window partial") {
    val win = 25
    val got = Multimodal.audioWindows(assets, windowBytes = win)
      .groupBy("asset_id")
      .agg(sum("window_len").as("covered"),
        count(lit(1)).as("n_win"),
        max("start_byte").as("last_start"))
    val sizes = assets.filter(col("meta.media_type") === "audio")
      .select(col("asset_id"), length(col("content")).as("n"))
    val joined = got.join(sizes, "asset_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (covered, nWin, lastStart, n) =
        (r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4))
      assert(covered == n, s"windows must cover all $n bytes, got $covered")
      assert(nWin == (n + win - 1) / win)
      assert(lastStart == (nWin - 1) * win)
    }
  }

  test("byte-budget repartitioning sizes partitions by content bytes") {
    val re = Multimodal.repartitionByBytes(assets, targetBytesPerPartition = 4096)
    assert(re.rdd.getNumPartitions >= 2,
      s"expected multiple partitions, got ${re.rdd.getNumPartitions}")
    assert(re.count() == assets.count())
  }

  test("real PNG decode: ImageIO roundtrip recovers dims; histogram normalized") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(50)
    val png = Multimodal.syntheticPngAssets(docs, "doc_id")
    val got = Multimodal.decodeImages(png, featureDim = 16).collect()
    assert(got.length == 50)
    got.foreach { r =>
      val id = r.getLong(0)
      assert(r.getBoolean(5), s"asset $id not decoded by the real codec")
      assert(r.getInt(3) == 1 + (id % 16).toInt, s"asset $id width")
      assert(r.getInt(4) == 1 + (id % 8).toInt, s"asset $id height")
      val feat = r.getSeq[Float](6)
      assert(feat.length == 16)
      // luminance histogram: non-negative bins summing to ~1
      assert(feat.forall(_ >= 0f))
      assert(math.abs(feat.map(_.toDouble).sum - 1.0) < 1e-4,
        s"asset $id histogram sum ${feat.sum}")
    }
    // determinism: a second decode produces bit-identical features
    val again = Multimodal.decodeImages(png, featureDim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](6)).toMap
    got.foreach(r => assert(again(r.getLong(0)) == r.getSeq[Float](6)))
    // the scaled-PNG builder: even id = 16 × 2·h0 master, odd id its
    // 8 × h0 stride-2 export; dims and every pixel (through the luma
    // sum of a resize whose box holds the whole image) round-trip
    val scaled = Multimodal.resizeImages(
      Multimodal.syntheticScaledPngAssets(docs, "doc_id"), maxDim = 16).collect()
    assert(scaled.length == 50)
    scaled.foreach { r =>
      val id = r.getLong(0)
      val g = id - id % 2
      val h0 = (1 + (g / 2) % 4).toInt
      val (w, h, st) = if (id % 2 == 0) (16, 2 * h0, 1) else (8, h0, 2)
      val luma = (for (y <- 0 until h; x <- 0 until w)
        yield fillLuma(g * 2654435761L, x * st, y * st)).sum
      assert((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)) ==
        ((w, h, w, h, luma)), s"scaled asset $id")
    }
  }

  test("non-decodable and non-image assets fall back to the stub, null dims") {
    // utf-8 text bytes labeled "image" → ImageIO returns null → stub;
    // audio/video types never touch the codec
    val got = Multimodal.decodeImages(assets, featureDim = 16).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(!r.getBoolean(5), s"asset ${r.getLong(0)} claimed decoded")
      assert(r.isNullAt(3) && r.isNullAt(4))
      assert(r.getSeq[Float](6).length == 16)
    }
    // the stub fallback equals the plain stub kernel's feature
    val stub = Multimodal.extractFeatures(assets, featureDim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    got.foreach(r => assert(stub(r.getLong(0)) == r.getSeq[Float](6)))
  }

  test("zip video containers: full sample round-trips the pixel formula; everyNth skips") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id").filter(col("doc_id") < 40)
    val vids = Multimodal.syntheticVideoAssets(docs, "doc_id")
    // everyNth = 1: every frame decoded; counts and stats match the
    // generator arithmetic exactly
    val all = Multimodal.sampleZipFrames(vids, everyNth = 1).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5))).toMap
    (0L until 40L).foreach { id =>
      val (w, h, n) = (1 + (id % 16).toInt, 1 + (id % 8).toInt, 2 + (id % 7).toInt)
      (0 until n).foreach { j =>
        val expectLuma = (for (y <- 0 until h; x <- 0 until w)
          yield fillLuma(id * 2654435761L + j * 1013904223L, x, y)).sum
        assert(all((id, j)) == (w, h, expectLuma, w * h), s"id=$id j=$j")
      }
    }
    // everyNth = 3: exactly the j % 3 == 0 frames appear
    val sampled = Multimodal.sampleZipFrames(vids, everyNth = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sampled == all.keySet.filter(_._2 % 3 == 0))
    // the scene-video builder: n = 4 + id % 9 frames whose fill is keyed
    // on the scene j / (1 + id % 3), not on the frame
    val scenes = Multimodal.sampleZipFrames(
        Multimodal.syntheticSceneVideoAssets(docs, "doc_id"), everyNth = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5))).toMap
    assert(scenes.size == (0 until 40).map(4 + _ % 9).sum)
    (0L until 40L).foreach { id =>
      val (w, h, n) = (1 + (id % 16).toInt, 1 + (id % 8).toInt, 4 + (id % 9).toInt)
      (0 until n).foreach { j =>
        val scene = j / (1 + (id % 3).toInt)
        val expectLuma = (for (y <- 0 until h; x <- 0 until w)
          yield fillLuma(id * 2654435761L + scene * 69069L, x, y)).sum
        assert(scenes((id, j)) == (w, h, expectLuma, w * h), s"scene id=$id j=$j")
      }
    }
  }

  test("m7 WAV decode: real header parse round-trips the sample formula") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id").filter(col("doc_id") < 40)
    val wavs = Multimodal.syntheticWavAssets(docs, "doc_id")
    // the encoder produced REAL RIFF containers
    val head = wavs.select("content").head().getAs[Array[Byte]](0)
    assert(new String(head.take(4), "US-ASCII") == "RIFF" &&
      new String(head.slice(8, 12), "US-ASCII") == "WAVE")
    val got = Multimodal.decodeWavWindows(wavs, windowSamples = 32).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5))).toMap
    (0L until 40L).foreach { id =>
      val n = 64 + (id % 64).toInt
      val samples = (0 until n).map(k =>
        ((id * 2654435761L + k * 1013904223L) % 20001L - 10000L).toInt)
      val wins = samples.grouped(32).toSeq
      assert(got.keySet.count(_._1 == id) == wins.length, s"id=$id")
      wins.zipWithIndex.foreach { case (w, j) =>
        assert(got((id, j)) ==
          (w.length, w.map(_.toLong).sum, w.min, w.max), s"id=$id w=$j")
      }
    }
    // the speech-WAV builder: n = 256 + id % 128 samples, every third
    // 32-sample window digital silence
    val speech = Multimodal.decodeWavWindows(
        Multimodal.syntheticSpeechWavAssets(docs, "doc_id"), windowSamples = 32)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5))).toMap
    (0L until 40L).foreach { id =>
      val samples = (0 until 256 + (id % 128).toInt).map(k =>
        if ((k / 32) % 3 == 2) 0
        else ((id * 2654435761L + k * 1013904223L) % 20001L - 10000L).toInt)
      val wins = samples.grouped(32).toSeq
      assert(speech.keySet.count(_._1 == id) == wins.length, s"speech id=$id")
      wins.zipWithIndex.foreach { case (w, j) =>
        assert(speech((id, j)) ==
          (w.length, w.map(_.toLong).sum, w.min, w.max), s"speech id=$id w=$j")
      }
    }
    // decode is REAL: corrupted bytes (no RIFF header) yield no rows,
    // never stub values
    val broken = wavs.withColumn("content",
      expr("substring(content, 9, 64)"))
    assert(Multimodal.decodeWavWindows(broken, 32).count() == 0L)
  }

  test("m8 plan pin: banded candidate join is an equi-join, never a " +
    "cartesian product") {
    val hashes = spark.range(0, 64).select(
      col("id").as("asset_id"),
      (col("id") % 16).cast("int").as("h0"),
      (col("id") % 8).cast("int").as("h1"),
      (col("id") % 4).cast("int").as("h2"),
      (col("id") % 2).cast("int").as("h3"))
    val p = Multimodal.phashNearDupPairs(hashes, maxDist = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      p.take(2000))
    Caches.release(spark)
  }

  test("m8 phashNearDupPairs: pigeonhole candidates + exact Hamming verify") {
    // hand-built hash rows: distances 1 and 3 survive, 4 is a
    // candidate (two chunks equal) but fails verification, the
    // all-ones row shares no chunk and never becomes a candidate,
    // and a null (non-image) row is filtered out
    val hashes = spark.createDataFrame(Seq(
      (1L, Some(0), Some(0), Some(0), Some(0)),
      (2L, Some(1), Some(0), Some(0), Some(0)),
      (3L, Some(3), Some(5), Some(0), Some(0)),
      (4L, Some(0xFFFF), Some(0xFFFF), Some(0xFFFF), Some(0xFFFF)),
      (5L, Option.empty[Int], None, None, None)))
      .toDF("asset_id", "h0", "h1", "h2", "h3")
    val got = Multimodal.phashNearDupPairs(hashes, maxDist = 3)
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // (1,3) has xor bits 2+2 = 4 > 3: candidate killed by the verify
    assert(got == Seq((1L, 2L, 1), (2L, 3L, 3)))
    // maxDist = 0 keeps only exact hash duplicates
    val exact = Multimodal.phashNearDupPairs(
      hashes.union(hashes.filter(col("asset_id") === 1)
        .withColumn("asset_id", lit(9L))), maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(exact == Seq((1L, 9L, 0)))
    // blocking over 4 chunks is unsound past Hamming 3: rejected
    intercept[IllegalArgumentException] {
      Multimodal.phashNearDupPairs(hashes, maxDist = 4)
    }
    Caches.release(spark)
  }
}
