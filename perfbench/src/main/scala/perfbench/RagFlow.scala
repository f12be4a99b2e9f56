package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData

import graft.cli.Demo
import graft.rag.Rag

/** The paper's flow. Setup imports a seeded corpus of book-length
  * documents with `Demo.importDocs` and builds the IVF index (the
  * write side: chunker, embedding, catalog writes, index build). The
  * timed loop is the query path, the body of `Demo`'s `generate` mode:
  * one operation = one prompt answered twice, by the exact scan (the
  * paper's pgvector-style sequential scan) and through the IVF index. */
object RagFlow extends Workload {
  import Ingest.Dim
  val TopK = 5
  /** The reference `generate_text.py` defaults. */
  val Threshold = 0.01
  val StoreDocs = 60
  val Prompts = 64
  val WarmupPrompts = 4
  val Modes = Seq("exact", "ivf")

  /** A served request; `hits` is the search result it assembled from,
    * kept so the check can collect what the search returned. */
  final case class Served(prompt: String, mode: String, ms: Double,
      hits: DataFrame, assembled: String, traced: Boolean)

  final class State(val ingest: Ingest.Done, val prompts: IndexedSeq[String],
      val storeRows: Long) {
    val store: String = ingest.batch.store
    val served = mutable.ArrayBuffer.empty[Served]
  }

  def setup(ctx: Ctx): State = {
    val zipf = Ingest.zipf
    val prompts = Inputs.prompts(ctx.seed, Prompts, zipf).toIndexedSeq
    val batch = Ingest.batch(ctx, zipf, StoreDocs)
    ctx.log("corpus written")
    // a traced run traces this import: the write side's layers
    ctx.tracer.recording = ctx.tracer.enabled
    val done =
      try Ingest.ingest(ctx, batch, prompts.last, traced = ctx.tracer.enabled)
      finally ctx.tracer.recording = false
    val rows = ctx.spark.read.parquet(s"${batch.store}/chunks").count()
    ctx.log(f"store imported: $rows chunks in ${done.importS}%.2fs, " +
      f"index built in ${done.buildS}%.2fs")
    val st = new State(done, prompts, rows)
    // warm-up until request latency has settled (JIT, codegen caches)
    (0 until WarmupPrompts).foreach(i =>
      Modes.foreach(m => request(ctx, st, i, m, traced = false)))
    st.served.clear()
    ctx.log("warm-up done")
    st
  }

  def op(ctx: Ctx, st: State, i: Int, traced: Boolean): Double =
    Modes.map(m => request(ctx, st, i, m, traced)).sum

  /** One request, prompt to generated text; returns its milliseconds. */
  private def request(ctx: Ctx, st: State, i: Int, mode: String,
      traced: Boolean): Double = {
    val spark = ctx.spark
    val t = ctx.tracer
    val prompt = st.prompts(i % st.prompts.size)
    val t0 = System.nanoTime()
    val (withText, assembled) = t.span(s"serve.$mode", request = i) {
      if (traced) t.span("rag.embed_query")(Rag.embedQuery(prompt, Dim))
      val hits = {
        val h = t.span("store.open") {
          Demo.search(spark, st.store, prompt, TopK, Threshold, Dim, mode)
        }
        // the traced run caches hits so the search's work is its own span
        if (traced) t.span(s"search.$mode") { h.cache(); h.count(); h } else h
      }
      val (withText, text) = t.span("rag.assemble") {
        val w =
          if (hits.columns.contains("chunk_text")) hits
          else hits.join(spark.read.parquet(st.store + "/chunks"), Seq("id"), "left")
        (w, Rag.aggregateChunkText(w))
      }
      val assembled = t.span("rag.prompt")(Rag.contextualizedPrompt(prompt, text))
      t.span("rag.generate")(Rag.StubGenerator.generate(assembled, 5000, 0.8))
      if (traced) hits.unpersist()
      (withText, assembled)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    st.served += Served(prompt, mode, ms, withText, assembled, traced)
    ms
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Plain-Scala cosine in the kernel's accumulation order. */
  private def cosine(q: Array[Double], e: Array[Float]): Double = {
    var dot = 0.0; var nq = 0.0; var ne = 0.0; var i = 0
    while (i < q.length) {
      val x = q(i); val y = e(i).toDouble
      dot += x * y; nq += x * x; ne += y * y; i += 1
    }
    if (nq == 0.0 || ne == 0.0) 0.0 else dot / (math.sqrt(nq) * math.sqrt(ne))
  }

  /** Brute-force exact top-k over the collected store: 6-dp rounded
    * cosine, threshold, then (similarity desc, id asc). */
  private def bruteTopK(store: Seq[(Long, Array[Float])], q: Array[Double])
      : Seq[(Long, Double)] =
    store.map { case (id, e) => (id, round6(cosine(q, e))) }
      .filter(_._2 >= Threshold)
      .sortBy { case (id, s) => (-s, id) }
      .take(TopK)

  /** The served ranking, recovered from the assembled prompt: the store
    * chunks whose text it contains, in the order the texts appear. */
  private def servedRanking(assembled: String, store: Seq[Chunk]): Seq[Chunk] =
    store.map(c => (assembled.indexOf(c.text), c)).filter(_._1 >= 0)
      .sortBy(_._1).map(_._2)

  final case class Chunk(id: Long, embedding: Array[Float], text: String)

  /** Checks every served request. An exact request's ranking,
    * recovered from its assembled prompt, must equal the brute-force
    * top-k. An ivf request's search result is collected again (outside
    * the timed loop): each hit's similarity must be its 6-dp exact
    * cosine, each hit's text must be in the prompt, the hits must be the
    * prompt's ranking (at most k, at or above the threshold, in
    * exact-cosine order), and the result may be empty only when the
    * brute-force top-k is empty too. */
  def check(ctx: Ctx, st: State): Unit = {
    Ingest.check(ctx, st.ingest)
    val store = ctx.spark.read.parquet(s"${st.store}/chunks")
      .select("id", "embedding", "chunk_text").collect()
      .map(r => Chunk(r.getLong(0), r.getSeq[Float](1).toArray, r.getString(2)))
      .toSeq
    ctx.check(store.map(_.text).distinct.size == store.size,
      "store chunk texts are not unique; served rankings cannot be recovered")
    val byId = store.map(c => c.id -> c).toMap
    val recalls = mutable.ArrayBuffer.empty[Double]
    st.served.foreach { r =>
      val q = Rag.embedQuery(r.prompt, Dim)
      val want = bruteTopK(store.map(c => (c.id, c.embedding)), q)
      val got = servedRanking(r.assembled, store)
        .map(c => (c.id, round6(cosine(q, c.embedding))))
      if (r.mode == "exact")
        ctx.check(got == want, s"exact top-$TopK for '${r.prompt}': $got != $want")
      else {
        val hits = r.hits.select("id", "similarity", "chunk_text").collect()
          .map(h => (h.getLong(0), h.getDouble(1), h.getString(2))).toSeq
          .sortBy { case (id, s, _) => (-s, id) }
        val wrong = hits.filterNot { case (id, s, _) =>
          byId.get(id).exists(c => round6(cosine(q, c.embedding)) == s) }
        ctx.check(wrong.isEmpty,
          s"ivf hits for '${r.prompt}' whose similarity is not the exact cosine: $wrong")
        ctx.check(hits.forall { case (_, _, text) =>
            text != null && r.assembled.contains(text) },
          s"ivf prompt for '${r.prompt}' lacks a hit's text")
        ctx.check(hits.map(h => (h._1, h._2)) == got,
          s"ivf hits for '${r.prompt}' are not the prompt's ranking: $hits vs $got")
        ctx.check(got.size <= TopK && got.forall(_._2 >= Threshold) &&
            got == got.sortBy { case (id, s) => (-s, id) },
          s"ivf ranking for '${r.prompt}' is not in exact-cosine order: $got")
        ctx.check(hits.nonEmpty || want.isEmpty,
          s"ivf returned no hits for '${r.prompt}'; exact top-$TopK is $want")
        if (want.nonEmpty)
          recalls += got.map(_._1).toSet.intersect(want.map(_._1).toSet).size /
            want.size.toDouble
      }
    }
    ctx.summary("ivf_recall_at_5") =
      (if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.size, "ratio")
  }

  def report(ctx: Ctx, st: State, untraced: Seq[Double]): Unit = {
    Ingest.report(ctx, st.ingest)
    val reqs = st.served.filterNot(_.traced).toSeq
    for (m <- Modes) {
      val ms = reqs.filter(_.mode == m).map(_.ms)
      ctx.summary(s"serve_${m}_p50_ms") = (Stats.quantile(ms, 0.5), "ms")
      ctx.summary(s"serve_${m}_p90_ms") = (Stats.quantile(ms, 0.9), "ms")
    }
    ctx.summary("serve_rps") = (reqs.size / (reqs.map(_.ms).sum / 1e3), "requests/s")
  }

  val layerNames: Seq[(String, String)] = Seq(
    "store.open.ms" -> "ms", "search.exact.ms" -> "ms", "search.ivf.ms" -> "ms",
    "search.records_read" -> "count", "search.bytes_read" -> "bytes",
    "ivf.scan_fraction" -> "ratio", "rag.embed_query.ms" -> "ms",
    "rag.assemble.ms" -> "ms", "rag.prompt.ms" -> "ms", "rag.generate.ms" -> "ms",
    "kernel.cosine_ns" -> "ns", "kernel.loop_ns" -> "ns")

  def layers(ctx: Ctx, st: State): Unit = {
    Ingest.layers(ctx, st.ingest)
    val t = ctx.tracer
    def meanMs(name: String) = {
      val s = t.named(name)
      (if (s.isEmpty) 0.0 else s.map(_.ns).sum / 1e6 / s.size, "ms")
    }
    Seq("store.open", "search.exact", "search.ivf", "rag.embed_query",
      "rag.assemble", "rag.prompt", "rag.generate")
      .foreach(n => ctx.layer(s"$n.ms") = meanMs(n))
    val exact = t.countsOf("search.exact")
    val nExact = math.max(1, t.named("search.exact").size).toDouble
    ctx.layer("search.records_read") = (exact.recordsRead / nExact, "count")
    ctx.layer("search.bytes_read") = (exact.bytesRead / nExact, "bytes")
    val nIvf = math.max(1, t.named("search.ivf").size).toDouble
    ctx.layer("ivf.scan_fraction") =
      (t.countsOf("search.ivf").recordsRead / nIvf / st.storeRows, "ratio")
    val (cosNs, loopNs) = kernelProbe(ctx.seed)
    ctx.layer("kernel.cosine_ns") = (cosNs, "ns")
    ctx.layer("kernel.loop_ns") = (loopNs, "ns")
  }

  /** Nanoseconds per 1,536-dim float cosine: the library's scalar kernel
    * over `ArrayData`, and a plain Scala loop over the same arrays.
    * Median of five timed batches after a warm-up batch. */
  def kernelProbe(seed: Long): (Double, Double) = {
    val r = new java.util.Random(seed)
    val a = Array.fill(Dim)(r.nextGaussian().toFloat)
    val b = Array.fill(Dim)(r.nextGaussian().toFloat)
    val ua = UnsafeArrayData.fromPrimitiveArray(a)
    val ub = UnsafeArrayData.fromPrimitiveArray(b)
    def loop(x: Array[Float], y: Array[Float]): Double = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        val p = x(i).toDouble; val q = y(i).toDouble
        dot += p * q; nx += p * p; ny += q * q; i += 1
      }
      if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
    }
    val calls = 20000
    var sink = 0.0
    def nsPerCall(f: => Double): Double = {
      val runs = (0 until 6).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < calls) { sink += f; i += 1 }
        (System.nanoTime() - t0).toDouble / calls
      }
      Stats.median(runs.tail)
    }
    val cos = nsPerCall(graft.functions.KernelProbe.cosine(ua, ub))
    val plain = nsPerCall(loop(a, b))
    if (sink == 42.0) println(sink) // keep the results live
    (cos, plain)
  }
}
