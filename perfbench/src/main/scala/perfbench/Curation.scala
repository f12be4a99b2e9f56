package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.{Caches, SparkEntry}

/** The engine's training-data side: passes over a fixed list of
  * declared curation queries, in a seed-permuted order, on fixed
  * generated tables. Between queries the session's caches are released,
  * as `graft.Bench` does. One operation = one query; a run times whole
  * passes only. Every result's order-independent fingerprint must match
  * the one recorded for these tables. */
object Curation extends Workload {
  val Queries: Seq[String] = Seq(
    "t36_nb_langid", "g1_part_pagerank", "d11_semantic_dedup",
    "r3_hybrid_retrieval")

  override def round: Int = Queries.size

  final class State(val dir: String, val expected: Map[String, String]) {
    val results = mutable.ArrayBuffer.empty[(String, String)]
  }

  /** Query `i` of the run: pass i / n visits the list in its own
    * seed-permuted order. */
  def queryOf(seed: Long, i: Int): String = {
    val pass = i / Queries.size
    val order = new scala.util.Random(seed * 7919L + pass).shuffle(Queries)
    order(i % Queries.size)
  }

  def setup(ctx: Ctx): State = {
    val dir = ctx.dir("curation/tables")
    ctx.log("writing tables")
    Inputs.writeCurationTables(ctx.spark, dir, docs = 1000, vectors = 1000,
      orders = 2000, parts = 400)
    val st = new State(dir, ctx.opts.get("fingerprints")
      .map(Fingerprints.read).getOrElse(Map.empty))
    // warm-up pass: JIT, codegen and the queries' build-once sidecars
    Queries.foreach(q => run(ctx, st, q, traced = false))
    ctx.inputs("documents") = 1000
    ctx.inputs("vectors") = 1000
    ctx.inputs("queries") = Queries.size
    st
  }

  def op(ctx: Ctx, st: State, i: Int, traced: Boolean): Double =
    run(ctx, st, queryOf(ctx.seed, i), traced)

  private def run(ctx: Ctx, st: State, q: String, traced: Boolean): Double = {
    Caches.release(ctx.spark)
    ctx.spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val rows = ctx.tracer.span(s"curation.$q") {
      SparkEntry.queries(q)(ctx.spark, st.dir).collect()
    }
    val ms = (System.nanoTime() - t0) / 1e6
    ctx.log(f"$q%-24s $ms%9.1f ms")
    st.results += q -> Fingerprints.of(rows)
    ms
  }

  def check(ctx: Ctx, st: State): Unit = {
    st.results.foreach { case (q, fp) =>
      st.expected.get(q) match {
        case Some(want) => ctx.check(fp == want, s"$q fingerprint $fp, expected $want")
        case None => ctx.check(ok = false, s"$q has no recorded fingerprint ($fp)")
      }
    }
    ctx.opts.get("record-fingerprints").foreach { path =>
      Fingerprints.write(path, st.results.toMap)
    }
  }

  def report(ctx: Ctx, st: State, untraced: Seq[Double]): Unit = {
    val n = untraced.size / Queries.size
    ctx.summary("curation_s") = (untraced.sum / 1e3 / math.max(1, n), "s")
  }

  val layerNames: Seq[(String, String)] = Queries.flatMap { q =>
    Seq(s"curation.$q.s" -> "s", s"curation.$q.stages" -> "count",
      s"curation.$q.task_s" -> "s", s"curation.$q.shuffle_bytes" -> "bytes",
      s"curation.$q.spill_bytes" -> "bytes")
  }

  def layers(ctx: Ctx, st: State): Unit = {
    val t = ctx.tracer
    Queries.foreach { q =>
      val name = s"curation.$q"
      val n = math.max(1, t.named(name).size).toDouble
      val c = t.countsOf(name)
      ctx.layer(s"$name.s") = (t.seconds(name) / n, "s")
      ctx.layer(s"$name.stages") = (c.stages / n, "count")
      ctx.layer(s"$name.task_s") = (c.taskNs / 1e9 / n, "s")
      ctx.layer(s"$name.shuffle_bytes") = (c.shuffleBytes / n, "bytes")
      ctx.layer(s"$name.spill_bytes") = (c.spillBytes / n, "bytes")
    }
    // r3 embeds the documents table: its vocabulary against the memo
    ctx.layer("embedding.distinct_words") = (ctx.spark.read
      .parquet(s"${st.dir}/documents.parquet").select("text").collect()
      .flatMap(r => graft.functions.Embedding.words(r.getString(0)))
      .distinct.length.toDouble, "count")
  }
}

/** Order-independent result fingerprints: row count plus the sum of
  * per-row hashes, with floating-point values at 6 significant digits
  * so the last-ulp differences of reordered sums do not count. */
object Fingerprints {
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => "%.6g".format(d)
    case f: Float => "%.6g".format(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    val sum = rows.foldLeft(0L)((acc, r) =>
      acc + scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong)
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  def read(path: String): Map[String, String] =
    if (!new java.io.File(path).isFile) Map.empty
    else scala.io.Source.fromFile(path).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(q, fp) = l.split("\\s+"); q -> fp }.toMap

  def write(path: String, fps: Map[String, String]): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      fps.toSeq.sorted.map { case (q, fp) => s"$q $fp" }
        .mkString("", "\n", "\n").getBytes("UTF-8"))
}
