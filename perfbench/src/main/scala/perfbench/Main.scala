package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs, plus the run's outcome so far. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val nproc: Int, val tracer: Tracer,
    val opts: Map[String, String]) {
  val failures = mutable.ArrayBuffer.empty[String]
  /** Checks that ran; each failing one also adds to `failures`. */
  var checks = 0L
  /** Figures the workload reports by name beside the generic metrics. */
  val summary = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer figures, filled from traced operations. */
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Input sizes and other run facts. */
  val inputs = mutable.LinkedHashMap.empty[String, Double]

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) failures += what
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since the session started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")

  def dir(name: String): String = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    d.toString
  }
}

/** A workload: set up once, then run numbered operations, untraced
  * (for end-to-end numbers) or traced (for per-layer numbers), then
  * check every operation's output outside the timed region. An
  * operation returns its milliseconds; a failed one keeps its place as
  * +∞, ranked above every finite latency. */
trait Workload {
  type State
  /** Operations per round; a run times whole rounds only. */
  def round: Int = 1
  def setup(ctx: Ctx): State
  def op(ctx: Ctx, st: State, i: Int, traced: Boolean): Double
  def check(ctx: Ctx, st: State): Unit
  def report(ctx: Ctx, st: State, untraced: Seq[Double]): Unit
  def layers(ctx: Ctx, st: State): Unit
}

object Main {

  val Workloads: Map[String, Workload] = Map(
    "rag" -> RagFlow, "curation" -> Curation)

  /** The layer metric names every traced run prints, in order, with
    * their units. A layer a workload does not touch reports 0. */
  def layerNames: Seq[(String, String)] =
    Ingest.layerNames ++ RagFlow.layerNames ++ Curation.layerNames ++
      Seq(
        "spark.jobs" -> "count", "spark.stages" -> "count",
        "spark.tasks" -> "count", "spark.task_s" -> "s",
        "spark.gc_s" -> "s", "spark.shuffle_bytes" -> "bytes",
        "spark.spill_bytes" -> "bytes",
        "trace.overhead_ms" -> "ms", "trace.overhead_ratio" -> "ratio")

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val name = a("workload")
    val w = Workloads.getOrElse(name,
      sys.error(s"unknown workload '$name' (${Workloads.keys.mkString("|")})"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val nproc = a("nproc").toInt
    val launchMs = a("launch-ms").toLong
    val work = Paths.get(a("work")).toAbsolutePath
    val loadStart = Provenance.loadAvg1m()

    val spark = graft.Tables.session(s"local[$nproc]", nproc)
    val ctx = new Ctx(spark, work, seed, seconds, nproc,
      new Tracer(spark, trace), a)
    ctx.log(s"session up, ${(System.currentTimeMillis() - launchMs) / 1e3}s after launch")
    val st = w.setup(ctx)
    val setupS = (System.currentTimeMillis() - launchMs) / 1e3
    ctx.log(s"setup done (setup_s $setupS)")

    // a traced run alternates untraced and traced rounds, so the
    // tracing overhead is measured under the same warm-up drift
    val ops = loop(ctx, if (trace) 2 * w.round else w.round) { i =>
      val traced = trace && (i / w.round) % 2 == 1
      ctx.tracer.recording = traced
      try ctx.tracer.span("op")(w.op(ctx, st, i, traced)) -> traced
      finally ctx.tracer.recording = false
    }
    val untraced = ops.filterNot(_.traced).map(_.ms)
    val traced = ops.filter(_.traced).map(_.ms)
    val rssMb = Provenance.peakRssMb()
    ctx.log(s"timed ${untraced.size} + traced ${traced.size} operations")
    w.check(ctx, st)
    ctx.log(s"checked: ${ctx.checks} checks, ${ctx.failures.size} failures")
    // every failed operation or check has added one failure
    val failed = ctx.failures.size
    val attempted = ops.size + ctx.checks
    // CPU per operation, averaged within each round (a curation pass
    // mixes queries of different cost), median over the rounds
    val opCpuMs = Stats.median(ops.filterNot(_.traced).grouped(w.round)
      .map(r => r.map(_.cpuMs).sum / r.size).toSeq)

    w.report(ctx, st, untraced)
    ctx.summary("fail_ratio") = (failed.toDouble / attempted, "ratio")
    ctx.summary("op_p50_ms") = (Stats.median(untraced), "ms")
    ctx.summary("op_p90_ms") = (Stats.quantile(untraced, 0.9), "ms")
    ctx.summary("peak_rss_mb") = (rssMb, "MB")
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(("setup_s", setupS, "s"), ("op_cpu_ms", opCpuMs, "ms"))
      else {
        ctx.tracer.drain()
        w.layers(ctx, st)
        sparkLayers(ctx, traced.size)
        val overhead = Stats.median(traced) - Stats.median(untraced)
        ctx.layer("trace.overhead_ms") = (overhead, "ms")
        ctx.layer("trace.overhead_ratio") =
          (overhead / Stats.median(untraced), "ratio")
        ctx.tracer.writeJsonl(Paths.get(s".bench_out/trace_${name}_$seed.jsonl"))
        layerNames.map { case (n, u) =>
          (n, ctx.layer.get(n).map(_._1).getOrElse(0.0), u) }
      }

    ctx.failures.take(20).foreach(f => System.err.println(s"[check] FAIL $f"))
    val prov = Provenance.record(ctx, name, trace, loadStart, setupS,
      ops.filterNot(_.traced))
    println(Json.obj(Seq("provenance" -> prov)))
    println(Json.obj(Seq("summary" -> Json.obj(ctx.summary.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }))))
    val ok = failed == 0
    println(Json.obj(Seq(
      "correct" -> ok.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.out.flush()
    graft.Caches.release(spark)
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** One timed operation: wall milliseconds (+∞ if it failed), the
    * CPU milliseconds the JVM's Java threads used during it, and
    * whether it was traced. */
  final case class Timed(ms: Double, cpuMs: Double, traced: Boolean)

  /** Run operations 0, 1, ... until `ctx.seconds` of wall time have
    * passed (twice that for a traced run), at least two operations have
    * run and the last round is whole. An operation that throws is
    * recorded as failed, never dropped. */
  def loop(ctx: Ctx, round: Int)(op: Int => (Double, Boolean)): Seq[Timed] = {
    val ops = mutable.ArrayBuffer.empty[Timed]
    val end = System.nanoTime() + ctx.seconds * 1000000000L * (if (ctx.tracer.enabled) 2 else 1)
    var i = 0
    while (System.nanoTime() < end || ops.size < 2 || ops.size % round != 0) {
      val cpu0 = Provenance.threadCpuNs()
      val (ms, traced) = try op(i) catch {
        case scala.util.control.NonFatal(e) =>
          ctx.failures += s"op $i: $e"
          (Double.PositiveInfinity, false)
      }
      ops += Timed(ms, Provenance.threadCpuNsSince(cpu0) / 1e6, traced)
      i += 1
    }
    ops.toSeq
  }

  /** Scheduler totals over the traced operations, per operation. */
  private def sparkLayers(ctx: Ctx, nOps: Int): Unit = {
    val t = ctx.tracer
    val c = t.countsOf("op")
    val n = math.max(1, nOps).toDouble
    ctx.layer("spark.jobs") = (c.jobs / n, "count")
    ctx.layer("spark.stages") = (c.stages / n, "count")
    ctx.layer("spark.tasks") = (c.tasks / n, "count")
    ctx.layer("spark.task_s") = (c.taskNs / 1e9 / n, "s")
    ctx.layer("spark.gc_s") = (c.gcMs / 1e3 / n, "s")
    ctx.layer("spark.shuffle_bytes") = (c.shuffleBytes / n, "bytes")
    ctx.layer("spark.spill_bytes") = (c.spillBytes / n, "bytes")
  }
}

object Stats {
  /** Linear-interpolated quantile; +∞ entries (failed operations) rank
    * above every finite one. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    if (s(hi).isInfinite || s(lo).isInfinite) s(hi)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer: values are passed pre-rendered. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  /** Non-finite numbers (a failed operation's +∞) render as null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Provenance {
  def loadAvg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def javaProcs(): Int =
    try new java.io.File("/proc").listFiles().count { d =>
      d.getName.forall(_.isDigit) && {
        try Files.readString(d.toPath.resolve("comm")).trim == "java"
        catch { case _: Exception => false }
      }
    }
    catch { case _: Exception => -1 }

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time so far of each live Java thread, by thread id. */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU the Java threads used since `before`: threads started since
    * count in full, threads that ended since are not counted. JIT
    * compiler and GC threads are not Java threads, so their CPU, which
    * varies from one operation to the next, is left out. */
  def threadCpuNsSince(before: Map[Long, Long]): Long =
    threadCpuNs().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }

  def record(ctx: Ctx, workload: String, trace: Boolean, loadStart: Double,
      setupS: Double, ops: Seq[Main.Timed]): String = {
    def list(xs: Seq[Double]) = xs.map(x => Json.num(math.rint(x * 10) / 10))
      .mkString("[", ",", "]")
    val sc = ctx.spark.sparkContext
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> ctx.seed.toString,
      "trace" -> trace.toString,
      "commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "nproc" -> ctx.nproc.toString,
      "master" -> Json.str(sc.master),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / (1L << 20)).toString,
      "loadavg_1m_start" -> Json.num(loadStart),
      "loadavg_1m_end" -> Json.num(loadAvg1m()),
      "java_procs" -> javaProcs().toString,
      "setup_s" -> Json.num(setupS),
      "inputs" -> Json.obj(ctx.inputs.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "op_ms" -> list(ops.map(_.ms)),
      "op_cpu_ms" -> list(ops.map(_.cpuMs)),
      "failures" -> ctx.failures.take(20).map(Json.str).mkString("[", ",", "]")))
  }
}
