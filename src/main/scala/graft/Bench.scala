package graft

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...},
  * followed by one non-contract provenance line (failed queries,
  * per-trial times, loadavg samples and Janino compiles) so a truncated
  * capture can never eat the headline. A failed query is timed -1,
  * makes the total -1 and the exit status 1. The headline is every
  * [[QuerySpec]] marked `headline`, in registry order, each timed in
  * its `bench` shape where it declares one.
  *
  * Each query is run three times and the fastest run reported: the
  * first run pays JVM/codegen warmup that a long-lived cluster
  * amortizes, and the benchmark's subject is the plan, not JIT warmup.
  * Three trials (was two through round 4) because sub-second queries
  * showed phantom ±50% round-over-round deltas from machine noise with
  * best-of-2 — one extra trial per query buys stable comparisons for
  * ~30s of bench wall. The action is a full materialization (collect
  * of the final result) — results are small by construction
  * (aggregates / top-k), so driver transfer is negligible and nothing
  * short-circuits upstream work.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.session(s"local[$cpus]", cpus)

    // one trial: (seconds, Janino compiles); a failed trial is -1 s
    def timeOnce(q: QuerySpec): (Double, Long) = {
      // drop persisted intermediates between runs: queries that share
      // a projection via persist() must re-earn that work every timed
      // run (CacheManager matches canonicalized plans, so the second
      // run would otherwise read the first run's cache), and caches
      // must not accumulate across the suite; release also frees
      // checkpoint blocks the catalog cache cannot see
      Caches.release(spark)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val (ok, compiles) = Compiles.of {
        try {
          q.bench.getOrElse(q.run)(spark, sfDir).collect()
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          false
        }
      }
      (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0, compiles.count)
    }

    // machine-load provenance: best-of-3 hides most noise, but a loaded
    // machine still inflates the recorded minima — emit 1-min loadavg
    // (before/after) plus the concurrent-JVM count and ALL trial times,
    // so a reader can tell load artifacts from plan regressions without
    // a rerun
    def loadAvg1m(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    def javaProcs(): Int =
      try new java.io.File("/proc").listFiles()
        .count { d =>
          d.getName.forall(_.isDigit) && {
            try java.nio.file.Files.readString(
              d.toPath.resolve("comm")).trim == "java"
            catch { case _: Throwable => false }
          }
        }
      catch { case _: Throwable => -1 }

    val loadStart = loadAvg1m()
    // per-TRIAL loadavg provenance (round 14; per-query in round 13):
    // round 13's bench had a contended stretch whose spikes (one
    // 11.6 s trial of a 0.7 s query) a single pre-query sample lags —
    // sampling before EVERY trial lets a reader attribute any single
    // outlier trial to ambient load without hand re-timing
    val headline = SparkEntry.specs.filter(_.headline)
    val results = headline.map { q =>
      val trials = Seq.fill(3) {
        val l = loadAvg1m(); val (t, c) = timeOnce(q); (l, t, c)
      }
      val times = trials.map(_._2)
      (q.name, if (times.exists(_ < 0)) -1.0 else times.min, times,
        trials.map(_._1), trials.map(_._3))
    }
    val loadEnd = loadAvg1m()

    val qs = results
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val ts = results
      .map { case (k, _, t, _, _) =>
        "\"" + k + "\":" + t.map(x => f"$x%.3f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val loads = results
      .map { case (k, _, _, ls, _) => "\"" + k + "\":" + f"${ls.head}%.2f" }
      .mkString("{", ",", "}")
    val trialLoads = results
      .map { case (k, _, _, ls, _) =>
        "\"" + k + "\":" + ls.map(x => f"$x%.2f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // per-trial Janino compiles: trials 2 and 3 reuse trial 1's
    // generated classes, so a non-zero warm count is plan churn
    val compiles = results
      .map { case (k, _, _, _, cs) =>
        "\"" + k + "\":" + cs.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // a failed query has no time, so the headline has none either: the
    // total carries the same -1 sentinel as the failed query's entry
    // (never the smaller sum of the survivors) and the run exits 1
    val failed = results.collect { case (k, v, _, _, _) if v < 0 => k }
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    // explicit provenance for every bench-only shape override: a reader
    // of the JSON can see which timed entries differ from the declared,
    // oracle-checked query (the override's containment in the declared
    // plan is spec-pinned — Round9OpsSpec "s21 bench override")
    val ov = headline.filter(_.bench.isDefined)
      .map("\"" + _.name + "\"").mkString("[", ",", "]")
    // CONTRACT line first, kept SHORT (round 18, verdict item: round
    // 16's capture was truncated mid-JSON and the driver lost the whole
    // round-over-round comparison because the one line had grown to
    // ~10 KB of provenance arrays). The headline metric + per-query
    // seconds stay on line 1; the trials / per-trial loadavg
    // provenance moves to a SECOND, non-contract line so a truncated
    // capture can never eat the headline again.
    println(f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","overrides":$ov,"loadavg_1m_start":$loadStart%.2f,"loadavg_1m_end":$loadEnd%.2f,"java_procs":${javaProcs()}}""")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(f"""{"metric":"headline_provenance","failed":$failedJson,"loadavg_per_query":$loads,"loadavg_per_trial":$trialLoads,"trials":$ts,"compiles":$compiles}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
