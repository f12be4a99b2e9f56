package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once materialization for ANN indexes (LSH bucket tables, IVF
  * cell tables, MinHash signature tables).
  *
  * The scale stance: index BUILD is an ingest-time batch job, never a
  * per-query cost. A query against an ANN index must read a
  * partition-pruned fraction of a pre-partitioned parquet table — the
  * train/assign/bucket work happened once, when the corpus was written.
  * This helper gives declared queries that shape: the first invocation
  * per (dataset, parameters) key builds the index under a stable path;
  * every later invocation (including every re-run of the same query)
  * goes straight to the materialized table.
  *
  * Completion is marked by a `_IDX_READY` file written after the whole
  * build (which may be several writes: partitioned corpus + model
  * sidecar). Underscore-prefixed entries are invisible to Spark's
  * partition discovery, so the marker and any `_model` sidecar dir can
  * live inside the index root. A half-built index (no marker) is
  * deleted and rebuilt.
  *
  * Every corpus-derived sidecar (ANN indexes, codebooks, BPE merges,
  * Bloom state, fixture media) is named by [[key]]; all but the Bloom
  * state (its own temp-and-rename file) are built through
  * [[materializeAtomic]], and a sidecar that carries a model is read
  * through [[model]], which loads it at most once per process.
  *
  * Searches read indexes and chunk stores through [[open]]: one
  * resolved DataFrame per table path, keyed on the table's
  * [[fingerprint]], so repeat requests skip listing and schema
  * inference and a rewritten table is never served from a stale
  * listing.
  */
object AnnIndexes {

  /** Index root — kept inside the repo's build dir by default so test
    * runs never write outside the workspace. */
  def root: String = sys.env.getOrElse("SPARK_GRAFT_IDX_DIR", "target/graft-idx")

  /** Filesystem-safe key fragment for a dataset dir. */
  def keyOf(dir: String): String = dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** The sidecar path of `recipe` over `dir/table.parquet`:
    * `<root>/<recipe>_<keyOf(dir)>_<fingerprint><params>`. The corpus
    * key lets [[gcTempKeyed]] and per-corpus cleanups find it; the
    * fingerprint, recomputed on every call, sends a regenerated table
    * to a fresh path; `params` holds the build parameters. */
  def key(spark: SparkSession, recipe: String, dir: String, table: String,
      params: String = ""): String =
    s"$root/${recipe}_${keyOf(dir)}_" +
      s"${fingerprint(spark, s"$dir/$table.parquet")}$params"

  /** Cheap staleness guard: a fingerprint of the source table's file
    * names + lengths. Regenerated testdata with different content
    * sizes gets a different index path (metadata-only — no data read;
    * same-size content swaps are out of scope for a synthetic-data
    * cache key). */
  def fingerprint(spark: SparkSession, tablePath: String): String = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recursive: partitioned tables append files inside partition
    // dirs, which a top-level listing would not see. A plain
    // listStatus walk, not listFiles: on the local filesystem every
    // LocatedFileStatus that listFiles builds forks an `ls -ld` for
    // its permissions, which the fingerprint never reads.
    def files(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(dir).toSeq.flatMap(s => if (s.isDirectory) files(s.getPath) else Seq(s))
    if (!fs.exists(p)) "absent"
    else {
      val names = files(p).map(s =>
        s"${s.getPath.toUri.getPath.stripPrefix(tablePath)}:${s.getLen}")
      f"${scala.util.hashing.MurmurHash3.stringHash(names.sorted.mkString("|"))}%08x"
    }
  }

  /** One open handle per table path: the session, the table's
    * [[fingerprint]] when it was opened, and the resolved DataFrame. */
  private final case class Handle(
      spark: SparkSession, fingerprint: String, df: DataFrame)

  private val handles =
    scala.collection.concurrent.TrieMap.empty[String, Handle]

  /** The parquet table at `path`, resolved once per (session, path,
    * fingerprint) and reused by every later request. Reusing the
    * DataFrame keeps its resolved file index and schema, so a request
    * pays neither the file listing nor the footer-reading schema
    * inference job of a fresh `spark.read.parquet` — the
    * metastore-catalog analogue (a cluster deployment registers the
    * table; listing is paid at registration, not per query). The
    * fingerprint is the staleness key: a re-import, compaction or
    * index rebuild changes the file names or lengths under `path`, and
    * the next request opens a fresh handle in place of the old one. */
  def open(spark: SparkSession, path: String, fingerprint: String): DataFrame =
    handles.get(path) match {
      case Some(h) if (h.spark eq spark) && h.fingerprint == fingerprint => h.df
      case _ =>
        val df = spark.read.parquet(path)
        handles(path) = Handle(spark, fingerprint, df)
        df
    }

  /** [[open]] keyed on the table's current [[fingerprint]]. */
  def open(spark: SparkSession, path: String): DataFrame =
    open(spark, path, fingerprint(spark, path))

  /** Cross-process-safe build-once: the closure writes into a private
    * temp dir which is renamed into place only when complete (marker
    * written pre-rename), so a marked-but-partial index is never
    * visible. Racing processes each build their own temp; a loser
    * discards its build. Hadoop `rename(src, dst)` with an EXISTING
    * dst dir moves src INSIDE dst (it does not fail), so the rename is
    * attempted only when the destination is absent, and a nested
    * `<path>/<tmpname>` left by a lost race is explicitly removed. */
  def materializeAtomic(spark: SparkSession, path: String)(build: String => Unit): String =
    synchronized {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val marker = new org.apache.hadoop.fs.Path(p, MarkerName)
      if (!fs.exists(marker)) {
        val suffix = java.util.UUID.randomUUID().toString.take(8)
        val tmp = new org.apache.hadoop.fs.Path(path + "._build_" + suffix)
        try {
          // record seg-tokenizer usage DURING the build (round 13):
          // a sidecar whose recipe tokenized with segTokens carries a
          // _SEG_USED stamp, so the fixture-gate coverage scan can see
          // seg semantics that hide behind a plain parquet scan
          val (_, segUsed) =
            graft.functions.SegUsage.record(build(tmp.toString))
          if (segUsed)
            fs.create(new org.apache.hadoop.fs.Path(tmp, SegMarkerName))
              .close()
          fs.create(new org.apache.hadoop.fs.Path(tmp, MarkerName)).close()
          // Clear a crashed build's corpse by renaming it aside first:
          // rename is the only destructive step, so if a racing winner
          // replaced the corpse with a COMPLETE index in the meantime,
          // we detect the marker on the aside copy and put it back
          // instead of destroying it.
          if (fs.exists(p)) {
            val aside = new org.apache.hadoop.fs.Path(path + "._corpse_" + suffix)
            if (fs.rename(p, aside)) {
              if (fs.exists(new org.apache.hadoop.fs.Path(aside, MarkerName))) {
                if (!fs.rename(aside, p)) fs.delete(aside, true)
              } else fs.delete(aside, true)
            }
          }
          if (!fs.exists(p)) fs.rename(tmp, p)
          // Hadoop rename(src, dst) with dst present moves src INSIDE
          // dst and still returns true — so regardless of the reported
          // outcome, undo a race-nested temp and then demand a marked
          // index is in place (ours or the winner's)
          val nested = new org.apache.hadoop.fs.Path(p, tmp.getName)
          if (fs.exists(nested)) fs.delete(nested, true)
          require(fs.exists(marker),
            s"index build for $path failed: no complete index present")
        } finally fs.delete(tmp, true)
      }
      path
    }

  /** Process-wide memo of the models behind sidecars, by [[key]]. */
  private val models = scala.collection.concurrent.TrieMap.empty[String, Any]

  /** The value memoized under `key`, computed on first use; a [[key]]
    * path names one immutable value. */
  def memo[M](key: String)(compute: => M): M =
    models.getOrElseUpdate(key, compute).asInstanceOf[M]

  /** The model of the build-once sidecar at `path`: `build` writes the
    * sidecar into a temp dir ([[materializeAtomic]]) and returns its
    * model; a process that finds the sidecar complete loads it once
    * with `load(path)`. Later calls return the memoized model — a
    * completed sidecar never changes. */
  def model[M](spark: SparkSession, path: String)(build: String => M)(
      load: String => M): M = {
    materializeAtomic(spark, path) { tmp => models(path) = build(tmp) }
    memo(path)(load(path))
  }

  /** Completion-marker filename — the single definition of the marker
    * protocol (see materializeAtomic). */
  val MarkerName = "_IDX_READY"

  /** Seg-usage stamp: present in a sidecar whose BUILD tokenized with
    * the seg kernel (see [[graft.functions.SegUsage]]). Underscore-
    * prefixed → invisible to Spark's partition discovery. */
  val SegMarkerName = "_SEG_USED"

  /** Sidecar FAMILIES whose build recipes are KNOWN to seg-tokenize
    * (BPE vocab, minhash-over-seg-shingles) — the one-time stamp
    * transition sweep's allow-list. New builds stamp themselves; this
    * list exists only for dirs materialized BEFORE the stamp did. */
  val KnownSegPrefixes: Seq[String] = Seq("bpe2_", "mh2_")

  @volatile private var segSweepDone = false

  /** One-time transition sweep (round 14): write [[SegMarkerName]]
    * into every COMPLETE sidecar under the store root carrying a
    * known seg-built prefix. Builds since round 13 stamp themselves
    * during materialization; a sidecar materialized before the stamp
    * existed kept its unstamped dir until its next natural rebuild —
    * a window in which the coverage scan's guarantee depended on
    * hand-gating (and which would silently reopen if testdata were
    * regenerated without a store sweep). Idempotent, one listStatus,
    * runs once per JVM on first stamp query. */
  def stampKnownSegSidecars(spark: SparkSession): Int = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    if (!fs.exists(rootP)) 0
    else fs.listStatus(rootP).toSeq.count { st =>
      st.isDirectory &&
        KnownSegPrefixes.exists(st.getPath.getName.startsWith) &&
        isComplete(spark, st.getPath) && {
          val m = new org.apache.hadoop.fs.Path(st.getPath, SegMarkerName)
          !fs.exists(m) && { fs.create(m).close(); true }
        }
    }
  }

  /** True when the sidecar at `dir` was built with seg tokenization.
    * Triggers the one-time transition sweep first, so a pre-round-13
    * sidecar of a known seg family answers truthfully too. */
  def usesSeg(spark: SparkSession, dir: String): Boolean = {
    if (!segSweepDone) { stampKnownSegSidecars(spark); segSweepDone = true }
    val p = new org.apache.hadoop.fs.Path(dir, SegMarkerName)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True when `dir` holds a completed index (marker present). */
  def isComplete(spark: SparkSession, dir: org.apache.hadoop.fs.Path): Boolean = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(dir, MarkerName))
  }

  /** Store prefixes RETIRED by a recipe-version bump (the p8 store-key
    * principle): a code change that alters what a sidecar contains
    * bumps its prefix, so the old entries can never be read again —
    * they are garbage that would otherwise accumulate one orphan per
    * dataset fingerprint forever. Every retirement is recorded here. */
  val RetiredPrefixes: Seq[String] = Seq(
    "bpe_", // round-8 whitespace-word BPE counts → bpe2_ (round 9)
    "p8_", // unversioned schema-evolution batches → p8v2_ (round 8)
    "mh_") // whitespace-shingle MinHash index → mh2_ (round 11)

  /** Retired sidecar NAMES whose prefix is still live: d14's state dir
    * was `bloomstate_<fp>` before it carried the corpus key
    * (`bloomstate_<keyOf(dir)>_<fp>`), so only the whole old-shape
    * name — an 8-hex-digit fingerprint or `absent` — marks it dead. */
  private val RetiredNames = "bloomstate_([0-9a-f]{8}|absent)".r

  /** Delete retired-recipe sidecars under [[root]] (idempotent; a
    * missing root is a no-op). Invoked at the start of every Verify
    * sweep, so orphans never outlive the round that retired them.
    * Returns the number of entries removed. */
  def gcRetired(spark: SparkSession): Int = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) 0
    else fs.listStatus(rootPath).count { st =>
      val name = st.getPath.getName
      val dead = RetiredPrefixes.exists(name.startsWith) ||
        RetiredNames.matches(name)
      if (dead) fs.delete(st.getPath, true)
      dead
    }
  }

  /** Delete build-once sidecars keyed to TEMP-DIR corpora (key
    * segment `__tmp_`), except those carrying `keepKey` (the corpus a
    * dump is currently running against — the fixture gate dumps FROM
    * a temp dir and must keep its own sidecars alive for the run).
    * Temp-dir keys are random per `createTempDirectory`, so a
    * sidecar from a previous process can never be looked up again —
    * it is garbage by construction; without this sweep every spec or
    * fixture sweep that touches a sidecar-building query leaks one
    * orphan per run FOREVER (193 had accumulated by round 12: BPE
    * models from crafted-corpus specs, wav fixtures from manual
    * Unicode sweeps). Invoked beside [[gcRetired]] at the top of every
    * Verify dump and at test-session start. Returns entries removed.
    *
    * Only entries OLDER than `maxAgeMs` (default 3 h) are swept
    * (advisor, round 13): the sweep runs unconditionally at every
    * dump/test-session start, so without the age gate it would delete
    * the LIVE temp-keyed sidecars of a concurrently running sbt/dump
    * process — escalating the documented concurrent-sbt hazard from
    * contention to active mid-run deletion (materializeAtomic
    * rebuilds, but an in-flight parquet read of a swept sidecar fails
    * that query). A genuinely orphaned sidecar is by construction
    * never looked up again, so sweeping it hours later is equivalent;
    * per-run fixture cleanup (the gate spec's finally block) is
    * unaffected — it deletes by its own key, not through here. */
  def gcTempKeyed(spark: SparkSession, keepKey: String = "",
      maxAgeMs: Long = 3L * 3600 * 1000): Int = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    if (!fs.exists(rootPath)) 0
    else fs.listStatus(rootPath).count { st =>
      val name = st.getPath.getName
      val dead = name.contains("__tmp_") &&
        st.getModificationTime < cutoff &&
        (keepKey.isEmpty || !name.contains(keepKey))
      if (dead) fs.delete(st.getPath, true)
      dead
    }
  }
}
