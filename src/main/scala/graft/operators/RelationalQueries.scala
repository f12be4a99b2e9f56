package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.QuerySpec.sql

/** Class-A portable relational queries (SURVEY.md §2.8) — the
  * scan/project/filter/join/agg/top-k operator surface the reference's
  * pgvector workload sits on, verified row/schema/hash against the
  * driver's DuckDB oracle.
  *
  * Every query is fully ordered (deterministic output) and aliases each
  * computed column identically in the DataFrame plan and the oracle SQL.
  *
  * Scale notes (100 TB stance):
  *  - dimension joins (`nation`) are explicitly `broadcast()` — no
  *    shuffle of the fact side;
  *  - top-k queries rely on Catalyst fusing sort+limit into
  *    `TakeOrderedAndProject` (per-partition heaps + driver merge of k
  *    rows — never a global sort);
  *  - aggregations are partial (map-side combine) by construction;
  *  - all scans prune columns and push filters into the Parquet reader.
  */
object RelationalQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Run-scoped scratch store for the upsert-replay queries (a22/a23):
    * a FIXED path under the build dir, cleared at each invocation —
    * upserts are stateful, so every run must start from an empty store,
    * and a fixed path means re-runs reuse one directory instead of
    * littering the temp filesystem (each query name keeps at most one
    * store on disk; concurrent invocations of the SAME query are out of
    * scope, as for the ANN index builders). */
  private def freshStore(s: SparkSession, name: String): String = {
    val path = s"${graft.store.AnnIndexes.root}/upsert_$name"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    path
  }

  val specs: Seq[QuerySpec] = Seq(
    // A1: grouped aggregation with map-side partial agg (TPC-H Q1 shape).
    QuerySpec("a1_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("s_qty"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    }, sql(
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS s_qty,
        | COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // A2: single-key count agg.
    QuerySpec("a2_order_priority", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }, sql(
      "SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // A3: fact-dim equi-join; dim side broadcast (no fact shuffle).
    QuerySpec("a3_customer_per_nation", (s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("n_name"))
    }, sql(
      "SELECT n_name, COUNT(*) AS cnt FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY cnt DESC, n_name"),
      headline = true),

    // A4: anti join (NOT IN with non-null keys ≡ left_anti). Filtered
    // right side so the result is non-empty at every SF.
    QuerySpec("a4_customers_without_orders", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, sql(
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000) ORDER BY c_custkey")),

    // A5: distinct (hash aggregate, partial+final).
    QuerySpec("a5_distinct_nations", (s, dir) => {
      t(s, dir, "customer").select("c_nationkey").distinct().orderBy("c_nationkey")
    }, sql(
      "SELECT DISTINCT c_nationkey FROM customer ORDER BY c_nationkey")),

    // A6: top-k — Catalyst fuses into TakeOrderedAndProject (the R5+R6
    // ORDER BY + LIMIT shape of the reference's similarity query).
    QuerySpec("a6_topk_orders", (s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)
    }, sql(
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
      headline = true),

    // A7: scalar projection (R12's substring-cast year-extraction shape).
    QuerySpec("a7_part_projection", (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_name")).as("un"),
          substring(col("p_partkey").cast("string"), 1, 4).as("pfx"))
        .orderBy("p_partkey")
        .limit(100)
    }, sql(
      "SELECT p_partkey, UPPER(p_name) AS un, SUBSTRING(CAST(p_partkey AS VARCHAR), 1, 4) AS pfx FROM part ORDER BY p_partkey LIMIT 100")),

    // A8: lower/trim/LIKE predicate (R11's classification shape).
    QuerySpec("a8_supplier_name_like", (s, dir) => {
      t(s, dir, "supplier")
        .filter(col("s_name").isNotNull &&
          lower(trim(col("s_name"))).like("%supplier%"))
        .select("s_suppkey")
        .orderBy("s_suppkey")
    }, sql(
      "SELECT s_suppkey FROM supplier WHERE s_name IS NOT NULL AND LOWER(TRIM(s_name)) LIKE '%supplier%' ORDER BY s_suppkey")),

    // A9: set operation (INTERSECT = distinct semi semantics).
    QuerySpec("a9_intersect", (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.intersect(o).orderBy("c_custkey")
    }, sql(
      "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders ORDER BY c_custkey")),

    // A10: distinct aggregate (expand + two-phase agg).
    QuerySpec("a10_distinct_agg", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(countDistinct("o_orderpriority").as("dp"))
        .orderBy("o_custkey")
        .limit(100)
    }, sql(
      "SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS dp FROM orders GROUP BY o_custkey ORDER BY o_custkey LIMIT 100")),

    // A11: null-safe equality (R9's IS NOT DISTINCT FROM shape) over a
    // nullable-derived key using <=>.
    QuerySpec("a11_nullsafe_match", (s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("k", when(col("value") > 100, col("event_type")))
      e.filter(col("k") <=> lit(null: String))
        .agg(count(lit(1)).as("cnt"))
    }, sql(
      "SELECT COUNT(*) AS cnt FROM (SELECT CASE WHEN value > 100 THEN event_type END AS k FROM events) WHERE k IS NOT DISTINCT FROM NULL")),

    // A13: exact quantiles (sort-based percentile; interpolation
    // rounded since the two engines interpolate with different op
    // order on identical sorted doubles).
    QuerySpec("a13_median_price", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("med"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }, sql(
      "SELECT o_orderpriority, ROUND(quantile_cont(o_totalprice, 0.5), 4) AS med, COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // A14: ROLLUP grouping sets (subtotals + grand total); null
    // ordering pinned explicitly — Spark defaults NULLS FIRST, DuckDB
    // NULLS LAST.
    QuerySpec("a14_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, sql(
      "SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST")),

    // A43: GROUPING SETS — the explicit multi-granularity aggregate
    // completing the a14 rollup / a28 cube family: a chosen set of
    // granularities ((rf, ls), (rf), ()) in ONE pass with GROUPING()
    // flags distinguishing subtotal rows from genuine NULL groups
    // (the disambiguation a BI rollup needs). One shuffle; the
    // expand happens map-side.
    QuerySpec("a43_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum("l_quantity").as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"),
          asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
        | SUM(l_quantity) AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
        | FROM lineitem GROUP BY GROUPING SETS
        |  ((l_returnflag, l_linestatus), (l_returnflag), ())
        | ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST,
        |  l_linestatus NULLS FIRST""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // A15: EXCEPT set operation.
    QuerySpec("a15_except", (s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("c_custkey"))
      c.except(o).orderBy("c_custkey")
    }, sql(
      "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders WHERE o_totalprice > 300000 ORDER BY c_custkey")),

    // A16: semi join (IN subquery ≡ left_semi).
    QuerySpec("a16_semi", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }, sql(
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000) ORDER BY c_custkey")),

    // A17: running total window (rows frame; cents for exactness).
    QuerySpec("a17_running_total", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(round(col("o_totalprice") * 100).cast("long")).over(w).as("rt_cents"))
        .orderBy("o_custkey", "o_orderkey")
    }, sql(
      "SELECT o_custkey, o_orderkey, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS rt_cents FROM orders ORDER BY o_custkey, o_orderkey")),

    // A18: lag window — seconds between a customer's consecutive
    // orders (epoch seconds: exact integers on both engines).
    QuerySpec("a18_order_gaps", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      // o_orderdate is TIMESTAMP_NTZ; NTZ→LTZ is identity under the
      // UTC session, and LTZ casts to epoch seconds
      val sec = col("o_orderdate").cast("timestamp").cast("long")
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          (sec - lag(sec, 1).over(w)).as("gap_s"))
        .orderBy("o_custkey", "o_orderkey")
    }, sql(
      "SELECT o_custkey, o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) - lag(CAST(epoch(o_orderdate) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS gap_s FROM orders ORDER BY o_custkey, o_orderkey")),

    // A19: full outer join with null rows on both sides.
    QuerySpec("a19_full_outer", (s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") <= 750)
        .select("c_custkey")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(c("c_custkey"), o("o_custkey"), o("cnt"))
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_custkey"))
    }, sql(
      "SELECT c.c_custkey, o.o_custkey, o.cnt FROM (SELECT c_custkey FROM customer WHERE c_custkey <= 750) c FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey) o ON c.c_custkey = o.o_custkey ORDER BY c.c_custkey NULLS FIRST, o.o_custkey NULLS FIRST")),

    // A20: statistical aggregates (avg/stddev). Accumulation order and
    // algorithm (Welford vs naive) differ across engines at the 1e-9
    // relative level; rounding to 2 decimals makes the hash stable
    // while still validating the semantics.
    QuerySpec("a20_stats", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(avg("o_totalprice"), 2).as("avg_price"),
          round(stddev_samp(col("o_totalprice")), 2).as("sd_price"),
          count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    }, sql(
      "SELECT o_orderstatus, ROUND(AVG(o_totalprice), 2) AS avg_price, ROUND(STDDEV_SAMP(o_totalprice), 2) AS sd_price, COUNT(*) AS cnt FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // A21: HLL approximate distinct, oracle-checked via a DERIVED
    // INVARIANT (the v20–v23 pattern): sketch internals differ across
    // engines, so the hash-checked output is the EXACT NDV (both
    // engines can compute it) plus a bounded-relative-error boolean —
    // DuckDB recomputes the exact counts independently and asserts
    // TRUE, so a drifting sketch breaks the hash. Bound 10% = 2× the
    // default rsd (0.05): the observed error across the 3 SFs peaks at
    // 6.4% (sf0.001 orders, NDV 1473 — small-cardinality HLL wobble),
    // so 1 rsd is too tight for a hash gate and 2 rsd (~95% normal
    // mass) is the honest contract. The sketch still runs in the same
    // aggregate as the exact counts.
    // a21/a26: the sketch queries' derived-invariant oracles — DuckDB
    // recomputes the exact side (NDV / group size) and asserts the
    // error-bound booleans are TRUE; the sketch values themselves are
    // engine-specific and never hashed (see the query Scaladoc).
    QuerySpec("a21_approx_distinct", (s, dir) => {
      t(s, dir, "lineitem")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct("l_partkey").as("ap"),
          approx_count_distinct("l_orderkey").as("ao"))
        .select(col("exact_parts"), col("exact_orders"),
          (abs(col("ap") - col("exact_parts")) <=
            col("exact_parts") * 0.10).as("parts_within_rel_err"),
          (abs(col("ao") - col("exact_orders")) <=
            col("exact_orders") * 0.10).as("orders_within_rel_err"))
    }, sql(
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        | TRUE AS parts_within_rel_err, TRUE AS orders_within_rel_err
        | FROM lineitem""".stripMargin.replaceAll("\n", ""))),

    // A22 (R8): the models insert-if-absent upsert as an oracle-checked
    // query — two sequential batches with overlapping names against a
    // fresh store; ids must continue from the first batch's max, new
    // names ordered by name. The oracle replays both phases in SQL.
    // Replays upsertModels' two phases: batch-1 names get row_number
    // ids; batch-2 adds only novel names, ids continuing from max.
    QuerySpec("a22_model_upsert", (s, dir) => {
      val store = freshStore(s, "a22") + "/models"
      def batch(bound: Long) = t(s, dir, "part")
        .filter(col("p_partkey") <= bound)
        .select(col("p_brand").as("name"),
          length(col("p_brand")).as("embedding_dim"))
      graft.store.Catalog.upsertModels(s, store, batch(5))
      graft.store.Catalog.upsertModels(s, store, batch(800)).orderBy("id")
    }, sql(
      """WITH b1 AS (SELECT DISTINCT p_brand AS name FROM part WHERE p_partkey <= 5),
        | e1 AS (SELECT CAST(row_number() OVER (ORDER BY name) AS BIGINT) AS id, name FROM b1),
        | n2 AS (SELECT DISTINCT p_brand AS name FROM part
        |        WHERE p_partkey <= 800 AND p_brand NOT IN (SELECT name FROM e1)),
        | e2 AS (SELECT (SELECT COALESCE(MAX(id), 0) FROM e1)
        |          + row_number() OVER (ORDER BY name) AS id, name FROM n2),
        | u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
        | SELECT id, name, CAST(length(name) AS INTEGER) AS embedding_dim
        | FROM u ORDER BY id""".stripMargin.replaceAll("\n", ""))),

    // A23 (R9/R10): the sources null-safe first-writer-wins upsert as
    // an oracle-checked query. The synthetic key mix produces nulls in
    // author/title/year so the dedup + anti-join must use null-safe
    // equality (<=> / IS NOT DISTINCT FROM) to avoid re-inserting
    // null-keyed rows; non-key columns are key-derived constants so
    // the within-batch dedup is deterministic.
    // Replays upsertSources: null-safe key dedup within batch, null-safe
    // anti-join against existing, ids by row_number over the key order
    // (NULLS FIRST to match Spark's default ascending null ordering).
    QuerySpec("a23_source_upsert", (s, dir) => {
      val store = freshStore(s, "a23") + "/sources"
      def batch(bound: Long) = t(s, dir, "customer")
        .filter(col("c_custkey") <= bound)
        .select(
          when(col("c_custkey") % 3 === 0, lit(null))
            .otherwise(col("c_mktsegment")).cast("string").as("author"),
          when(col("c_custkey") % 4 === 0, lit(null))
            .otherwise(concat(lit("t"), (col("c_custkey") % 7).cast("string")))
            .cast("string").as("title"),
          lit(1).as("source_type"),
          lit(null).cast("string").as("url"),
          lit(null).cast("string").as("genre"),
          lit(null).cast("string").as("subgenre"),
          when(col("c_custkey") % 2 === 0, lit(null))
            .otherwise(lit(1990) + (col("c_custkey") % 5)).cast("int").as("year"),
          lit(1L).as("model_id"))
      graft.store.Catalog.upsertSources(s, store, batch(300))
      graft.store.Catalog.upsertSources(s, store, batch(900)).orderBy("id")
    }, sql(
      """WITH src AS (SELECT c_custkey AS k,
        |   CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END AS author,
        |   CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE 't' || CAST(c_custkey % 7 AS VARCHAR) END AS title,
        |   CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE CAST(1990 + c_custkey % 5 AS INTEGER) END AS year
        |  FROM customer),
        | b1 AS (SELECT DISTINCT author, title, year FROM src WHERE k <= 300),
        | e1 AS (SELECT CAST(row_number() OVER (ORDER BY author NULLS FIRST, title NULLS FIRST, year NULLS FIRST) AS BIGINT) AS id,
        |          author, title, year FROM b1),
        | b2 AS (SELECT DISTINCT author, title, year FROM src WHERE k <= 900),
        | n2 AS (SELECT * FROM b2 WHERE NOT EXISTS (SELECT 1 FROM e1
        |   WHERE e1.author IS NOT DISTINCT FROM b2.author
        |     AND e1.title IS NOT DISTINCT FROM b2.title
        |     AND e1.year IS NOT DISTINCT FROM b2.year)),
        | e2 AS (SELECT (SELECT COALESCE(MAX(id), 0) FROM e1)
        |          + row_number() OVER (ORDER BY author NULLS FIRST, title NULLS FIRST, year NULLS FIRST) AS id,
        |          author, title, year FROM n2),
        | u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
        | SELECT id, author, title, CAST(1 AS INTEGER) AS source_type,
        |   CAST(NULL AS VARCHAR) AS url, CAST(NULL AS VARCHAR) AS genre,
        |   CAST(NULL AS VARCHAR) AS subgenre, year, CAST(1 AS BIGINT) AS model_id
        | FROM u ORDER BY id""".stripMargin.replaceAll("\n", ""))),

    // A24: grouped top-k (heavy hitters per group) — rank window per
    // partition key + filter. At scale this shuffles once on the group
    // key and each partition keeps k rows during the sort (no global
    // sort, no driver collect).
    QuerySpec("a24_grouped_topk", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_orderpriority", "rn")
    }, sql(
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        | CAST(row_number() OVER (PARTITION BY o_orderpriority
        |   ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        | FROM orders
        | QUALIFY rn <= 3 ORDER BY o_orderpriority, rn"""
        .stripMargin.replaceAll("\n", ""))),

    // A25: the salted two-phase aggregation as an oracle-checked query
    // — must be value-identical to the direct GROUP BY (integer-valued
    // quantities keep double summation exact across phase orders).
    QuerySpec("a25_salted_agg", (s, dir) => {
      Skew.saltedAggregate(
          t(s, dir, "lineitem"), Seq("l_returnflag"), col("l_orderkey"),
          buckets = 16, Seq(Skew.sumOf("l_quantity"), Skew.countAll))
        .orderBy("l_returnflag")
    }, sql(
      """SELECT l_returnflag, SUM(l_quantity) AS sum_l_quantity,
        | CAST(COUNT(*) AS BIGINT) AS cnt FROM lineitem
        | GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", ""))),

    // A26: approximate per-group quantiles (single-pass bounded-memory
    // sketch — the 100 TB alternative to a13's exact quantile),
    // oracle-checked via the rank-error DERIVED INVARIANT: the sketch
    // value itself is engine-specific, but approx_percentile(·, q, acc)
    // guarantees an element whose rank is within ±n/acc of q·n — so the
    // query RE-RANKS each returned value against the raw column
    // ([count(<v), count(≤v)] vs the target band) and emits the
    // boolean next to the exact group size. Slack is 2·n/acc + 1, not
    // n/acc: the single-summary GK bound is ε·n, but Spark's groupBy
    // merges per-partition summaries and merged GK degrades toward 2ε
    // — observed rank deviation at sf0.1 sits exactly AT 1ε·n (3.0 of
    // 2.99), so the 1ε gate flaps and 2ε+1 is the honest post-merge
    // contract (still a 0.02% rank band). DuckDB recomputes n exactly
    // and asserts TRUE: a sketch outside its band breaks the hash.
    QuerySpec("a26_approx_quantiles", (s, dir) => {
      val o = t(s, dir, "orders")
      val ap = o.groupBy("o_orderpriority")
        .agg(
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("p50"),
          expr("approx_percentile(o_totalprice, 0.95, 10000)").as("p95"))
      def rankOk(q: Double, lt: Column, le: Column, n: Column): Column = {
        val slack = n.cast("double") * 2.0 / 10000.0 + 1.0
        val target = n.cast("double") * q
        (lt.cast("double") <= target + slack) &&
          (le.cast("double") >= target - slack)
      }
      o.join(broadcast(ap), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("o_totalprice") < col("p50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("o_totalprice") <= col("p50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("o_totalprice") < col("p95"), 1L).otherwise(0L)).as("lt95"),
          sum(when(col("o_totalprice") <= col("p95"), 1L).otherwise(0L)).as("le95"))
        .select(col("o_orderpriority"), col("n_orders"),
          rankOk(0.50, col("lt50"), col("le50"), col("n_orders")).as("p50_rank_ok"),
          rankOk(0.95, col("lt95"), col("le95"), col("n_orders")).as("p95_rank_ok"))
        .orderBy("o_orderpriority")
    }, sql(
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | TRUE AS p50_rank_ok, TRUE AS p95_rank_ok
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", ""))),

    // A27: pivot (crosstab) — per-priority counts spread across order
    // statuses as columns; the oracle uses portable conditional
    // aggregation. Pivot values pinned explicitly (never inferred via
    // an extra scan).
    QuerySpec("a27_status_pivot", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("F" -> "f_cnt", "O" -> "o_cnt", "P" -> "p_cnt"))
        .orderBy("o_orderpriority")
    }, sql(
      """SELECT o_orderpriority,
        | CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f_cnt,
        | CAST(COUNT(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o_cnt,
        | CAST(COUNT(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p_cnt
        | FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", ""))),

    // A28: CUBE grouping sets (all 4 combinations) — counts only, so
    // the hash is exact; NULL grouping keys ordered explicitly.
    QuerySpec("a28_cube", (s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt FROM lineitem
        | GROUP BY CUBE(l_returnflag, l_linestatus)
        | ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin.replaceAll("\n", ""))),

    // A29: RANGE-frame window — for each order, the customer's total
    // spend (exact cents) within the trailing 30 days by order date.
    // RANGE frames bound by value, not row count: the event-time
    // rolling aggregate every activity feed needs.
    QuerySpec("a29_trailing_spend", (s, dir) => {
      // NTZ→LTZ is identity under the UTC session; LTZ casts to epoch
      // seconds (the a18 technique)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey")
        .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30L * 86400, 0L)
      t(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .withColumn("trail_cents", sum("cents").over(w))
        .select("o_custkey", "o_orderkey", "trail_cents")
        .orderBy("o_custkey", "o_orderkey")
    }, sql(
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER (
        |   PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |   RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS trail_cents
        | FROM orders ORDER BY o_custkey, o_orderkey"""
        .stripMargin.replaceAll("\n", ""))),

    // A30: single-pass column profiler — the data-card / quality-gate
    // summary (rows, non-nulls, exact NDV, min/max per column) emitted
    // as one row per column. ONE scan computes every statistic (the
    // multi-distinct compiles to a single Expand + partial aggregate,
    // not one pass per column); the stack() unpivot runs on the 1-row
    // aggregate only. Exact NDV is the declared semantics here — the
    // approximate profile for interactive use is a21/a26 (HLL /
    // approx quantiles).
    QuerySpec("a30_profile", (s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = cols.flatMap { c =>
        Seq(
          count(col(c)).as(s"${c}_n"),
          count_distinct(col(c)).as(s"${c}_ndv"),
          round(min(col(c)).cast("double"), 4).as(s"${c}_min"),
          round(max(col(c)).cast("double"), 4).as(s"${c}_max"))
      }
      val one = t(s, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
      one.select(
        col("n_rows"),
        expr("stack(3, " + cols.map(c =>
          s"'$c', ${c}_n, ${c}_ndv, ${c}_min, ${c}_max").mkString(", ") +
          ") as (column_name, n_notnull, ndv, min_v, max_v)"))
        .select("column_name", "n_rows", "n_notnull", "ndv", "min_v", "max_v")
        .orderBy("column_name")
    }, sql(
      """WITH s AS (SELECT COUNT(*) AS n_rows,
        |  COUNT(l_quantity) AS q_n, COUNT(DISTINCT l_quantity) AS q_ndv,
        |  ROUND(CAST(MIN(l_quantity) AS DOUBLE), 4) AS q_min,
        |  ROUND(CAST(MAX(l_quantity) AS DOUBLE), 4) AS q_max,
        |  COUNT(l_extendedprice) AS e_n, COUNT(DISTINCT l_extendedprice) AS e_ndv,
        |  ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 4) AS e_min,
        |  ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 4) AS e_max,
        |  COUNT(l_discount) AS d_n, COUNT(DISTINCT l_discount) AS d_ndv,
        |  ROUND(CAST(MIN(l_discount) AS DOUBLE), 4) AS d_min,
        |  ROUND(CAST(MAX(l_discount) AS DOUBLE), 4) AS d_max
        | FROM lineitem)
        | SELECT 'l_quantity' AS column_name, n_rows, q_n AS n_notnull,
        |   q_ndv AS ndv, q_min AS min_v, q_max AS max_v FROM s
        | UNION ALL SELECT 'l_extendedprice', n_rows, e_n, e_ndv, e_min, e_max FROM s
        | UNION ALL SELECT 'l_discount', n_rows, d_n, d_ndv, d_min, d_max FROM s
        | ORDER BY column_name""".stripMargin.replaceAll("\n", ""))),

    // A31: snapshot diff (CDC) — which keys were inserted / deleted /
    // updated between two snapshots of the same table, the primitive
    // that lets a re-crawl refresh only changed documents. Two
    // synthetic snapshots are derived from orders (keys %10==3 absent
    // from the old, %10==7 absent from the new, %5==0 price-bumped);
    // the diff itself is operators.Cdc.snapshotDiff — a (key, hash)
    // full-outer join, so wide rows never widen the shuffle.
    QuerySpec("a31_snapshot_diff", (s, dir) => {
      val base = t(s, dir, "orders").select("o_orderkey", "o_totalprice")
      val prev = base.filter(pmod(col("o_orderkey"), lit(10)) =!= 3)
      val next = base.filter(pmod(col("o_orderkey"), lit(10)) =!= 7)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(5)) === 0,
            round(col("o_totalprice") + 1, 2))
            .otherwise(col("o_totalprice")))
      Cdc.snapshotDiff(prev, next, Seq("o_orderkey"), Seq("o_totalprice"))
        .orderBy("o_orderkey")
    }, sql(
      """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
        | p AS (SELECT * FROM b WHERE o_orderkey % 10 <> 3),
        | n AS (SELECT o_orderkey,
        |   CASE WHEN o_orderkey % 5 = 0 THEN ROUND(o_totalprice + 1, 2)
        |        ELSE o_totalprice END AS o_totalprice
        |  FROM b WHERE o_orderkey % 10 <> 7)
        | SELECT COALESCE(p.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN p.o_orderkey IS NULL THEN 'insert'
        |       WHEN n.o_orderkey IS NULL THEN 'delete'
        |       WHEN p.o_totalprice <> n.o_totalprice THEN 'update' END
        |  AS change_type
        | FROM p FULL OUTER JOIN n ON p.o_orderkey = n.o_orderkey
        | WHERE (p.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR p.o_totalprice <> n.o_totalprice)
        | ORDER BY o_orderkey""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // A32: fuzzy-key matching (entity resolution) — near-identical
    // names across two record sets found via BLOCKED comparison:
    // candidates must share a cheap blocking key (type word + first
    // initial), and only blockmates pay the edit-distance verify. The
    // blocking key bounds every candidate set, so the join is an
    // equi-join with per-block work independent of corpus size —
    // never an all-pairs name comparison. levenshtein() is built-in
    // (codegen'd) in both engines.
    QuerySpec("a32_fuzzy_match", (s, dir) => {
      val toks = split(col("p_name"), " ")
      val blk = concat(element_at(toks, 2), lit("|"),
        substring(element_at(toks, 1), 1, 1))
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_name"), blk.as("blk"))
      val a = p.filter(pmod(col("p_partkey"), lit(2)) === 0)
        .select(col("p_partkey").as("a_key"), col("p_name").as("a_name"),
          col("blk"))
      val b = p.filter(pmod(col("p_partkey"), lit(2)) === 1)
        .select(col("p_partkey").as("b_key"), col("p_name").as("b_name"),
          col("blk"))
      a.join(b, "blk")
        .filter(col("a_key") < col("b_key"))
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
        .filter(col("dist") <= 2)
        .select("a_key", "b_key", "dist")
        .orderBy("a_key", "b_key")
    }, sql(
      """WITH p AS (SELECT p_partkey, p_name,
        |   string_split(p_name, ' ')[2] || '|' ||
        |   substring(string_split(p_name, ' ')[1], 1, 1) AS blk FROM part),
        | a AS (SELECT p_partkey AS a_key, p_name AS a_name, blk FROM p
        |   WHERE p_partkey % 2 = 0),
        | b AS (SELECT p_partkey AS b_key, p_name AS b_name, blk FROM p
        |   WHERE p_partkey % 2 = 1)
        | SELECT a_key, b_key,
        |  CAST(levenshtein(a_name, b_name) AS INT) AS dist
        | FROM a JOIN b USING (blk)
        | WHERE a_key < b_key AND levenshtein(a_name, b_name) <= 2
        | ORDER BY a_key, b_key""".stripMargin.replaceAll("\n", ""))),

    // A33: bivariate statistics — Pearson correlation, sample
    // covariance and OLS slope of price on quantity per return flag,
    // completing the statistical-aggregate family (a20's univariate
    // moments). All three are algebraic (combinable from partial
    // moment sums), so the plan is the same map-side-combining
    // two-stage HashAggregate as any sum.
    QuerySpec("a33_price_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("r"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
            .as("cov"),
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
            .as("slope"))
        .orderBy("l_returnflag")
    }, sql(
      """SELECT l_returnflag, ROUND(corr(l_quantity, l_extendedprice), 6) AS r,
        | ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov,
        | ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", ""))),

    // A12: date/time grouping over the events table. Hour rendered as a
    // string and the double measure summed as exact integer cents so the
    // cross-engine hash cannot drift on timezone or float-sum order.
    QuerySpec("a12_events_hourly", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(
          date_trunc("hour", col("ts")).cast("string").as("h"),
          col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sv_cents"))
        .orderBy("h", "event_type")
    }, sql(
      "SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS h, event_type, COUNT(*) AS cnt, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sv_cents FROM events GROUP BY 1, 2 ORDER BY h, event_type"),
      headline = true),

    // A34: incremental rollup maintenance — the daily-pipeline form of
    // a12's aggregation: history's persisted partials merged with the
    // new batch's partials (Cdc.mergeRollup), provably equal to the
    // full re-aggregation the oracle computes. History and batch are
    // a ts split; at scale only the batch (and the key-sized state)
    // is ever scanned.
    QuerySpec("a34_incremental_rollup", (s, dir) => {
      val e = Tables.events(s, dir)
      val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
      def rollup(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("sv_cents"))
      Cdc.mergeRollup(
          rollup(e.filter(col("ts") < cutoff)),
          rollup(e.filter(col("ts") >= cutoff)),
          Seq("user_id"))
        .orderBy("user_id")
    }, sql(
      "SELECT user_id, COUNT(*) AS cnt, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sv_cents FROM events GROUP BY user_id ORDER BY user_id")),

    // A35: SCD2 temporal dimension join — each order joined to the
    // customer-tier VERSION valid at order date (two synthesized
    // versions per customer, split 1998-07-01). Equi-join on the key +
    // interval trim: |fact| × versions-per-key intermediate, exactly
    // one surviving row per order; the dimension broadcasts here.
    QuerySpec("a35_scd2_join", (s, dir) => {
      val custs = Tables.load(s, dir, "customer").select("c_custkey")
      val v1 = custs.select(
        col("c_custkey"),
        lit("1995-01-01 00:00:00").cast("timestamp").as("valid_from"),
        lit("1998-07-01 00:00:00").cast("timestamp").as("valid_to"),
        pmod(col("c_custkey"), lit(3)).as("tier"))
      val v2 = custs.select(
        col("c_custkey"),
        lit("1998-07-01 00:00:00").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        pmod(col("c_custkey") + 1, lit(3)).as("tier"))
      Temporal.scd2Join(
          Tables.load(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderdate"),
          v1.unionByName(v2), "o_custkey", "c_custkey", "o_orderdate")
        .select(col("o_orderkey"), col("o_custkey"), col("tier"))
        .orderBy("o_orderkey")
    }, sql(
      """WITH dim AS (
        |  SELECT c_custkey, TIMESTAMP '1995-01-01' AS valid_from,
        |    TIMESTAMP '1998-07-01' AS valid_to, c_custkey % 3 AS tier
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, TIMESTAMP '1998-07-01', NULL, (c_custkey + 1) % 3
        |  FROM customer)
        | SELECT o_orderkey, o_custkey, CAST(tier AS BIGINT) AS tier
        | FROM orders JOIN dim ON o_custkey = c_custkey
        |  AND o_orderdate >= valid_from
        |  AND (valid_to IS NULL OR o_orderdate < valid_to)
        | ORDER BY o_orderkey""".stripMargin.replaceAll("\n", ""))),

    // A37: the same SCD2 lookup as an AS-OF join on valid_from
    // (Temporal.scd2ViaAsOf) — the high-churn form: one hash shuffle +
    // bounded per-key sort over |fact| + |versions| rows instead of
    // the interval join's |fact| × versions-per-key intermediate.
    // Same oracle as a35: the two operators are interchangeable when
    // the intervals partition the timeline, and the hash check pins
    // that equivalence end-to-end (tombstone handling included).
    // a37 shares a35's oracle verbatim: the as-of formulation must
    // produce exactly the interval join's rows
    QuerySpec("a37_scd2_asof", (s, dir) => {
      val custs = Tables.load(s, dir, "customer").select("c_custkey")
      val v1 = custs.select(
        col("c_custkey"),
        lit("1995-01-01 00:00:00").cast("timestamp").as("valid_from"),
        lit("1998-07-01 00:00:00").cast("timestamp").as("valid_to"),
        pmod(col("c_custkey"), lit(3)).as("tier"))
      val v2 = custs.select(
        col("c_custkey"),
        lit("1998-07-01 00:00:00").cast("timestamp").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"),
        pmod(col("c_custkey") + 1, lit(3)).as("tier"))
      Temporal.scd2ViaAsOf(
          Tables.load(s, dir, "orders")
            .select("o_orderkey", "o_custkey", "o_orderdate")
            .withColumn("o_orderdate", col("o_orderdate").cast("timestamp")),
          v1.unionByName(v2), "o_custkey", "c_custkey", "o_orderdate")
        .select(col("o_orderkey"), col("o_custkey"), col("tier"))
        .orderBy("o_orderkey")
    }, sql(
      """WITH dim AS (
        |  SELECT c_custkey, TIMESTAMP '1995-01-01' AS valid_from,
        |    TIMESTAMP '1998-07-01' AS valid_to, c_custkey % 3 AS tier
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, TIMESTAMP '1998-07-01', NULL, (c_custkey + 1) % 3
        |  FROM customer)
        | SELECT o_orderkey, o_custkey, CAST(tier AS BIGINT) AS tier
        | FROM orders JOIN dim ON o_custkey = c_custkey
        |  AND o_orderdate >= valid_from
        |  AND (valid_to IS NULL OR o_orderdate < valid_to)
        | ORDER BY o_orderkey""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // A36: group-size skew profile — the diagnostic run BEFORE picking
    // a join/agg strategy at scale: per-key group sizes reduced to
    // count/avg/p50/p99/max in one pass over the keyed agg. An avg≈p50
    // with a max 100× larger is the salting/AQE-skew-join signal.
    QuerySpec("a36_skew_profile", (s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("sz"))
        .agg(
          count(lit(1)).as("n_keys"),
          round(avg("sz"), 6).as("avg_sz"),
          round(expr("percentile(sz, 0.5)"), 6).as("p50"),
          round(expr("percentile(sz, 0.99)"), 6).as("p99"),
          max("sz").as("max_sz"))
    }, sql(
      """WITH s AS (SELECT l_orderkey, COUNT(*) AS sz FROM lineitem GROUP BY 1)
        | SELECT COUNT(*) AS n_keys, ROUND(AVG(sz), 6) AS avg_sz,
        |  ROUND(quantile_cont(sz, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(sz, 0.99), 6) AS p99,
        |  MAX(sz) AS max_sz FROM s""".stripMargin.replaceAll("\n", ""))),

    // A38: CDC apply — a deterministic I/U/D changelog over orders
    // folded into a snapshot by Cdc.applyChangelog (latest seq wins,
    // deletes remove, updates upsert). Exercises every merge path:
    // insert-new (%4==1, absent from the snapshot), update-existing,
    // update-of-absent-key (upsert), delete, and delete-overriding-
    // earlier-update (%6==0 carries both U@2 and D@3).
    QuerySpec("a38_cdc_apply", (s, dir) => {
      val o = Tables.load(s, dir, "orders").select(
        col("o_orderkey").as("order_key"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"))
      val snap = o.filter(col("order_key") % 4 =!= 1)
      val ch = o.filter(col("order_key") % 4 === 1)
        .select(col("order_key"), lit("N").as("status"), col("price"),
          lit("I").as("op"), lit(1).as("seq"))
        .unionByName(o.filter(col("order_key") % 3 === 0)
          .select(col("order_key"), lit("X").as("status"),
            round(col("price") + 10, 2).as("price"),
            lit("U").as("op"), lit(2).as("seq")))
        .unionByName(o.filter(col("order_key") % 6 === 0)
          .select(col("order_key"), lit(null).cast("string").as("status"),
            lit(null).cast("double").as("price"),
            lit("D").as("op"), lit(3).as("seq")))
      Cdc.applyChangelog(snap, ch, Seq("order_key"), "seq", "op")
        .select(col("order_key"), col("status"),
          round(col("price"), 2).as("price"))
        .orderBy("order_key")
    }, sql(
      """WITH snap AS (
        |  SELECT o_orderkey AS order_key, o_orderstatus AS status, o_totalprice AS price
        |  FROM orders WHERE o_orderkey % 4 <> 1),
        | ch AS (
        |  SELECT o_orderkey AS order_key, 'N' AS status, o_totalprice AS price, 'I' AS op, 1 AS seq
        |  FROM orders WHERE o_orderkey % 4 = 1
        |  UNION ALL
        |  SELECT o_orderkey, 'X', ROUND(o_totalprice + 10, 2), 'U', 2 FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, NULL, NULL, 'D', 3 FROM orders WHERE o_orderkey % 6 = 0),
        | latest AS (
        |  SELECT * FROM (
        |    SELECT ch.*, ROW_NUMBER() OVER (PARTITION BY order_key ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1)
        | SELECT order_key, status, ROUND(price, 2) AS price FROM (
        |  SELECT s.order_key, s.status, s.price FROM snap s
        |  LEFT JOIN latest l ON l.order_key = s.order_key WHERE l.order_key IS NULL
        |  UNION ALL
        |  SELECT order_key, status, price FROM latest WHERE op <> 'D')
        | ORDER BY order_key""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // A39: 2-D skyline — the Pareto frontier of (minimize retailprice,
    // maximize size): no other part is both ≤ price and ≥ size with
    // one strict. Computed by the distributed sort-based linear scan
    // (Skyline.skyline2D: group + two-phase prefix max + join back —
    // three keyed shuffles total), while the oracle states dominance
    // directly as correlated NOT EXISTS, so the O(N·logN)
    // reformulation is hash-checked against the O(N²) definition.
    QuerySpec("a39_part_skyline", (s, dir) => {
      Skyline.skyline2D(
          Tables.load(s, dir, "part")
            .select("p_partkey", "p_retailprice", "p_size"),
          minCol = "p_retailprice", maxCol = "p_size")
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    }, sql(
      """SELECT p_partkey, p_retailprice, p_size FROM part p
        | WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM part q
        |   WHERE q.p_retailprice <= p.p_retailprice
        |    AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice
        |     OR q.p_size > p.p_size))
        | ORDER BY p_partkey""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // A40: pre-aggregated NDV via MERGEABLE HLL sketches (Apache
    // DataSketches through Spark's hll_sketch_agg/hll_union_agg) —
    // the lakehouse rollup pattern: per-group sketch partials are the
    // thing a 100 TB deployment STORES, and corpus-level distinct
    // counts are answered by merging O(groups) sketch blobs instead of
    // rescanning the corpus. Derived invariants the oracle can evaluate
    // exactly (the a21 pattern — sketch blobs themselves are
    // engine-specific and never hashed): BOTH the merged and the direct
    // estimate land within 10% of the exact NDV, and merged tracks
    // direct within 5% of exact. NOT asserted as equality: HLL union is
    // register-wise max (associative/commutative/idempotent) so the
    // REGISTERS agree, but DataSketches estimates a directly-built
    // sketch with the HIP estimator and a union result with the
    // composite estimator (HIP does not survive merging) — measured
    // here: 1991 merged vs 1999 direct vs 2000 exact at sf0.01. The
    // bounded gap is exactly what an incremental rollup deployment
    // signs up for.
    QuerySpec("a40_sketch_rollup", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val merged = li.groupBy("l_returnflag")
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
      val direct = li.agg(
        hll_sketch_estimate(hll_sketch_agg(col("l_partkey"))).as("direct_est"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      merged.crossJoin(direct) // two 1-row locals — not a data join
        .select(col("exact_parts"),
          (abs(col("merged_est") - col("exact_parts")) <=
            col("exact_parts") * 0.10).as("merged_within_rel_err"),
          (abs(col("direct_est") - col("exact_parts")) <=
            col("exact_parts") * 0.10).as("direct_within_rel_err"),
          (abs(col("merged_est") - col("direct_est")) <=
            col("exact_parts") * 0.05).as("merge_tracks_direct"))
    }, sql(
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | TRUE AS merged_within_rel_err, TRUE AS direct_within_rel_err,
        | TRUE AS merge_tracks_direct
        | FROM lineitem""".stripMargin.replaceAll("\n", "")), headline = true),

    // A41: sketch-based JOIN-KEY OVERLAP estimation — the pre-join
    // planning statistic a 100 TB engine reads BEFORE choosing a join
    // strategy (broadcast vs shuffle, runtime-filter selectivity):
    // |keys(A) ∩ keys(B)| by inclusion–exclusion over per-side HLL
    // sketches, est(A) + est(B) − est(A ∪ B), where the union is a
    // register-wise sketch merge. Each side pays ONE map-side sketch
    // pass and ships a 4 KB blob — no join is executed to learn the
    // join's shape. The exact side (one distinct-key semi-join) is
    // oracle ballast; the hashed claim is the estimator contract:
    // inclusion–exclusion lands within max(10% of the true overlap,
    // 5% of the estimated UNION) — the union term is the honest
    // error driver (measured: direct sketches estimate 500-key sets
    // EXACTLY via HIP, but the merged union must use the composite
    // estimator, the a40 lesson — so near-disjoint inputs see an
    // absolute error proportional to |A ∪ B|, not to the tiny
    // overlap).
    QuerySpec("a41_join_overlap", (s, dir) => {
      val a = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val b = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val est = a.agg(hll_sketch_agg(col("k")).as("ska"))
        .crossJoin(b.agg(hll_sketch_agg(col("k")).as("skb")))
        .select(hll_sketch_estimate(col("ska")).as("ea"),
          hll_sketch_estimate(col("skb")).as("eb"),
          hll_sketch_estimate(hll_union(col("ska"), col("skb")))
            .as("eu"))
      val exact = a.distinct().join(b.distinct(), "k")
        .agg(count(lit(1)).as("exact_overlap"))
      exact.crossJoin(est) // two 1-row locals — not a data join
        .select(col("exact_overlap"),
          (abs(col("ea") + col("eb") - col("eu") -
            col("exact_overlap")) <=
            greatest(col("exact_overlap") * 0.10, col("eu") * 0.05))
            .as("within_rel_err"))
    }, sql(
      """SELECT CAST(COUNT(*) AS BIGINT) AS exact_overlap,
        | TRUE AS within_rel_err
        | FROM (SELECT DISTINCT c_custkey FROM customer) c
        | JOIN (SELECT DISTINCT o_custkey FROM orders) o
        |  ON c.c_custkey = o.o_custkey""".stripMargin.replaceAll("\n", ""))),

    // A42: correlated scalar subquery, DECLARED AS SQL — each
    // customer's maximum-price orders, written the way an analyst
    // writes it (a per-row correlated MAX). The engine point is
    // Catalyst's DECORRELATION: Spark cannot execute a correlated
    // subquery per-row at all, so the optimizer must rewrite it into
    // an aggregate + join — the declarative text costs one grouped
    // aggregate and one join at any scale, and the plan spec pins
    // that no per-row subquery survives. Equality on the stored
    // double is exact in both engines (no arithmetic touches it);
    // the projection scales to cents only for display.
    QuerySpec("a42_correlated_max", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_a42")
      s.sql("""
        SELECT o_orderkey, o_custkey,
          CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders_a42 o
        WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
          FROM orders_a42 o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey""")
    }, sql(
      """SELECT o_orderkey, o_custkey,
        | CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        | FROM orders o
        | WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        | ORDER BY o_orderkey""".stripMargin.replaceAll("\n", ""))),
  )

}
