package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QuerySpec, Tables}
import graft.QuerySpec.sql
import graft.streaming.EventStreams

/** Driver-checked event-log queries: sessionization, per-key ranking,
  * and JSON-ish property extraction — the batch faces of the streaming
  * operators (graft.streaming.EventStreams); the streaming forms are
  * asserted equal to these in StreamingSpec. */
object EventQueries {

  val specs: Seq[QuerySpec] = Seq(
    // S1: gap-based sessionization (lag + running-sum window) rolled
    // up to per-session stats. One shuffle on user_id; per-user sort.
    QuerySpec("s1_session_stats", (s, dir) => {
      EventStreams.sessionStats(Tables.events(s, dir))
        .orderBy("user_id", "session_number")
    }, sql(
      """WITH o AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) us
        |   FROM events),
        | b AS (SELECT user_id, event_id, us,
        |   CASE WHEN lag(us) OVER w IS NULL
        |     OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |   FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        | sn AS (SELECT user_id, us,
        |   CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_number FROM b)
        | SELECT user_id, session_number, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us
        | FROM sn GROUP BY user_id, session_number
        | ORDER BY user_id, session_number""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // S2: top event_type per user (window row_number over count agg).
    QuerySpec("s2_top_event_type", (s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("user_id").orderBy(desc("cnt"), asc("event_type"))
      counts
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "cnt")
        .orderBy("user_id")
    }, sql(
      """SELECT user_id, event_type, cnt FROM (
        |  SELECT user_id, event_type, cnt,
        |   row_number() OVER (PARTITION BY user_id
        |     ORDER BY cnt DESC, event_type) AS rn
        |  FROM (SELECT user_id, event_type, COUNT(*) AS cnt FROM events
        |        GROUP BY user_id, event_type))
        | WHERE rn = 1 ORDER BY user_id""".stripMargin.replaceAll("\n", ""))),

    // S3: as-of join — for each purchase, the user's latest prior (or
    // simultaneous) click. One shuffle + bounded per-key sort
    // (operators.AsOf); oracle is DuckDB's native ASOF LEFT JOIN.
    QuerySpec("s3_asof_join", (s, dir) => {
      val e = Tables.eventsUs(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us"), col("event_id").as("click_id"))
      AsOf.asofJoin(purchases, clicks, "user_id", "us",
          rightPayload = Seq("click_id"))
        .orderBy("event_id")
    }, sql(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   CAST(epoch_us(ts) AS BIGINT) us FROM events),
        | p AS (SELECT event_id, user_id, us FROM e
        |   WHERE event_type = 'purchase'),
        | c AS (SELECT event_id AS click_id, user_id, us AS c_us FROM e
        |   WHERE event_type = 'click')
        | SELECT p.event_id, p.user_id, p.us, c.click_id AS asof_click_id
        | FROM p ASOF LEFT JOIN c
        |   ON p.user_id = c.user_id AND p.us >= c.c_us
        | ORDER BY p.event_id""".stripMargin.replaceAll("\n", ""))),

    // S4: the same as-of semantics through the skew-safe two-phase
    // form (time-range buckets + boundary-summary rescue) — must be
    // bit-identical to s3, checked against the same native ASOF oracle.
    // Bucket bounds come from parquet FOOTER statistics (metadata-only,
    // scaled to µs for either physical encoding by
    // Tables.eventsUsWithBounds), so the min/max pre-scan of both
    // inputs is skipped; bounds are correctness-neutral (they shape
    // the range split only) and absent stats fall back to the scan
    // inside asofJoinSkewSafe.
    QuerySpec("s4_asof_skewsafe", (s, dir) => {
      val (e, bounds) = Tables.eventsUsWithBounds(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "us")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("us"), col("event_id").as("click_id"))
      AsOf.asofJoinSkewSafe(purchases, clicks, "user_id", "us",
          rightPayload = Seq("click_id"), buckets = 16, bounds = bounds)
        .orderBy("event_id")
    }, sql(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   CAST(epoch_us(ts) AS BIGINT) us FROM events),
        | p AS (SELECT event_id, user_id, us FROM e
        |   WHERE event_type = 'purchase'),
        | c AS (SELECT event_id AS click_id, user_id, us AS c_us FROM e
        |   WHERE event_type = 'click')
        | SELECT p.event_id, p.user_id, p.us, c.click_id AS asof_click_id
        | FROM p ASOF LEFT JOIN c
        |   ON p.user_id = c.user_id AND p.us >= c.c_us
        | ORDER BY p.event_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // S13: FORWARD as-of join — for each purchase, the user's first
    // click at-or-after it (the "next event" direction: follow-up
    // attribution, next-action labeling). Implemented by time
    // negation over the same backward as-of operator (earliest
    // at-or-after under t = latest at-or-before under −t), so the
    // one-shuffle bounded-sort machinery is shared; the oracle plays
    // the same trick on DuckDB's native backward-only ASOF.
    QuerySpec("s13_asof_forward", (s, dir) => {
      val e = Tables.eventsUs(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), (-col("us")).as("neg_us"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), (-col("us")).as("neg_us"),
          col("event_id").as("click_id"))
      AsOf.asofJoin(purchases, clicks, "user_id", "neg_us",
          rightPayload = Seq("click_id"))
        .select(col("event_id"), col("user_id"),
          (-col("neg_us")).as("us"), col("asof_click_id"))
        .orderBy("event_id")
    }, sql(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   CAST(epoch_us(ts) AS BIGINT) us FROM events),
        | p AS (SELECT event_id, user_id, us, -us AS neg_us FROM e
        |   WHERE event_type = 'purchase'),
        | c AS (SELECT event_id AS click_id, user_id, -us AS c_neg FROM e
        |   WHERE event_type = 'click')
        | SELECT p.event_id, p.user_id, p.us, c.click_id AS asof_click_id
        | FROM p ASOF LEFT JOIN c
        |   ON p.user_id = c.user_id AND p.neg_us >= c.c_neg
        | ORDER BY p.event_id""".stripMargin.replaceAll("\n", ""))),

    // S5: Spark's built-in session_window — must produce exactly the
    // sessions the window-function construction (s1) produces, checked
    // against the same oracle reshaped (no session ordinal; sessions
    // identified by their bounds).
    QuerySpec("s5_session_window", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .select("user_id", "n_events", "start_us", "end_us")
        .orderBy("user_id", "start_us")
    }, sql(
      """WITH o AS (SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) us
        |   FROM events),
        | b AS (SELECT user_id, event_id, us,
        |   CASE WHEN lag(us) OVER w IS NULL
        |     OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |   FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        | sn AS (SELECT user_id, us,
        |   CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_number FROM b)
        | SELECT user_id, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us
        | FROM sn GROUP BY user_id, session_number
        | ORDER BY user_id, start_us""".stripMargin.replaceAll("\n", ""))),

    // S6: interval-correlated event join — every (purchase, click)
    // pair of the same user with the click in the purchase's trailing
    // 30 minutes (the batch face of EventStreams.correlate, whose
    // stream form is asserted equal in StreamingSpec).
    QuerySpec("s6_correlated_events", (s, dir) => {
      val e = Tables.events(s, dir)
      EventStreams.correlate(
          e.filter(col("event_type") === "purchase"),
          e.filter(col("event_type") === "click"),
          windowSeconds = 1800L)
        .select("l_event_id", "user_id", "r_event_id")
        .orderBy("l_event_id", "r_event_id")
    }, sql(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   CAST(epoch_us(ts) AS BIGINT) us FROM events),
        | p AS (SELECT event_id, user_id, us FROM e
        |   WHERE event_type = 'purchase'),
        | c AS (SELECT event_id, user_id, us FROM e
        |   WHERE event_type = 'click')
        | SELECT p.event_id AS l_event_id, p.user_id, c.event_id AS r_event_id
        | FROM p JOIN c ON p.user_id = c.user_id
        |   AND c.us >= p.us - 1800000000 AND c.us <= p.us
        | ORDER BY l_event_id, r_event_id""".stripMargin.replaceAll("\n", ""))),

    // S11: the same interval-correlation semantics as s6 through the
    // time-bucketed scale form — the join key gains a trailing-window
    // bucket (each right event indexed under its own and the next
    // bucket), so a hot user's events spread over (user, time) tasks
    // instead of one reduce task. Must be bit-identical to s6 — same
    // DuckDB range-join oracle.
    QuerySpec("s11_correlated_binned", (s, dir) => {
      val e = Tables.events(s, dir)
      EventStreams.correlateBinned(
          e.filter(col("event_type") === "purchase"),
          e.filter(col("event_type") === "click"),
          windowSeconds = 1800L)
        .select("l_event_id", "user_id", "r_event_id")
        .orderBy("l_event_id", "r_event_id")
    }, sql(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |   CAST(epoch_us(ts) AS BIGINT) us FROM events),
        | p AS (SELECT event_id, user_id, us FROM e
        |   WHERE event_type = 'purchase'),
        | c AS (SELECT event_id, user_id, us FROM e
        |   WHERE event_type = 'click')
        | SELECT p.event_id AS l_event_id, p.user_id, c.event_id AS r_event_id
        | FROM p JOIN c ON p.user_id = c.user_id
        |   AND c.us >= p.us - 1800000000 AND c.us <= p.us
        | ORDER BY l_event_id, r_event_id""".stripMargin.replaceAll("\n", ""))),

    // S7: ordered conversion funnel — per user, the furthest stage
    // reached in view → click-after-view → purchase-after-that-click,
    // each step within 24h of the previous (strict event-time
    // ordering, earliest qualifying event per stage), rolled up to
    // users per stage. Three keyed aggregations all partitioned on
    // user_id — Catalyst reuses one exchange across the chain, so at
    // 100 TB this is a single shuffle of the event log plus joins
    // between small per-user tables.
    QuerySpec("s7_funnel", (s, dir) => {
      val stepUs = 86400000000L // 24h per funnel step
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("t1"))
      val t2 = e.filter(col("event_type") === "click")
        .join(t1, "user_id")
        .filter(col("us") > col("t1") && col("us") <= col("t1") + stepUs)
        .groupBy("user_id").agg(min("us").as("t2"))
      val t3 = e.filter(col("event_type") === "purchase")
        .join(t2, "user_id")
        .filter(col("us") > col("t2") && col("us") <= col("t2") + stepUs)
        .groupBy("user_id").agg(min("us").as("t3"))
      e.select("user_id").distinct()
        .join(t1.select(col("user_id"), lit(1).as("s1")), Seq("user_id"), "left")
        .join(t2.select(col("user_id"), lit(1).as("s2")), Seq("user_id"), "left")
        .join(t3.select(col("user_id"), lit(1).as("s3")), Seq("user_id"), "left")
        .select(coalesce(
          when(col("s3") === 1, lit(3L)),
          when(col("s2") === 1, lit(2L)),
          when(col("s1") === 1, lit(1L)),
          lit(0L)).as("stage"))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
        .orderBy("stage")
    }, sql(
      """WITH e AS (SELECT user_id, event_type,
        |   CAST(epoch_us(ts) AS BIGINT) us FROM events),
        | t1 AS (SELECT user_id, MIN(us) AS t1 FROM e
        |   WHERE event_type = 'view' GROUP BY user_id),
        | t2 AS (SELECT e.user_id, MIN(us) AS t2 FROM e JOIN t1 USING (user_id)
        |   WHERE event_type = 'click' AND us > t1.t1
        |     AND us <= t1.t1 + 86400000000 GROUP BY e.user_id),
        | t3 AS (SELECT e.user_id, MIN(us) AS t3 FROM e JOIN t2 USING (user_id)
        |   WHERE event_type = 'purchase' AND us > t2.t2
        |     AND us <= t2.t2 + 86400000000 GROUP BY e.user_id),
        | st AS (SELECT u.user_id,
        |   CASE WHEN t3.user_id IS NOT NULL THEN 3
        |        WHEN t2.user_id IS NOT NULL THEN 2
        |        WHEN t1.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM (SELECT DISTINCT user_id FROM e) u
        |  LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |  LEFT JOIN t3 USING (user_id))
        | SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_users
        | FROM st GROUP BY stage ORDER BY stage""".stripMargin.replaceAll("\n", ""))),

    // S8: time-series gap-fill — per-user hourly event counts with
    // every silent hour between that user's first and last activity
    // materialized as an explicit zero row (the resample step before
    // any windowed rate/anomaly model). The hour spine is generated
    // PER ENTITY (sequence(min_hour, max_hour) exploded from the
    // per-user span row) — output is linear in Σ user-span-hours, and
    // there is no global calendar × entity cross-join. The span agg
    // and the hourly counts share one cached two-column projection;
    // the final left join shuffles on the composite (user, hour) key.
    QuerySpec("s8_gapfill", (s, dir) => {
      val e = graft.Caches.shared(
        Tables.events(s, dir).filter(col("user_id") < 50)
          .select(col("user_id"), date_trunc("hour", col("ts")).as("hr")))
      val cnt = e.groupBy("user_id", "hr").agg(count(lit(1)).as("cnt"))
      val spine = e.groupBy("user_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
            .as("hr"))
      spine.join(cnt, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr").cast("string").as("hr"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy("user_id", "hr")
    }, sql(
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hr FROM events
        |   WHERE user_id < 50),
        | c AS (SELECT user_id, hr, COUNT(*) AS cnt FROM e GROUP BY user_id, hr),
        | s AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM e
        |   GROUP BY user_id),
        | h AS (SELECT user_id,
        |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM s)
        | SELECT h.user_id, CAST(h.hr AS VARCHAR) AS hr,
        |  CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
        | FROM h LEFT JOIN c ON h.user_id = c.user_id AND h.hr = c.hr
        | ORDER BY 1, 2""".stripMargin.replaceAll("\n", ""))),

    // S9: forward fill (last observation carried forward) — per-user,
    // the latest non-null reading at each event time. Sensor/metric
    // streams are sparse; models want a dense value column. Click
    // events are treated as the null-reading rows (the synthetic table
    // has no nulls), then `last(ignoreNulls) OVER (user, time)` fills
    // them — one shuffle on user_id, per-key sort, the same shape as
    // sessionization; never a global sort or a self-join.
    QuerySpec("s9_forward_fill", (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") =!= "click", round(col("value"), 6)).as("v"))
        .withColumn("v_filled", last("v", ignoreNulls = true).over(w))
        .select("event_id", "v_filled")
        .orderBy("event_id")
    }, sql(
      """SELECT event_id, last_value(
        |   CASE WHEN event_type <> 'click' THEN ROUND(value, 6) END
        |   IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        | FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", ""))),

    // S10: event-rate anomaly detection — per-user hourly rates on the
    // gap-filled series (zeros count: a silent hour is data), z-scored
    // against the user's own mean/sd, surfacing the |z| > 2 spikes.
    // The spine/count/stat aggregations all key on user_id, so the
    // chain reuses one exchange; the per-user stats table is tiny and
    // broadcasts back onto the filled series.
    QuerySpec("s10_rate_anomaly", (s, dir) => {
      val e = graft.Caches.shared(
        Tables.events(s, dir).filter(col("user_id") < 50)
          .select(col("user_id"), date_trunc("hour", col("ts")).as("hr")))
      val cnt = e.groupBy("user_id", "hr").agg(count(lit(1)).as("cnt"))
      val spine = e.groupBy("user_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
            .as("hr"))
      val filled = spine.join(cnt, Seq("user_id", "hr"), "left")
        .select(col("user_id"), col("hr"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
      val stats = filled.groupBy("user_id")
        .agg(avg("cnt").as("mu"), stddev_samp(col("cnt")).as("sd"))
      filled.join(broadcast(stats.filter(col("sd") > 0)), "user_id")
        .withColumn("z", round((col("cnt") - col("mu")) / col("sd"), 4))
        .filter(abs(col("z")) > 2.0)
        .select(col("user_id"), col("hr").cast("string").as("hr"),
          col("cnt"), col("z"))
        .orderBy("user_id", "hr")
    }, sql(
      """WITH e AS (SELECT user_id, date_trunc('hour', ts) AS hr FROM events
        |   WHERE user_id < 50),
        | c AS (SELECT user_id, hr, COUNT(*) AS cnt FROM e GROUP BY user_id, hr),
        | s AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM e
        |   GROUP BY user_id),
        | h AS (SELECT user_id,
        |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM s),
        | f AS (SELECT h.user_id, h.hr,
        |   CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
        |  FROM h LEFT JOIN c ON h.user_id = c.user_id AND h.hr = c.hr),
        | st AS (SELECT user_id, AVG(cnt) AS mu, STDDEV_SAMP(cnt) AS sd
        |  FROM f GROUP BY user_id)
        | SELECT f.user_id, CAST(f.hr AS VARCHAR) AS hr, f.cnt,
        |  ROUND((f.cnt - st.mu) / st.sd, 4) AS z
        | FROM f JOIN st USING (user_id)
        | WHERE st.sd > 0 AND ABS(ROUND((f.cnt - st.mu) / st.sd, 4)) > 2
        | ORDER BY user_id, hr""".stripMargin.replaceAll("\n", ""))),

    // S12: windowed event dedup — first event per (user, type, hour),
    // the at-least-once-delivery dedup every event pipeline runs at
    // ingest (the batch face of streamingDedup with a composite key +
    // time bucket). rank<=1 compiles to WindowGroupLimit, so each map
    // partition forwards one row per key before the shuffle.
    QuerySpec("s12_windowed_dedup", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"),
          date_trunc("hour", col("ts")))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_id")
        .orderBy("event_id")
    }, sql(
      """SELECT event_id FROM (
        |  SELECT event_id, row_number() OVER (
        |    PARTITION BY user_id, event_type, date_trunc('hour', ts)
        |    ORDER BY ts, event_id) AS rn
        |  FROM events)
        | WHERE rn = 1 ORDER BY event_id""".stripMargin.replaceAll("\n", ""))),

    // S14: time-series downsampling — per (user, 5-minute bucket)
    // event count, value sum (exact cents arithmetic like a12) and
    // type cardinality: the resolution-reduction step before storage
    // or modeling. The bucket is an epoch-aligned integral division
    // (portable to any engine); one keyed shuffle with map-side
    // partial aggregation.
    QuerySpec("s14_downsample", (s, dir) => {
      Tables.events(s, dir).filter(col("user_id") < 100)
        .groupBy(col("user_id"),
          expr("unix_micros(ts) div 300000000").as("bucket"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast("long")).as("sv_cents"),
          countDistinct("event_type").as("n_types"))
        .orderBy("user_id", "bucket")
    }, sql(
      """SELECT user_id, epoch_us(ts) // 300000000 AS bucket,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sv_cents,
        | CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
        | FROM events WHERE user_id < 100 GROUP BY 1, 2
        | ORDER BY user_id, bucket""".stripMargin.replaceAll("\n", ""))),

    // S18: interval union (sweep-line) — each event opens a 5-minute
    // activity interval; overlapping intervals merge and the per-user
    // union length is the "active time" utilization metric (device
    // uptime, engaged minutes, machine-occupancy billing). The classic
    // gaps-and-islands form: a per-user running max of interval ends
    // marks island starts, a running count numbers the islands, two
    // keyed aggs fold them — everything partitions on user_id (one
    // shuffle; no global window anywhere). Aggregated outputs are
    // invariant to tie order within (st, en), so the result is
    // deterministic across engines and partitionings.
    QuerySpec("s18_interval_union", (s, dir) => {
      intervalUnion(
          Tables.events(s, dir)
            .select(col("user_id"), unix_micros(col("ts")).as("st")),
          keyCol = "user_id", stCol = "st", durUs = 300000000L)
        .orderBy("user_id")
    }, sql(
      """WITH iv AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS st,
        |   CAST(epoch_us(ts) AS BIGINT) + 300000000 AS en FROM events),
        | m AS (SELECT user_id, st, en, MAX(en) OVER (PARTITION BY user_id
        |   ORDER BY st, en ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |   AS pm FROM iv),
        | f AS (SELECT user_id, st, en,
        |   CASE WHEN pm IS NULL OR st > pm THEN 1 ELSE 0 END AS ni FROM m),
        | g AS (SELECT user_id, st, en, SUM(ni) OVER (PARTITION BY user_id
        |   ORDER BY st, en ROWS UNBOUNDED PRECEDING) AS island FROM f),
        | i AS (SELECT user_id, island, MIN(st) AS ist, MAX(en) AS ien
        |   FROM g GROUP BY 1, 2)
        | SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(ien - ist) AS BIGINT) AS active_us
        | FROM i GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", ""))),

    // S20: longest consecutive-day activity streak per user — the
    // dense-islands trick: within a user's DISTINCT active days in
    // order, day − row_number is constant exactly on a consecutive
    // run, so two keyed aggs after one window give the max run length.
    // The anchor date is engine-internal (never output) — only the
    // run-partitioning it induces must agree, which pure date
    // arithmetic guarantees.
    QuerySpec("s20_activity_streaks", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("d")
      Tables.events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
        .distinct()
        .withColumn("anchor", date_sub(col("d"), row_number().over(w)))
        .groupBy("user_id", "anchor").agg(count(lit(1)).as("len"))
        .groupBy("user_id").agg(max("len").as("max_streak"))
        .orderBy("user_id")
    }, sql(
      """WITH days AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
        |   FROM events),
        | r AS (SELECT user_id, d, row_number() OVER (PARTITION BY user_id
        |   ORDER BY d) AS rn FROM days),
        | g AS (SELECT user_id, d - rn * INTERVAL 1 DAY AS anchor FROM r),
        | st AS (SELECT user_id, anchor, COUNT(*) AS len FROM g GROUP BY 1, 2)
        | SELECT user_id, CAST(MAX(len) AS BIGINT) AS max_streak
        | FROM st GROUP BY user_id ORDER BY user_id"""
        .stripMargin.replaceAll("\n", ""))),

    // S19: hopping-window counts — 10-minute windows sliding every
    // 5 minutes (each event lands in exactly TWO overlapping windows):
    // the smoothing/rate-monitor window shape tumbling buckets (a12,
    // s14) can't express. Spark's window(slide) compiles to a bounded
    // explode in the scan projection (window count = size/slide, a
    // constant) followed by one keyed agg — the oracle enumerates the
    // same two epoch-aligned starts per event arithmetically.
    QuerySpec("s19_hopping_counts", (s, dir) => {
      Tables.events(s, dir)
        .groupBy(
          window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("window.start")).as("w_start"),
          col("event_type"), col("cnt"))
        .orderBy("w_start", "event_type")
    }, sql(
      """WITH w AS (SELECT event_type,
        |   (epoch_us(ts) // 300000000 - i) * 300000000 AS w_start
        |  FROM events, UNNEST([0, 1]) AS u(i))
        | SELECT w_start, event_type, COUNT(*) AS cnt
        | FROM w GROUP BY 1, 2 ORDER BY w_start, event_type"""
        .stripMargin.replaceAll("\n", ""))),

    // S21: sliding-window DISTINCT users (1-hour window hopping every
    // 15 minutes) through MERGEABLE per-hop HLL sketches — the shape
    // s19's additive counts can't take: COUNT(DISTINCT) doesn't
    // decompose over overlapping windows by re-adding, but sketch
    // UNION does. Scale shape: the corpus aggregates ONCE into per-hop
    // sketches (one keyed shuffle with partial aggregation — ~96
    // sketch blobs per day regardless of event volume), then each
    // window unions its 4 hop sketches (an O(windows) explode of the
    // SKETCH table, not the event log). The exact side is oracle
    // ballast (a21's derived-invariant pattern — it replays the
    // 4× event replication the sketch path exists to avoid; the
    // Scaladoc'd production form emits the estimate alone) and the
    // hash-checked claim is the sketch contract: every window's
    // union estimate within 10% of its exact distinct count.
    // s21: DuckDB recomputes the exact per-window distinct count (the
    // 4-hop replication) and asserts the sketch-contract boolean TRUE;
    // the estimate itself is engine-specific and never hashed.
    // Bench times the production shape, not this declared form: the
    // declared query joins the sketch path against an exact 4×
    // event-replication side (oracle ballast the production path exists
    // to avoid); the production shape is the sketch rollup alone
    // (HllRollup.slidingDistinct Scaladoc).
    QuerySpec("s21_sliding_distinct", (s, dir) => {
      val hopUs = 900L * 1000 * 1000 // 15 min
      val hops = 4 // window = hops × hop: ONE constant for both sides
      val e = Tables.eventsUs(s, dir)
      // the production path (estimates only) is the library function;
      // the declared query joins it against the exact ballast
      val winEst = graft.functions.HllRollup.slidingDistinct(
        e, "us", "user_id", hopUs, hopsPerWindow = hops)
      val exact = e
        .select(explode(sequence(
          expr(s"us div $hopUs") - (hops - 1),
          expr(s"us div $hopUs"))).as("win"),
          col("user_id"))
        .groupBy("win").agg(countDistinct(col("user_id")).as("exact_users"))
      exact
        .join(winEst.withColumnRenamed("w_start", "ws"),
          col("win") * hopUs === col("ws"))
        .select((col("win") * hopUs).as("w_start"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.10).as("within_rel_err"))
        .orderBy("w_start")
    }, sql(
      """WITH w AS (SELECT user_id,
        |   (epoch_us(ts) // 900000000 - i) * 900000000 AS w_start
        |  FROM events, UNNEST([0, 1, 2, 3]) AS u(i))
        | SELECT w_start, CAST(COUNT(DISTINCT user_id) AS BIGINT)
        |   AS exact_users, TRUE AS within_rel_err
        | FROM w GROUP BY 1 ORDER BY w_start"""
        .stripMargin.replaceAll("\n", "")), headline = true,
      bench = Some((s, dir) => {
        val hopUs = 900L * 1000 * 1000
        graft.functions.HllRollup.slidingDistinct(
          Tables.eventsUs(s, dir), "us", "user_id", hopUs, hopsPerWindow = 4)
          .orderBy("w_start")
      })),

    // S22: sequential pattern mining — the top-20 most frequent
    // 3-event-type sequences across user timelines (order-3 extension
    // of s17's Markov transitions: funnels and habit loops that pair
    // counts can't see). Same one-shuffle shape as s17: two stacked
    // leads over the per-user time order (a SINGLE window — one
    // user_id exchange + per-user sort, no arrays and no per-user
    // collect), then a trigram-keyed count (map-side combined, bounded
    // by |types|³) fused into TakeOrderedAndProject.
    QuerySpec("s22_sequence_mining", (s, dir) => {
      val wSeq = Window.partitionBy("user_id").orderBy("us", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("e1"),
          col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("e2", lead("e1", 1).over(wSeq))
        .withColumn("e3", lead("e1", 2).over(wSeq))
        .filter(col("e3").isNotNull)
        .groupBy("e1", "e2", "e3")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("e1"), asc("e2"), asc("e3"))
        .limit(20)
    }, sql(
      """WITH e AS (SELECT event_type AS e1,
        |   lead(event_type, 1) OVER w AS e2,
        |   lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |   ORDER BY epoch_us(ts), event_id))
        | SELECT e1, e2, e3, COUNT(*) AS cnt FROM e
        | WHERE e3 IS NOT NULL GROUP BY e1, e2, e3
        | ORDER BY cnt DESC, e1, e2, e3 LIMIT 20"""
        .stripMargin.replaceAll("\n", ""))),

    // S15: retention cohorts — users grouped by first-activity day,
    // the (cohort, day-offset) distinct-user matrix every product
    // analytics pipeline derives from an event log. The day projection
    // is shared (one scan) between the cohort agg and the join-back;
    // both key on user_id, so the chain reuses one exchange.
    QuerySpec("s15_retention_cohorts", (s, dir) => {
      val e = graft.Caches.shared(Tables.events(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("d")))
      val cohorts = e.groupBy("user_id").agg(min("d").as("cohort"))
      e.join(cohorts, Seq("user_id"))
        .groupBy(
          col("cohort").cast("string").as("cohort_day"),
          datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_day", "day_offset")
    }, sql(
      """WITH e AS (SELECT user_id, date_trunc('day', ts) AS d FROM events),
        | c AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY 1)
        | SELECT CAST(CAST(cohort AS TIMESTAMP) AS VARCHAR) AS cohort_day,
        |  CAST((epoch(d) - epoch(cohort)) / 86400 AS BIGINT) AS day_offset,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        | FROM e JOIN c USING (user_id) GROUP BY 1, 2
        | ORDER BY cohort_day, day_offset""".stripMargin.replaceAll("\n", ""))),

    // J1: property extraction from the JSON-ish props column
    // (regexp-based; engine-portable, null on no-match under ANSI).
    QuerySpec("j1_props_extract", (s, dir) => {
      val k = regexp_extract(col("props"), "([0-9]+)", 1)
      Tables.events(s, dir)
        .select(
          col("event_id"),
          when(k =!= "", k.cast("long")).as("k"))
        .orderBy("event_id")
    }, sql(
      """SELECT event_id, CAST(NULLIF(regexp_extract(props, '([0-9]+)', 1), '')
        | AS BIGINT) AS k FROM events ORDER BY event_id"""
        .stripMargin.replaceAll("\n", ""))),

    // J2: schema'd JSON parsing (from_json, not regex) rolled up per
    // event_type — the structured-props shape; parsing happens in the
    // scan projection, aggregation is one keyed shuffle.
    QuerySpec("j2_json_rollup", (s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"))
        .orderBy("event_type")
    }, sql(
      """SELECT event_type, COUNT(*) AS cnt,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |  AS sum_k FROM events GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", ""))),

    // S16: conversion attribution — for each converting user, the
    // first event ever (first touch) and the last event strictly
    // before the first purchase (last touch; NULL when the purchase
    // opens the history). ONE shuffle on user_id: both windows and
    // the per-user fold share the same partitioning; only the tiny
    // (first, last) pair table re-shuffles for the final count.
    QuerySpec("s16_attribution", (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val wSeq = Window.partitionBy("user_id").orderBy("us", "event_id")
      val wUser = Window.partitionBy("user_id")
      val ranked = e
        .withColumn("rn", row_number().over(wSeq))
        .withColumn("prn",
          min(when(col("event_type") === "purchase", col("rn"))).over(wUser))
      ranked
        .filter(col("prn").isNotNull)
        .groupBy("user_id")
        .agg(
          max(when(col("rn") === 1, col("event_type"))).as("first_touch"),
          max(when(col("rn") === col("prn") - 1, col("event_type")))
            .as("last_touch"))
        .groupBy("first_touch", "last_touch")
        .agg(count(lit(1)).as("n_users"))
        .orderBy(asc("first_touch"), asc_nulls_first("last_touch"))
    }, sql(
      """WITH e AS (SELECT user_id, event_type, event_id,
        |   row_number() OVER (
        |     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        | fp AS (SELECT user_id, MIN(rn) AS prn FROM e
        |   WHERE event_type = 'purchase' GROUP BY user_id),
        | ft AS (SELECT user_id, event_type AS first_touch FROM e WHERE rn = 1),
        | lt AS (SELECT e.user_id, e.event_type AS last_touch
        |   FROM e JOIN fp ON e.user_id = fp.user_id AND e.rn = fp.prn - 1)
        | SELECT ft.first_touch, lt.last_touch, CAST(COUNT(*) AS BIGINT) AS n_users
        | FROM fp JOIN ft ON fp.user_id = ft.user_id
        | LEFT JOIN lt ON fp.user_id = lt.user_id
        | GROUP BY 1, 2
        | ORDER BY first_touch, last_touch NULLS FIRST""".stripMargin.replaceAll("\n", ""))),

    // S17: event-sequence transition matrix (the Markov view a
    // sequence-model data pipeline reports): per-user consecutive
    // event pairs via lead(), then global transition probabilities.
    // One user_id shuffle for the lead window; the probability window
    // runs over the |types|² count table, not events.
    QuerySpec("s17_markov_transitions", (s, dir) => {
      val wSeq = Window.partitionBy("user_id").orderBy("us", "event_id")
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("src"),
          col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("dst", lead("src", 1).over(wSeq))
        .filter(col("dst").isNotNull)
      pairs
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("p", round(
          col("cnt") * lit(1.0) / sum("cnt").over(Window.partitionBy("src")), 6))
        .select("src", "dst", "cnt", "p")
        .orderBy("src", "dst")
    }, sql(
      """WITH e AS (SELECT event_type AS src,
        |   lead(event_type) OVER (
        |     PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS dst
        |  FROM events),
        | c AS (SELECT src, dst, COUNT(*) AS cnt FROM e
        |   WHERE dst IS NOT NULL GROUP BY src, dst)
        | SELECT src, dst, CAST(cnt AS BIGINT) AS cnt,
        |   ROUND(cnt * 1.0 / SUM(cnt) OVER (PARTITION BY src), 6) AS p
        | FROM c ORDER BY src, dst""".stripMargin.replaceAll("\n", ""))),

    // S23: CUSUM changepoint detection (round 14) — the classic
    // sequential rate-shift detector (Page 1954) next to s10's
    // pointwise z-score: a z-score flags one wild hour, CUSUM
    // accumulates SUSTAINED drift above the baseline and alarms even
    // when no single hour is extreme. Per event type over gap-filled
    // hourly counts: S_t = max(0, S_{t-1} + x_t − (μ + k)) with the
    // standard slack k = μ (alarm only on sustained >2× drift — on a
    // sparse integer series a tighter slack alarms on every nonzero
    // hour) and alarm bar h = 6μ, ALL IN INTEGERS — the recursion is
    // scaled by D (D = hours, Σc = total count): S'_t = max(0,
    // S'_{t-1} + D·x_t − 2·Σc), alarm at S' ≥ 6·Σc — so both
    // engines fold exact integers and no float ever enters the
    // recursion. The baseline (D, Σc) comes from the RAW counts; a
    // 12-hour burst of +3·(Σc div D + 1) on one type is then PLANTED
    // (t8 precedent) so the alarm fires non-vacuously at EVERY SF by
    // construction: D·g ≥ 3·D·μ − 3·D + 3·D = 3·Σc, so each burst
    // hour accumulates ≥ Σc even if its raw count is 0, and 12 hours
    // clear the 6·Σc bar with 2× margin however the corpus scales
    // (a 2·floor(μ) plant missed the bar at sf0.01 — the floor ate
    // the slack margin; this one is floor-proof).
    // Scale shape: the per-key fold runs over a series bounded by the
    // TIME WINDOW (hours), never by event volume — one keyed
    // collect+fold per type after two keyed aggs; types parallelize,
    // a year is 8,760 fold steps per key.
    // s23: the CUSUM recursion replayed step-by-step as a recursive
    // CTE on the same integer scaling — GREATEST(0, S + D·x − 2·Σc)
    // per (type, hour-index) — over the identical gap-filled spine,
    // raw-count baseline and planted burst.
    QuerySpec("s23_cusum_changepoint", (s, dir) => {
      cusumFromCounts(
        Tables.events(s, dir)
          .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .groupBy("event_type", "hr").agg(count(lit(1)).as("c")))
    }, sql(
      """WITH RECURSIVE ev AS (SELECT event_type,
        |   date_trunc('hour', ts) AS hr FROM events),
        | cc AS (SELECT event_type, hr, COUNT(*) AS c FROM ev
        |  GROUP BY event_type, hr),
        | sp AS (SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1 FROM ev
        |  GROUP BY event_type),
        | hh AS (SELECT event_type,
        |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM sp),
        | f AS (SELECT hh.event_type, hh.hr,
        |   CAST(COALESCE(cc.c, 0) AS BIGINT) AS c
        |  FROM hh LEFT JOIN cc
        |   ON hh.event_type = cc.event_type AND hh.hr = cc.hr),
        | st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS d,
        |   CAST(SUM(c) AS BIGINT) AS sumc FROM f GROUP BY event_type),
        | pl AS (SELECT f.event_type, f.hr,
        |   CASE WHEN f.event_type = 'click'
        |     AND f.hr >= TIMESTAMP '2024-01-15 00:00:00'
        |     AND f.hr < TIMESTAMP '2024-01-15 12:00:00'
        |    THEN f.c + 3 * (st.sumc // st.d + 1) ELSE f.c END AS cnt,
        |   st.d, st.sumc,
        |   ROW_NUMBER() OVER (PARTITION BY f.event_type ORDER BY f.hr) AS i
        |  FROM f JOIN st ON f.event_type = st.event_type),
        | r AS (
        |  SELECT event_type, i, hr, cnt, d, sumc,
        |    CAST(GREATEST(0, d * cnt - 2 * sumc) AS BIGINT) AS s
        |   FROM pl WHERE i = 1
        |  UNION ALL
        |  SELECT p.event_type, p.i, p.hr, p.cnt, p.d, p.sumc,
        |    CAST(GREATEST(0, r.s + p.d * p.cnt - 2 * p.sumc) AS BIGINT)
        |   FROM r JOIN pl p
        |    ON p.event_type = r.event_type AND p.i = r.i + 1)
        | SELECT event_type, CAST(epoch_us(hr) AS BIGINT) AS hr_us, cnt,
        |  s AS cusum, s >= 6 * sumc AS alarm
        | FROM r ORDER BY event_type, hr_us""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // S24: integer EWMA smoothing (round 14) — the classic streaming
    // smoother next to s9's forward fill and s23's CUSUM: per user,
    // exponentially-weighted hourly activity with α = 1/4, kept in
    // EXACT 16ths-scaled integers (s₀ = 16·x₀, sₜ = (3·sₜ₋₁ + 16·xₜ)
    // div 4 — non-negative floor division, so both engines fold
    // bit-identically and no float enters the recursion; truncation
    // is part of the definition, as in fixed-point DSP). Same
    // gap-filled spine as s10 (user_id < 50 — the s10 bound), same
    // time-window-bounded per-key fold as s23: the series length is
    // hours, never event volume.
    // s24: the 16ths-scaled integer EWMA replayed step-by-step as a
    // recursive CTE over the same gap-filled spine.
    QuerySpec("s24_ewma_smoothing", (s, dir) => {
      // shared: the hourly count table feeds both the spine bounds
      // and the gap-fill join inside ewmaFromCounts
      ewmaFromCounts(graft.Caches.shared(
        Tables.events(s, dir).filter(col("user_id") < 50)
          .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
          .groupBy("user_id", "hr").agg(count(lit(1)).as("c"))))
    }, sql(
      """WITH RECURSIVE ev AS (SELECT user_id,
        |   date_trunc('hour', ts) AS hr FROM events WHERE user_id < 50),
        | cc AS (SELECT user_id, hr, COUNT(*) AS c FROM ev
        |  GROUP BY user_id, hr),
        | sp AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1 FROM ev
        |  GROUP BY user_id),
        | hh AS (SELECT user_id,
        |   unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM sp),
        | f AS (SELECT hh.user_id, hh.hr,
        |   CAST(COALESCE(cc.c, 0) AS BIGINT) AS c
        |  FROM hh LEFT JOIN cc
        |   ON hh.user_id = cc.user_id AND hh.hr = cc.hr),
        | pl AS (SELECT user_id, hr, c,
        |   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hr) AS i
        |  FROM f),
        | r AS (
        |  SELECT user_id, i, hr, c, CAST(16 * c AS BIGINT) AS e16
        |   FROM pl WHERE i = 1
        |  UNION ALL
        |  SELECT p.user_id, p.i, p.hr, p.c,
        |    CAST((3 * r.e16 + 16 * p.c) // 4 AS BIGINT)
        |   FROM r JOIN pl p
        |    ON p.user_id = r.user_id AND p.i = r.i + 1)
        | SELECT user_id, CAST(epoch_us(hr) AS BIGINT) AS hr_us,
        |  c AS cnt, e16 AS ewma16
        | FROM r ORDER BY user_id, hr_us""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // S25: ordered event FUNNEL (round 15) — the product-analytics
    // twin of t52's document funnel: per user, the view → click →
    // purchase conversion path where each stage only counts if it
    // happens AT OR AFTER the previous stage's first occurrence (a
    // purchase before ever viewing is not a conversion — the
    // time-ordering is what separates a funnel from three counts).
    // Emits per user the first qualifying timestamp of each reached
    // stage (epoch micros — the s23 VARCHAR-render lesson) and the
    // stage count. Scale shape: three user-keyed min-aggregations
    // chained by user-keyed joins — every exchange is on the SAME
    // user_id key, so the partitioning is produced once and reused
    // (AQE coalesces the co-partitioned joins); no window, no
    // per-user event sort, partial min map-side.
    // s25: the same three chained conditional-min stages; epoch_us on
    // either physical ts encoding.
    QuerySpec("s25_event_funnel", (s, dir) => {
      val e = graft.Caches.shared(Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_type"), col("us")))
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("us").as("view_us"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("us") >= col("view_us"))
        .groupBy("user_id").agg(min("us").as("click_us"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("us") >= col("click_us"))
        .groupBy("user_id").agg(min("us").as("purchase_us"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"), col("view_us"), col("click_us"),
          col("purchase_us"),
          (lit(1L) + when(col("click_us").isNotNull, 1L).otherwise(0L) +
            when(col("purchase_us").isNotNull, 1L).otherwise(0L))
            .as("stage"))
        .orderBy("user_id")
    }, sql(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
        |  FROM events),
        | v AS (SELECT user_id, MIN(us) AS view_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        | c AS (SELECT e.user_id, MIN(us) AS click_us FROM e
        |  JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us >= view_us GROUP BY 1),
        | p AS (SELECT e.user_id, MIN(us) AS purchase_us FROM e
        |  JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us >= click_us GROUP BY 1)
        | SELECT v.user_id, view_us, click_us, purchase_us,
        |  CAST(1 + (click_us IS NOT NULL)::INT
        |    + (purchase_us IS NOT NULL)::INT AS BIGINT) AS stage
        | FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        | ORDER BY user_id""".stripMargin.replaceAll("\n", "")),
      headline = true),

    // S26: retention COHORTS (round 15) — the other table every
    // product-analytics stack ships next to s25's funnel: users
    // grouped by their signup WEEK, then for each later week the
    // fraction of that cohort still active (any event). Weeks are
    // pure integer epoch-week indexes (us div 604800e6) — no
    // calendar/timezone surface, identical in both engines; the rate
    // is count/count ROUND(,6). Week 0 is the signup week itself, so
    // every cohort's offset-0 rate is 1.0 by construction (the
    // signup event is activity) — a structural sanity row. Scale
    // shape: one user-keyed min-agg for the cohort table, one
    // user-keyed join back (same key — the partitioning is reused),
    // one (cohort, offset)-keyed distinct-count, and the bounded
    // cohort-size table joins back broadcast.
    // s26: the same epoch-week integer indexes, cohort min, activity
    // join and count/count rate.
    QuerySpec("s26_retention_cohorts", (s, dir) => {
      val wkUs = 604800000000L
      val e = graft.Caches.shared(Tables.eventsUs(s, dir)
        .select(col("user_id"), col("event_type"),
          expr(s"us div $wkUs").as("wk")))
      val cohort = graft.Caches.shared(
        e.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("wk").as("cohort_wk")))
      val sizes = cohort.groupBy("cohort_wk")
        .agg(count(lit(1)).as("cohort_users"))
      e.join(cohort, "user_id")
        .filter(col("wk") >= col("cohort_wk"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk"))
          .as("week_offset"))
        .agg(countDistinct("user_id").as("n_active"))
        .join(broadcast(sizes), "cohort_wk")
        .select(col("cohort_wk"), col("week_offset"), col("n_active"),
          col("cohort_users"),
          round(col("n_active").cast("double") / col("cohort_users"), 6)
            .as("retention_rate"))
        .orderBy("cohort_wk", "week_offset")
    }, sql(
      """WITH e AS (SELECT user_id, event_type,
        |   epoch_us(ts) // 604800000000 AS wk FROM events),
        | c AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        | cz AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT)
        |   AS cohort_users FROM c GROUP BY 1),
        | a AS (SELECT c.cohort_wk, e.wk - c.cohort_wk AS week_offset,
        |   CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
        |  FROM e JOIN c USING (user_id)
        |  WHERE e.wk >= c.cohort_wk GROUP BY 1, 2)
        | SELECT a.cohort_wk, a.week_offset, a.n_active, cz.cohort_users,
        |  ROUND(a.n_active::DOUBLE / cz.cohort_users, 6)
        |   AS retention_rate
        | FROM a JOIN cz USING (cohort_wk)
        | ORDER BY cohort_wk, week_offset""".stripMargin
        .replaceAll("\n", "")), headline = true),

    // J3: JSON key INVENTORY (round 14) — the semi-structured
    // profiling pass an ingest pipeline runs before declaring a
    // schema (j1 regex-extracts one known key, j2 parses a declared
    // schema; this DISCOVERS the keys): per key, how many events
    // carry it and how many distinct raw values it takes. The corpus
    // props are single-key, so extra shapes are PLANTED per event_id
    // (t8 precedent) by pure string surgery — the closing brace (and
    // any whitespace around it) is stripped by the SAME anchored
    // pattern in both engines, so a props value with trailing
    // whitespace still plants a VALID object (round 15 — the naive
    // length−1 substr would otherwise make Spark's from_json yield
    // NULL, silently dropping the row, where DuckDB's json_keys
    // raises: a silent-drop vs oracle-crash asymmetry). The class is
    // spelled [ \t\n\r\f] explicitly — Java's \s and RE2's \s disagree
    // on \x0B. Scale: parse in the scan projection, explode bounded
    // by keys-per-event, one keyed aggregation.
    // j3: the same brace-surgery plant — the anchored strip pattern is
    // spelled identically (explicit [ \t\n\r\f] class; Java \s and RE2
    // \s disagree on \x0B) — then key/value pairs via json_keys +
    // json_extract_string (DuckDB strips quotes exactly like Spark's
    // map<string,string> from_json).
    QuerySpec("j3_key_inventory", (s, dir) => {
      j3PlantedProps(Tables.events(s, dir))
        .select(explode(
          expr("map_entries(from_json(props, 'map<string,string>'))"))
          .as("e"))
        .select(col("e.key").as("key"), col("e.value").as("value"))
        .groupBy("key")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("value").as("n_values"))
        .orderBy("key")
    }, sql(
      """WITH p AS (SELECT regexp_replace(props,
        |   '[ \t\n\r\f]*\}[ \t\n\r\f]*$', '') ||
        |   CASE WHEN event_id % 3 = 1
        |     THEN ', "tag": "t' || CAST(event_id % 5 AS VARCHAR) || '"'
        |    WHEN event_id % 3 = 2 THEN ', "flag": true'
        |    ELSE '' END || '}' AS props
        |  FROM events),
        | ke AS (SELECT u.k AS key,
        |   json_extract_string(p.props, '$.' || u.k) AS value
        |  FROM p, UNNEST(json_keys(p.props)) AS u(k))
        | SELECT key, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT value) AS BIGINT) AS n_values
        | FROM ke GROUP BY key ORDER BY key"""
        .stripMargin.replaceAll("\n", "")), headline = true),
  )

  /** s23's decision body over an (event_type, hr, c) hourly-count
    * table — ONE definition shared by the batch query and the
    * streaming face ([[graft.streaming.EventStreams.streamingTypeHourly]]
    * maintains exactly these counts as its state; the CUSUM fold then
    * runs FROM STATE with zero event re-reads). Spine, baseline,
    * planted burst and the integer-scaled fold per the s23 scaladoc. */
  private[graft] def cusumFromCounts(cnt: DataFrame): DataFrame = {
    val spine = cnt.groupBy("event_type")
      .agg(min("hr").as("h0"), max("hr").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
          .as("hr"))
    val filled = spine.join(cnt, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("c"), lit(0L)).as("c"))
    // baseline BEFORE the plant: the reference is history, the
    // burst is the anomaly under test
    val stats = filled.groupBy("event_type")
      .agg(count(lit(1)).as("d"), sum("c").as("sumc"))
    val planted = filled.join(broadcast(stats), "event_type")
      .withColumn("cnt",
        when(col("event_type") === "click" &&
            col("hr") >= lit("2024-01-15 00:00:00").cast("timestamp") &&
            col("hr") < lit("2024-01-15 12:00:00").cast("timestamp"),
          col("c") + lit(3L) * (expr("sumc div d") + lit(1L)))
          .otherwise(col("c")))
    planted
      .groupBy(col("event_type"), col("d"), col("sumc"))
      .agg(sort_array(collect_list(struct(col("hr"), col("cnt"))))
        .as("ser"))
      // linear scan (round 15): see the s24 note — the former
      // aggregate+array_append accumulator copied the whole array per
      // step (O(L²) in spine length); the scan UDF is one pass.
      .withColumn("sv",
        cusumScan(expr("transform(ser, x -> x.cnt)"), col("d"), col("sumc")))
      .select(col("event_type"), col("sumc"),
        explode(arrays_zip(col("ser"), col("sv"))).as("e"))
      // epoch micros, not a cast-to-string hour: a VARCHAR render is
      // parquet-encoding-dependent (DuckDB prints a UTC-adjusted
      // TIMESTAMP_MICROS file as '…+00' where the driver's
      // unadjusted NANOS prints bare — surfaced by the sf1 smoke);
      // the epoch integer is absolute in both engines
      .select(col("event_type"), unix_micros(col("e.ser.hr")).as("hr_us"),
        col("e.ser.cnt").as("cnt"), col("e.sv").as("cusum"),
        (col("e.sv") >= lit(6L) * col("sumc")).as("alarm"))
      .orderBy("event_type", "hr_us")
  }

  /** j3's plant surgery over an (event_id, props) frame — ONE
    * definition so the whitespace-robustness spec drives the exact
    * production expression (a props value with whitespace around the
    * closing brace must still plant a VALID object in both engines). */
  private[graft] def j3PlantedProps(ev: DataFrame): DataFrame =
    ev.select(
      concat(
        regexp_replace(col("props"),
          lit("[ \t\n\r\f]*\\}[ \t\n\r\f]*$"), lit("")),
        when(pmod(col("event_id"), lit(3)) === 1,
          concat(lit(", \"tag\": \"t"),
            pmod(col("event_id"), lit(5)).cast("string"), lit("\"")))
          .when(pmod(col("event_id"), lit(3)) === 2,
            lit(", \"flag\": true"))
          .otherwise(lit("")),
        lit("}")).as("props"))

  /** s24's decision body over a (user_id, hr, c) hourly-count table —
    * factored like [[cusumFromCounts]] so the 10k-step linear-fold
    * spec drives the exact production chain: gap-filled hourly spine,
    * then the 16ths-scaled integer EWMA via the linear [[ewmaScan]]
    * (round 15 — the round-14 `aggregate`+`array_append` accumulator
    * copied the whole array per step, O(L²) element copies in the
    * spine length; the scan is one pass, recursion and oracle
    * bit-identical). */
  private[graft] def ewmaFromCounts(cnt: DataFrame): DataFrame = {
    val spine = cnt.groupBy("user_id")
      .agg(min("hr").as("h0"), max("hr").as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
          .as("hr"))
    spine.join(cnt, Seq("user_id", "hr"), "left")
      .select(col("user_id"), col("hr"),
        coalesce(col("c"), lit(0L)).as("c"))
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("hr"), col("c"))))
        .as("ser"))
      .withColumn("sv", ewmaScan(expr("transform(ser, x -> x.c)")))
      .select(col("user_id"),
        explode(arrays_zip(col("ser"), col("sv"))).as("e"))
      .select(col("user_id"), unix_micros(col("e.ser.hr")).as("hr_us"),
        col("e.ser.c").as("cnt"), col("e.sv").as("ewma16"))
      .orderBy("user_id", "hr_us")
  }

  /** Linear CUSUM scan over a per-key hourly count series — the
    * round-15 replacement for the quadratic `aggregate`+`array_append`
    * accumulator (every append copied the whole array: O(L²) element
    * copies per key in the spine length L). One pass, one output cell
    * per step; runs once per KEY over a time-window-bounded series, so
    * it never sits in a per-row hot path. The recursion is the exact
    * integer form the oracle replays: S₀ = 0, Sₜ = max(0, Sₜ₋₁ +
    * d·xₜ − 2·Σc) — Long arithmetic matches BIGINT in both engines. */
  private val cusumScan =
    udf { (cnts: Seq[Long], d: Long, sumc: Long) =>
      var run = 0L
      cnts.map { c =>
        run = math.max(0L, run + d * c - 2L * sumc)
        run
      }
    }

  /** Linear 16ths-scaled integer EWMA scan (s24) — same linearization
    * as [[cusumScan]]. s₀ = 16·x₀; sₜ = (3·sₜ₋₁ + 16·xₜ) div 4. All
    * terms stay non-negative, so Scala's truncating `/` IS the SQL
    * `div` floor — no float ever enters the recursion. */
  private[graft] val ewmaScan =
    udf { (cnts: Seq[Long]) =>
      var run = -1L
      cnts.map { c =>
        run = if (run < 0) 16L * c else (3L * run + 16L * c) / 4L
        run
      }
    }

  /** Per-key sweep-line union of [st, st+durUs) intervals →
    * (key, n_sessions, active_us). Gaps-and-islands: a running max of
    * interval ends over strictly-preceding rows marks island starts, a
    * running count numbers them, two keyed aggs fold the islands —
    * every step partitions on `keyCol` (one shuffle, no global
    * window). Outputs are invariant to tie order within (st, en). */
  def intervalUnion(
      df: org.apache.spark.sql.DataFrame, keyCol: String, stCol: String,
      durUs: Long): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(stCol, "en")
    df
      .withColumn("en", col(stCol) + durUs)
      .withColumn("pm", max("en").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("pm").isNull || col(stCol) > col("pm"), 1L).otherwise(0L))
      .withColumn("island", sum("ni").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("island"))
      .agg(min(stCol).as("ist"), max("en").as("ien"))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("ien") - col("ist")).as("active_us"))
  }

}
