package graft
package queries

import graft.OracleGen._
import graft.core.Tables
import graft.queries.Shared._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `events_*` queries: clickstream analytics over `events.parquet`,
  * batch and streaming, each with its DuckDB oracle. */
object EventsQueries {

  /** Events → series bridge: hourly event counts on a dense hour spine,
    * seasonal-naive (m=24h) fitted values + a 24-hour tiled forecast. */
  private def qEventsForecast(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(expr("ts div 3600000000000").as("hr")) // epoch hours
      .agg(count(lit(1)).as("n"))
    val bounds = counts.agg(min("hr").as("h0"), max("hr").as("h1"))
    val spine = bounds.select(explode(expr("sequence(h0, h1)")).as("hr"))
    val dense = spine.join(counts, Seq("hr"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    // seasonal-naive fitted values via a self-join on the hour key (the spine
    // is dense, so hr−24 is exact) — shuffle-partitioned by hr, no global
    // single-partition window.
    val fitted = dense.join(
        dense.select((col("hr") + 24).as("hr"), col("n").as("yhat")),
        Seq("hr"), "left")
      .withColumn("is_future", lit(false))
    val lastCycle = dense.join(bounds).filter(col("hr") > col("h1") - 24)
      .select((col("hr") + 24).as("hr"), col("n").as("yhat"))
    val fut = lastCycle
      .withColumn("n", lit(null).cast("long"))
      .withColumn("is_future", lit(true))
      .select("hr", "n", "yhat", "is_future")
    fitted.select("hr", "n", "yhat", "is_future").unionByName(fut)
      .withColumn("hour_ms", col("hr") * 3600000L).drop("hr")
  }

  private def qSessionize(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).sessionize()

  /** Top 3-step within-session event paths (the "what happens before X"
    * monitoring view): [[graft.Events.topPaths]] over the gap sessions. */
  private def qTopPaths(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).topPaths(n = 3, k = 10)

  /** Semi-structured props extraction: `from_json` with an explicit typed
    * schema (one codegen'd JsonToStructs per row — never a Python/Scala UDF
    * parse) feeding a keyed aggregation. The 100 TB shape for event
    * payloads: parse projects ONLY the declared fields, so a 2 KB props
    * blob costs one column's worth of work. */
  private def qEventsPropsAgg(s: SparkSession, d: String): DataFrame = {
    val propsSchema = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
    Tables.events(s, d)
      .select(col("event_type"),
        from_json(col("props"), propsSchema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        round(avg("k"), 6).as("avg_k"),
        sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_hi"))
  }

  /** [[graft.operators.AsOf.asofJoin]] declared: every purchase event
    * joined to the same user's most recent at-or-before view (time + value)
    * — the state-at-event-time lookup every event pipeline needs. Oracle:
    * DuckDB's native ASOF LEFT JOIN. */
  private def qEventsAsofView(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    // unique right rows per (key, time): the operator's determinism contract
    val views = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("vval"))
    graft.operators.AsOf.asofJoin(purchases, views, Seq("user_id"),
        "ts", "ts", Seq("vval"))
      .select(col("user_id"), col("event_id"),
        expr("ts_asof div 1000000").as("view_ms"),
        round(col("vval_asof"), 4).as("view_value"))
  }

  /** [[graft.operators.IntervalJoin.intervalJoin]] declared: every
    * (view, click) pair per user with the click inside the 24h window
    * after the view — the windowed-attribution primitive, bucketed so the
    * plan is an equi-join, never a per-key theta-join. */
  private def qEventsIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val day = 86400L * 1000 * 1000 * 1000 // 24h in epoch-ns
    graft.operators.IntervalJoin.intervalJoin(views, clicks, Seq("user_id"),
        "ts", "cts", Seq("click_id"), 0L, day)
      .select(col("user_id"), col("view_id"), col("click_id_r").as("click_id"),
        expr("(cts_r - ts) div 1000000").as("gap_ms"))
  }

  private def qEventsHourly(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).hourly

  /** Windowed conversion funnel (view → click → purchase, each next
    * stage within 24h of the previous): each stage is the users whose
    * EARLIEST qualifying event falls strictly inside the window after
    * their previous stage's time — per-user aggregates joined stage to
    * stage (each stage frame is one row per user, keyed by user_id; the
    * raw events are scanned once per stage with the type filter pushed to
    * the parquet scan). The 24h bound makes the ordering genuinely
    * binding on the fixture (~32h mean inter-event gap per user).
    * Output: stage → user count. */
  private def qEventsFunnel(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d))
      .funnel(Seq("view", "click", "purchase"), 86400L * 1000 * 1000 * 1000)

  /** Cohort retention matrix: users grouped by first-seen day, counted on
    * each of their active days in the first week (offset 0–7). One
    * distinct (user, day) reduction, a per-user min, and one aggregation —
    * the user dimension never leaves its shuffle key. */
  private def qEventsRetention(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).retention(7)

  /** Hourly heavy hitters: top-3 users by event count per hour, rank
    * deterministic on (count desc, user_id asc). Shape: one aggregation
    * keyed (hour, user) — already the reduced frame — then the bounded
    * [[graft.functions.TopKPairs]] aggregate keyed by hour: map-side
    * partials cut each partition to ≤ k pairs per hour before the
    * exchange, so the heavy-hitter step shuffles `hours × k` rows and
    * sorts nothing — the `row_number() OVER (PARTITION BY hour)` form
    * this replaces shuffles every (hour, user) row and sorts each hour
    * partition only to discard all but 3 (TopKSpec pins equality). */
  private def qEventsTopkUsers(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).topUsers(3)

  /** [[graft.functions.KmvDistinct]] declared: per-hour distinct-user
    * cardinality via the KMV sketch (k = 16) next to the exact distinct
    * count. The sketch is a native `TypedImperativeAggregate` whose buffer
    * is bounded at k longs per group with map-side partial aggregation —
    * the 100 TB cardinality shape (an exact COUNT(DISTINCT) shuffles every
    * distinct key) — and, unlike HLL, a pure function of the input hash
    * set, so DuckDB replays the estimate bit-for-bit (k-th smallest
    * distinct md5-prefix hash). Hours with < 16 users give the exact
    * count; busier hours give the (k−1)/u_k estimate. */
  private def qEventsKmvUsers(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).distinctUsersByHour(16)

  /** Trailing-window anomaly flags over hourly event volume: each hour's
    * count z-scored against the previous 24 hours' mean/std, |z| ≥ 3
    * flagged — the monitoring shape every event pipeline runs. The sliding
    * frame operates on the ALREADY-REDUCED hourly frame, whose row count
    * is calendar-bounded (hours, not events), so the single-partition
    * window is fine at any fact-table size; the flag thresholds the
    * ROUNDED z so cross-engine float noise can't flip a boundary hour. */
  private def qEventsAnomaly(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).anomalies()

  /** Rolling-median level-shift detector over the reduced hourly frame
    * (Events.levelShifts) — sustained-change monitoring next to
    * events_anomaly's spike z-scores. The shift flag thresholds the
    * ROUNDED score like anomalies' z. */
  private def qEventsLevelShift(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).levelShifts()

  /** `events.parquet` as a file stream: the source validates against the
    * ON-DISK schema ([[Tables.eventsRawSchema]]), reads the file through a
    * symlink dir ([[Shared.streamLinkDir]]), and canonicalizes `ts` to
    * epoch-ns LONG like the batch reader ([[Tables.normalizeEventTs]]). */
  private def eventsStream(s: SparkSession, d: String): DataFrame =
    Tables.normalizeEventTs(s.readStream.schema(Tables.eventsRawSchema(s, d))
      .parquet(streamLinkDir(d, "events", "events.parquet")))

  /** Stream-STATIC enrichment join — the third streaming join class next
    * to stream-stream (`events_stream_join`) and the stateful ops: a
    * purchase stream left-joined to a STATIC per-user dimension (first
    * view time) built batch-side. No watermark or join-state needed — the
    * static side broadcasts into every micro-batch, the standard
    * dimension-enrichment shape for continuous ingest (at 100 TB the
    * static side is the size-gated param-join frame, refreshed by
    * restarting the query). Oracle: the identical batch left join. */
  private def qEventsStreamEnrich(s: SparkSession, d: String): DataFrame = {
    val firstView = Tables.events(s, d).filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("fv"))
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val enriched = purchases
      .join(graft.core.Joins.maybeBroadcast(firstView), Seq("user_id"), "left")
      .select(col("user_id"), col("event_id"),
        expr("(ts - fv) div 1000000").as("since_view_ms"))
    runStream(s, "events_stream_enrich", "append", enriched)
  }

  /** Native `session_window` sessionization — the DECLARATIVE twin of the
    * custom-state sessionizer (`events_sessionize` /
    * `flatMapGroupsWithState`): when the semantics fit the built-in
    * operator (gap-merged windows + associative aggs), prefer it — Catalyst
    * plans the window merge itself, streaming state comes free, and no
    * user state machine exists to get wrong. The custom-state path remains
    * for semantics the built-in can't express (session numbering,
    * mid-session emission). Oracle: the same 30-minute gap rule stated via
    * lag/cumsum CTEs, keyed by session START instead of session number. */
  private def qSessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("tts", timestamp_micros(expr("ts div 1000")))
      .groupBy(col("user_id"), session_window(col("tts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        col("n_events"), col("sum_value"))

  /** [[graft.functions.HashSample]] declared: per-event-type value
    * quantiles estimated from the deterministic k-smallest-hash sample
    * (k = 64) — bounded-state quantiles where the exact form
    * ([[graft.Corpus.qualityQuantiles]]'s `percentile`) sorts whole
    * groups. The sample is a pure function of the row keys, so DuckDB
    * replays it exactly: rank by md5-prefix hash, keep rn ≤ k,
    * `quantile_cont` over the subset. The interpolated quantile of the
    * sample is computed by Spark's exact `percentile` over the emitted
    * 64-value arrays — post-aggregation rows, not the raw scan. */
  private def qEventsValueSketch(s: SparkSession, d: String): DataFrame =
    Events(Tables.events(s, d)).valueQuantileSketch(64)

  /** [[graft.functions.KmvDistinct]] composed with Structured Streaming:
    * the per-hour distinct-user KMV estimate computed AS A STREAM — the
    * sketch's k-longs buffer is exactly what the streaming state store
    * holds per hour, so continuous cardinality monitoring carries bounded
    * state where a streaming COUNT(DISTINCT) is simply DISALLOWED by the
    * engine (distinct aggregation cannot be incrementalized) — the sketch
    * is how a stream answers cardinality at all. Oracle: the batch KMV
    * replay (the sketch is a pure function of the hash set, and one
    * file = one micro-batch under `Trigger.AvailableNow`). */
  private def qEventsKmvStream(s: SparkSession, d: String): DataFrame = {
    import graft.functions.KmvSketch
    val agg = eventsStream(s, d)
      .select(expr("(ts div 3600000000000) * 3600000").as("hour_ms"),
        KmvSketch.hash60(col("user_id")).as("h"))
      .groupBy("hour_ms")
      .agg(round(KmvSketch.kmvDistinct(col("h"), 16), 6).as("n_est"))
    runStream(s, "events_kmv_stream", "complete", agg)
  }

  /** [[graft.streaming.EventStreams.intervalJoinStream]] declared: the 24h
    * view→click attribution pairs as a STREAM-STREAM inner join — two
    * `readStream` sources, event-time watermarks on BOTH sides, and the
    * range-bounded join condition from which Spark derives state eviction
    * for both buffers; without the bound a stream-stream join accumulates
    * state forever. Run under `Trigger.AvailableNow`; inner matches emit
    * within the micro-batch, so the result equals the batch interval join
    * and shares `events_interval_join`'s oracle shape. */
  private def qEventsStreamJoin(s: SparkSession, d: String): DataFrame = {
    def readEvents(): DataFrame = eventsStream(s, d)
      .withColumn("t", timestamp_micros(expr("ts div 1000")))
    val views = readEvents().filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("t").as("ltime"))
    val clicks = readEvents().filter(col("event_type") === "click")
      .select(col("user_id").as("r_user_id"), col("event_id").as("click_id"),
        col("t").as("rtime"))
    val joined = graft.streaming.EventStreams.intervalJoinStream(
      views, clicks, Seq("user_id"), 0L, 86400L)
    runStream(s, "events_stream_join", "append", joined
      .select(col("user_id"), col("view_id"), col("click_id"),
        expr("(unix_micros(rtime) - unix_micros(ltime)) div 1000").as("gap_ms")))
  }

  /** [[graft.streaming.EventStreams.sessionize]] run AS A STREAM
    * (`readStream` → `flatMapGroupsWithState` → `Trigger.AvailableNow`):
    * Append mode emits exactly the CLOSED sessions, so the oracle is the
    * batch sessionization minus each user's final (still-open) session —
    * parity stated honestly and hash-checked. */
  private def qSessionizeStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val evs = eventsStream(s, d).select(col("user_id"), col("event_id"),
        expr("ts div 1000000").as("ms"), col("value"))
      .as[graft.streaming.EventStreams.Ev]
    val sessions = graft.streaming.EventStreams.sessionize(evs)
    runStream(s, "events_sessionize_stream", "append", sessions.toDF())
      .select(col("user_id"), col("session_num"), col("n_events"),
        col("start_ms"), col("duration_ms"),
        round(col("sum_value"), 4).as("sum_value"))
  }

  /** [[graft.streaming.EventStreams.dedupStream]] run AS A STREAM
    * (`readStream` → watermarked `dropDuplicatesWithinWatermark` →
    * `Trigger.AvailableNow`): streaming exact dedup on (user_id,
    * event_type) with EVICTABLE state. The fixture arrives as one file =
    * one micro-batch, so the emitted key set equals the batch DISTINCT —
    * the oracle — while the watermark bounds state for continuous ingest.
    * Output is the key columns only: which physical row survives a
    * within-batch dedup is not defined, the key set is. */
  private def qDedupStream(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .withColumn("ts", timestamp_millis(expr("ts div 1000000")))
      .select(col("ts"), col("user_id"), col("event_type"))
    val deduped = graft.streaming.EventStreams.dedupStream(
      stream, Seq("user_id", "event_type"))
    runStream(s, "events_dedup_stream", "append",
      deduped.select(col("user_id"), col("event_type")))
  }

  /** [[graft.streaming.EventStreams.hourlyAggregates]] run AS A STREAM
    * (`readStream` → watermarked window agg → `Trigger.AvailableNow`) over
    * the same events parquet, declared against the SAME oracle as
    * events_hourly — the batch/stream parity contract, oracle-checked.
    * The memory sink + Complete mode is the harness shape (results are a
    * few hundred aggregate rows); a production deployment appends finalized
    * windows to a real sink and lets the 2-hour watermark evict state. */
  private def qEventsHourlyStream(s: SparkSession, d: String): DataFrame = {
    val stream = eventsStream(s, d)
      .withColumn("ts", timestamp_millis(expr("ts div 1000000")))
    val agg = graft.streaming.EventStreams.hourlyAggregates(stream)
    runStream(s, "events_hourly_stream", "complete", agg)
      .select(unix_millis(col("hour_start")).as("hour_ms"), col("event_type"),
        col("n"), round(col("sum_value"), 4).as("sum_value"),
        round(col("avg_value"), 6).as("avg_value"))
  }

  val defs: Seq[QueryDef] = Seq(
    // KMV distinct sketch: k-th smallest distinct 60-bit md5-prefix hash;
    // exact count below k=16 distinct, (k-1)/u_k estimate above
    QueryDef("events_kmv_users", qEventsKmvUsers,
      kmvUsersSql(" CAST(cnt AS BIGINT) AS n_exact,")),

    // trailing-24h z-score anomaly flags on the reduced hourly frame
    QueryDef("events_anomaly", qEventsAnomaly,
      """WITH hourly AS (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, count(*) AS n
        |  FROM events GROUP BY 1),
        |wnd AS (
        |  SELECT hour_ms, n,
        |    avg(n) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS mu,
        |    stddev_samp(CAST(n AS DOUBLE)) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sd,
        |    count(n) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS cnt
        |  FROM hourly)
        |SELECT hour_ms, n, ROUND((n - mu) / sd, 6) AS z,
        |  (abs(ROUND((n - mu) / sd, 6)) >= 3.0) AS is_anomaly
        |FROM wnd WHERE cnt = 24 AND sd > 0""".stripMargin),

    // rolling-median level shift: trailing vs current+forward medians over
    // the hourly frame, quantile_cont = Spark's exact percentile
    QueryDef("events_level_shift", qEventsLevelShift,
      """WITH hourly AS (
        |  SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, count(*) AS n
        |  FROM events GROUP BY 1),
        |wnd AS (
        |  SELECT hour_ms, n,
        |    quantile_cont(n, 0.5) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS pre_med,
        |    quantile_cont(n, 0.5) OVER (ORDER BY hour_ms ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS post_med,
        |    count(n) OVER (ORDER BY hour_ms ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |      + count(n) OVER (ORDER BY hour_ms ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS nc
        |  FROM hourly)
        |SELECT hour_ms, n, ROUND(pre_med, 6) AS pre_med, ROUND(post_med, 6) AS post_med,
        |  ROUND((post_med - pre_med) / pre_med, 6) AS shift_score,
        |  (abs(ROUND((post_med - pre_med) / pre_med, 6)) >= 0.25) AS is_shift
        |FROM wnd WHERE nc = 48 AND pre_med > 0""".stripMargin),

    // stream-static enrichment == the identical batch left join
    QueryDef("events_stream_enrich", qEventsStreamEnrich,
      """WITH v AS (SELECT user_id, min(ts) AS fv FROM events
        |           WHERE event_type = 'view' GROUP BY 1)
        |SELECT p.user_id, p.event_id,
        |  (epoch_us(p.ts) - epoch_us(v.fv)) // 1000 AS since_view_ms
        |FROM events p LEFT JOIN v USING (user_id)
        |WHERE p.event_type = 'purchase'""".stripMargin),

    // native session_window == the gap-rule CTEs keyed by session start.
    // NB session_window's gap is ts < prev + 30min (strict), while the
    // numbered sessionize splits on ts - prev > 30min — an event exactly
    // 30min after its predecessor SPLITS here and CONTINUES there; the
    // oracle states this query's own rule (>=) rather than reusing the
    // other's.
    QueryDef("events_session_window", qSessionWindow,
      s"""WITH ${sessionFlagCtes("value", ">=")},
        |sess AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ms
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sn
        |  FROM flag)
        |SELECT user_id, min(ms) AS start_ms, count(*) AS n_events,
        |  ROUND(sum(value), 4) AS sum_value
        |FROM sess GROUP BY user_id, sn""".stripMargin),

    // hash-sample quantile sketch: rank by hash, keep 64, quantile_cont
    QueryDef("events_value_sketch", qEventsValueSketch,
      """WITH h AS (SELECT event_type, value,
        |  CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |      FROM h),
        |s AS (SELECT event_type, value FROM r WHERE rn <= 64)
        |SELECT event_type, count(*) AS n_sample,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50_est,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90_est
        |FROM s GROUP BY 1""".stripMargin),

    // streaming KMV == the batch sketch replay (estimate only: a stream
    // cannot COUNT(DISTINCT) at all)
    QueryDef("events_kmv_stream", qEventsKmvStream,
      kmvUsersSql("")),

    // stream-stream interval join == the batch range predicate
    QueryDef("events_stream_join", qEventsStreamJoin,
      ViewClickPairsSql),

    QueryDef("events_sessionize", qSessionize,
      s"WITH ${sessionizeCtes("event_id, value")}\n$SessionsSql"),

    // top within-session 3-step paths: the sessionize CTEs plus two leads
    // over the session partition; ties on (count desc, path)
    QueryDef("events_top_paths", qTopPaths,
      s"""WITH ${sessionizeCtes("event_id, event_type")},
        |p AS (
        |  SELECT event_type || '>' || lead(event_type, 1) OVER sw
        |      || '>' || lead(event_type, 2) OVER sw AS path
        |  FROM sess WINDOW sw AS (PARTITION BY user_id, session_num ORDER BY ms, event_id)
        |  QUALIFY lead(event_type, 2) OVER sw IS NOT NULL),
        |c AS (SELECT path, count(*) AS n_occurrences FROM p GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, path) AS BIGINT) AS rank,
        |  path, n_occurrences
        |FROM c QUALIFY rank <= 10""".stripMargin),

    // Cohort retention: distinct user-days, first-seen cohort, day offsets
    QueryDef("events_retention", qEventsRetention,
      """WITH ed AS (SELECT DISTINCT user_id,
        |              epoch_ms(date_trunc('day', ts)) AS day_ms FROM events),
        |c AS (SELECT user_id, min(day_ms) AS c0 FROM ed GROUP BY 1)
        |SELECT c0 AS cohort_ms, (day_ms - c0) // 86400000 AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ed JOIN c USING (user_id)
        |WHERE (day_ms - c0) // 86400000 <= 7
        |GROUP BY 1, 2""".stripMargin),

    // Windowed funnel: earliest qualifying event strictly after the prior
    // stage's time and within 24h of it
    QueryDef("events_funnel", qEventsFunnel,
      """WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > v.t1
        |        AND e.ts <= v.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |        AND e.ts <= c.t2 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        |UNION ALL SELECT 'click', CAST(count(*) AS BIGINT) FROM c
        |UNION ALL SELECT 'purchase', CAST(count(*) AS BIGINT) FROM p""".stripMargin),

    // Hourly heavy hitters: same hour truncation, rank on (n desc, user)
    QueryDef("events_topk_users", qEventsTopkUsers,
      """WITH c AS (SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, user_id,
        |             count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT hour_ms, user_id, n,
        |        row_number() OVER (PARTITION BY hour_ms ORDER BY n DESC, user_id) AS rank
        |      FROM c)
        |SELECT hour_ms, CAST(rank AS BIGINT) AS rank, user_id, CAST(n AS BIGINT) AS n
        |FROM r WHERE rank <= 3""".stripMargin),

    QueryDef("events_hourly", qEventsHourly,
      HourlyEventsSql),

    // streaming sessionize emits exactly the CLOSED sessions: the batch
    // sessionization minus each user's final (open) session
    QueryDef("events_sessionize_stream", qSessionizeStream,
      s"""WITH ${sessionizeCtes("event_id, value")},
        |agg AS ($SessionsSql)
        |SELECT * FROM agg
        |QUALIFY session_num < max(session_num) OVER (PARTITION BY user_id)""".stripMargin),

    // streaming exact dedup over one micro-batch == the batch DISTINCT
    QueryDef("events_dedup_stream", qDedupStream,
      "SELECT DISTINCT user_id, event_type FROM events"),

    // as-of semantics pinned against DuckDB's NATIVE ASOF JOIN: greatest
    // right time <= left time per key, null when no prior right row
    QueryDef("events_asof_view", qEventsAsofView,
      """WITH p AS (SELECT user_id, event_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts, max(value) AS vval FROM events
        |      WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id, epoch_ms(v.ts) AS view_ms,
        |  ROUND(v.vval, 4) AS view_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin),

    // windowed attribution pairs: the oracle states the range predicate
    // directly; the engine's bucketed equi-join must reproduce it exactly
    QueryDef("events_interval_join", qEventsIntervalJoin,
      ViewClickPairsSql),

    // typed JSON field extraction + keyed aggregation (DuckDB sums of
    // BIGINT widen to HUGEINT — cast back so the schemas agree)
    QueryDef("events_props_agg", qEventsPropsAgg,
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  ROUND(avg(CAST(props->>'k' AS BIGINT)), 6) AS avg_k,
        |  CAST(sum(CASE WHEN CAST(props->>'k' AS BIGINT) >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi
        |FROM events GROUP BY 1""".stripMargin),

    // the streaming twin must produce EXACTLY the batch aggregation
    QueryDef("events_hourly_stream", qEventsHourlyStream,
      HourlyEventsSql),

    QueryDef("events_forecast", qEventsForecast,
      """WITH counts AS (
        |  SELECT epoch_ms(ts) // 3600000 AS hr, count(*) AS n FROM events GROUP BY 1),
        |bounds AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM counts),
        |spine AS (SELECT unnest(generate_series(h0, h1)) AS hr FROM bounds),
        |dense AS (SELECT s.hr, coalesce(c.n, 0) AS n FROM spine s LEFT JOIN counts c ON c.hr = s.hr),
        |fitted AS (SELECT hr, n, lag(n, 24) OVER (ORDER BY hr) AS yhat, FALSE AS is_future
        |           FROM dense),
        |fut AS (SELECT d.hr + 24 AS hr, CAST(NULL AS BIGINT) AS n, d.n AS yhat, TRUE AS is_future
        |        FROM dense d, bounds WHERE d.hr > h1 - 24)
        |SELECT CAST(n AS BIGINT) AS n, CAST(yhat AS BIGINT) AS yhat, is_future,
        |  CAST(hr * 3600000 AS BIGINT) AS hour_ms
        |FROM (SELECT * FROM fitted UNION ALL SELECT * FROM fut)""".stripMargin)
  )
}
