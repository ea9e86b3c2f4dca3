package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming versions of the events pipeline (north-star scope
  * beyond the reference — the `events` stream table). The same logical
  * transforms as the batch queries, expressed stream-safely:
  *
  *  - [[hourlyAggregates]]: watermarked tumbling-window aggregation —
  *    incremental state, late data dropped after the watermark horizon;
  *  - [[sessionize]]: gap-based session windows via
  *    `flatMapGroupsWithState` with event-time timeout — the custom-state
  *    escape hatch for semantics window functions can't express on streams.
  *
  * Both operate on a frame with columns (event_id LONG, ts TIMESTAMP,
  * user_id LONG, event_type STRING, value DOUBLE) whether it comes from
  * `readStream` or a static DataFrame (the batch `events_*` queries in
  * [[graft.queries.EventsQueries]] stay the oracle for correctness; these
  * are the streaming twins).
  */
object EventStreams {

  /** Per-hour, per-type counts and sums with a 2-hour watermark. */
  def hourlyAggregates(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // integer-cents sums (values have exactly 2 decimals): micro-batch
      // merge order must not move the last ulp across a ROUND boundary vs
      // the batch/oracle twin — graft.Events.hourly's discipline
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("_c"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), (col("_c") / 100.0).as("sum_value"),
        (col("_c") / 100.0 / col("n")).as("avg_value"))

  /** Streaming exact dedup: keep the first record per key within the
    * watermark horizon. `dropDuplicatesWithinWatermark` keeps EVICTABLE
    * state (keys older than the watermark are dropped), so the query runs
    * indefinitely at ingest scale — a plain `dropDuplicates` on a stream
    * accumulates state forever. The streaming twin of
    * [[graft.operators.Dedup.exactGroups]] for continuous ingest, dedup key
    * = content digest. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream interval join: every (left, right) pair on the same key
    * with the right event inside `(lo, hi]` nanoseconds after the left — the
    * streaming twin of [[graft.operators.IntervalJoin.intervalJoin]] (24h
    * view→click attribution and the like), and the one Structured Streaming
    * join class the batch tier can't substitute for on continuous ingest.
    *
    * Both sides carry an event-time watermark and the join condition bounds
    * the two event times against each other, which is exactly what Spark
    * needs to derive STATE EVICTION for both join buffers (left rows older
    * than `watermark + hi`, right rows older than `watermark`) — without the
    * range bound a stream-stream inner join buffers forever. Inner matches
    * emit as soon as both rows have arrived; the watermark only governs
    * state cleanup, so results within a micro-batch equal the batch join.
    *
    * `left`/`right` must already be streaming frames with TIMESTAMP event
    * times named `ltime`/`rtime` and equi-key columns `keys` (right side
    * prefixed `r_`). Bounds are inclusive-exclusive like the batch operator:
    * `rtime − ltime ∈ (lo, hi]`, given here in seconds.
    */
  def intervalJoinStream(left: DataFrame, right: DataFrame, keys: Seq[String],
                         loSec: Long, hiSec: Long,
                         watermark: String = "1 hour"): DataFrame = {
    val cond = keys.map(k => s"$k = r_$k").mkString(" AND ") +
      s" AND rtime > ltime + INTERVAL $loSec SECONDS" +
      s" AND rtime <= ltime + INTERVAL $hiSec SECONDS"
    left.withWatermark("ltime", watermark)
      .join(right.withWatermark("rtime", watermark), expr(cond))
  }

  final case class Ev(user_id: Long, event_id: Long, ms: Long, value: Double)
  final case class SessionState(sessionNum: Long, lastMs: Long,
                                startMs: Long, n: Long, sumValue: Double)
  final case class SessionOut(user_id: Long, session_num: Long, n_events: Long,
                              start_ms: Long, duration_ms: Long, sum_value: Double)

  val GapMs: Long = 1800000L // 30 min, same as the batch sessionize query

  /** Gap-based sessionization with explicit state: emits a session row when a
    * gap exceeds 30 minutes or the state times out. Input must be sorted per
    * trigger batch; state carries the open session across batches. */
  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ms, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L, 0.0))
          val out = scala.collection.mutable.ListBuffer.empty[SessionOut]
          sorted.foreach { e =>
            if (st.lastMs == Long.MinValue) {
              st = SessionState(1L, e.ms, e.ms, 1L, e.value)
            } else if (e.ms - st.lastMs > GapMs) {
              out += SessionOut(userId, st.sessionNum, st.n, st.startMs,
                st.lastMs - st.startMs, st.sumValue)
              st = SessionState(st.sessionNum + 1, e.ms, e.ms, 1L, e.value)
            } else {
              st = st.copy(lastMs = e.ms, n = st.n + 1, sumValue = st.sumValue + e.value)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Flush helper for tests/batch parity: closes every open session. Batch
    * runs of [[sessionize]] only emit CLOSED sessions; union this from the
    * final state when the stream ends (or rely on timeouts in production). */
  def closeOpenSessions(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).mapGroups { (userId, evs) =>
      val sorted = evs.toSeq.sortBy(e => (e.ms, e.event_id))
      var st = SessionState(0L, Long.MinValue, 0L, 0L, 0.0)
      var last: SessionOut = null
      sorted.foreach { e =>
        if (st.lastMs == Long.MinValue) st = SessionState(1L, e.ms, e.ms, 1L, e.value)
        else if (e.ms - st.lastMs > GapMs)
          st = SessionState(st.sessionNum + 1, e.ms, e.ms, 1L, e.value)
        else st = st.copy(lastMs = e.ms, n = st.n + 1, sumValue = st.sumValue + e.value)
      }
      SessionOut(userId, st.sessionNum, st.n, st.startMs, st.lastMs - st.startMs, st.sumValue)
    }
  }
}
