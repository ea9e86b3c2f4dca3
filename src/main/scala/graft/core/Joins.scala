package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Join-side sizing policy for the per-series parameter frames (scaler
  * params, naive tiles, CI widths, seasonal means, …).
  *
  * These frames hold one (or m) rows per series. At fixture scale they are
  * tiny and a broadcast-hash join is the right plan; at the charter's 10⁶+
  * series scale a FORCED broadcast hint becomes the bottleneck (AQE never
  * overrides a user hint), so the hint is size-gated rather than
  * hardcoded: hint broadcast only when the Catalyst plan-estimated size of
  * the frame is within a slack factor of the session
  * `autoBroadcastJoinThreshold`; above the gate (or with the threshold at
  * -1) NO hint is emitted and AQE decides from runtime-actual shuffle
  * sizes.
  */
object Joins {

  /** Slack on the plan-size estimate: aggregate estimates derive from the
    * child scan and overshoot the actual one-row-per-series output, so the
    * gate compares against threshold × slack before giving up on the hint. */
  private val EstimateSlack = 64L

  private def underGate(df: DataFrame): Boolean = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val thr = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    thr > 0 && est <= BigInt(thr) * EstimateSlack
  }

  def maybeBroadcast(df: DataFrame): DataFrame =
    if (underGate(df)) broadcast(df) else df

  /** [[maybeBroadcast]] for build sides whose past-the-gate fallback must
    * be a shuffled HASH join, not sort-merge: the probe side at these call
    * sites is a massive keyed stream (e.g. one span-window row per corpus
    * token) whose SMJ sort is pure overhead — the 2×10⁶-doc dup_spans
    * point spilled 7.5 GB against 0.7 GB of shuffle entirely in that sort.
    * Hinting shuffle_hash on the build side keeps the probe unsorted; the
    * build (duplicated-window keys, ≪ probe) hashes per task. When the
    * gate broadcasts, the broadcast hint wins and no shuffle exists at
    * all. */
  def maybeBroadcastElseHash(df: DataFrame): DataFrame =
    if (underGate(df)) broadcast(df) else df.hint("shuffle_hash")
}
