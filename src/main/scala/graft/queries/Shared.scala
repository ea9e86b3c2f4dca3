package graft
package queries

import graft.core.{SeriesFrame, SessionMemo}
import graft.operators.Transforms
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** What more than one query family builds on: the memoized series frames
  * and the streaming plumbing. `ts_build_monthly` / `mv_build_segments`
  * keep the raw build path: they ARE the build queries, and PlanAuditSpec
  * pins their scan shape. */
private[graft] object Shared {

  /** Memoized [[SeriesFrame.ordersMonthly]] for model queries. */
  def ordersMonthlyM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "orders")(SeriesFrame.ordersMonthly(s, d))

  /** Memoized [[SeriesFrame.segmentMonthly]] for model queries. */
  def segmentMonthlyM(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "segments")(SeriesFrame.segmentMonthly(s, d))

  /** Z-scored monthly orders series (cross-engine stable inputs for O(1)
    * metric aggregates). */
  def zOrdersMonthly(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "zorders") {
      val base = ordersMonthlyM(s, d)
      Transforms.scaleT(base).transform(base)
    }

  /** All five segments z-scored per series (blocked-VAR conditioning). */
  def zSegmentsMonthly(s: SparkSession, d: String): DataFrame =
    SessionMemo.frame(s, d, "zsegments") {
      val base = segmentMonthlyM(s, d)
      Transforms.scaleT(base).transform(base)
    }

  /** Symlink-farm dir for a file-stream source over an existing dataset
    * table. MD5-keyed per dataset dir (no aliasing), race-tolerant (two
    * graft processes — the verify+bench side-by-side shape — may both
    * create; a symlink to the same target is idempotent so the loser keeps
    * the winner's), and never stale: a symlink FOLLOWS the source path, so
    * a dataset regenerated in place serves its new bytes on the next read.
    * The file stream source only accepts a DIRECTORY; the link exposes one
    * dataset file without copying it. */
  def streamLinkDir(d: String, name: String, file: String): String = {
    val dir = java.nio.file.Paths.get(s"/tmp/graft_stream_${name}_${SessionMemo.md5Hex(d)}")
    java.nio.file.Files.createDirectories(dir)
    val link = dir.resolve(file)
    try {
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(s"$d/$file"))
    } catch { case _: java.nio.file.FileAlreadyExistsException => () }
    dir.toString
  }

  /** Run streaming `df` to completion under `Trigger.AvailableNow` into the
    * memory sink `<query>_sink` and return the sink as a table. The sink
    * view is dropped first so a query re-runs in one session (bench cold +
    * warm). The memory sink is the harness shape (results are a few
    * hundred rows); a production deployment appends to a real sink.
    *
    * The stream runs under a shuffle width of 8. Stateful streaming
    * operators allocate one state store per shuffle partition (a
    * stream-stream join keeps FOUR per partition), and each store pays
    * setup + commit every micro-batch regardless of rows — at the batch
    * tier's width (thousands on a cluster) that fixed cost dominates a
    * bounded run. State width is a real, deploy-time streaming knob (it
    * freezes into the checkpoint), sized to state VOLUME rather than scan
    * width; the conf change is scoped and restored because batch queries
    * in the same session must keep the session width. */
  def runStream(s: SparkSession, query: String, outputMode: String,
                df: DataFrame): DataFrame = {
    val sink = s"${query}_sink"
    s.catalog.dropTempView(sink)
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "8")
    try df.writeStream.format("memory").queryName(sink).outputMode(outputMode)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    finally s.conf.set(key, prev)
    s.table(sink)
  }
}
