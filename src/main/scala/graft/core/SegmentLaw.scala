package graft.core

/** The standing machine check for the quadratic-segment law (§2.9.12 /
  * §2.9.16 #1) — the symptom that has now bitten three times: an exchange
  * whose RECORD count is bounded (type tables, model tables, per-doc
  * aggregates) inherits a width sized for somebody else's volume, and
  * map_tasks × reduce_width zstd/lz4 segments each carry a handful of
  * records, so per-segment codec init/flush dominates both the bytes and
  * the CPU ("bytes linear, CPU super-linear, records flat" — measured ~2
  * records/frame and 5–7.5× reduce CPU at the 2×10⁷ kn decade).
  *
  * The detector runs in [[graft.obs.RunRecorder]]: for every completed
  * stage that read a shuffle, records/(map_tasks × width) below
  * [[MinRecordsPerSegment]] flags the stage — but only past
  * [[MinRecordsToFlag]] records, because at gate scale every exchange is
  * tiny (a 32×32 exchange of 500 rows is 0.5 records/segment and costs
  * nothing; the law is about exchanges big enough that per-segment
  * overhead can dominate a stage). map_tasks is approximated by the
  * summed task counts of the stage's parent stages — exact for the
  * single-shuffle-input stages the law targets, conservative (inflated
  * denominator, i.e. MORE likely to flag) for multi-input joins, which is
  * the safe direction for a warning.
  *
  * Known blind spot: `width` is the READING stage's task count, so a
  * coalesced read (explicit `coalesce` or AQE's coalescer) of a wide
  * exchange understates the true segment count (map_tasks × the
  * EXCHANGE's width — not exposed by the public listener API). The miss
  * is partially self-correcting — a coalesced task reads its group of
  * segments sequentially, which is also cheaper per segment — but an
  * exchange only ever read coalesced can carry segment overhead this
  * detector won't flag (measured: the bigram-type distinct at the 2×10⁷
  * rows-rule point, ~10 records/true-segment behind a coalesced read).
  */
object SegmentLaw {

  /** Healthy floor: the measured pathologies sat at ~0.06–13
    * records/segment; the bytes-rule layouts run hundreds+. 32 splits the
    * two regimes with margin on both sides. */
  val MinRecordsPerSegment: Long = 32L

  /** Ignore exchanges below 1M records: a small exchange cannot lose
    * meaningful time to per-segment overhead, and the gate-SF fixtures
    * live entirely below this line (zero flags on a healthy battery). */
  val MinRecordsToFlag: Long = 1000000L

  /** True when a stage reading `records` shuffle records across
    * `mapTasks` × `width` segments is in the pathological regime. */
  def flag(records: Long, mapTasks: Long, width: Long): Boolean =
    records >= MinRecordsToFlag && mapTasks > 0 && width > 0 &&
      records < MinRecordsPerSegment * mapTasks * width
}

/** Listener-side state for [[SegmentLaw]]: one instance per listener,
  * fed from stage-submitted and stage-completed events.
  *
  * map_tasks cannot come from `StageInfo.parentIds`: a reduce stage's
  * recorded parent is the RE-CREATED (skipped) map stage of its own job,
  * which never fires a submit event. The RDD lineage is stable across
  * jobs, so the probe records (rdd id → owning stage's task count) at
  * submit and, at completion, resolves the stage's CROSS-STAGE parent rdd
  * ids (parents of the stage's own rdds that are not themselves in the
  * stage) — exactly the shuffle boundaries — to the map-side task counts. */
final class SegmentProbe {
  private val rddTasks =
    new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  def onSubmit(si: org.apache.spark.scheduler.StageInfo): Unit =
    si.rddInfos.foreach(r => rddTasks.put(r.id, si.numTasks))

  /** Evaluate the law for a completed stage that read `recs` shuffle
    * records; Some(detail) if flagged. `rddTasks` is never pruned: later
    * stages resolve their map counts through rdd ids owned by
    * long-finished stages, and the map is one boxed int per rdd, bounded
    * by the session's plan count. */
  def onComplete(si: org.apache.spark.scheduler.StageInfo, recs: Long): Option[String] = {
    if (recs < SegmentLaw.MinRecordsToFlag) return None // cheap early out
    val own = si.rddInfos.map(_.id).toSet
    val mapTasks = si.rddInfos.flatMap(_.parentIds)
      .filterNot(own.contains).distinct
      .flatMap(pid => Option(rddTasks.get(pid)).map(_.longValue)).sum
    if (SegmentLaw.flag(recs, mapTasks, si.numTasks))
      Some(s"stage=${si.stageId} records=$recs map_tasks=$mapTasks " +
        s"width=${si.numTasks} " +
        f"records_per_segment=${recs.toDouble / (mapTasks * si.numTasks)}%.2f")
    else None
  }
}

/** Post-execution segment-law scan over an EXECUTED (post-AQE) physical
  * plan — closes [[SegmentProbe]]'s documented coalesced-read blind spot:
  * the probe reads `width` off the READING stage's task count, which
  * AQE's coalescer shrinks below the exchange's true reduce width, so an
  * exchange only ever read through coalesced specs (measured: the kn
  * bigram-type distinct at the 2×10⁷ decade, ~10 records per TRUE
  * segment) hides its map_tasks × width micro-segments behind a fat read.
  * The materialized exchange itself knows the truth:
  * `ShuffleExchangeLike.numMappers × numPartitions` is the segment count
  * the map side actually WROTE (write-side codec init/flush is the law's
  * dominant cost, and no read-side coalescing changes it), and the
  * `shuffleRecordsWritten` SQLMetric is the exact record volume.
  * ReusedExchanges are skipped (counted once, at the origin); unexecuted
  * exchanges report zero written records and fall under the records
  * floor. Runs OUTSIDE any timed region — [[graft.obs.RunRecorder]]
  * registers the [[SegmentPlanScan.Listener]] once per session and counts
  * its flags apart from the stage probe's. A true pathology that is
  * read un-coalesced can flag in BOTH detectors (one stage view, one plan
  * view); the healthy-battery contract (zero flags) is unaffected. */
object SegmentPlanScan {
  import org.apache.spark.sql.execution.SparkPlan

  def scan(plan: SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    val out = scala.collection.mutable.ListBuffer.empty[String]
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _: ReusedExchangeExec => ()
        case q: QueryStageExec => walk(q.plan)
        case e: ShuffleExchangeLike =>
          val recs = e.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)
          // numMappers touches the exchange's lazy shuffle dependency; on a
          // finished plan every non-reused exchange has built it, and the
          // records floor keeps unexecuted/empty exchanges out anyway
          if (recs >= SegmentLaw.MinRecordsToFlag &&
              SegmentLaw.flag(recs, e.numMappers.toLong, e.numPartitions.toLong))
            out += (s"exchange=${e.nodeName} records=$recs " +
              s"map_tasks=${e.numMappers} width=${e.numPartitions} " +
              f"records_per_segment=${recs.toDouble / (e.numMappers.toLong * e.numPartitions)}%.2f")
          e.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toList
  }

  /** QueryExecutionListener delivering each flagged exchange's detail line
    * to `sink` and a scan that throws to `onError` — a detector that fails
    * says so instead of reading as zero flags. The failure path is
    * skipped: a failed execution may have no executed plan to read. */
  final class Listener(sink: String => Unit, onError: Throwable => Unit)
      extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      try scan(qe.executedPlan).foreach(sink)
      catch { case scala.util.control.NonFatal(t) => onError(t) }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }
}
