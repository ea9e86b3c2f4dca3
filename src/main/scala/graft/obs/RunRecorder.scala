package graft.obs

import org.apache.spark.GraftBus
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Executor-side work summed over a set of completed stages.
  *
  *   - `taskMs` (executorRunTime) = core-milliseconds tasks were
  *     SCHEDULED, including time blocked on disk/network;
  *   - `cpuMs` (executorCpuTime) = milliseconds tasks actually COMPUTED;
  *   - `gcMs` = JVM GC inside tasks.
  *
  * Plan regression ⇒ cpu/shuffle/spill grow with the wall. Host I/O
  * contention ⇒ wall and taskMs balloon while cpuMs and shuffle stay flat.
  * Scheduler / driver stall ⇒ wall grows while even taskMs stays flat.
  * Byte fields are bytes; the record fields are shuffle records. */
final case class Work(taskMs: Long = 0L, cpuMs: Long = 0L, gcMs: Long = 0L,
                      shuffleRead: Long = 0L, shuffleWrite: Long = 0L,
                      spillMem: Long = 0L, spillDisk: Long = 0L,
                      readRecords: Long = 0L, writeRecords: Long = 0L) {
  def +(o: Work): Work = Work(taskMs + o.taskMs, cpuMs + o.cpuMs, gcMs + o.gcMs,
    shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    spillMem + o.spillMem, spillDisk + o.spillDisk,
    readRecords + o.readRecords, writeRecords + o.writeRecords)
}

object Work {
  /** A stage's aggregated task metrics (`StageInfo.taskMetrics`). */
  def of(m: TaskMetrics): Work = Work(m.executorRunTime,
    m.executorCpuTime / 1000000L, m.jvmGCTime,
    m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
    m.memoryBytesSpilled, m.diskBytesSpilled,
    m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten)
}

/** One completed stage: its callsite name and its work. */
final case class StageRow(stageId: Int, name: String, work: Work)

/** The cost of one measured call: its wall, its jobs and its completed
  * stages. `segmentFlags` is the stage view of the segment law
  * ([[graft.core.SegmentProbe]]), `segmentFlagsPlan` the plan view
  * ([[graft.core.SegmentPlanScan]]); a pathology read un-coalesced can
  * flag in both. `planScanErrors` counts plan scans that threw.
  * `compiles` counts the classes Spark's code generator compiled while the
  * call ran — a codegen-cache miss each; the counter is JVM-global, so it
  * also counts compiles of any other session or thread running meanwhile. */
final case class RunDelta(sec: Double, jobs: Long = 0L,
                          stageRows: Vector[StageRow] = Vector.empty,
                          segmentFlags: Long = 0L, segmentFlagsPlan: Long = 0L,
                          planScanErrors: Long = 0L, compiles: Long = 0L) {
  def stages: Int = stageRows.size
  /** Stages that wrote shuffle bytes: exchanges that materialized data. */
  def shuffleStages: Int = stageRows.count(_.work.shuffleWrite > 0)
  lazy val work: Work = stageRows.map(_.work).foldLeft(Work())(_ + _)

  /** One JSON object: `sec`, then `extra` (pre-formatted values), then the
    * counters. Byte fields are MB at KB resolution. */
  def json(extra: (String, String)*): String = {
    import RunRecorder.{f3, mb, obj}
    obj(Seq("sec" -> f3(sec)) ++ extra ++ Seq(
      "jobs" -> jobs, "compiles" -> compiles, "stages" -> stages,
      "shuffle_stages" -> shuffleStages,
      "task_sec" -> f3(work.taskMs / 1000.0), "cpu_sec" -> f3(work.cpuMs / 1000.0),
      "gc_sec" -> f3(work.gcMs / 1000.0),
      "shuffle_read_mb" -> mb(work.shuffleRead), "shuffle_write_mb" -> mb(work.shuffleWrite),
      "spill_mem_mb" -> mb(work.spillMem), "spill_disk_mb" -> mb(work.spillDisk),
      "segment_flags" -> segmentFlags, "segment_flags_plan" -> segmentFlagsPlan,
      "plan_scan_errors" -> planScanErrors))
  }
}

/** The one run-metrics recorder: a [[SparkListener]] plus a
  * [[graft.core.SegmentPlanScan.Listener]] on one session. [[measure]]
  * drains the listener bus before and after its body, so every event the
  * body caused is attributed to it and nothing earlier leaks in. Stage
  * totals come from each completed stage's aggregated task metrics; a
  * segment-law flag prints one `[segment_flag]` line on stderr as it
  * fires. Not reentrant: one `measure` at a time per recorder. */
final class RunRecorder private (val spark: SparkSession) extends SparkListener {

  /** The counters of the current [[measure]], replaced on each event. */
  private var acc = RunDelta(0.0)
  private def update(f: RunDelta => RunDelta): Unit = synchronized { acc = f(acc) }

  private val probe = new graft.core.SegmentProbe
  private[graft] val planListener = new graft.core.SegmentPlanScan.Listener(
    detail => {
      System.err.println(s"[segment_flag] [plan] $detail")
      update(d => d.copy(segmentFlagsPlan = d.segmentFlagsPlan + 1))
    },
    t => {
      System.err.println(s"[plan_scan_error] ${t.toString.linesIterator.next()}")
      update(d => d.copy(planScanErrors = d.planScanErrors + 1))
    })

  override def onJobStart(e: SparkListenerJobStart): Unit =
    update(d => d.copy(jobs = d.jobs + 1))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    probe.onSubmit(e.stageInfo)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val w = Option(si.taskMetrics).fold(Work())(Work.of)
    val flag = probe.onComplete(si, w.readRecords)
    flag.foreach(detail => System.err.println(s"[segment_flag] $detail"))
    update(d => d.copy(stageRows = d.stageRows :+ StageRow(si.stageId, si.name, w),
      segmentFlags = d.segmentFlags + flag.size))
  }

  /** Run `body`; its result plus the delta of everything it caused. `sec`
    * is the body's wall alone, excluding the drains. */
  def measure[A](body: => A): (A, RunDelta) = {
    GraftBus.drain(spark.sparkContext)
    update(_ => RunDelta(0.0))
    val c0 = GraftBus.compiles
    val t0 = System.nanoTime()
    val out = body
    val sec = (System.nanoTime() - t0) / 1e9
    GraftBus.drain(spark.sparkContext)
    (out, synchronized(acc.copy(sec = sec, compiles = GraftBus.compiles - c0)))
  }

  /** Remove both listeners from the session. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }
}

object RunRecorder {
  def install(spark: SparkSession): RunRecorder = {
    val r = new RunRecorder(spark)
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r.planListener)
    r
  }

  /** 3 decimals: ms precision for seconds, KB precision for MB. */
  def f3(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
  def mb(bytes: Long): String = f3(bytes / 1048576.0)
  /** A JSON object from pre-formatted values. */
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
}
