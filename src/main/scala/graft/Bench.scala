package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** One benched query: wall seconds plus the executor-side evidence that
    * lets a reader attribute a wall swing without re-running anything —
    * the round-9 driver battery saw a 51× wall blowup on doc_dup_spans
    * with IDENTICAL shuffle bytes, and the record couldn't say whether the
    * plan regressed or the host was contended. These fields can:
    *
    *   - `taskMs` (executorRunTime) = core-milliseconds tasks were
    *     SCHEDULED, including time blocked on disk/network;
    *   - `cpuMs` (executorCpuTime) = milliseconds tasks actually COMPUTED;
    *   - `gcMs` = JVM GC inside tasks.
    *
    * Plan regression ⇒ cpuMs/shuffle/spill grow with the wall. Host I/O
    * contention ⇒ wall and taskMs balloon while cpuMs and shuffle stay
    * flat (the stall is inside runTime but outside cpuTime). Scheduler /
    * driver stall ⇒ wall grows while even taskMs stays flat. */
  final case class QueryRun(name: String, sec: Double, err: Option[String],
                            shuffleWrite: Long, taskMs: Long, cpuMs: Long,
                            gcMs: Long, spillMem: Long, spillDisk: Long,
                            rerunSec: Option[Double] = None,
                            segmentFlags: Long = 0L) {
    /** Wall floor if every scheduled core-second ran perfectly parallel. */
    def lowerBoundSec(cores: Int): Double = taskMs / 1000.0 / cores
    /** Fraction of scheduled task time spent neither computing nor in GC —
      * the blocked-on-something share; ~0 for a healthy compute query. */
    def blockedShare: Double =
      if (taskMs <= 0) 0.0
      else math.max(0.0, (taskMs - cpuMs - gcMs).toDouble / taskMs)
  }

  /** Cumulative executor-side counters across the session, fed by ONE
    * task-end listener; queries attribute by snapshot-delta. Listener
    * delivery is asynchronous, so a per-query read can attribute a few
    * straggler tasks to the next query — at second-scale queries the skew
    * is noise, and the TOTALS are exact once the bus drains at shutdown. */
  private val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
  private val taskMsAcc = new java.util.concurrent.atomic.AtomicLong
  private val cpuMsAcc = new java.util.concurrent.atomic.AtomicLong
  private val gcMsAcc = new java.util.concurrent.atomic.AtomicLong
  private val spillMemAcc = new java.util.concurrent.atomic.AtomicLong
  private val spillDiskAcc = new java.util.concurrent.atomic.AtomicLong
  // §2.9.12 segment-law detector ([[graft.core.SegmentLaw]] /
  // [[graft.core.SegmentProbe]]): shuffle-read records per stage at task
  // end, the flag evaluated at stage completion against the map-side task
  // count resolved through the rdd lineage
  private val segProbe = new graft.core.SegmentProbe
  private val segFlagDetails = new java.util.concurrent.ConcurrentLinkedQueue[String]
  /** Total segment-law flags since the probe was installed (test hook +
    * the JSON line's `segment_flags` field). */
  private[graft] def segmentFlagTotal: Long = segProbe.flags.get()
  private[graft] def installProbe(spark: SparkSession): Unit = {
    // plan-view twin of the stage probe (graft.core.SegmentPlanScan): true
    // pre-coalesce exchange widths off each executed plan — the stage
    // probe's coalesced-read blind spot, closed. Same flag counter, same
    // details queue; a pathology visible in both views may count twice,
    // the healthy-battery zero is unaffected.
    spark.listenerManager.register(new graft.core.SegmentPlanScan.Listener(d => {
      segProbe.flags.incrementAndGet()
      segFlagDetails.add(s"[plan] $d")
    }))
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        segProbe.onSubmit(e.stageInfo)
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        segProbe.onComplete(e.stageInfo).foreach(segFlagDetails.add)
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          taskMsAcc.addAndGet(m.executorRunTime)
          cpuMsAcc.addAndGet(m.executorCpuTime / 1000000L)
          gcMsAcc.addAndGet(m.jvmGCTime)
          spillMemAcc.addAndGet(m.memoryBytesSpilled)
          spillDiskAcc.addAndGet(m.diskBytesSpilled)
          segProbe.onTask(e.stageId, m.shuffleReadMetrics.recordsRead)
        }
      }
    })
  }
  private def snapshot(): Array[Long] = Array(shuffleBytes.get(), taskMsAcc.get(),
    cpuMsAcc.get(), gcMsAcc.get(), spillMemAcc.get(), spillDiskAcc.get(),
    segProbe.flags.get())

  /** Time one query through the noop sink (NOT count(): the optimizer
    * prunes agg value expressions and even eliminates unique-keyed join
    * branches under count — the noop write evaluates every output row and
    * column, which is what a consumer pays). A failing query records the
    * error class instead of masquerading as a fast success
    * (RobustnessSpec pins this with a deliberately-broken query). */
  def runOne(spark: SparkSession, sfDir: String, name: String,
             fn: (SparkSession, String) => DataFrame): QueryRun = {
    val s0 = snapshot()
    val t0 = System.nanoTime()
    val err =
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
      catch { case t: Throwable => Some(t.getClass.getSimpleName) }
    val sec = (System.nanoTime() - t0) / 1e9
    // drain the listener bus OUTSIDE the timed region so the executor-side
    // counters attribute exactly to this query (delivery is async — the
    // old behavior leaked a few straggler tasks into the next query's
    // delta; wall timing above is untouched)
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    val s1 = snapshot()
    QueryRun(name, sec, err, s1(0) - s0(0), s1(1) - s0(1), s1(2) - s0(2),
      s1(3) - s0(3), s1(4) - s0(4), s1(5) - s0(5),
      segmentFlags = s1(6) - s0(6))
  }

  /** Run queries in sorted name order (per-query times stay comparable
    * round to round regardless of how the map hashes). */
  def runQueries(spark: SparkSession, sfDir: String,
                 queries: Map[String, (SparkSession, String) => DataFrame])
      : Seq[QueryRun] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      runOne(spark, sfDir, name, fn)
    }

  /** Queries whose wall cannot be explained by their own work — either the
    * wall exceeds 3× the perfectly-parallel task-time floor (scheduler /
    * driver-side stall) or the scheduled task time is >3× the computed +
    * GC time (tasks blocked on disk/network). Only second-scale walls
    * qualify (sub-2 s queries sit in scheduling-overhead noise where both
    * ratios fire spuriously), capped to the worst few so a globally-sick
    * host can't double the battery. */
  def outliers(results: Seq[QueryRun], cores: Int, cap: Int = 8): Seq[QueryRun] =
    results.filter { r =>
      r.err.isEmpty && r.sec > 2.0 &&
        (r.sec > 3.0 * math.max(r.lowerBoundSec(cores), 0.2) ||
          (r.taskMs > 1000 && r.blockedShare > 2.0 / 3.0))
    }.sortBy(-_.sec).take(cap)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus(4)
    val spark = GraftSession.local(cpus)
    installProbe(spark)
    // JVM/session warmup so the first measured query doesn't absorb startup:
    // exercise the operators every query touches (parquet scan, shuffle agg,
    // broadcast join, window) so codegen/classloading costs land here, not
    // in whichever query the map happens to order first
    spark.range(1000).selectExpr("sum(id)").collect()
    try {
      val warm = spark.read.parquet(s"$sfDir/region.parquet")
      warm.join(org.apache.spark.sql.functions.broadcast(warm
          .select(org.apache.spark.sql.functions.col("r_regionkey").as("k"))),
          org.apache.spark.sql.functions.col("r_regionkey") ===
            org.apache.spark.sql.functions.col("k"))
        .groupBy("r_name").count()
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("r_name")
            .orderBy("count")))
        .collect()
    } catch { case _: Throwable => () }
    // memo builds are a one-time session cost — measure them as their own
    // line item so per-query numbers stay order-stable round to round
    val tm = System.nanoTime()
    try SparkEntry.prewarmMemos(spark, sfDir) catch { case _: Throwable => () }
    val memoBuild = (System.nanoTime() - tm) / 1e9
    val selected =
      if (args.nonEmpty) SparkEntry.queries.view.filterKeys(args.contains).toMap
      else SparkEntry.queries
    val swept = runQueries(spark, sfDir, selected)
    // re-run unexplained outliers once at the END of the battery and keep
    // BOTH samples: a transient host spike re-runs clean (environment); a
    // plan regression re-runs slow (real). The record then adjudicates the
    // round-9 class of anomaly (51× wall, identical shuffle) by itself.
    val rerunSet = outliers(swept, cpus).map(_.name).toSet
    val results = swept.map { r =>
      if (rerunSet.contains(r.name))
        r.copy(rerunSec = Some(runOne(spark, sfDir, r.name, selected(r.name)).sec))
      else r
    }
    // fixed-work calibration probe (VERDICT r15 #8): identical committed
    // code measured ±44% wall across host windows in r14/r15, which
    // invalidated every cross-window compare. A constant synthetic job's
    // wall+cpu on the record lets a later reader normalize: divide two
    // rounds' walls by their calib_sec ratio before comparing.
    val cs0 = snapshot()
    val ct0 = System.nanoTime()
    try spark.range(2000000000L).selectExpr("sum(id)").collect()
    catch { case _: Throwable => () }
    val calibSec = (System.nanoTime() - ct0) / 1e9
    // the task-end events behind the cpu counter arrive asynchronously
    org.apache.spark.GraftBus.drain(spark.sparkContext)
    val calibCpuSec = (snapshot()(2) - cs0(2)) / 1000.0
    // keep the line SHORT: the driver records a bounded tail of this
    // process's output, and an over-long line truncates into an unparseable
    // artifact (round 6's BENCH json lost its per-query map that way).
    // 3 decimals = ms precision, ample for second-scale timings.
    def f3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map(r => s"\"" + r.name + "\":" + f3(r.sec))
      .mkString("{", ",", "}")
    val errs = results.collect { case r if r.err.isDefined =>
      s"\"" + r.name + "\":\"" + r.err.get + "\"" }.mkString("{", ",", "}")
    val failed = results.count(_.err.isDefined)
    val total = if (results.nonEmpty) results.map(_.sec).sum else 0.0
    val errPart = if (failed > 0) s""","errors":$errs""" else ""
    val reruns = results.collect { case r if r.rerunSec.isDefined =>
      s"\"" + r.name + "\":" + f3(r.rerunSec.get) }.mkString("{", ",", "}")
    val rerunPart = if (rerunSet.nonEmpty) s""","reruns":$reruns""" else ""
    // per-query executor evidence goes to STDERR and the full-record file
    // (the stdout JSON line must stay under the driver's bounded tail —
    // round 6 lost a bench artifact to an over-long line); compact totals
    // ride the JSON line below
    val shuffleTotalMb = results.map(_.shuffleWrite).sum >> 20
    System.err.println(results.filter(_.shuffleWrite > 0)
      .map(r => s"\"" + r.name + "\":" + (r.shuffleWrite >> 10))
      .mkString("""{"metric":"shuffle_kb","queries":{""", ",", "}}"))
    def qmJson(r: QueryRun): String =
      s"""{"sec":${f3(r.sec)},"task_sec":${f3(r.taskMs / 1000.0)}""" +
        s""","cpu_sec":${f3(r.cpuMs / 1000.0)},"gc_sec":${f3(r.gcMs / 1000.0)}""" +
        s""","spill_mem_mb":${r.spillMem >> 20},"spill_disk_mb":${r.spillDisk >> 20}""" +
        s""","shuffle_kb":${r.shuffleWrite >> 10}""" +
        (if (r.segmentFlags > 0) s""","segment_flags":${r.segmentFlags}""" else "") +
        r.rerunSec.map(v => s""","rerun_sec":${f3(v)}""").getOrElse("") +
        r.err.map(e => s""","err":"$e"""").getOrElse("") + "}"
    System.err.println(results
      .map(r => s"\"" + r.name + "\":" + qmJson(r))
      .mkString("""{"metric":"query_metrics","queries":{""", ",", "}}"))
    // post-run driver heap (after a GC): catches any operator accumulating
    // driver-side state across the query sweep — the number should stay
    // flat as queries are added (BenchScale reports the same per scale point).
    // local-mode caveat, measured after the r10 driver_used_mb jump: the
    // executor BLOCK STORE lives in this same JVM, so the session memos
    // (bucketed-table caches + checkpointed fixture payloads) are counted
    // too — storage_used_mb below names that share (executor-side state on
    // a real cluster), and memo_free_mb is the heap recovered by dropping
    // the memos, i.e. the part that is NOT driver retention.
    System.gc()
    val rt = Runtime.getRuntime
    def heapMb: Long = (rt.totalMemory() - rt.freeMemory()) >> 20
    val usedMb = heapMb
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum >> 20
    SparkEntry.clearMemos()
    System.gc()
    val memoFreedMb = math.max(0L, usedMb - heapMb)
    val taskTotal = f3(results.map(_.taskMs).sum / 1000.0)
    val cpuTotal = f3(results.map(_.cpuMs).sum / 1000.0)
    val gcTotal = f3(results.map(_.gcMs).sum / 1000.0)
    val spillTotalMb = results.map(r => r.spillMem + r.spillDisk).sum >> 20
    // §2.9.12 segment-law warnings (graft.core.SegmentLaw): session total
    // on the JSON line (expected 0 on a healthy battery), per-stage
    // details on stderr where a flag fires
    val segFlags = segProbe.flags.get()
    if (segFlags > 0) {
      val it = segFlagDetails.iterator()
      while (it.hasNext) System.err.println(s"[segment_flag] ${it.next()}")
    }
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","memo_build":${f3(memoBuild)},"failed":$failed$errPart$rerunPart,"task_total_sec":$taskTotal,"cpu_total_sec":$cpuTotal,"gc_total_sec":$gcTotal,"spill_total_mb":$spillTotalMb,"segment_flags":$segFlags,"driver_used_mb":$usedMb,"storage_used_mb":$storageMb,"memo_free_mb":$memoFreedMb,"shuffle_total_mb":$shuffleTotalMb,"calib_sec":${f3(calibSec)},"calib_cpu_sec":${f3(calibCpuSec)},"queries":$qs,"sf":"$sfDir"}"""
    println(line)
    // compact totals-only record as the LAST stdout line (VERDICT r15 #1):
    // the driver keeps only a ~2 KB tail of this process's stdout, and the
    // full record line above is ~8 KB with the 167-entry per-query map —
    // its FRONT (metric/value/unit) has been clipped out of every BENCH
    // artifact since round 4, so the driver's parse returned null for 11
    // rounds. A 2-decimal queries map alone needs ≥3.8 KB (query names are
    // part of the harness contract and cannot be shortened), so no single
    // contract-complete line can ever fit the tail; instead the full line
    // stays above (and in bench_last.json) and this ≤500 B summary — same
    // field names, no queries map — is printed last, where the bounded
    // tail always preserves it whole.
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","memo_build":${f3(memoBuild)},"failed":$failed,"task_total_sec":$taskTotal,"cpu_total_sec":$cpuTotal,"gc_total_sec":$gcTotal,"spill_total_mb":$spillTotalMb,"segment_flags":$segFlags,"shuffle_total_mb":$shuffleTotalMb,"calib_sec":${f3(calibSec)},"calib_cpu_sec":${f3(calibCpuSec)},"n_queries":${results.size},"sf":"$sfDir"}""")
    // truncation-proof record: the driver captures a bounded tail of stdout
    // and has twice lost the per-query map to it — the FULL record (line +
    // per-query executor evidence) lands in a file the tail can't clip
    val qmAll = results.map(r => s"\"" + r.name + "\":" + qmJson(r))
      .mkString("{", ",", "}")
    val fileLine = line.dropRight(1) + s""","query_metrics":$qmAll}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      (fileLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
