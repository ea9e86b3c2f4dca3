package graft
import graft.core.SessionMemo
import graft.obs.{RunDelta, RunRecorder, Work}
import graft.obs.RunRecorder.{f3, obj}
import graft.queries.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** One benched query: its [[graft.obs.RunDelta]] (wall, jobs, stages and
    * the executor-side evidence that lets a reader attribute a wall swing
    * without re-running anything — the round-9 driver battery saw a 51×
    * wall blowup on doc_dup_spans with IDENTICAL shuffle bytes, and the
    * record couldn't say whether the plan regressed or the host was
    * contended), plus `buildSec`, the time of building the DataFrame
    * alone: the eager jobs construction runs to take its decisions. */
  final case class QueryRun(name: String, err: Option[String], m: RunDelta,
                            buildSec: Double = 0.0,
                            rerunSec: Option[Double] = None) {
    def sec: Double = m.sec
    /** Wall floor if every scheduled core-second ran perfectly parallel. */
    def lowerBoundSec(cores: Int): Double = m.work.taskMs / 1000.0 / cores
    /** Fraction of scheduled task time spent neither computing nor in GC —
      * the blocked-on-something share; ~0 for a healthy compute query. */
    def blockedShare: Double = {
      val w = m.work
      if (w.taskMs <= 0) 0.0
      else math.max(0.0, (w.taskMs - w.cpuMs - w.gcMs).toDouble / w.taskMs)
    }
  }

  /** Time one query through the noop sink (NOT count(): the optimizer
    * prunes agg value expressions and even eliminates unique-keyed join
    * branches under count — the noop write evaluates every output row and
    * column, which is what a consumer pays). A failing query records the
    * error class instead of masquerading as a fast success
    * (RobustnessSpec pins this with a deliberately-broken query). */
  def runOne(rec: RunRecorder, sfDir: String, name: String,
             fn: (SparkSession, String) => DataFrame): QueryRun = {
    var buildSec = 0.0
    val (err, m) = rec.measure {
      val t0 = System.nanoTime()
      try {
        val df = fn(rec.spark, sfDir)
        buildSec = (System.nanoTime() - t0) / 1e9
        df.write.mode("overwrite").format("noop").save(); None
      } catch { case t: Throwable => Some(t.getClass.getSimpleName) }
    }
    QueryRun(name, err, m, buildSec)
  }

  /** Run queries in sorted name order (per-query times stay comparable
    * round to round regardless of registry order). */
  def runQueries(rec: RunRecorder, sfDir: String, queries: Seq[QueryDef]): Seq[QueryRun] =
    queries.sortBy(_.name).map(q => runOne(rec, sfDir, q.name, q.build))

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
          (r.m.work.taskMs > 1000 && r.blockedShare > 2.0 / 3.0))
    }.sortBy(-_.sec).take(cap)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // resolve the names before starting Spark: an unknown name throws and
    // names itself instead of running nothing and reporting 0 failed
    val selected = if (args.nonEmpty) args.toSeq.map(SparkEntry(_)) else SparkEntry.all
    val cpus = GraftSession.envCpus(4)
    val spark = GraftSession.local(cpus)
    val rec = RunRecorder.install(spark)
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
    val (_, memo) = rec.measure {
      try SparkEntry.prewarm(spark, sfDir) catch { case _: Throwable => () }
    }
    val swept = runQueries(rec, sfDir, selected)
    // re-run unexplained outliers once at the END of the battery and keep
    // BOTH samples: a transient host spike re-runs clean (environment); a
    // plan regression re-runs slow (real). The record then adjudicates the
    // round-9 class of anomaly (51× wall, identical shuffle) by itself.
    val rerunSet = outliers(swept, cpus).map(_.name).toSet
    val results = swept.map { r =>
      if (rerunSet.contains(r.name))
        r.copy(rerunSec = Some(runOne(rec, sfDir, r.name, SparkEntry(r.name).build).sec))
      else r
    }
    // fixed-work calibration probe (VERDICT r15 #8): identical committed
    // code measured ±44% wall across host windows in r14/r15, which
    // invalidated every cross-window compare. A constant synthetic job's
    // wall+cpu on the record lets a later reader normalize: divide two
    // rounds' walls by their calib_sec ratio before comparing.
    val (_, calib) = rec.measure {
      try spark.range(2000000000L).selectExpr("sum(id)").collect()
      catch { case _: Throwable => () }
    }
    // keep the line SHORT: the driver records a bounded tail of this
    // process's output, and an over-long line truncates into an unparseable
    // artifact (round 6's BENCH json lost its per-query map that way).
    // 3 decimals = ms precision, ample for second-scale timings.
    def secMap(rs: Seq[QueryRun]): String = obj(rs.map(r => r.name -> f3(r.sec)))
    val failed = results.count(_.err.isDefined)
    val total = results.map(_.sec).sum
    val errPart = if (failed == 0) "" else ""","errors":""" +
      obj(results.flatMap(r => r.err.map(e => r.name -> s""""$e"""")))
    val rerunPart = if (rerunSet.isEmpty) "" else ""","reruns":""" +
      obj(results.flatMap(r => r.rerunSec.map(v => r.name -> f3(v))))
    // per-query executor evidence goes to STDERR and the full-record file
    // (the stdout JSON line must stay under the driver's bounded tail —
    // round 6 lost a bench artifact to an over-long line); compact totals
    // ride the JSON line below
    val qmAll = obj(results.map(r => r.name -> r.m.json(
      Seq("build_sec" -> f3(r.buildSec)) ++ r.rerunSec.map(v => "rerun_sec" -> f3(v)) ++
        r.err.map(e => "err" -> s""""$e""""): _*)))
    System.err.println(s"""{"metric":"query_metrics","queries":$qmAll}""")
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
    SessionMemo.clear()
    System.gc()
    val memoFreedMb = math.max(0L, usedMb - heapMb)
    val w = results.map(_.m.work).foldLeft(Work())(_ + _)
    // §2.9.12 segment-law warnings (graft.core.SegmentLaw) over the memo
    // build and the sweep: stage view and plan view apart (expected 0 on a
    // healthy battery); each flag's detail went to stderr as it fired
    val ms = memo +: results.map(_.m)
    val head = s"""{"metric":"total","value":${f3(total)},"unit":"sec","memo_build":${f3(memo.sec)},"failed":$failed"""
    val totals = s""""task_total_sec":${f3(w.taskMs / 1000.0)},"cpu_total_sec":${f3(w.cpuMs / 1000.0)},"gc_total_sec":${f3(w.gcMs / 1000.0)},"spill_total_mb":${(w.spillMem + w.spillDisk) >> 20},"segment_flags":${ms.map(_.segmentFlags).sum},"segment_flags_plan":${ms.map(_.segmentFlagsPlan).sum},"jobs":${results.map(_.m.jobs).sum},"shuffle_total_mb":${w.shuffleWrite >> 20},"calib_sec":${f3(calib.sec)},"calib_cpu_sec":${f3(calib.work.cpuMs / 1000.0)}"""
    val line = s"""$head$errPart$rerunPart,$totals,"driver_used_mb":$usedMb,"storage_used_mb":$storageMb,"memo_free_mb":$memoFreedMb,"queries":${secMap(results)},"sf":"$sfDir"}"""
    println(line)
    // compact totals-only record as the LAST stdout line (VERDICT r15 #1):
    // the driver keeps only a ~2 KB tail of this process's stdout, and the
    // full record line above is ~8 KB with the 167-entry per-query map —
    // its FRONT (metric/value/unit) has been clipped out of every BENCH
    // artifact since round 4, so the driver's parse returned null for 11
    // rounds. A 2-decimal queries map alone needs ≥3.8 KB (query names are
    // part of the harness contract and cannot be shortened), so no single
    // contract-complete line can ever fit the tail; instead the full line
    // stays above (and in bench_last.json) and this ≤1 KB summary — same
    // field names, no queries map, only the 10 slowest queries in `top` —
    // is printed last, where the bounded tail always preserves it whole.
    println(s"""$head,$totals,"n_queries":${results.size},"top":${secMap(results.sortBy(-_.sec).take(10))},"sf":"$sfDir"}""")
    // truncation-proof record: the driver captures a bounded tail of stdout
    // and has twice lost the per-query map to it — the FULL record (line +
    // per-query executor evidence) lands in a file the tail can't clip
    val fileLine = line.dropRight(1) + s""","query_metrics":$qmAll}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_last.json"),
      (fileLine + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
