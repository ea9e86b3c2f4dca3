package graft.perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Runs one seeded workload through graft's public API on a fresh
  * `local[nproc]` session and prints one JSON result line last:
  *
  * {{{
  *   --workload forecast_panel|forecast_tune|curate_corpus
  *   --seed <n> --seconds <measure window> --trace 0|1
  *   [--work <dir for Spark scratch and span files>] [--break <negative control>]
  * }}}
  *
  * Set-up (timed as `setup_s`): session start, the median of three
  * generate-and-materialize rounds of the inputs, and one warm-up iteration.
  * Then iterations run until the window closes. `--trace 0` reports the
  * end-to-end metrics; `--trace 1` alternates untraced and traced
  * iterations and reports per-layer metrics from the traced ones, plus the
  * tracing overhead against the untraced ones.
  */
object Main {
  private val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", "perfbench/.work"))
    val break = opts.getOrElse("break", "")
    val cores = Runtime.getRuntime.availableProcessors()
    val wl = Workloads(workload, cores, break)
    require(break.isEmpty || Workloads.breaks(workload).contains(break),
      s"--break for $workload is one of ${Workloads.breaks(workload).mkString(", ")}")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // keep every shuffle nproc wide: the inputs are small enough that
      // AQE would coalesce each exchange into one task (BenchScale pins the
      // same setting for the same reason)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark, counters)
    val sessionS = (System.nanoTime() - t0) / 1e9

    try {
      val rounds = (1 to SetupRounds).map { _ =>
        wl.release()
        val g0 = System.nanoTime()
        wl.generate(spark, seed)
        (System.nanoTime() - g0) / 1e9
      }
      val inputMb = persistedMb(spark)
      val results = scala.collection.mutable.ArrayBuffer.empty[IterResult]
      val warm = runIteration(spark, wl, tracer, 0, trace = false, inputMb)
      results += warm
      val setupS = sessionS + median(rounds) + warm.wallS

      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 1
      // at least three measured iterations, so the median never includes the
      // first (slowest) one; when tracing, two of them are traced
      while (System.nanoTime() < deadline || i < (if (trace) 6 else 4)) {
        results += runIteration(spark, wl, tracer, i, trace && i % 2 == 0, inputMb)
        i += 1
      }

      val measured = results.tail.toSeq
      val plain = measured.filter(!_.traced)
      // every iteration's output must digest like the warm-up's
      val reference = results.head.outcome.map(_.digest)
      val digests = results.flatMap(_.outcome.map(_.digest)).distinct
      val failed = results.count(r => r.failed || r.outcome.map(_.digest) != reference)
      results.zipWithIndex.foreach { case (r, k) =>
        System.err.println(f"[perfbench] iteration $k: wall ${r.wallS}%.3f s, " +
          f"core ${r.coreS}%.3f s, heap ${r.heapMb}%.1f MB, traced ${r.traced}")
        r.error.foreach(e => System.err.println(s"[perfbench] iteration $k failed: $e"))
        r.outcome.foreach(_.problems.foreach(p => System.err.println(s"[perfbench] iteration $k: $p")))
      }
      if (digests.size > 1)
        System.err.println(s"[perfbench] output digest differs across iterations: ${digests.mkString(" ")}")

      val metrics: Seq[(String, Double, String)] =
        if (!trace) endToEnd(wl, plain, setupS)
        else perLayer(wl, measured, plain, cores, tracer, work)
      val json = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${failed == 0}, "attempted": ${results.size}, """ +
        s""""failed": $failed, "metrics": {$json}}""")
    } finally {
      wl.release()
      spark.stop()
    }
  }

  final case class IterResult(traced: Boolean, wallS: Double, coreS: Double, heapMb: Double,
                              persistedMb: Double, skipped: Long, stages: Long,
                              outcome: Option[Outcome], error: Option[String]) {
    def failed: Boolean = error.nonEmpty || outcome.exists(_.problems.nonEmpty)
  }

  private def runIteration(spark: SparkSession, wl: Workload, tr: Tracer, i: Int,
                           trace: Boolean, inputMb: Double): IterResult = {
    tr.drain()
    val before = tr.counters.snapshot()
    val (res, wall) = tr.iteration(i, trace)(scala.util.Try(wl.iterate(tr)))
    tr.drain()
    val after = tr.counters.snapshot()
    // bytes the program left checkpointed or cached, beyond the inputs
    val persisted = math.max(0.0, persistedMb(spark) - inputMb)
    // a first collection queues the iteration's shuffles and broadcasts for
    // Spark's cleaner; the second, after the cleaner ran, reads the heap the
    // program really keeps
    System.gc()
    Thread.sleep(300)
    System.gc()
    val rt = Runtime.getRuntime
    val heap = (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
    def d(k: String) = after(k) - before(k)
    IterResult(trace, wall, d("task_ms") / 1000.0, heap, persisted, d("skipped_stages"),
      d("stages"), res.toOption, res.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}"))
  }

  private def persistedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)

  private def endToEnd(wl: Workload, plain: Seq[IterResult],
                       setupS: Double): Seq[(String, Double, String)] = {
    val wall = median(plain.map(_.wallS))
    Seq(("setup_s", setupS, "s"), ("wall_s", wall, "s"),
      ("items_per_s", wl.items / wall, "1/s"),
      ("core_s", median(plain.map(_.coreS)), "s"),
      ("heap_mb", median(plain.map(_.heapMb)), "MB"))
  }

  private def perLayer(wl: Workload, measured: Seq[IterResult], plain: Seq[IterResult],
                       cores: Int, tr: Tracer, work: File): Seq[(String, Double, String)] = {
    val tracedIters = measured.filter(_.traced)
    val byIter = tr.allSpans.groupBy(_.iter)
    val rollups = byIter.values.map(Layers.rollup).toSeq
    val layer = Layers.names.flatMap(l => Layers.kinds.map(k => s"$l.$k")).map { name =>
      val kind = name.substring(name.indexOf('.') + 1)
      (name, median(rollups.map(_(name))), unitOf(kind))
    }
    val tracedWall = median(tracedIters.map(_.wallS))
    val plainWall = median(plain.map(_.wallS))
    val attributed = median(byIter.values.map(ss =>
      Layers.selfOf(ss).filter(_._1.layer != "bench").map(_._2).sum).toSeq)
    val stages = plain.map(_.stages).sum
    val skipped = plain.map(_.skipped).sum
    writeSpans(wl, tr, work)
    layer ++ Seq(
      ("spark.utilization", median(plain.map(_.coreS)) / (plainWall * cores), "share"),
      ("spark.stages_skipped_share",
        if (stages + skipped > 0) skipped.toDouble / (stages + skipped) else 0.0, "share"),
      ("spark.persisted_mb", median(measured.map(_.persistedMb)), "MB"),
      ("trace.wall_s", tracedWall, "s"),
      ("trace.untraced_wall_s", plainWall, "s"),
      ("trace.overhead_s", tracedWall - plainWall, "s"),
      ("trace.unattributed_s", tracedWall - attributed, "s"))
  }

  private def unitOf(kind: String): String =
    if (kind.endsWith("_s")) "s" else if (kind.endsWith("_mb")) "MB"
    else if (kind == "cpu_share") "share" else if (kind == "job_ms") "ms" else "count"

  /** Spans stay in memory during the run and are written once at the end. */
  private def writeSpans(wl: Workload, tr: Tracer, work: File): Unit = {
    val dir = new File(work, "trace")
    dir.mkdirs()
    val out = new PrintWriter(new File(dir, s"${wl.name}.spans.jsonl"))
    try tr.allSpans.foreach { s =>
      val counts = s.counts.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      out.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "iter": ${s.iter}, """ +
        s""""layer": "${s.layer}", "name": "${s.name}", "phase": "${s.phase}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counts": {$counts}}""")
    } finally out.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v).replace("E", "e")
}
