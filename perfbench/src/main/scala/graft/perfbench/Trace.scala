package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** Cumulative Spark counters for one session. A span's share is the delta
  * of two snapshots, each taken after the listener bus has drained. */
final class Counters extends SparkListener {
  private val names = Seq("jobs", "stages", "skipped_stages", "tasks",
    "failed_tasks", "task_ms", "cpu_ns", "gc_ms", "shuffle_write_b",
    "shuffle_read_b", "spill_b", "fetch_wait_ms", "sched_delay_ms")
  private val c: Map[String, AtomicLong] = names.map(_ -> new AtomicLong).toMap
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c("jobs").incrementAndGet()
    jobStages.put(e.jobId, e.stageIds)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    submitted.add(e.stageInfo.stageId)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStages.remove(e.jobId)).foreach { ids =>
      c("skipped_stages").addAndGet(ids.count(id => !submitted.contains(id)).toLong)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    if (e.reason != org.apache.spark.Success) c("failed_tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_ms").addAndGet(m.executorRunTime)
      c("cpu_ns").addAndGet(m.executorCpuTime)
      c("gc_ms").addAndGet(m.jvmGCTime)
      c("shuffle_write_b").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("shuffle_read_b").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("spill_b").addAndGet(m.diskBytesSpilled)
      c("fetch_wait_ms").addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      val info = e.taskInfo
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      c("sched_delay_ms").addAndGet(math.max(0L, delay))
    }
  }

  def snapshot(): Map[String, Long] = c.map { case (k, v) => k -> v.get }
}

/** One timed call into a layer: `phase` is build (the call itself), plan
  * (`executedPlan`) or exec (the noop write). */
final case class Span(id: Int, parent: Int, iter: Int, layer: String,
                      name: String, phase: String, startNs: Long, endNs: Long,
                      counts: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Times a workload's calls into graft's layers. Untraced, it only runs
  * them. Traced, it records one [[Span]] per call with the Spark counters
  * the call caused, read after a listener-bus drain at each boundary. */
final class Tracer(spark: SparkSession, val counters: Counters) {
  private var traced = false
  private var iter = 0
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  // a fresh name per observed query: an observation is matched by name
  private val observations = new AtomicLong

  def drain(): Unit = GraftBus.drain(spark.sparkContext)

  def allSpans: Seq[Span] = spans.toSeq

  /** Runs one iteration as the root span `iter`; returns its wall seconds. */
  def iteration[A](i: Int, trace: Boolean)(body: => A): (A, Double) = {
    traced = trace
    iter = i
    val t0 = System.nanoTime()
    val a = span("bench", "iteration", "iter")(body)
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** A construction call into `layer` (the facade method or function). */
  def call[A](layer: String, name: String)(body: => A): A = span(layer, name, "build")(body)

  /** Plans and executes `df` as a noop write, with `checks` observed in the
    * same pass (no second job reads the output). */
  def run(layer: String, name: String, df: DataFrame,
          checks: Seq[(String, Column)]): Map[String, Any] = {
    val obs = Observation(s"check_${name}_${observations.incrementAndGet()}")
    val observed = df.observe(obs, checks.head._2.as(checks.head._1),
      checks.tail.map { case (k, c) => c.as(k) }: _*)
    if (traced) span(layer, name, "plan")(observed.queryExecution.executedPlan)
    span(layer, name, "exec") {
      observed.write.format("noop").mode("overwrite").save()
    }
    obs.get
  }

  private def span[A](layer: String, name: String, phase: String)(body: => A): A = {
    if (!traced) return body
    drain()
    val before = counters.snapshot()
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      drain()
      val after = counters.snapshot()
      spans += Span(id, parent, iter, layer, name, phase, t0, t1,
        after.map { case (k, v) => k -> (v - before(k)) })
    }
  }
}

/** Per-layer rollup of one traced iteration's spans. Times are self times
  * (a span minus its child spans), so layers add up to the iteration. */
object Layers {
  val names: Seq[String] = Seq("core", "functions", "models", "eval", "operators", "results")
  val kinds: Seq[String] = Seq("build_s", "build_jobs", "plan_s", "exec_s", "exec_jobs",
    "self_s", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "fetch_wait_s", "sched_delay_s", "failed_tasks",
    "cpu_share", "job_ms")

  private val Mb = 1024.0 * 1024.0

  /** Self counters: a span's counters minus its direct children's. */
  def selfOf(spans: Seq[Span]): Seq[(Span, Double, Map[String, Long])] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil)
      val secs = s.seconds - ch.map(_.seconds).sum
      val counts = s.counts.map { case (k, v) => k -> (v - ch.map(_.counts(k)).sum) }
      (s, secs, counts)
    }
  }

  /** `<layer>.<kind>` for one iteration's spans. Task-level kinds sum every
    * span of the layer: construction jobs run tasks too. */
  def rollup(spans: Seq[Span]): Map[String, Double] = {
    val self = selfOf(spans)
    names.flatMap { layer =>
      val mine = self.filter(_._1.layer == layer)
      def secs(phase: String) = mine.filter(_._1.phase == phase).map(_._2).sum
      def cnt(k: String, phase: Option[String] = None) =
        mine.filter(m => phase.forall(_ == m._1.phase)).map(_._3(k)).sum.toDouble
      val taskS = cnt("task_ms") / 1000.0
      val cpuS = cnt("cpu_ns") / 1e9
      val buildS = secs("build")
      val buildJobs = cnt("jobs", Some("build"))
      val m = Map(
        "build_s" -> buildS, "build_jobs" -> buildJobs,
        "plan_s" -> secs("plan"), "exec_s" -> secs("exec"),
        "exec_jobs" -> cnt("jobs", Some("exec")),
        "self_s" -> mine.map(_._2).sum,
        "stages" -> cnt("stages"), "tasks" -> cnt("tasks"),
        "task_s" -> taskS, "cpu_s" -> cpuS, "gc_s" -> cnt("gc_ms") / 1000.0,
        "shuffle_write_mb" -> cnt("shuffle_write_b") / Mb,
        "shuffle_read_mb" -> cnt("shuffle_read_b") / Mb,
        "spill_mb" -> cnt("spill_b") / Mb,
        "fetch_wait_s" -> cnt("fetch_wait_ms") / 1000.0,
        "sched_delay_s" -> cnt("sched_delay_ms") / 1000.0,
        "failed_tasks" -> cnt("failed_tasks"),
        "cpu_share" -> (if (taskS > 0) cpuS / taskS else 0.0),
        "job_ms" -> (if (buildJobs > 0) buildS * 1000.0 / buildJobs else 0.0))
      kinds.map(k => s"$layer.$k" -> m(k))
    }.toMap
  }
}
