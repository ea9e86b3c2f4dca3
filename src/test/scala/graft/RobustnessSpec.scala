package graft

import graft.operators.{Transforms, TransformStack}
import graft.queries.QueryDef
import graft.results.PipelineStore
import org.apache.spark.sql.functions._

/** Edge-path robustness: failure honesty in the bench harness, stale-state
  * hygiene in persistence, empty-horizon schemas, variable-dim vectors. */
class RobustnessSpec extends SparkSpec {

  test("Bench.runQueries records a per-query error instead of a fast success") {
    import spark.implicits._
    val qs = Seq(
      QueryDef("good", (s, _) => { import s.implicits._; Seq(1, 2, 3).toDF("x") }, "SELECT 1"),
      QueryDef("broken", (s, _) => s.read.parquet("/nonexistent/graft/no_such_dir"), "SELECT 1"))
    val rec = graft.obs.RunRecorder.install(spark)
    val out = try Bench.runQueries(rec, "unused", qs) finally rec.close()
    val byName = out.map(r => r.name -> r.err).toMap
    assert(byName("good").isEmpty, "working query must carry no error")
    assert(byName("broken").isDefined, "broken query must surface its error class")
    assert(out.count(_.err.isDefined) == 1)
  }

  test("Bench.attempt reports a failed step on stderr and lets a fatal error through") {
    val err = new java.io.ByteArrayOutputStream()
    var ran = false
    Console.withErr(new java.io.PrintStream(err, true)) {
      Bench.attempt("memo prewarm")(throw new IllegalStateException("no such memo"))
      Bench.attempt("calibration") { ran = true }
    }
    assert(ran, "a step that succeeds runs once and prints nothing")
    assert(err.toString.trim ==
      "[bench] memo prewarm failed: IllegalStateException: no such memo")
    intercept[LinkageError](Bench.attempt("record write")(throw new LinkageError("fatal")))
  }

  test("segment-law detector flags micro-segment exchanges and only those") {
    import graft.core.SegmentLaw
    // the predicate itself: the three measured regimes
    assert(SegmentLaw.flag(121000000L, 8000, 8000),
      "the 2e7 kn pathology (~2 records/frame) must flag")
    assert(!SegmentLaw.flag(121000000L, 1192, 1192),
      "the bytes-rule layout (~85 records/segment) must not flag")
    assert(!SegmentLaw.flag(500L, 32, 32),
      "gate-scale exchanges sit below the records floor and never flag")
    assert(!SegmentLaw.flag(999999L, 8000, 8000),
      "records below the 1M floor never flag regardless of shape")
    // end to end through the run recorder: a deliberately micro-segmented
    // exchange (64 maps x 4096 reduces for 1.1M rows ~ 4 records/segment)
    // raises exactly the warning; a healthy exchange of the same rows does
    // not. The recorder attributes by a bus drain around each body.
    val rec = graft.obs.RunRecorder.install(spark)
    try {
      def flagsAfter(body: => Unit): graft.obs.RunDelta = rec.measure(body)._2
      val healthy = flagsAfter {
        spark.range(0, 1100000, 1, 64).repartition(8)
          .write.mode("overwrite").format("noop").save()
      }
      assert(healthy.segmentFlags + healthy.segmentFlagsPlan == 0L,
        s"healthy exchange flagged: $healthy")
      val sick = flagsAfter {
        spark.range(0, 1100000, 1, 64)
          .repartition(4096, org.apache.spark.sql.functions.col("id"))
          .write.mode("overwrite").format("noop").save()
      }
      assert(sick.segmentFlags >= 1L,
        "micro-segmented exchange must raise the stage-view warning")
      // the stage probe's coalesced-read blind spot, now covered by the plan
      // scan (VERDICT r15 #3): a PLANNER exchange at a pathological width is
      // read back through AQE's coalescer, so the reading stage's task count
      // looks healthy — only the executed plan knows the exchange wrote
      // map_tasks × 4096 micro-segments. distinct() over unique ids keeps
      // every row through the partial aggregate, so 1.1M records cross.
      val prevWidth = spark.conf.get("spark.sql.shuffle.partitions")
      val coalescedSick = flagsAfter {
        spark.conf.set("spark.sql.shuffle.partitions", "4096")
        // mod keeps keys NON-unique (a distinct over provably-unique range
        // ids optimizes the whole exchange away) while each map partition's
        // key slice stays internally unique, so the partial aggregate passes
        // ~all 1.1M records into the 64 × 4096-segment exchange
        try spark.range(0, 1100000, 1, 64)
          .select((org.apache.spark.sql.functions.col("id") % 550000L).as("k"))
          .distinct()
          .write.mode("overwrite").format("noop").save()
        finally spark.conf.set("spark.sql.shuffle.partitions", prevWidth)
      }
      assert(coalescedSick.segmentFlagsPlan >= 1L,
        "micro-segmented exchange behind a coalesced read must raise the plan-view warning")
    } finally rec.close()
  }

  test("a plan scan that throws is counted and reported, not swallowed") {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    // executedPlan on an unresolvable plan throws inside the listener
    val qe = spark.sessionState.executePlan(UnresolvedRelation(Seq("graft_no_such_table")))
    val rec = graft.obs.RunRecorder.install(spark)
    try {
      val (_, d) = rec.measure(rec.planListener.onSuccess("test", qe, 0L))
      assert(d.planScanErrors == 1L, s"got $d")
      assert(d.segmentFlagsPlan == 0L)
    } finally rec.close()
  }

  test("Bench.outliers flags unexplained walls and only those") {
    import graft.Bench.QueryRun
    import graft.obs.{RunDelta, StageRow, Work}
    def q(name: String, sec: Double, taskMs: Long, cpuMs: Long,
          gcMs: Long = 0L) = QueryRun(name, None,
      RunDelta(sec, stageRows = Vector(StageRow(0, name, Work(taskMs, cpuMs, gcMs)))))
    val healthy = q("healthy", 4.0, 100000L, 95000L)        // saturated compute
    val stalled = q("stalled", 10.0, 8000L, 7500L)          // wall ≫ task floor
    val blocked = q("blocked", 10.0, 200000L, 20000L)       // tasks I/O-blocked
    val tiny = q("tiny", 0.5, 100L, 20L)                    // sub-2s noise band
    val broken = q("broken", 10.0, 100L, 10L).copy(err = Some("Boom"))
    val out = Bench.outliers(Seq(healthy, stalled, blocked, tiny, broken),
      cores = 32).map(_.name)
    assert(out.toSet === Set("stalled", "blocked"), s"got $out")
  }

  test("PipelineStore re-save with no feature specs clears a stale spec chain") {
    val base = obsSeries((1 to 30).map(_.toDouble))
    val stack = TransformStack(List(Transforms.scaleT(base)))
    val path = java.nio.file.Files.createTempDirectory("plstale").toString
    PipelineStore.save(path, stack, spark,
      featureSpecs = Seq(graft.functions.FeatureSpec.ArTerms(3)))
    assert(PipelineStore.loadFeatureSpecs(spark, path).size == 1)
    // overwrite the same path with a spec-less pipeline: the old chain must
    // NOT survive to be replayed by loadFeatureSpecs
    PipelineStore.save(path, stack, spark, featureSpecs = Nil)
    assert(PipelineStore.loadFeatureSpecs(spark, path).isEmpty,
      "stale specs/ parquet must be overwritten on re-save")
  }

  test("BlockedVar.dynamicForecast with no future rows keeps the output schema") {
    val a = (0 until 30).map(t => 10.0 + 0.3 * t)
    val b = (0 until 30).map(t => 5.0 + 0.2 * t)
    val frame = obsSeries(a, "a").unionByName(obsSeries(b, "b"))
    val out = graft.models.BlockedVar.dynamicForecast(frame, maxLag = 1, maxSources = 2)
    assert(out.columns.toSeq == Seq("series_id", "ds", "yhat"),
      s"empty-horizon frame must keep (series_id, ds, yhat), got ${out.columns.toSeq}")
    assert(out.count() == 0)
  }

  test("crossCosineMatches is exact with variable-length vectors in both tiers") {
    import graft.operators.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // clusters live in 32 dims; a SHORT decoy probe is row one of the probe
    // set, so a first-row dims read would size planes/budget at 4 and drop
    // all signal carried by components 4..31
    val dim = 32
    val vecs = (0 until 8).flatMap { c =>
      val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
      (0 until 3).map { j =>
        val v = base.map(x => x + (if (j == 0) 0f else 0.02f * rnd.nextGaussian().toFloat))
        (c.toLong * 3 + j, v.toSeq)
      }
    }
    val short = Seq((-1L, Seq.fill(4)(rnd.nextGaussian().toFloat)))
    val corpus = vecs.filter(_._1 % 3 != 0).toDF("vec_id", "embedding")
    val probes = (short ++ vecs.filter(_._1 % 3 == 0)).toDF("vec_id", "embedding")
      .repartition(1).sortWithinPartitions(col("vec_id"))
    def toSet(d: org.apache.spark.sql.DataFrame) =
      d.select("corpus_id", "probe_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pc = Similarity.prepared(corpus, "vec_id", "embedding")
    val pp = Similarity.prepared(probes, "vec_id", "embedding")
    val brute = toSet(pc.as("a").join(pp.as("b"))
      .select(col("a.vid").as("corpus_id"), col("b.vid").as("probe_id"),
        (Similarity.dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("sim"))
      .filter(col("sim") >= 0.95))
    assert(brute.nonEmpty, "fixture must contain true cross matches")
    val bcast = toSet(Similarity.crossCosineMatches(
      corpus, probes, "vec_id", "embedding", 0.95))
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val banded = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      toSet(Similarity.crossCosineMatches(
        corpus, probes, "vec_id", "embedding", 0.95))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert(bcast == brute, s"broadcast tier ${bcast.size} vs brute ${brute.size}")
    assert(banded == brute, s"banded tier ${banded.size} vs brute ${brute.size}")
  }

  test("events ts normalization accepts TIMESTAMP(MICROS) files and epoch-ns LONG alike") {
    import graft.core.Tables
    import spark.implicits._
    // a micros-timestamp parquet file, the regenerated-fixture encoding
    val dir = java.nio.file.Files.createTempDirectory("evmicros").toString
    val tsUs = 1700000000123456L // epoch micros, sub-ms precision preserved
    Seq((1L, new java.sql.Timestamp(tsUs / 1000) {
          setNanos((tsUs % 1000000).toInt * 1000) }, 7L, "view", 1.5))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val fromFile = Tables.events(spark, dir)
    assert(fromFile.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    assert(fromFile.select("ts").as[Long].head() == tsUs * 1000L)
    // legacy path: ts already an epoch-ns LONG (TIMESTAMP_NANOS via nanosAsLong)
    val asLong = Seq((1L, tsUs * 1000L)).toDF("event_id", "ts")
    assert(Tables.normalizeEventTs(asLong).select("ts").as[Long].head() == tsUs * 1000L)
    // anything else is a loud contract violation, not a silent analysis error
    val bad = Seq((1L, "2023-11-14")).toDF("event_id", "ts")
    intercept[IllegalArgumentException](Tables.normalizeEventTs(bad))
  }
}
