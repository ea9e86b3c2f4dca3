package graft

import graft.operators.Graph
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Distributed connected components: correctness on known shapes, the
  * 10⁴-component scale fixture, and the UDF-free BlockedVar recursion plan
  * the kernel unlocks. */
class GraphSpec extends SparkSpec {

  test("connectedComponents labels chains, stars, and singleton self-loops") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (star at 10), {20} (self-loop)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (20L, 20L)).toDF("a", "b")
    val got = Graph.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L),
      s"got $got") // 20's self-loop drops out: callers default singletons
  }

  test("connectedComponents converges on a chain far past the round bound") {
    import spark.implicits._
    // a 300-vertex path needs 299 propagation-only rounds — pointer jumping
    // must close it inside the default maxIter. localMaxBytes = 0 forces the
    // distributed loop regardless of the size gate.
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Graph.connectedComponents(edges, "a", "b", localMaxBytes = 0L)
    assert(labels.select(countDistinct("comp")).first().getLong(0) == 1L)
    assert(labels.filter(col("comp") =!= 0L).count() == 0L)
  }

  test("connectedComponents handles 10^4 components with no driver edge state") {
    import spark.implicits._
    // 10^4 three-vertex chains: comp of {3i, 3i+1, 3i+2} must be 3i; all
    // assertions are aggregates — no per-row data reaches the driver
    // (localMaxBytes = 0 pins the loop tier, not the size-gated local one)
    val edges = (0L until 10000L)
      .flatMap(i => Seq((3 * i, 3 * i + 1), (3 * i + 1, 3 * i + 2)))
      .toDF("a", "b").repartition(8)
    val labels = Graph.connectedComponents(edges, "a", "b", localMaxBytes = 0L)
    assert(labels.count() == 30000L)
    assert(labels.select(countDistinct("comp")).first().getLong(0) == 10000L)
    assert(labels.filter(col("comp") =!= (col("id") - col("id") % 3)).count() == 0L,
      "every vertex must carry its component's least id")
  }

  test("local and distributed tiers label an irregular graph identically") {
    import spark.implicits._
    // mixed shapes with shuffled ids: chains, a star, bridges, duplicates
    val rnd = new scala.util.Random(11)
    val perm = rnd.shuffle((0L until 400L).toVector)
    val edges = ((0 until 120).map(i => (perm(i), perm(i + 1))) ++ // long chain
      (200 until 260).map(i => (perm(200), perm(i))) ++            // star
      (300 until 340).map(i => (perm(i), perm(i + 30))) ++         // overlaps
      Seq((perm(0), perm(0)))).toDF("a", "b")                      // self-loop
    def labelMap(lmb: Long) =
      Graph.connectedComponents(edges, "a", "b", localMaxBytes = lmb)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labelMap(Graph.LocalMaxBytes)
    val looped = labelMap(0L)
    assert(local == looped, "the two tiers must agree label-for-label")
    assert(local.nonEmpty && local.forall { case (v, c) => c <= v })
  }

  test("overblown plan estimate on a toy graph escapes to the local tier") {
    import spark.implicits._
    // An equality join's size-only stat is the PRODUCT of its children —
    // two ~100k-row range frames estimate in the GB even though the joined
    // edge list is tiny (mv_blocked_dynamic's coupling graph rides exactly
    // this shape through the screen's join tree). The measured-bytes gate
    // must escape to the driver-local tier after the one materialize job
    // instead of running the distributed loop's per-round jobs.
    val ids = spark.range(0, 100000).toDF("v")
    val tiny = spark.range(0, 12).toDF("v")
    val edges = ids.join(tiny, "v").select(col("v").as("a"), (col("v") + 1).as("b"))
    val est = edges.select(col("a"), col("b")).queryExecution
      .optimizedPlan.stats.sizeInBytes
    assert(est > Graph.LocalMaxBytes, s"fixture must overestimate, got $est")
    val rec = graft.obs.RunRecorder.install(spark)
    try {
      val (labels, d) = rec.measure(Graph.connectedComponents(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      // one chain 0..12 → comp 0 everywhere
      assert(labels == (0L to 12L).map(_ -> 0L).toMap, s"got $labels")
      assert(Graph.connectedComponents(edges, "a", "b").queryExecution.analyzed
        .isInstanceOf[LocalRelation], "the measured escape returns a LocalRelation too")
      // materialize+count, driver collect, label parallelize-collect — the
      // loop tier's per-round jobs (≥2 rounds × join/count) would exceed this
      assert(d.jobs <= 4, s"expected the local tier's ≤4 jobs, ran ${d.jobs}")
    } finally rec.close()
  }

  test("local-tier labels are a LocalRelation: an anti-join against them shuffles nothing") {
    import spark.implicits._
    // an RDD-backed label frame has no size statistics, so the anti-join
    // first plans and runs a shuffle and only then converts to a
    // broadcast; a LocalRelation is broadcast from the start
    val edges = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("a", "b")
    val labels = Graph.connectedComponents(edges, "a", "b")
    assert(labels.queryExecution.analyzed.isInstanceOf[LocalRelation],
      s"got ${labels.queryExecution.analyzed}")
    val docs = spark.range(0, 20).toDF("id")
    val rec = graft.obs.RunRecorder.install(spark)
    try {
      val (kept, d) = rec.measure(docs
        .join(labels.filter(col("id") =!= col("comp")).select("id"), Seq("id"), "left_anti")
        .collect().map(_.getLong(0)).toSet)
      assert(kept == (0L until 20L).toSet -- Set(2L, 3L, 11L))
      assert(d.shuffleStages == 0, s"anti-join materialized ${d.shuffleStages} shuffle stages")
    } finally rec.close()
  }

  test("BlockedVar recursion plan is UDF-free with distributed components") {
    val nObs = 40
    val a = (0 until nObs).map(t => 10.0 + 3.0 * math.sin(t / 2.0) + 0.2 * t)
    val b = (0 until nObs).map(t => if (t == 0) 5.0 else 0.5 * a(t - 1) + 1.0)
    val frame = graft.core.SeriesFrame.withMonthlyHorizon(
      obsSeries(a, "a").unionByName(obsSeries(b, "b")), 4)
    val out = graft.models.BlockedVar.dynamicForecast(frame, maxLag = 1, maxSources = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"),
      s"component labeling must not plan as a Scala UDF, got: $plan")
    assert(out.count() == 8)
  }
}
