package graft

import graft.core.SessionMemo

/** Executed-shuffle and job-count pins for the priciest committed queries:
  * wall-time regressions on a shared VM are noise (the r9/r10 contention
  * records), but the number of shuffle-map stages a query MATERIALIZES is
  * a deterministic plan-shape signal — a new exchange (lost reuse, a
  * broadcast that fell back to shuffle, a checkpoint that stopped
  * covering a branch) shows up here as +1 regardless of host weather.
  * The Spark job count is the same kind of signal for construction: an
  * eager decision job (a count, a collect, a checkpoint) added while
  * building the frame shows up as +1.
  *
  * Both count across ALL jobs the query runs (driver-sequenced optimizer
  * loops included, which a plan-string pin of the returned frame would
  * miss); AQE-reused stages are not resubmitted, so the stage count is
  * "exchanges actually materialized". Stage bounds are UPPER bounds
  * measured at sf0.001 with a small headroom for AQE's size-based join
  * choices — a real regression (the round-10 find: the jaccard index
  * lineage silently running 4×) moves the count by far more. Job bounds
  * are the counts measured at sf0.001 before the run recorder replaced
  * the ad-hoc listeners, with no headroom: fewer is the goal. The memo
  * state these pins depend on is also checked for release: clearing the
  * memos must let go of every session they were built in. */
class PlanPinSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** (query, (max shuffle-map stages, max jobs)) — the committed-bench top
    * cost tier, streaming queries excluded (their stage accounting spans
    * triggers). Comments: the stage count measured at r11 (the stage
    * bound adds ~25% headroom). The job counts of ts_opt_transform,
    * ts_opt_transform_by_series and ts_reconcile vary run to run (34–37,
    * 25–27 and 35–36 over 11 runs: concurrent evaluations race); their
    * pins are the largest count seen. */
  private val pins: Seq[(String, (Int, Int))] = Seq(
    "emb_knn_ivf" -> (21, 26),                // 17
    "doc_curation_audit" -> (16, 22),         // 12
    "doc_curation_chain" -> (10, 15),         // 8 (keyed ckpt + narrow strat)
    // 15 jobs since the local-tier CC labels plan their broadcast up front
    "mv_blocked_dynamic" -> (32, 15),         // 27
    // r16: the greedy walk evaluates a reject-path LOOKAHEAD candidate
    // concurrently; each ACCEPT discards one speculative eval and re-runs
    // it against the new state, so the stage count is data-dependent up
    // to ~2× the sequential walk's (this fixture accepts 2 of 3
    // candidates → 16). The pin bounds the all-accept worst case.
    "ts_opt_transform" -> (20, 37),           // 8 seq / 16 with lookahead
    "ts_auto_xvar" -> (38, 44),               // 32
    "doc_dedup_incremental" -> (13, 17),      // 10 (keyed ckpt)
    "ts_opt_transform_by_series" -> (13, 27), // 9
    "ts_reconcile" -> (18, 36),               // 14
    "doc_fingerprint_pairs" -> (4, 7),        // 3 (keyed ckpt: index exchange gone)
    // the keyed-checkpoint invariant on the span ops (round-11 fix): the
    // h-partitioned window stream feeds the count aggregate AND the probe
    // join with ZERO re-exchanges — a refactor that silently drops the
    // advertised partitioning shows up as +1 here
    "doc_dup_spans" -> (4, 6),                // 3
    "doc_strip_spans" -> (5, 8),              // 4
    "doc_neardup_cosine" -> (6, 9),           // 4
    "emb_knn_pq" -> (6, 13),                  // 4
    // the KN model+score plan: a FIXED stage budget at any corpus size
    // (count/type/scalar aggregates + score joins + per-doc average) — a
    // regression here means a model table stopped deduping via its lazy
    // checkpoint and re-runs its corpus lineage per consumer
    "doc_kn_perplexity" -> (23, 24),          // 18
    "doc_kn_perplexity_heldout" -> (23, 24),  // 18
    // the hashing-trick invariant on the classifier: training is ONE
    // bounded-key exchange + the tiny totals/priors aggregates, scoring
    // is a BROADCAST join + one per-doc aggregate — a regression here
    // means the model stopped broadcasting (fell back to a shuffle join)
    // or the lazy model checkpoint stopped deduping its two consumers
    "doc_quality_classifier" -> (8, 11),      // 6
    // BPE: 1 word-count exchange + 8 top-pair aggregates (one per merge
    // round; the rewrite rides each round's eager checkpoint)
    "doc_bpe_vocab" -> (13, 20))              // 10

  test("materialized shuffle-stage counts stay pinned on the top queries") {
    // deterministic memo state regardless of which suites ran first in
    // this JVM: build the shared series memos up front so their stages
    // never attribute to whichever pinned query runs first
    SessionMemo.clear()
    SparkEntry.prewarm(spark, sfDir)
    val rec = graft.obs.RunRecorder.install(spark)
    // shuffle stages are completed stages that actually WROTE shuffle
    // bytes — the marker for "an exchange materialized data" (a 0-byte map
    // stage costs nothing at scale, so the bytes-moved formulation is the
    // signal worth pinning anyway)
    val counts = try pins.map { case (name, (stageBound, jobBound)) =>
      val (_, d) = rec.measure(SparkEntry(name).build(spark, sfDir)
        .write.mode("overwrite").format("noop").save())
      (name, d.shuffleStages, stageBound, d.jobs, jobBound)
    } finally rec.close()
    counts.foreach { case (n, c, b, j, jb) =>
      info(f"$n%-28s $c%3d stages (pin $b) $j%3d jobs (pin $jb)") }
    val over = counts.flatMap { case (n, c, b, j, jb) =>
      (if (c > b) Seq(s"$n materialized $c shuffle stages > pinned $b") else Nil) ++
        (if (j > jb) Seq(s"$n ran $j jobs > pinned $jb") else Nil)
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("SessionMemo.clear releases every session a memo was built in") {
    // a resident service opens a session per tenant; after clear no memo
    // entry (the per-session token and warehouse-sweep entry included)
    // may keep that session reachable
    val tenant = spark.newSession()
    try {
      SparkEntry("ts_acf").build(tenant, sfDir).collect()
      assert(SessionMemo.sessions.contains(tenant), "fixture must build a memo")
      SessionMemo.clear()
      assert(!SessionMemo.sessions.contains(tenant),
        "a cleared memo layer still holds the tenant session")
    } finally SessionMemo.clear()
  }

  test("localCheckpointAdvertised fails fast on a lineage hashing different keys") {
    import org.apache.spark.sql.GraftCheckpoint
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, (i % 7).toLong)).toDF("doc", "h")
    // the model caller's shape (repartition + narrow filter/project) passes
    val good = df.repartition(8, col("h")).filter(col("doc") > 0)
      .select(col("doc"), col("h"))
    assert(GraftCheckpoint.localCheckpointAdvertised(
      good, Seq("h"), StorageLevel.DISK_ONLY, 8).count() == 100)
    // SAME WIDTH, different key: the partition-count require alone passes
    // this, but the advertised hash(h, 8) layout would be a lie — the walk
    // must reject it before downstream joins silently drop pairs
    val rekeyed = df.repartition(8, col("h")).repartition(8, col("doc"))
    intercept[IllegalArgumentException] {
      GraftCheckpoint.localCheckpointAdvertised(
        rekeyed, Seq("h"), StorageLevel.DISK_ONLY, 8)
    }
    // an aggregate that does NOT group by the claimed key breaks the
    // partitioning-preservation claim even with the right exchange below
    val regrouped = df.repartition(8, col("h"))
      .groupBy("doc").agg(max("h").as("h"))
    intercept[IllegalArgumentException] {
      GraftCheckpoint.localCheckpointAdvertised(
        regrouped, Seq("h"), StorageLevel.DISK_ONLY, 8)
    }
    // a width mismatch between the claim and the nearest exchange fails
    // in the walk (not just in the post-checkpoint partition-count check)
    intercept[IllegalArgumentException] {
      GraftCheckpoint.localCheckpointAdvertised(
        good, Seq("h"), StorageLevel.DISK_ONLY, 16)
    }
  }
}
