package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Pins the round-5 cache-hygiene and pin-gate contracts:
  *
  *  - no dedup/ANN operator leaves a permanent `.cache()` entry behind
  *    (storage for a library user calling them repeatedly must not accrue —
  *    materialization goes through localCheckpoint, whose blocks the
  *    ContextCleaner releases once the frame is unreferenced);
  *  - the full-width repartition pin on the band self-joins engages ONLY
  *    above the [[Dedup.PinRowsPerPartition]] volume gate (the unconditional
  *    pin was the round-4 doc_minhash_lsh regression: at 5k docs the extra
  *    exchange cost more than it saved, while at cluster scale it is what
  *    keeps AQE from funneling the exploding join onto a few tasks).
  */
class DedupHygieneSpec extends SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"tok${i % 7} alpha beta gamma delta tok$i end"))
      .toDF("doc_id", "text")
  }

  test("dedup/ANN ops leave no permanent cache entries") {
    import spark.implicits._
    // suites sharing this JVM may have prewarmed bucketed memos (legitimate
    // session-scoped caches); drop them so the isEmpty assert below tests
    // THESE operators, not suite ordering
    graft.core.SessionMemo.clear()
    val d = docs(6)
    Dedup.jaccardPairs(d, "doc_id", "text", 3, 0.1, 100).count()
    Dedup.minhashCandidates(d, "doc_id", "text").count()
    Dedup.simhashPairs(d, "doc_id", "text", 4).count()
    val vecs = (1 to 5).map(i => (i.toLong, Array(i.toFloat, 1f, 0f)))
      .toDF("vec_id", "embedding")
    Similarity.cosineKnn(vecs, "vec_id", "embedding", 2).count()
    Similarity.cosineKnnLsh(vecs, "vec_id", "embedding", 2, 2).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "an operator left a permanent cache entry in the session CacheManager")
  }

  test("minhash geometry auto-sizes from the corpus count") {
    // the sizing law's anchors (SURVEY §2.9.9): r=4 holds through 2×10⁶
    // docs, r=8 is the measured 2×10⁷ geometry; +4 rows/decade beyond
    assert(Dedup.autoRows(500) == 4)
    assert(Dedup.autoRows(2000000) == 4)
    assert(Dedup.autoRows(20000000) == 8)
    assert(Dedup.autoRows(200000000) == 12)
    // band count holds the (0.95, 0.985) design point — the MEASURED r=8
    // 4-band 4th-decade geometry — at every auto r, floored at the shipped 4
    assert(Dedup.autoBands(4) == 4)
    assert(Dedup.autoBands(8) == 4)
    Seq(4, 8, 12, 16).foreach { r =>
      val b = Dedup.autoBands(r)
      val recall = 1.0 - math.pow(1.0 - math.pow(0.95, r), b)
      assert(recall >= 0.985, s"r=$r b=$b recall=$recall")
    }
    // fixture-scale corpora keep the historical (k=16, 4 bands) geometry:
    // auto-sized candidates are row-identical to the explicit call
    val d = docs(40)
    val auto = Dedup.minhashCandidates(d, "doc_id", "text")
      .orderBy("doc_a", "doc_b").collect().toSeq
    val pinned = Dedup.minhashCandidates(d, "doc_id", "text", k = 16, bands = 4)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(auto == pinned)
    // the measured r=8 geometry pinned through the arguments: r=8 →
    // autoBands(8)=5 bands → k=40 signature positions feed the
    // est_jaccard denominator; check via a planted exact duplicate
    import spark.implicits._
    val dup = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val est = Dedup.minhashCandidates(dup, "doc_id", "text", k = 40, bands = 5)
      .select("est_jaccard").collect().map(_.getDouble(0))
    assert(est.nonEmpty && est.forall(_ == 1.0))
    Dedup.minhashCandidates(d, "doc_id", "text", k = 40, bands = 5).count()
  }

  test("candidate-pruned join-backs are value-identical to the direct plan") {
    import spark.implicits._
    // planted near-dups so the candidate set is non-trivial: pairs must
    // carry the same est_jaccard whether the signature frame was Bloom-
    // pruned to candidate docs (the ≥10⁶-sig scale path) or joined whole
    val d = docs(60).union(
      Seq((1001L, "tok1 alpha beta gamma delta tok1 end"),
          (1002L, "tok2 alpha beta gamma delta tok2 end"))
        .toDF("doc_id", "text"))
    val direct = Dedup.minhashCandidates(d, "doc_id", "text")
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(direct.nonEmpty, "fixture must yield candidate pairs")
    // the fixture's auto geometry is (k=16, 4 bands); prune from 1 signature
    val pruned = Dedup.minhashCandidatesExplicit(d, "doc_id", "text", n = 3,
        k = 16, bands = 4, pruneAt = 1)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(pruned == direct)
  }

  test("winnow geometry auto-sizes from the corpus count") {
    // the sizing law: w + 1 = 5·√(n / 2×10⁶) floored at the MOSS default
    // w = 4 — background fingerprint pair work is (n·density)²/|space|
    // with density 2/(w+1), so √n keeps it linear (SURVEY §2.9.9/§2.9.11)
    assert(Dedup.autoW(500) == 4)
    assert(Dedup.autoW(2000000) == 4)
    assert(Dedup.autoW(20000000) == 15)
    assert(Dedup.autoW(200000000) == 49)
    // fixture-scale corpora keep the historical w = 4 fingerprints: the
    // auto-sized pairs are row-identical to the explicit call, threshold
    // unrescaled (5/(4+1) = 1)
    val d = docs(80)
    val auto = Dedup.fingerprintPairs(d, "doc_id", "text", minShared = 2)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val pinned = Dedup.fingerprintPairs(d, "doc_id", "text", w = 4, minShared = 2)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(auto.nonEmpty, "fixture must yield fingerprint pairs")
    assert(auto == pinned)
    // minShared = 1 must SURVIVE the w = 4 identity case too: the rescale
    // floor is min(2, minShared), not a flat 2 (a flat floor silently
    // tightened a share-anything threshold in auto mode only)
    val auto1 = Dedup.fingerprintPairs(d, "doc_id", "text", minShared = 1)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val pinned1 = Dedup.fingerprintPairs(d, "doc_id", "text", w = 4, minShared = 1)
      .orderBy("doc_a", "doc_b").collect().toSeq
    assert(auto1 == pinned1)
    assert(auto1.size >= auto.size)
  }

  test("band-join pin engages only above the volume gate") {
    // 2 shuffle partitions in the test session → gate at 8192 banded rows
    val nPart = spark.sessionState.conf.numShufflePartitions
    val gate = Dedup.PinRowsPerPartition * nPart
    val smallPlan = Dedup.minhashCandidates(docs(8), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!smallPlan.contains("REPARTITION_BY_NUM"),
      "small input must not pay a dedicated repartition exchange")
    val bigN = (gate / 4).toInt + 8 // bands = 4 → banded rows just over gate
    val bigPlan = Dedup.minhashCandidates(docs(bigN), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(bigPlan.contains("REPARTITION_BY_NUM"),
      "above the gate the band join must be pinned full-width")
  }
}
