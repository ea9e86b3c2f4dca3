package graft

import graft.queries.QueryDef
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Automated plan-shape gate over EVERY declared query — the ".explain and
  * iterate" discipline as a regression test. Rules:
  *
  *  - no `CartesianProductExec` anywhere;
  *  - a `BroadcastNestedLoopJoinExec` is tolerated ONLY when its build side
  *    is an aggregate subtree (a per-series parameter / statistic frame:
  *    bounded at one-or-m rows per series; on the single-series fixtures
  *    the constant `series_id` key folds away, which is why these appear as
  *    nested-loop instead of broadcast-hash — ManySeriesSpec pins the
  *    multi-series plans). A nested loop over RAW relations fails the gate —
  *    that is the accidental all-pairs shape that kills a 100 TB run.
  *
  * `emb_knn` is the one documented exception: brute-force exact kNN IS the
  * all-pairs definition (the correctness baseline tier; the scale tiers are
  * emb_knn_lsh / emb_knn_ivf).
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val allowed: Map[String, String] = Map(
    "emb_knn" -> "brute-force exact kNN IS the all-pairs definition (baseline tier)")

  private def offences(p: SparkPlan): Seq[String] = p.collect {
    case _: CartesianProductExec => Seq("CartesianProduct")
    case j: BroadcastNestedLoopJoinExec =>
      val build = j.buildSide match {
        case BuildLeft  => j.left
        case BuildRight => j.right
      }
      val paramFrame = build.collectFirst { case a: BaseAggregateExec => a }.isDefined
      if (paramFrame) Nil else Seq("BroadcastNestedLoopJoin over a non-aggregate build side")
  }.flatten

  test("no declared query plans an all-pairs join over raw relations") {
    val offenders = SparkEntry.all.sortBy(_.name).flatMap { case QueryDef(name, build, _) =>
      try {
        val bad = offences(build(spark, sfDir).queryExecution.sparkPlan)
        if (bad.nonEmpty && !allowed.contains(name)) Some(s"$name: ${bad.mkString(", ")}")
        else None
      } catch {
        case e: Throwable => Some(s"$name (failed to plan: ${e.getMessage.take(80)})")
      }
    }
    assert(offenders.isEmpty, s"unexpected all-pairs plans: $offenders")
  }

  test("fingerprint pairs self-join reads ONE materialized index, no broadcast") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sfDir)
    val df = Dedup.fingerprintPairs(docs, "doc_id", "text",
      minShared = 50, maxDocFreq = 100)
    // AQE finalizes at runtime, and count() would build a SEPARATE
    // QueryExecution — execute THIS plan, then inspect it final
    val ep = df.queryExecution.executedPlan
    ep.execute().count()
    val s = ep.toString
    assert(s.contains("ShuffledHashJoin") || s.contains("SortMergeJoin"),
      "the df-capped self-join must not broadcast (a BroadcastExchange " +
        "build side re-runs the whole winnow lineage)")
    // the index materializes ONCE (DISK_ONLY local checkpoint — exchange
    // reuse does not survive cached inputs, see Dedup.jaccardPairs) and
    // both sides scan the existing blocks: the winnow lineage (its
    // Generate node) must not appear in the pairs plan at all
    assert(s.contains("ExistingRDD"),
      "both self-join sides must scan the one checkpointed index")
    assert(!s.contains("Generate"),
      "the fingerprint lineage must run once, inside the checkpoint")
  }

  test("bloom decontamination probes BEFORE the pair-join exchange") {
    import graft.operators.Decontaminate
    import org.apache.spark.sql.functions.col
    val docs = graft.core.Tables.documents(spark, sfDir)
    val df = Decontaminate.contaminatedPairsBloom(docs,
      docs.filter(col("doc_id") % 17 === 3), "doc_id", "text", 3, 0.4)
    df.collect()
    // the probe must sit on the train-shingle side BELOW the shingle-keyed
    // join — i.e. the unfiltered train shingle set never reaches the join's
    // exchange (or, when the tiny fixture lets the bench side broadcast,
    // never even feeds the streamed side). Applied-after-the-join would be
    // result-identical but pointless at scale.
    // walk through AQE wrappers: AdaptiveSparkPlanExec and QueryStageExec
    // are leaves to TreeNode.collect, so flatten them explicitly
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        flatten(a.executedPlan) // collect() above forced the final plan
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    val joins = flatten(df.queryExecution.executedPlan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.exists(_.toString.contains("shingle")) => j
    }
    assert(joins.nonEmpty, "expected a shingle-keyed join")
    assert(joins.map(_.left.toString).exists(_.contains("might_contain")),
      "the bloom probe must be under the join's train side, " +
        "upstream of its exchange — not applied after the join")
  }

  test("the series build prunes the fact scan to the referenced columns") {
    val plan = SparkEntry("ts_build_monthly").build(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("o_orderdate") && plan.contains("o_totalprice"))
    assert(!plan.contains("o_comment") && !plan.contains("o_clerk"),
      "series build must not read unreferenced orders columns")
  }
}
