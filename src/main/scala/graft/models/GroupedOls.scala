package graft.models

import graft.core.SeriesFrame._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Per-series exact OLS at ANY series count — the grouped twin of [[Ols]]:
  * the k(k+1)/2 + k normal-equation moments come from ONE aggregation
  * grouped by series_id, and the (k+1)×(k+1) solves map over the per-series
  * stats rows on the executors (the [[graft.functions.Diagnostics.adfT]]
  * pattern) — no observation, moment, or fit ever reaches the driver. This
  * is what per-series search decisions (the §2.8 meta-ops applied to 10⁶
  * series in one frame) fit with.
  *
  * Train slice matches [[Ols.fit]]: observed, non-test, y and all features
  * non-null. A series whose normal equations are singular solves to
  * non-finite βs; downstream scorers surface that as NaN and per-series
  * deciders skip it (the reference's failed-combo policy, per series).
  */
object GroupedOls {

  /** One β row per series: (series_id, beta array[k+1]), intercept at
    * index 0 — [[Ols.Fit]]'s layout. */
  def fitBySeries(frame: DataFrame, feats: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType, StructField, StructType}
    val aggs = Ols.momentCols(feats)
    val outSchema = StructType(Seq(StructField(SeriesId, StringType),
      StructField("beta", ArrayType(DoubleType, containsNull = false))))
    Ols.trainSlice(frame, feats).groupBy(SeriesId).agg(aggs.head, aggs.tail: _*)
      .map({ r =>
        Row(r.getString(0), Ols.Moments.read(r, 1, feats.size + 2).beta(0 to feats.size).toSeq)
      })(Encoders.row(outSchema)).toDF()
  }

  /** The prediction expression over a frame that has the per-series `beta`
    * array joined in: β₀ + Σ βᵢ·featᵢ (null features → null yhat). */
  def predictExpr(feats: Seq[String]): Column =
    feats.zipWithIndex.foldLeft(element_at(col("beta"), 1)) {
      case (acc, (c, i)) => acc + col(c).cast("double") * element_at(col("beta"), i + 2)
    }

  /** Per-series fit + vectorized score in the common by-series output shape
    * (series_id, ds, yhat) — [[graft.models.Svr.fitPredictBySeries]]'s
    * contract for the closed-form family. Conformal bounds attach via
    * [[graft.operators.Conformal.attachBySeries]] (the reference's CI
    * contract at any series count). */
  def fitPredictBySeries(frame: DataFrame, feats: Seq[String]): DataFrame =
    frame.join(fitBySeries(frame, feats), Seq(SeriesId), "left")
      .withColumn("yhat", predictExpr(feats))
      .select(col(SeriesId), col(Ds), col("yhat"))

  /** Per-series validation RMSE of the per-series OLS — the grouped
    * [[graft.eval.AutoSelect.scoreFeatures]]: last-h holdout per series,
    * vectorized prediction, one metrics row per series. A series whose fit
    * is singular or whose holdout is empty simply has no row / a NaN —
    * per-series deciders treat that as "skip". */
  def scoreFeaturesBySeries(frame: DataFrame, feats: Seq[String], h: Int): DataFrame = {
    val flagged = withTestFlag(frame, h)
    val fits = fitBySeries(flagged, feats)
    val scored = flagged.join(fits, Seq(SeriesId), "left")
      .withColumn("yhat", predictExpr(feats))
    graft.eval.Evaluation.metricsOverTest(scored, Seq("rmse"))
  }

  /** Score MANY candidate feature subsets per series in ONE full-frame
    * pass — the batched [[scoreFeaturesBySeries]] for searches whose
    * candidates all draw from one shared feature pool (auto_Xvar_select's
    * 12 reachable sets). One fit pass + one metrics pass PER CANDIDATE
    * (what the naive loop pays) becomes a single fixed-width grouped
    * aggregation TOTAL: at 10⁶ series the search cost scales with neither
    * the candidate count nor anything super-linear in the series count.
    *
    * Contract: every candidate's features ⊆ `alwaysPool ++ lagPool`, where
    * `alwaysPool` columns are non-null on observed rows and `lagPool`
    * columns have NESTED null sets — null(lagPool(0)) ⊆ null(lagPool(1)) ⊆
    * … (the AR-lag series-head shape) — and a candidate uses a PREFIX of
    * `lagPool`.
    *
    * Shape: one `groupBy(series_id)` aggregation accumulates, per distinct
    * candidate lag depth ℓ, the normal-equation moments of the first
    * (1+|always|+ℓ) pool columns over train rows with ≥ ℓ leading non-null
    * lags (exactly the candidate's non-null-feature train slice,
    * [[fitBySeries]]'s filter; lag nulls are zero-filled inside the
    * aggregation — a row with depth < ℓ never reaches a candidate that
    * reads lag ℓ, so the fill is unobservable) — AND the h holdout rows
    * pivoted into step-indexed sum columns (step s = position from the
    * series end, the [[withTestFlag]] count; one row matches each (series,
    * step), so `sum(when(step=s, v))` IS that row's value). Everything is
    * a fixed-width `sum(when(...))` — whole-stage-codegen HashAggregate,
    * no collect_list object buffers, no second pass, no beta join, no
    * mapGroups re-sort. The per-candidate sub-matrix solves
    * ([[Ols.Moments.beta]]) and the holdout RMSE (reproducing
    * [[graft.eval.Evaluation.metricsOverTest]]'s filter: is_test ∧ yhat
    * non-null ∧ non-NaN, summed in ds order) run in a plain `.map` over the
    * one aggregated row per series. When the
    * caller's frame already carries a per-series window lineage (the
    * auto_Xvar feature build), the whole score is ONE shuffle: the window
    * exchange's hash(series) partitioning satisfies the aggregation, so no
    * further exchange, checkpoint, or join exists at any series count —
    * the round-8 two-pass shape spilled 23 GB at 10⁶ series in the
    * checkpoint + mapGroups + join stages this fusion deletes.
    *
    * Returns one row per series: (series_id, r_<key> DOUBLE per candidate,
    * null where the candidate has no scorable holdout rows — the same null
    * a full outer join of per-candidate score frames would carry). */
  def scoreFeatureSetsBySeries(frame: DataFrame, alwaysPool: Seq[String],
                               lagPool: Seq[String],
                               candidates: Seq[(String, Seq[String])],
                               h: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val pool = alwaysPool ++ lagPool
    candidates.foreach { case (key, feats) =>
      val lagUsed = feats.filter(lagPool.contains)
      require(feats.forall(pool.contains) && lagUsed == lagPool.take(lagUsed.size),
        s"candidate $key must draw from the pool and use a lagPool prefix")
    }
    // [[withTestFlag]]'s count, kept as a STEP index (h at the series end)
    // so holdout rows pivot into fixed-width per-step columns
    val after = count(when(!col(IsFuture), lit(1)))
      .over(Window.partitionBy(SeriesId).orderBy(Ds)
        .rowsBetween(1, Window.unboundedFollowing))
    val obs = frame.withColumn("_step", lit(h) - after)
      .filter(!col(IsFuture) && col(Y).isNotNull)
      .withColumn("is_test", col("_step") > 0)
    // depth = leading non-null lag count; nested nulls make this the row's
    // full null signature over the pool
    val depth = lagPool.zipWithIndex.foldRight(lit(lagPool.size)) {
      case ((c, i), rest) => when(col(c).isNull, lit(i)).otherwise(rest)
    }
    val xs: Seq[Column] = lit(1.0) +:
      (alwaysPool.map(c => col(c).cast("double")) ++
        lagPool.map(c => coalesce(col(c).cast("double"), lit(0.0))))
    val yD = col(Y).cast("double")
    // candidate feature → pool index (+1 for the intercept at 0), in the
    // candidate's own order so the pivoting path matches a direct fit
    val candIdx: Seq[(String, Array[Int], Int)] = candidates.map { case (key, feats) =>
      val lagCount = feats.count(lagPool.contains)
      (key, (0 +: feats.map(f => pool.indexOf(f) + 1)).toArray, lagCount)
    }
    val lagCounts: Seq[Int] = candIdx.map(_._3).distinct.sorted
    def kOf(l: Int) = 1 + alwaysPool.size + l
    // train moments per depth tier ℓ, truncated to the columns a depth-ℓ
    // candidate can reach
    val momAggs = lagCounts.flatMap { l =>
      Ols.gram(xs.take(kOf(l)) :+ yD, Some(!col("is_test") && depth >= l))
    }
    // holdout pivot: per step, the row's y, lag depth, and pool values
    val stepAggs = (1 to h).flatMap { s =>
      val cond = col("is_test") && col("_step") === s
      sum(when(cond, yD)).as(s"ty_$s") +:
        sum(when(cond, depth.cast("double"))).as(s"td_$s") +:
        pool.indices.map(p => sum(when(cond, xs(p + 1))).as(s"tx_${s}_$p"))
    }
    val aggs = momAggs ++ stepAggs
    val agged = obs.groupBy(SeriesId).agg(aggs.head, aggs.tail: _*)
    // field offsets in the aggregated row (0 = series_id)
    val momW = lagCounts.map(l => Ols.gramWidth(kOf(l) + 1))
    val momOff: Map[Int, Int] = lagCounts.zip(momW.scanLeft(1)(_ + _)).toMap
    val stepBase = 1 + momW.sum
    val stepW = 2 + pool.size
    val outSchema = StructType(StructField(SeriesId, StringType) +:
      candidates.map { case (key, _) => StructField(s"r_$key", DoubleType) })
    agged.map { r =>
      val cells: Seq[Any] = candIdx.map { case (_, idx, lagCount) =>
        // a tier with no train rows decodes to NaN moments, so its β and
        // every yhat are NaN and the score stays null, matching the
        // per-candidate scorer
        val beta = Ols.Moments.read(r, momOff(lagCount), kOf(lagCount) + 1).beta(idx.toSeq)
        var sse = 0.0; var n = 0L
        var s = 0
        while (s < h) {
          val base = stepBase + s * stepW
          if (!r.isNullAt(base) && r.getDouble(base + 1).toInt >= lagCount) {
            var yhat = beta(0)
            var i = 1
            while (i < idx.length) {
              yhat += beta(i) * r.getDouble(base + 1 + idx(i)); i += 1
            }
            if (!yhat.isNaN) { sse += { val e = yhat - r.getDouble(base); e * e }; n += 1 }
          }
          s += 1
        }
        if (n > 0) java.lang.Double.valueOf(math.sqrt(sse / n)) else null
      }
      Row.fromSeq(r.getString(0) +: cells)
    }(Encoders.row(outSchema)).toDF()
  }
}
