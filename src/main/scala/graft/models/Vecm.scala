package graft.models

import graft.core.SeriesFrame._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unrestricted VECM — the reference's `vecm` estimator
  * (/root/reference/src/scalecast/models.py:422-559, statsmodels VECM)
  * estimated per equation by OLS instead of Johansen's reduced-rank MLE:
  *
  *   Δy_s(t) = c + Π_s·y(t−1) + Σ_(i=1..k) Γ_si·Δy(t−i) + ε
  *
  * Each series' equation regresses its difference on the lagged LEVELS of
  * all series (the error-correction term, unrestricted Π) plus lagged
  * differences of all series. Estimation is the same distributed OLS used
  * everywhere; the rank restriction is deliberately dropped (documented
  * deviation — Johansen's eigen step is driver-side math on a k×k matrix and
  * can be layered on later without changing this plumbing).
  */
object Vecm {

  def levelCol(sid: String): String = s"lvl_${sid}_1"
  def dlagCol(sid: String, k: Int): String = s"dlag_${sid}_$k"

  /** Build Δy target + lagged-level and lagged-difference features.
    *
    * Lags run over the UNION calendar: each series is densified onto the
    * shared date spine and lagged inside its OWN series_id-partitioned window
    * (no wide pivot, no global-ordered window), then the calendar-sized lag
    * columns broadcast-join back by date — the plan scales with #series. */
  def prepare(frame: DataFrame, seriesIds: Seq[String], diffLags: Int): DataFrame = {
    val withD = frame.withColumn("_dy", col(Y) - lag(col(Y), 1).over(w))
    val spine = frame.select(col(Ds)).distinct()
    val dense = spine
      .withColumn(SeriesId, explode(lit(seriesIds.toArray)))
      .join(withD.select(col(SeriesId), col(Ds), col(Y), col("_dy")),
        Seq(SeriesId, Ds), "left")
    val lagged = dense.select(
      (Seq(col(SeriesId), col(Ds), lag(col(Y), 1).over(w).as("_lvl1")) ++
        (1 to diffLags).map(k => lag(col("_dy"), k).over(w).as(s"_dl$k"))): _*)
    seriesIds.foldLeft(withD) { (f, sid) =>
      val cols = Seq(col(Ds), col("_lvl1").as(levelCol(sid))) ++
        (1 to diffLags).map(k => col(s"_dl$k").as(dlagCol(sid, k)))
      f.join(broadcast(lagged.filter(col(SeriesId) === sid).select(cols: _*)),
        Seq(Ds), "left")
    }
  }

  /** Johansen trace test for the cointegration rank
    * (/root/reference/src/scalecast/models.py:422-559 vecm's coint_rank;
    * util.py:390-428 find_optimal_coint_rank; statsmodels coint_johansen,
    * det_order=0).
    *
    * Distribution contract: the multivariate cross-product moments over
    * [Δy_t | y_(t−1) | 1, Δy_(t−1..p)] come from ONE groupBy(ds) pivot-style
    * aggregate + ONE global aggregate — only the m×m moment matrix (m =
    * 2k + kp + 1) reaches the driver. The partial-regression reduction
    * (S00/S11/S01) solves sub-matrices of that one moments triangle with
    * [[Ols]]; only the k×k eigen step (Cholesky whitening, `eigSym`) is
    * Breeze driver math.
    *
    * @param detOrder −1 = no deterministic term, 0 = unrestricted constant
    *                 (statsmodels `det_order` convention; the reference's
    *                 example passes −1)
    * @return (eigenvalues λ_1≥…≥λ_k, trace statistics for r = 0..k−1,
    *         selected rank = smallest r whose trace stat is below the
    *         MacKinnon-Haug-Michelis 5% critical value)
    */
  def johansenTrace(frame: DataFrame, seriesIds: Seq[String],
                    diffLags: Int = 1,
                    detOrder: Int = -1): (Array[Double], Array[Double], Int) = {
    import breeze.linalg.DenseMatrix
    val k = seriesIds.length
    val withD = frame.filter(!col(IsFuture))
      .withColumn("_dy", col(Y) - lag(col(Y), 1).over(w))
      .withColumn("_lvl", lag(col(Y), 1).over(w))
    val withL = (1 to diffLags).foldLeft(withD)((f, i) =>
      f.withColumn(s"_dl$i", lag(col("_dy"), i).over(w)))
    def cell(c: String, sid: String) = max(when(col(SeriesId) === sid, col(c)))
    val wideAggs =
      seriesIds.zipWithIndex.map { case (s, i) => cell("_dy", s).as(s"d_$i") } ++
      seriesIds.zipWithIndex.map { case (s, i) => cell("_lvl", s).as(s"l_$i") } ++
      (for ((s, i) <- seriesIds.zipWithIndex; j <- 1 to diffLags)
        yield cell(s"_dl$j", s).as(s"z_${i}_$j"))
    val wide = withL.groupBy(Ds).agg(wideAggs.head, wideAggs.tail: _*)
    val detCols = if (detOrder >= 0) Seq("one") else Seq.empty
    val zCols = detCols ++
      (for (i <- seriesIds.indices; j <- 1 to diffLags) yield s"z_${i}_$j")
    val varCols = seriesIds.indices.map(i => s"d_$i") ++
      seriesIds.indices.map(i => s"l_$i") ++ zCols
    val complete = varCols.filterNot(_ == "one")
      .foldLeft(wide.withColumn("one", lit(1.0)))((f, c) => f.filter(col(c).isNotNull))
    val m = varCols.length
    val aggs = count(lit(1)) +: Ols.gram(varCols.map(col))
    val row = complete.agg(aggs.head, aggs.tail: _*).first()
    val bigT = row.getLong(0).toDouble
    val g = Ols.Moments.read(row, 1, m)
    val (di, li, zi) = (0 until k, k until 2 * k, 2 * k until m)
    // S_ab = M_ab − M_aZ·M_ZZ⁻¹·M_Zb: the partial regression on Z is the
    // kernel's sub-matrix solve, one right-hand side per column of b
    def partial(a: Range, b: Range): DenseMatrix[Double] = {
      val coef = b.map(j => g.solve(zi, zi.map(g(_, j)).toArray))
      DenseMatrix.tabulate(a.size, b.size)((r, c) =>
        g(a(r), b(c)) - zi.indices.map(t => g(a(r), zi(t)) * coef(c)(t)).sum)
    }
    val (s00, s11, s01) = (partial(di, di), partial(li, li), partial(di, li))
    // x with a·x = b, column by column through the kernel's solver
    def solveCols(a: DenseMatrix[Double], b: DenseMatrix[Double]): DenseMatrix[Double] = {
      val rows = Array.tabulate(a.rows, a.cols)((i, j) => a(i, j))
      val xs = (0 until b.cols).map(j => Ols.solve(rows, Array.tabulate(b.rows)(b(_, j))))
      DenseMatrix.tabulate(b.rows, b.cols)((i, j) => xs(j)(i))
    }
    // Generalized eigenproblem λ·S11·v = S10·S00⁻¹·S01·v, solved SYMMETRICALLY:
    // whiten with the Cholesky factor S11 = L·Lᵀ and take eigSym of
    // L⁻¹·M·L⁻ᵀ where M = S01ᵀ·S00⁻¹·S01 (symmetric PSD) — same spectrum as
    // S11⁻¹·M but guaranteed real eigenvalues (breeze `eig` on the
    // non-symmetric product can emit complex pairs on near-degenerate data
    // and silently distort the trace statistics).
    val mSym = {
      val m0 = s01.t * solveCols(s00, s01)
      (m0 + m0.t) * 0.5 // symmetrize away 1e-16 asymmetry before eigSym
    }
    val lChol = breeze.linalg.cholesky((s11 + s11.t) * 0.5)
    // L⁻¹·M·L⁻ᵀ = L⁻¹·(L⁻¹·M)ᵀ, M symmetric
    val whitened = solveCols(lChol, solveCols(lChol, mSym).t)
    val lambda = breeze.linalg.eigSym(whitened).eigenvalues.toArray
      .map(v => math.min(math.max(v, 0.0), 1.0 - 1e-12)).sorted.reverse
    val trace = Array.tabulate(k)(r =>
      -bigT * (r until k).map(i => math.log(1.0 - lambda(i))).sum)
    // MacKinnon-Haug-Michelis (1999) 5% trace critical values indexed by
    // (k − r) = 1..5 — the public tables statsmodels ships: case 0 (no
    // deterministic term) for detOrder = −1, constant case for detOrder = 0.
    val cv =
      if (detOrder < 0) Array(Double.NaN, 4.130, 12.321, 24.276, 40.175, 60.061)
      else Array(Double.NaN, 3.841, 15.494, 29.796, 47.855, 69.819)
    val rank = (0 until k).find(r => trace(r) < cv(k - r)).getOrElse(k)
    (lambda, trace, rank)
  }

  /** `find_optimal_coint_rank` (util.py:390-428): the selected trace rank. */
  def findOptimalCointRank(frame: DataFrame, seriesIds: Seq[String],
                           diffLags: Int = 1, detOrder: Int = -1): Int =
    johansenTrace(frame, seriesIds, diffLags, detOrder)._3

  /** Fit one Δ-equation per series; returns scored frame with `yhat` =
    * y(t−1) + Δŷ(t) (one-step-ahead level prediction). */
  def fitPredict(frame: DataFrame, seriesIds: Seq[String], diffLags: Int = 1): DataFrame = {
    val prep = prepare(frame, seriesIds, diffLags).localCheckpoint(true)
    val feats = seriesIds.map(levelCol) ++
      (for (s <- seriesIds; k <- 1 to diffLags) yield dlagCol(s, k))
    val scored = seriesIds.map { sid =>
      val mine = prep.filter(col(SeriesId) === sid)
      // fit on Δy as the label
      val train = feats.foldLeft(
        mine.filter(!col(IsFuture) && col("_dy").isNotNull))((f, c) => f.filter(col(c).isNotNull))
      val est = MllibTsEstimator("mlr", feats)
      val model = est.pipeline().fit(train.withColumnRenamed(Y, "_ylvl").withColumnRenamed("_dy", Y))
      model.transform(mine.withColumnRenamed(Y, "_ylvl").withColumnRenamed("_dy", Y))
        .withColumnRenamed(Y, "_dy").withColumnRenamed("_ylvl", Y)
        .withColumn("yhat",
          when(isnan(col("yhat")), lit(null)).otherwise(col(Y) - col("_dy") + col("yhat")))
    }
    scored.reduce(_ unionByName _).drop("_fraw", "_f")
  }
}
