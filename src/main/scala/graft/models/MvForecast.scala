package graft.models

import graft.core.SeriesFrame._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multivariate forecasting — the reference's `SKLearnMV`
  * (/root/reference/src/scalecast/models.py:164-420): every target series is
  * modeled on the lags of ALL series, one closed-form OLS equation per
  * target (a VAR by OLS), with a shared recursive prediction where each
  * step's predictions for every series feed the next step's lag matrix
  * (models.py:368-407). Past [[CoupledSetMax]] series the estimation is
  * [[BlockedVar]]'s screened per-equation designs.
  *
  * Features follow the naming convention `xlag_<sid>_<k>` = lag k of series
  * `sid`, built wide (one pivot on the shared calendar — requires
  * [[graft.core.SeriesFrame.lineUpDates]] first) and joined back long.
  */
object MvForecast {

  def xlagCol(sid: String, k: Int): String = s"xlag_${sid}_$k"

  /** Add lags 1..maxLag of every series as feature columns on every row.
    *
    * Lag semantics are over the UNION calendar (a date any series has): each
    * series is densified onto the shared date spine (missing dates → null y)
    * and lagged inside its OWN window partition — so every window is
    * partitioned by series_id and the plan scales with #series, unlike a
    * wide pivot + global-ordered window. The per-series lag columns
    * (calendar-sized, driver-bounded) broadcast-join back onto every row. */
  def addCrossSeriesLags(df: DataFrame, seriesIds: Seq[String], maxLag: Int): DataFrame = {
    val spine = df.select(col(Ds)).distinct()
    val dense = spine
      .withColumn(SeriesId, explode(lit(seriesIds.toArray)))
      .join(df.select(col(SeriesId), col(Ds), col(Y)), Seq(SeriesId, Ds), "left")
    val lagged = dense.select(
      (Seq(col(SeriesId), col(Ds)) ++
        (1 to maxLag).map(k => lag(col(Y), k).over(w).as(s"_xl$k"))): _*)
    seriesIds.foldLeft(df) { (f, sid) =>
      val cols = col(Ds) +: (1 to maxLag).map(k => col(s"_xl$k").as(xlagCol(sid, k)))
      f.join(broadcast(lagged.filter(col(SeriesId) === sid).select(cols: _*)),
        Seq(Ds), "left")
    }
  }

  /** The largest coupled set the full cross-lag design takes: its width
    * nSeries·maxLag + 1 makes the moments row quadratic in the series count
    * and the horizon walk one task over the whole set. MV cross-lag models
    * are inherently small-N (models.py:213-337); larger sets go to
    * [[BlockedVar]]. */
  val CoupledSetMax = 64

  private def parseXlag(c: String): Option[(String, Int)] =
    if (!c.startsWith("xlag_")) None
    else {
      val rest = c.stripPrefix("xlag_")
      val cut = rest.lastIndexOf('_')
      if (cut <= 0) None
      else {
        val kStr = rest.substring(cut + 1)
        if (kStr.nonEmpty && kStr.forall(_.isDigit)) Some((rest.substring(0, cut), kStr.toInt))
        else None
      }
    }

  /** One grouped moments aggregation fits EVERY per-target equation at once
    * — the equations share the cross-lag design matrix (only y differs per
    * target), so nSeries MLlib fits collapse into one job + nSeries tiny
    * driver solves. Same normal-equation math as the MLlib normal solver and
    * the per-equation Cholesky the oracle replays. */
  def fitPerSeriesOls(frame: DataFrame, seriesIds: Seq[String], maxLag: Int): Map[String, Ols.Fit] = {
    // loud boundary, not a silent mis-scale: the shared design has
    // k = nSeries·maxLag + 1 columns, so the per-series moments row is k²
    // doubles and the coupled recursion is one sequential task — both stop
    // being cheap past the coupled-set bound. Bigger sets need a feature
    // screen (per-equation lag-correlation pruning) before a full cross-lag
    // VAR is meaningful; see the reference's own guidance that MV models
    // are small-N (models.py:213-337).
    require(seriesIds.size <= CoupledSetMax,
      s"coupled cross-lag OLS supports at most $CoupledSetMax series " +
        s"(got ${seriesIds.size}): the design width nSeries*maxLag+1 makes " +
        "the moments row quadratic in the series count. Use " +
        "graft.models.BlockedVar (correlation-screened bounded per-equation " +
        "designs, fully distributed) for larger coupled sets.")
    val feats = for (sid <- seriesIds; k <- 1 to maxLag) yield xlagCol(sid, k)
    val aggs = Ols.momentCols(feats)
    val rows = Ols.trainSlice(frame, feats).groupBy(SeriesId).agg(aggs.head, aggs.tail: _*).collect()
    rows.filter(r => seriesIds.contains(r.getString(0))).map { r =>
      r.getString(0) -> Ols.Moments.read(r, 1, feats.size + 2).ols(feats)
    }.toMap
  }

  /** MV dynamic forecast over closed-form fits: each step's predictions for
    * every series feed the next step's cross-lag matrix (models.py:368-407).
    * The fitted pass is ONE cased expression over the whole frame; the
    * horizon is [[Recursive.walk]] over the whole coupled set in one group —
    * cross-series coupling makes the set the irreducible unit of sequential
    * work, its ledger bounded at nSeries × (maxLag + h) values. */
  def dynamicForecastOls(frame: DataFrame, fits: Map[String, Ols.Fit],
                         seriesIds: Seq[String], maxLag: Int): DataFrame = {
    val fittedExpr = seriesIds.foldLeft(lit(null).cast("double")) { (acc, sid) =>
      when(col(SeriesId) === sid, fits(sid).predictExpr).otherwise(acc)
    }
    val scorers = seriesIds.map(sid => sid -> RowScorer.ols(fits(sid))).toMap
    val cols = seriesIds.flatMap(fits(_).feats).distinct.filter(parseXlag(_).isEmpty)
    val plans: Map[String, Array[Recursive.Feature]] = seriesIds.map { sid =>
      sid -> fits(sid).feats.map { c =>
        parseXlag(c).map { case (src, l) => Right((Some(src), l)): Recursive.Feature }
          .getOrElse(Left(cols.indexOf(c)))
      }.toArray
    }.toMap
    Recursive.walk(Recursive.positioned(frame), Recursive.horizon, Int.MaxValue, lit(""),
      maxLag, cols, plans, (sid, feats) => scorers(sid).score(feats),
      _.withColumn("yhat", fittedExpr))
  }
}
