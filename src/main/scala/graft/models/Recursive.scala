package graft.models

import graft.core.SeriesFrame._
import graft.functions.FeatureOps
import org.apache.spark.ml.Transformer
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}

/** Recursive ("dynamic") prediction over a slice of each series: a slice
  * row's AR features are filled from the model's own predictions for the
  * earlier slice positions (/root/reference/src/scalecast/models.py:109-149
  * per series, 368-407 across an MV coupled set). The slice is the horizon
  * (`is_future`, never peeked) or the test rows, where position s re-seeds
  * from the ACTUAL when s % k == 0 (`dynamic_testing = k`: the reference's
  * `series.append(peeks[i])` only when `(i+1) % k == 0`). A peek whose
  * actual is null keeps the prediction. Rows outside the slice score
  * vectorized (their AR cells hold actuals).
  *
  * One recursion, two physical strategies, chosen from the model:
  *
  *  - **Walk** (the model is row-scorable, [[RowScorer.unwrap]]): ONE
  *    `flatMapGroups` pass. Each group (a series, or the whole coupled MV
  *    set) walks its slice inside an executor task with a (series, t)
  *    ledger holding the maxLag actuals before the slice plus the slice
  *    itself, so a million series parallelize with a single shuffle and no
  *    per-step job barrier — on Spark the driver round trips, not the
  *    arithmetic, dominate (MLlib*, ICDE 2019).
  *  - **Wavefront** (the fallback for any `Transformer`: scaler pipelines,
  *    knn, custom stages): slice position s depends on s − l for each AR lag
  *    l unless a peek cuts it. Dependency LEVELS are series-independent
  *    driver int math; iteration v fills every level-v row of EVERY series
  *    from the ledger (the same maxLag actuals + peeks, then the predictions
  *    so far) and scores them in one `model.transform`. AR(1) runs one
  *    iteration per step; lag sets without 1, and peeks, need fewer.
  */
object Recursive {

  /** A feature of a target's plan: `Left(i)` is cell i of the row's feature
    * array; `Right((source, lag))` is the ledger value at (source, t − lag),
    * source None being the row's own series. */
  private[graft] type Feature = Either[Int, (Option[String], Int)]

  private[graft] def horizon: Column = col(IsFuture)
  private[graft] def testSlice: Column = col("is_test") && !col(IsFuture)

  private def arLag(c: String): Option[Int] = {
    val l = c.stripPrefix(FeatureOps.ArPrefix)
    if (c.startsWith(FeatureOps.ArPrefix) && l.nonEmpty && l.forall(_.isDigit)) Some(l.toInt)
    else None
  }

  /** `frame` with `_t`, each row's 1-based position in its series. */
  private[graft] def positioned(frame: DataFrame): DataFrame =
    frame.withColumn("_t", row_number().over(w)).localCheckpoint(true)

  /** Fitted values + dynamic horizon forecast.
    *
    * @param frame  observed ∪ horizon rows with AR columns (`ar_<k>`) and any
    *               deterministic features already populated on horizon rows
    * @param model  fitted pipeline producing column `yhat`
    * @return frame rows with `yhat`: vectorized for observed rows (AR cells
    *         hold actuals), recursive for horizon rows
    */
  def dynamicForecast(frame: DataFrame, model: Transformer): DataFrame =
    forecast(frame, model, horizon, Int.MaxValue, RowScorer.unwrap(model))

  /** Test-set prediction with peeking cadence `dynamic_testing = k`: `k = 1`
    * peeks everywhere (one-step-ahead), `k ≥ testLength` never peeks. */
  def dynamicTestForecast(frame: DataFrame, model: Transformer, k: Int): DataFrame = {
    require(k >= 1, s"peek cadence must be >= 1, got $k")
    forecast(frame, model, testSlice, k, RowScorer.unwrap(model))
  }

  /** The recursion over `slice` at peek cadence `k`: the walk when `scorer`
    * is given, the wavefront otherwise. */
  private[graft] def forecast(frame: DataFrame, model: Transformer, slice: Column, k: Int,
                              scorer: Option[RowScorer]): DataFrame = {
    val arLags = FeatureOps.arCols(frame).flatMap(arLag)
    val withT = positioned(frame)
    if (arLags.isEmpty) // no recursion: everything scores vectorized
      return model.transform(withT).select(outCols(withT): _*)
    scorer match {
      case Some(sc) =>
        val plan: Array[Feature] = sc.featureCols.zipWithIndex.map { case (c, i) =>
          arLag(c).map(l => Right((None, l)): Feature).getOrElse(Left(i))
        }.toArray
        walk(withT, slice, k, col(SeriesId), arLags.max, sc.featureCols, _ => plan,
          (_, feats) => sc.score(feats), model.transform(_))
      case None => wavefront(withT, model, slice, k, arLags)
    }
  }

  /** The actuals the slice reaches before it starts: per series, the last
    * `maxLag` rows before the slice, as (series_id, _t, _v). */
  private def seeds(withT: DataFrame, slice: Column, maxLag: Int): DataFrame = {
    val before = withT.filter(!slice && !col(IsFuture))
    val last = before.groupBy(SeriesId).agg(max("_t").as("_last"))
    before.join(last, Seq(SeriesId)).filter(col("_t") > col("_last") - maxLag)
      .select(col(SeriesId), col("_t"), col(Y).as("_v"))
  }

  private def outCols(withT: DataFrame): Seq[Column] =
    (withT.columns.filterNot(_ == "_t") :+ "yhat").toSeq.map(col)

  /** The walk: one `flatMapGroups` pass keyed by `key` (series_id, or a
    * constant for a coupled set); each group scores its slice rows in
    * (t, series) order, target `sid` reading its features through
    * `plan(sid)` — row cells from `cols`, lags from the (series, t) ledger —
    * and `score(sid, feats)`. A scored row enters the ledger as its
    * prediction, or as its actual at a non-null peek (the series' s-th
    * slice row, s % k == 0). Rows outside the slice are scored by `rest`.
    * Returns `withT`'s columns less `_t`, plus `yhat`. */
  private[graft] def walk(withT: DataFrame, slice: Column, k: Int, key: Column, maxLag: Int,
                          cols: Seq[String], plan: String => Array[Feature],
                          score: (String, Array[Double]) => Double,
                          rest: DataFrame => DataFrame): DataFrame = {
    val seed = seeds(withT, slice, maxLag)
      .select(key.cast("string").as("_g"), col(SeriesId), col("_t"), lit(false).as("_in"),
        col("_v"), lit(null).cast("array<double>").as("_feats"))
    val rows = withT.filter(slice).select(key.cast("string").as("_g"), col(SeriesId), col("_t"),
      lit(true).as("_in"), col(Y).as("_v"),
      array(cols.map(c => col(c).cast("double")): _*).as("_feats"))
    val outSchema = StructType(Seq(StructField(SeriesId, StringType),
      StructField("_t", IntegerType), StructField("yhat", DoubleType)))
    val scores = seed.unionByName(rows)
      .groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroups { (_: String, it: Iterator[Row]) =>
        val (in, before) = it.toArray.partition(_.getBoolean(3))
        val ledger = scala.collection.mutable.HashMap.empty[(String, Int), Double]
        before.foreach(r => if (!r.isNullAt(4)) ledger((r.getString(1), r.getInt(2))) = r.getDouble(4))
        val pos = scala.collection.mutable.HashMap.empty[String, Int]
        in.sortBy(r => (r.getInt(2), r.getString(1))).iterator.map { r =>
          val (sid, t) = (r.getString(1), r.getInt(2))
          val s = pos.getOrElse(sid, 0) + 1
          pos(sid) = s
          val cells = r.getSeq[Any](5)
          val feats = plan(sid).map {
            case Left(i) => val v = cells(i); if (v == null) Double.NaN else v.asInstanceOf[Double]
            case Right((src, l)) => ledger.getOrElse((src.getOrElse(sid), t - l), Double.NaN)
          }
          val yhat = score(sid, feats)
          ledger((sid, t)) = if (s % k == 0 && !r.isNullAt(4)) r.getDouble(4) else yhat
          Row(sid, t, yhat)
        }
      }(Encoders.row(outSchema))
    rest(withT.filter(!slice)).select(outCols(withT): _*)
      .unionByName(withT.filter(slice).join(scores, Seq(SeriesId, "_t"), "left")
        .select(outCols(withT): _*))
  }

  /** Dependency level of slice positions 1..maxS (index 0 unused): 1 + the
    * max level over the AR dependencies s − l inside the slice that no peek
    * cuts. A peek position in `nullPeeks` (null actual in some series) cuts
    * nothing — its prediction is read. */
  private[graft] def levels(maxS: Int, arLags: Seq[Int], k: Int, nullPeeks: Set[Int]): Array[Int] = {
    val level = Array.ofDim[Int](maxS + 1)
    for (s <- 1 to maxS) {
      val deps = arLags.filter(l => s - l >= 1 && ((s - l) % k != 0 || nullPeeks(s - l)))
      level(s) = if (deps.isEmpty) 1 else deps.map(l => level(s - l)).max + 1
    }
    level
  }

  /** The wavefront: one `model.transform` per dependency level. */
  private def wavefront(withT: DataFrame, model: Transformer, slice: Column, k: Int,
                        arLags: Seq[Int]): DataFrame = {
    val peek = col("_s") % k === 0
    val sliced = withT.filter(slice).withColumn("_s", row_number().over(w)).localCheckpoint(true)
    val level = {
      val r = sliced.agg(max("_s"), collect_set(when(peek && col(Y).isNull, col("_s")))).first()
      levels(if (r.isNullAt(0)) 0 else r.getInt(0), arLags, k, r.getSeq[Int](1).toSet)
    }
    val leveled = sliced.withColumn("_lvl",
      element_at(array(level.toSeq.map(lit(_)): _*), col("_s") + 1))
    // ledger actuals: the maxLag rows before the slice + the non-null peeks;
    // they win over predictions
    val known = seeds(withT, slice, arLags.max)
      .unionByName(sliced.filter(peek && col(Y).isNotNull)
        .select(col(SeriesId), col("_t"), col(Y).as("_v")))
      .groupBy(SeriesId)
      .agg(map_from_entries(collect_list(struct(col("_t"), col("_v")))).as("_am"))
      .localCheckpoint(true)
    var predParts = List.empty[DataFrame]
    var scored = List.empty[DataFrame]
    for (v <- 1 to level.max) {
      var rows = leveled.filter(col("_lvl") === v).join(known, Seq(SeriesId), "left")
      rows =
        if (predParts.isEmpty) rows.withColumn("_pm", lit(null).cast("map<int,double>"))
        else rows.join(predParts.reduce(_ unionByName _).groupBy(SeriesId)
          .agg(map_from_entries(collect_list(struct(col("_t"), col("_vp")))).as("_pm")),
          Seq(SeriesId), "left")
      for (l <- arLags) {
        val ar = s"${FeatureOps.ArPrefix}$l"
        rows = rows.drop(ar).withColumn(ar,
          coalesce(element_at(col("_am"), col("_t") - l), element_at(col("_pm"), col("_t") - l)))
      }
      val out = model.transform(rows.drop("_am", "_pm")).localCheckpoint(true)
      predParts ::= out.select(col(SeriesId), col("_t"), col("yhat").as("_vp"))
      scored ::= out
    }
    scored.foldLeft(model.transform(withT.filter(!slice)).select(outCols(withT): _*))(
      (acc, p) => acc.unionByName(p.select(outCols(withT): _*)))
  }
}
