package graft.models

import graft.core.SeriesFrame._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Blocked cross-lag VAR — the scale path PAST
  * [[MvForecast.CoupledSetMax]]: the full SKLearnMV design (every target on
  * the lags of ALL series, models.py:213-337) has width nSeries·maxLag + 1,
  * so its normal-equation moments grow QUADRATICALLY with the series count;
  * beyond ~64 coupled series the honest answer is a bounded per-equation
  * design. This operator delivers it fully distributed:
  *
  *  1. **Screen** (one equi-join keyed by date): every (target, source)
  *     pair's lag-1 correlation from the long-format lag table — the
  *     explicit nSeries² pair pass, shuffle-keyed by (target, source), the
  *     one place quadratic cost is inherent and therefore paid ONCE, on
  *     slim rows.
  *  2. **Block**: each target keeps its own lags plus the
  *     `maxSources − 1` strongest foreign sources (|corr| rank, ties by
  *     source id) — every equation's width is now the CONSTANT
  *     k = maxSources·maxLag + 1.
  *  3. **Fit**: the normal-equation moments of EVERY equation come from one
  *     grouped pivot of the long design rows into wide (target, ds) feature
  *     rows + one grouped aggregation over the k² bounded column products
  *     (no self-join — each observation is shuffled twice, never k² times);
  *     the k×k solves map over the per-target stats rows ON THE EXECUTORS
  *     (same pattern as [[graft.functions.Diagnostics.adfT]]) — no
  *     observation row, moment row, or fit ever reaches the driver.
  *  4. **Score**: fitted values are a join + grouped dot product.
  *
  * Every stage is a bounded-width shuffle, so the operator holds at 10⁴⁺
  * series where the coupled-set design cannot.
  */
object BlockedVar {

  /** Long-format lag table: (src, ds, lag, xval), lags 1..maxLag inside each
    * series' own window partition. */
  private def lagsLong(obs: DataFrame, maxLag: Int): DataFrame =
    obs.select(col(SeriesId).as("src"), col(Ds),
        array((1 to maxLag).map(k => lag(col(Y), k).over(w)): _*).as("_ls"))
      .select(col("src"), col(Ds), posexplode(col("_ls")).as(Seq("_p", "xval")))
      .withColumn("lag", col("_p") + 1).drop("_p")
      .filter(col("xval").isNotNull)

  /** Step 1+2: the per-target source block — (target, src, src_rank) with
    * rank 0 = the target itself, ranks 1..maxSources−1 the strongest
    * foreign sources by |lag-1 correlation| (ties broken by src id). */
  def screen(frame: DataFrame, maxLag: Int, maxSources: Int,
             minAbsCorr: Double = 0.0): DataFrame = {
    // screen and fit read the train slice only: holdout and horizon rows
    // never decide an edge or a β
    val obs = Ols.trainSlice(frame, Nil)
    val targets = obs.select(col(SeriesId).as("target"), col(Ds), col(Y))
    val pairs = targets.join(lagsLong(obs, 1), Seq(Ds.toString))
      .filter(col("target") =!= col("src"))
      .groupBy("target", "src").agg(corr(col(Y), col("xval")).as("_c"))
      // minAbsCorr > 0 drops noise edges entirely: targets with no real
      // cross-driver keep only their own lags, and the coupling graph's
      // components stay small — which is what the component-parallel
      // recursion exploits
      .filter(col("_c").isNotNull && abs(col("_c")) >= minAbsCorr)
    rankAndAddSelf(obs, pairs, maxSources)
  }

  /** Shared tail of both screens: rank surviving (target, src, _c) edges by
    * |corr| (ties by src id), keep maxSources−1, prepend every target's
    * self row at rank 0. */
  private def rankAndAddSelf(obs: DataFrame, pairs: DataFrame,
                             maxSources: Int): DataFrame = {
    val ranked = pairs.withColumn("src_rank",
      row_number().over(Window.partitionBy("target")
        .orderBy(abs(col("_c")).desc, col("src").asc)))
      .filter(col("src_rank") <= maxSources - 1)
      .select(col("target"), col("src"), col("src_rank"))
    obs.select(col(SeriesId).as("target")).distinct()
      .withColumn("src", col("target")).withColumn("src_rank", lit(0))
      .unionByName(ranked)
  }

  /** [[screen]] WITHOUT the quadratic pair pass — the 10⁶-series tier.
    *
    * The exact screen's date-keyed self-join materializes nSeries² slim
    * rows per shared date: inherent if every pair must be scored, fatal at
    * 10⁶ series. But Pearson correlation of two aligned series is exactly
    * the COSINE of their mean-centered profiles, so candidate sources can
    * come from the engine's own ANN tier instead: each series' trailing
    * `profileWindow`-date centered profile (target side = y_t, source side
    * = y_{t−1}) feeds [[graft.operators.Similarity.crossCosineMatches]] —
    * banded hyperplane signatures, equi-join on (band, band_val), never
    * all-pairs — in `absolute` mode, so strong NEGATIVE correlations are
    * found too. The EXACT full-history lag-1 correlation is then
    * computed only for candidate pairs (a candidate-bounded join), so the
    * final block is identical to [[screen]]'s whenever candidate recall
    * holds — the same contract as every LSH tier in the repo; MvSpec pins
    * equality on planted structure. Cost: O(n·bands) signature rows +
    * bucket-bounded joins + |candidates|·dates re-check rows.
    *
    * `minAbsCorr` must be positive: it is both the noise-edge gate and the
    * candidate cosine threshold (a zero threshold would re-admit every
    * pair and with it the quadratic cost this tier exists to avoid).
    *
    * `bitsPerBand` and `bands` are FLOORS — the effective LSH geometry is
    * auto-tuned to the series count (classic E2LSH sizing), because fixed
    * parameters turn quadratic again one decade past wherever they were
    * tuned (measured: 8-bit bands filled 80 GB of shuffle spill at 10⁶
    * series). Expected noise collisions per band are ~n²·2^(−bits) for
    * near-orthogonal profiles, so width grows as ⌈log₂ n⌉ + 5 — pinning
    * the IDEAL noise-candidate budget at O(bands·n/2⁵) at ANY series
    * count — and the band COUNT grows to hold ~95% candidate recall at
    * the ρ = 0.9 design correlation (bands = ln 20 / −ln(1 − p_band)
    * with p_band = (1 − arccos(ρ)/π)^bits). The +5 margin is MEASURED,
    * not guessed: a +2 margin looks cost-optimal on the orthogonal-noise
    * model (band count grows ~1.4^bits, so fewer bits ⇒ 2.7× fewer
    * signature rows for 8× more ideal collisions), but real noise
    * profiles carry a moderately-correlated tail (|cos| ≈ 0.3–0.5 pairs
    * whose per-bit sign-agreement is ~0.6, not 0.5) whose collision
    * mass scales ~0.6^bits — at 10⁶ series the +2 experiment TRIPLED
    * the candidate-side shuffle (65 → 92 GB, wall 705 → 829 s) while
    * saving a third of the signature rows. The tail, not the orthogonal
    * bulk, sets the width. Near-perfect couplings
    * (|corr| ≥ 0.95) stay at recall ≈ 1 under any tuned geometry; recall
    * below ρ* decays — the cost lands on weak edges a maxSources-bounded
    * block rarely keeps, and the exact re-check means every SURVIVING
    * edge carries the same full-history statistic as [[screen]]. */
  def screenApprox(frame: DataFrame, maxSources: Int, minAbsCorr: Double,
                   profileWindow: Int = 64, bands: Int = 16,
                   bitsPerBand: Int = 8): DataFrame = {
    require(minAbsCorr > 0,
      "screenApprox needs a positive minAbsCorr: it doubles as the ANN " +
        "candidate threshold (at 0 every pair is a candidate and the " +
        "quadratic pass is back)")
    // DISK_ONLY: obs is O(total observation rows) — at the 10⁶-series
    // point its MEMORY_AND_DISK blocks raced the profile window sorts for
    // the unified pool and OOM'd the screen; the frame is re-read four
    // times sequentially, a disk-friendly access pattern
    val obs = Ols.trainSlice(frame, Nil).localCheckpoint(false,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val withT = obs.select(col(SeriesId), col(Y),
      row_number().over(w).as("_t"))
    val head = withT.agg(max("_t"),
      approx_count_distinct(SeriesId)).first()
    val tMax = head.getInt(0)
    val nSeries = math.max(head.getLong(1), 1L)
    val effBits = math.max(bitsPerBand,
      math.ceil(math.log(nSeries.toDouble) / math.log(2.0)).toInt + 5)
    val pBand = math.pow(1.0 - math.acos(0.9) / math.Pi, effBits.toDouble)
    val effBands = math.max(bands,
      math.ceil(math.log(20.0) / -math.log1p(-pBand)).toInt)
    val lo = math.max(2, tMax - profileWindow + 1)
    // positions lo..tMax: target profile = y_t, source profile = y_{t−1};
    // centering makes cosine == Pearson on the window
    def profile(shift: Int): DataFrame = withT
      .filter(col("_t") >= lo - shift && col("_t") <= tMax - shift)
      .groupBy(SeriesId)
      .agg(sort_array(collect_list(struct(col("_t"), col(Y)))).as("_sv"))
      .select(col(SeriesId).as("vid"),
        expr(s"transform(_sv, x -> x.$Y)").as("raw"))
      .select(col("vid"), transform(col("raw"),
        x => x - aggregate(col("raw"), lit(0.0), (a, v) => a + v)
          / size(col("raw"))).as("vec"))
    val srcProf = profile(1)
    val tgtProf = profile(0)
    import graft.operators.Similarity
    val cands = Similarity.crossCosineMatches(srcProf, tgtProf, "vid", "vec",
        minAbsCorr, effBands, effBits, absolute = true)
      .select(col("probe_id").as("target"), col("corpus_id").as("src"))
      .filter(col("target") =!= col("src")).distinct()
    // exact full-history lag-1 correlation, candidates only — the same
    // statistic as [[screen]], so the surviving edges rank identically
    val targets = obs.select(col(SeriesId).as("target"), col(Ds), col(Y))
    val pairs = cands
      .join(lagsLong(obs, 1), Seq("src"))
      .join(targets, Seq("target", Ds.toString))
      .groupBy("target", "src").agg(corr(col(Y), col("xval")).as("_c"))
      .filter(col("_c").isNotNull && abs(col("_c")) >= minAbsCorr)
    rankAndAddSelf(obs, pairs, maxSources)
  }

  /** Fitted blocked-VAR equations: one row per target with the fitted β in
    * feature-index order (featIdx = src_rank·maxLag + lag − 1, intercept
    * last) — plus the chosen block for interpretation/replay.
    * Returns (fits, block) where fits = (target, beta array[k]) and
    * block = [[screen]]'s (target, src, src_rank). */
  def fit(frame: DataFrame, maxLag: Int, maxSources: Int,
          minAbsCorr: Double = 0.0): (DataFrame, DataFrame) =
    fitWithBlock(frame,
      screen(frame, maxLag, maxSources, minAbsCorr).localCheckpoint(false),
      maxLag, maxSources)

  /** [[fit]] over a PRECOMPUTED source block — e.g. [[screenApprox]]'s
    * (the 10⁶-series path: approx screen + this fit + the recursion never
    * touch an nSeries² pass). */
  def fitWithBlock(frame: DataFrame, block: DataFrame, maxLag: Int,
                   maxSources: Int): (DataFrame, DataFrame) = {
    val obs = Ols.trainSlice(frame, Nil)
    val k = maxSources * maxLag + 1
    val design = designRows(obs, block, maxLag, k)
    val nsrc = block.groupBy("target").agg(count(lit(1)).cast("int").as("_nsrc"))
    // pivot each (target, ds)'s ≤ k design rows into ONE wide row (each fi
    // appears at most once there, so max(when) is exact) — the k² moment
    // products then come from plain column products over the wide rows.
    // The former shape (a (target, ds)-keyed SELF-join expanding fi × fj
    // rows) shuffled k(k+1)/2 slim rows per observation — measured as the
    // second spill amplifier at 10⁶ series; this one shuffles each
    // observation once into the pivot and once into the moments.
    val wide = design.groupBy(col("target"), col(Ds))
      .agg(count(lit(1)).as("_nf"),
        (0 until k).map(i => max(when(col("fi") === i, col("x"))).as(s"x_$i")): _*)
    // complete (target, ds) rows: all of the TARGET'S OWN features present
    // and y known — a minAbsCorr screen can keep fewer than maxSources
    // sources, so each equation's width is nsrc·maxLag + 1, not k
    val rows = wide.join(nsrc, Seq("target"))
      .filter(col("_nf") === col("_nsrc") * maxLag + 1)
      .join(obs.select(col(SeriesId).as("target"), col(Ds), col(Y).as("_yt")),
        Seq("target", Ds.toString))
    // unscreened slots are null on every row, so their sums are null — the
    // solve below never reads them (it indexes the screened sub-block only)
    val aggs = max(col("_nsrc")).as("_nsrc") +:
      Ols.gram((0 until k).map(i => col(s"x_$i")) :+ col("_yt"))
    val stats = rows.groupBy("target").agg(aggs.head, aggs.tail: _*)
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType, StructField, StructType}
    val outSchema = StructType(Seq(StructField("target", StringType),
      StructField("beta", ArrayType(DoubleType, containsNull = false))))
    val fits = stats.map({ r =>
      // solve only the target's own sub-block (features 0..nsrc·maxLag−1 are
      // contiguous by rank construction, intercept at k−1); scatter back
      // into a full-width β with zeros at the unscreened slots so every
      // consumer indexes by the SAME featIdx scheme
      val idxs = (0 until r.getInt(1) * maxLag) :+ (k - 1)
      val sub = Ols.Moments.read(r, 2, k + 1).beta(idxs)
      val full = Array.fill(k)(0.0)
      idxs.indices.foreach(i => full(idxs(i)) = sub(i))
      Row(r.getString(0), full.toSeq)
    })(Encoders.row(outSchema)).toDF()
    (fits, block)
  }

  /** Fitted values over the complete observed rows: (series_id, ds, y, yhat)
    * — a join + grouped dot product, no per-equation jobs. */
  def fittedValues(frame: DataFrame, maxLag: Int, maxSources: Int,
                   minAbsCorr: Double = 0.0): DataFrame = {
    val (fits, block) = fit(frame, maxLag, maxSources, minAbsCorr)
    fittedValuesWith(frame, fits, block, maxLag, maxSources)
  }

  /** [[fittedValues]] over a PRECOMPUTED (fits, block) pair — scoring covers
    * EVERY complete observed row (including holdout rows: scoring is not a
    * training decision), so callers that already fit skip the refit. */
  def fittedValuesWith(frame: DataFrame, fits: DataFrame, block: DataFrame,
                       maxLag: Int, maxSources: Int): DataFrame = {
    val obs = frame.filter(!col(IsFuture) && col(Y).isNotNull)
    val k = maxSources * maxLag + 1
    val design = designRows(obs, block, maxLag, k)
    val nsrc = block.groupBy("target").agg(count(lit(1)).cast("int").as("_nsrc"))
    val complete = design.groupBy("target", Ds)
      .agg(count(lit(1)).as("_nf"))
      .join(nsrc, Seq("target"))
      .filter(col("_nf") === col("_nsrc") * maxLag + 1)
      .select("target", Ds)
    design.join(complete, Seq("target", Ds.toString))
      .join(fits, Seq("target"))
      .groupBy(col("target"), col(Ds))
      .agg(sum(col("x") * element_at(col("beta"), col("fi") + 1)).as("yhat"))
      .join(obs.select(col(SeriesId).as("target"), col(Ds), col(Y)),
        Seq("target", Ds.toString))
      .select(col("target").as(SeriesId), col(Ds), col(Y), col("yhat"))
  }

  /** Recursive horizon forecast over the blocked equations — the coupled
    * walk of [[MvForecast.dynamicForecastOls]] at blocked scale. The coupling
    * graph (edges = each target's screened sources) decomposes into
    * connected components, and components are INDEPENDENT: the whole
    * recursion runs as ONE `flatMapGroups` pass keyed by component — each
    * component's horizon walks sequentially inside an executor task with
    * state bounded at |component| × (maxLag + h) ledger values, components
    * parallelize across the cluster, and there are zero per-step job
    * barriers (the same shape as [[Recursive.walk]], lifted to the coupling
    * unit the blocked equations force). It stays a walk of its own: its
    * betas and edges are ROWS of the tagged frame, so no fit reaches the
    * driver at 10⁶ series, where [[Recursive.walk]] takes per-target plans
    * and scorers built on the driver.
    * Component discovery is [[graft.operators.Graph.connectedComponents]]
    * over the block EDGES — fully distributed (O(log diameter) rounds of
    * co-partitioned RDD joins), with the labels attached by a size-gated
    * broadcast join, so no edge ever reaches the driver and the tagged
    * frame's plan stays UDF-free.
    * Requires date-aligned series (each series' horizon spine at the same
    * dates), the coupled-set contract. Returns (series_id, ds, yhat). */
  def dynamicForecast(frame: DataFrame, maxLag: Int, maxSources: Int,
                      minAbsCorr: Double = 0.0): DataFrame = {
    val (fits, block) = fit(frame, maxLag, maxSources, minAbsCorr)
    dynamicForecastWith(frame, fits, block, maxLag, maxSources)
  }

  /** [[dynamicForecast]] over a PRECOMPUTED (fits, block) pair — callers
    * that already fit (or persist fits) skip the refit. */
  def dynamicForecastWith(frame: DataFrame, fits: DataFrame, block: DataFrame,
                          maxLag: Int, maxSources: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val k = maxSources * maxLag + 1
    // DISK_ONLY for the same reason as screenApprox's obs: O(rows) frame
    val withT = frame.withColumn("_t", row_number().over(w))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val obs = withT.filter(!col(IsFuture))
    val fut = withT.filter(col(IsFuture))
    val maxStep = {
      val r = fut.groupBy(SeriesId).count().agg(max("count")).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    if (maxStep == 0) {
      // keep the (series_id, ds, yhat) shape even with no future rows so
      // downstream selects (MvForecaster's future-union branch) still resolve
      val dsType = frame.schema(Ds).dataType
      return frame.sparkSession.createDataFrame(
        frame.sparkSession.sparkContext.emptyRDD[Row],
        StructType(Seq(StructField(SeriesId, StringType),
          StructField(Ds, dsType), StructField("yhat", DoubleType))))
    }
    // distributed connected components over the slim edge list → component
    // id per series: min-label propagation converges in O(graph diameter)
    // rounds (the screen bounds out-degree at maxSources, so components stay
    // small and shallow); no edge ever reaches the driver, and the label
    // attach below is a size-gated broadcast join, keeping the tagged
    // frame's plan UDF-free
    val compLabels = graft.operators.Graph
      .connectedComponents(block.select(col("target"), col("src")), "target", "src")
      .select(col("id").as("sid"), col("comp").as("_compLbl"))
    // one tagged frame carries everything a component's walk needs:
    // kind 0 = trailing actual (sid, t, v); 1 = horizon row (sid, t, ds);
    // 2 = equation betas (sid, arr); 3 = block edge (sid, src, rank)
    val lastT = obs.groupBy(SeriesId).agg(max("_t").as("_maxT"))
    val seeds = obs.join(lastT, Seq(SeriesId))
      .filter(col("_t") > col("_maxT") - (maxLag + maxStep))
      .select(col(SeriesId).as("sid"), lit(0).as("kind"), col("_t").as("t"),
        col(Y).as("v"), lit(null).cast("string").as("ds"),
        lit(null).cast("array<double>").as("arr"),
        lit(null).cast("string").as("src"), lit(null).cast("int").as("rank"))
    val horizon = fut.select(col(SeriesId).as("sid"), lit(1).as("kind"),
      col("_t").as("t"), lit(null).cast("double").as("v"),
      col(Ds).cast("string").as("ds"), lit(null).cast("array<double>").as("arr"),
      lit(null).cast("string").as("src"), lit(null).cast("int").as("rank"))
    val betaRows = fits.select(col("target").as("sid"), lit(2).as("kind"),
      lit(null).cast("int").as("t"), lit(null).cast("double").as("v"),
      lit(null).cast("string").as("ds"), col("beta").as("arr"),
      lit(null).cast("string").as("src"), lit(null).cast("int").as("rank"))
    val edgeRows = block.select(col("target").as("sid"), lit(3).as("kind"),
      lit(null).cast("int").as("t"), lit(null).cast("double").as("v"),
      lit(null).cast("string").as("ds"), lit(null).cast("array<double>").as("arr"),
      col("src"), col("src_rank").as("rank"))
    val tagged = seeds.unionByName(horizon).unionByName(betaRows).unionByName(edgeRows)
      .join(graft.core.Joins.maybeBroadcast(compLabels), Seq("sid"), "left")
      // series with no surviving edge (possible only on degenerate blocks)
      // are their own singleton component
      .withColumn("_comp", coalesce(col("_compLbl"), col("sid")))
      .drop("_compLbl")
    val outSchema = StructType(Seq(StructField(SeriesId, StringType),
      StructField(Ds.toString, StringType), StructField("yhat", DoubleType)))
    val lagN = maxLag
    val scores = tagged
      .groupByKey(_.getAs[String]("_comp"))(Encoders.STRING)
      .flatMapGroups { (_: String, it: Iterator[Row]) =>
        val rows = it.toArray
        val ledger = scala.collection.mutable.HashMap.empty[(String, Int), Double]
        val betas = scala.collection.mutable.HashMap.empty[String, IndexedSeq[Double]]
        val srcsOf = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[(Int, String)]]
        val hz = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
        rows.foreach { r =>
          r.getAs[Int]("kind") match {
            case 0 => ledger((r.getAs[String]("sid"), r.getAs[Int]("t"))) = r.getAs[Double]("v")
            case 1 => hz += ((r.getAs[Int]("t"), r.getAs[String]("sid"), r.getAs[String]("ds")))
            case 2 => betas(r.getAs[String]("sid")) = r.getAs[scala.collection.Seq[Double]]("arr").toIndexedSeq
            case 3 => srcsOf.getOrElseUpdate(r.getAs[String]("sid"),
              scala.collection.mutable.ArrayBuffer.empty) += ((r.getAs[Int]("rank"), r.getAs[String]("src")))
          }
        }
        // walk all series' horizons in shared _t order: aligned spines mean
        // every step's cross-references resolve from the ledger
        hz.sortBy(h => (h._1, h._2)).iterator.map { case (t, sid, ds) =>
          val b = betas.get(sid)
          val yhat = b match {
            case Some(beta) =>
              var s = beta(k - 1) // intercept (featIdx k-1)
              srcsOf.get(sid).foreach(_.foreach { case (rank, src) =>
                var l = 1
                while (l <= lagN) {
                  s += beta(rank * lagN + l - 1) *
                    ledger.getOrElse((src, t - l), Double.NaN)
                  l += 1
                }
              })
              s
            case None => Double.NaN
          }
          ledger((sid, t)) = yhat
          Row(sid, ds, yhat)
        }
      }(Encoders.row(outSchema))
    scores.toDF().select(col(SeriesId), col(Ds).cast("date").as(Ds.toString), col("yhat"))
  }

  /** Long design rows (target, ds, fi, x): the block's source lags at
    * featIdx = src_rank·maxLag + lag − 1, plus the intercept at k − 1. */
  private def designRows(obs: DataFrame, block: DataFrame, maxLag: Int,
                         k: Int): DataFrame = {
    val feats = block.join(lagsLong(obs, maxLag), Seq("src"))
      .select(col("target"), col(Ds),
        (col("src_rank") * maxLag + col("lag") - 1).as("fi"), col("xval").as("x"))
    val icpt = obs.select(col(SeriesId).as("target"), col(Ds),
      lit(k - 1).as("fi"), lit(1.0).as("x"))
    feats.unionByName(icpt)
  }

}
