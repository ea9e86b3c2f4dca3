package graft.perfbench

import graft.{Corpus, Forecaster}
import graft.core.SeriesFrame
import graft.eval.AutoSelect
import graft.functions.FeatureOps
import graft.models.GroupedOls
import graft.operators.Conformal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one iteration produced: an order-independent digest of its outputs
  * and the output checks that failed (empty when the output is right). */
final case class Outcome(digest: Seq[Long], problems: Seq[String])

/** A seeded workload run through graft's public API. `generate` builds and
  * materializes the inputs (set-up); `iterate` is the timed user work. */
trait Workload {
  def name: String
  /** Input items: series for the forecast workloads, docs for the corpus. */
  def items: Long
  def generate(spark: SparkSession, seed: Long): Unit
  def release(): Unit
  def iterate(t: Tracer): Outcome
}

object Workloads {
  /** Negative controls (`--break <name>`): one planted property removed —
    * a structure from the generator, or a component from the combo — so
    * the matching output check must fail. */
  val breaks: Map[String, Seq[String]] = Map(
    "forecast_panel" -> Seq("season"),
    "forecast_tune" -> Seq("combo"),
    "curate_corpus" -> Seq("copies", "bench"))

  def apply(name: String, cores: Int, break: String): Workload = name match {
    case "forecast_panel" => new ForecastPanel(nSeries = 400, nObs = 96, cores, break)
    case "forecast_tune" => new ForecastTune(nSeries = 4, nObs = 480, break)
    case "curate_corpus" => new CurateCorpus(nDocs = 2000, cores, break)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private val Mask = lit(0xffffffffL)

  /** Uniform noise in [-1, 1) from a hash of the seed and the given keys. */
  def unif(seed: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: keys): _*), lit(2000000L)).cast("double") / 1e6 - 1.0

  /** Digest columns: two 32-bit halves of a row hash, summed over rows, so
    * the digest ignores row order and partitioning. */
  def digest(cols: Column*): Seq[(String, Column)] = {
    val h = xxhash64(cols: _*)
    Seq("d_lo" -> sum(h.bitwiseAND(Mask)), "d_hi" -> sum(shiftright(h, 32).bitwiseAND(Mask)),
      "d_n" -> count(lit(1)))
  }

  def digestOf(m: Map[String, Any]): Seq[Long] =
    Seq("d_lo", "d_hi", "d_n").map(k => m(k).asInstanceOf[Long])

  /** Doubles are rounded before hashing: the digest compares outputs, not
    * the last bits of a float sum whose order a shuffle may change. */
  def r(c: Column, scale: Int = 3): Column = round(c, scale)

  def long(m: Map[String, Any], k: String): Long = m(k) match {
    case null => 0L
    case n: java.lang.Number => n.longValue
  }

  def countIf(c: Column): Column = sum(when(c, 1L).otherwise(0L))
  def finite(c: Column): Column = c.isNotNull && !isnan(c) && abs(c) < lit(1e300)

  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }
}

import Workloads._

/** Panel of monthly series with trend, an annual season and planted lag-1
  * couplings (each block of 5: one driver, four followers ±1.0 / ±0.9 on
  * the driver's previous innovation), run through the by-series tier. */
final class ForecastPanel(nSeries: Int, nObs: Int, cores: Int, break: String)
    extends Workload {
  val name = "forecast_panel"
  val items: Long = nSeries.toLong
  private var input: DataFrame = _
  private val feats = Seq("t", "ar_1", "ar_2")

  def generate(spark: SparkSession, seed: Long): Unit = {
    val base = spark.range(0L, nSeries.toLong * nObs, 1L, cores)
      .select((col("id") / nObs).cast("long").as("sid"),
        pmod(col("id"), lit(nObs.toLong)).as("t"))
    val sid = col("sid")
    val t = col("t")
    val driver = sid - pmod(sid, lit(5L))
    val coupling = element_at(array(lit(0.0), lit(1.0), lit(-1.0), lit(0.9), lit(-0.9)),
      pmod(sid, lit(5L)).cast("int") + 1)
    val level = unif(seed, sid, lit("level")) * 40.0 + 100.0
    val slope = unif(seed, sid, lit("slope")) * 0.05
    val amp = if (break == "season") lit(0.0) else unif(seed, sid, lit("amp")) * 3.0 + 8.0
    val phase = pmod(xxhash64(lit(seed), sid, lit("phase")), lit(12L)).cast("double")
    val season = amp * sin((t.cast("double") + phase) * (2 * math.Pi / 12))
    val y = level + slope * t + season + unif(seed, sid, t, lit("own")) * 1.5 +
      coupling * unif(seed, driver, t - 1, lit("own")) * 3.0
    input = materialize(base.select(
      concat(lit("s"), sid.cast("string")).as(SeriesFrame.SeriesId),
      add_months(lit("2015-01-01").cast("date"), t.cast("int")).as(SeriesFrame.Ds),
      y.as(SeriesFrame.Y),
      lit(false).as(SeriesFrame.IsFuture)))
  }

  def release(): Unit = if (input != null) input.unpersist(blocking = true)

  def iterate(tr: Tracer): Outcome = {
    val sidC = col(SeriesFrame.SeriesId)
    val featured = tr.call("functions", "addTimeTrend+addArTerms") {
      FeatureOps.addArTerms(FeatureOps.addTimeTrend(input), 2)
    }
    val fits = tr.call("models", "fitBySeries")(GroupedOls.fitBySeries(featured, feats))
    val fitM = tr.run("models", "fitBySeries", fits,
      digest(sidC, transform(col("beta"), b => r(b, 4))) ++ Seq(
        "nonfinite" -> countIf(exists(col("beta"), b => !finite(b)))))
    val season = tr.call("eval", "findSeasonalLengthBySeries") {
      AutoSelect.findSeasonalLengthBySeries(input)
    }
    val seasonM = tr.run("eval", "findSeasonalLengthBySeries", season,
      digest(sidC, col("m"), r(col("acf"), 4)) ++ Seq("annual" -> countIf(col("m") === 12)))
    val xvar = tr.call("eval", "autoXvarSelectBySeries") {
      AutoSelect.autoXvarSelectBySeries(input, 12)
    }
    val xvarM = tr.run("eval", "autoXvarSelectBySeries", xvar,
      digest(sidC, col("trend"), col("seasonal"), col("ar_order"), r(col("rmse"))) ++ Seq(
        "nonfinite" -> countIf(!finite(col("rmse")))))
    val flagged = tr.call("core", "withTestFlag")(SeriesFrame.withTestFlag(featured, 12))
    val scored = tr.call("models", "fitPredictBySeries") {
      GroupedOls.fitPredictBySeries(flagged, feats)
    }
    val ci = tr.call("operators", "attachBySeries")(Conformal.attachBySeries(flagged, scored))
    val ciM = tr.run("operators", "attachBySeries", ci,
      digest(sidC, col(SeriesFrame.Ds), r(col("yhat")), r(col("lower")), r(col("upper"))) ++
        Seq("unbounded" -> countIf(col("yhat").isNotNull &&
          !(finite(col("lower")) && finite(col("upper")) &&
            col("lower") <= col("yhat") && col("yhat") <= col("upper")))))

    val problems = Seq(
      (long(fitM, "d_n") != nSeries) -> s"fitBySeries: ${long(fitM, "d_n")} fitted rows for $nSeries series",
      (long(fitM, "nonfinite") > 0) -> s"fitBySeries: ${long(fitM, "nonfinite")} non-finite betas",
      (long(seasonM, "d_n") != nSeries) -> s"findSeasonalLength: ${long(seasonM, "d_n")} rows",
      (long(seasonM, "annual") < 0.95 * nSeries) ->
        s"findSeasonalLength: period 12 found for ${long(seasonM, "annual")} of $nSeries series",
      (long(xvarM, "d_n") != nSeries || long(xvarM, "nonfinite") > 0) ->
        s"autoXvarSelect: ${long(xvarM, "d_n")} rows, ${long(xvarM, "nonfinite")} non-finite",
      (long(ciM, "d_n") != nSeries.toLong * nObs) -> s"conformal: ${long(ciM, "d_n")} rows",
      (long(ciM, "unbounded") > 0) -> s"conformal: ${long(ciM, "unbounded")} rows without finite bounds"
    ).collect { case (true, msg) => msg }
    Outcome(Seq(fitM, seasonM, xvarM, ciM).flatMap(digestOf), problems)
  }
}

/** The scalecast practitioner loop on a few long monthly series (the
  * `uv_monthly` fixture shape): y = level + 0.5·t + 20·sin(2π·month/12) + ε. */
final class ForecastTune(nSeries: Int, nObs: Int, break: String) extends Workload {
  val name = "forecast_tune"
  val items: Long = nSeries.toLong
  val horizon = 24
  val testLength = 48
  // one cell keeps three measured iterations inside the run budget; each
  // cell is k = 3 rolling-origin MLlib fits
  val gridCells = 1
  /** The tuned MLlib-family model and a closed-form smoother; combo averages them. */
  val models = Seq("ridge", "hwes")
  private var input: DataFrame = _

  def generate(spark: SparkSession, seed: Long): Unit = {
    val base = spark.range(0L, nSeries.toLong * nObs, 1L, 1)
      .select((col("id") / nObs).cast("long").as("sid"),
        pmod(col("id"), lit(nObs.toLong)).as("t"))
    val sid = col("sid")
    val t = col("t")
    // Box-Muller from two hash uniforms: ε ~ N(0, 5)
    val u1 = (unif(seed, sid, t, lit("u1")) + 1.0) / 2.0 * 0.999999 + 1e-6
    val u2 = (unif(seed, sid, t, lit("u2")) + 1.0) / 2.0
    val eps = sqrt(log(u1) * -2.0) * cos(u2 * (2 * math.Pi)) * 5.0
    val level = unif(seed, sid, lit("level")) * 20.0 + 100.0
    val y = level + t * 0.5 + sin(pmod(t, lit(12L)).cast("double") * (2 * math.Pi / 12)) * 20.0 + eps
    input = materialize(base.select(
      concat(lit("uv_monthly_"), sid.cast("string")).as(SeriesFrame.SeriesId),
      add_months(lit("1985-01-01").cast("date"), t.cast("int")).as(SeriesFrame.Ds),
      y.as(SeriesFrame.Y),
      lit(false).as(SeriesFrame.IsFuture)))
  }

  def release(): Unit = if (input != null) input.unpersist(blocking = true)

  def iterate(tr: Tracer): Outcome = {
    val sidC = col(SeriesFrame.SeriesId)
    val dsC = col(SeriesFrame.Ds)
    val spined = tr.call("core", "generateFutureDates+setTestLength") {
      Forecaster(input).generateFutureDates(horizon).setTestLength(testLength)
    }
    val featured = tr.call("functions", "addTimeTrend+addSeasonalRegressors") {
      spined.addTimeTrend().addSeasonalRegressors("month")
    }
    val ridge = featured.setEstimator("ridge")
    val tuned = tr.call("eval", "tune") {
      ridge.tune(ridge.defaultGrid.take(gridCells), k = 3, h = horizon, parallelism = 1)
    }
    val banked = tr.call("models", "manualForecast") {
      tuned.manualForecast("ridge")
        .setEstimator("hwes", Map("alpha" -> 0.3, "beta" -> 0.1, "gamma" -> 0.2, "m" -> 12.0))
        .manualForecast("hwes")
    }
    val comboOf = if (break == "combo") models.take(1) else models
    val combo = tr.call("models", "manualForecast(combo)") {
      banked.setComboModels(comboOf: _*).setEstimator("combo").manualForecast("combo")
    }
    val fcsts = tr.call("results", "exportForecasts")(combo.exportForecasts())
    val all = models :+ "combo"
    val mean = models.map(col).reduce(_ + _) / models.size.toDouble
    val fcM = tr.run("results", "exportForecasts", fcsts,
      digest((sidC +: dsC +: all.map(m => r(col(m)))): _*) ++ Seq(
        "missing" -> countIf(all.map(m => !finite(col(m))).reduce(_ || _)),
        "combo_off" -> countIf(abs(col("combo") - mean) > lit(1e-6) * (abs(mean) + 1.0))))

    val problems = Seq(
      (long(fcM, "d_n") != nSeries * horizon || long(fcM, "missing") > 0) ->
        s"forecasts: ${long(fcM, "d_n")} rows, ${long(fcM, "missing")} with a missing model",
      (long(fcM, "combo_off") > 0) -> s"combo: ${long(fcM, "combo_off")} steps differ from the component mean"
    ).collect { case (true, msg) => msg }
    Outcome(digestOf(fcM), problems)
  }
}

/** Docs of 50 hash-drawn words from a 500-word vocabulary with planted
  * structure: id%10==5 exact copies of id−1, id%10==9 near copies of id−1
  * (49 shared words), id%100==21 low-quality docs, id%100==47 docs opening
  * with a 12-word passage of doc id−40, and a benchmark slice (id%100==3)
  * whose texts the benchmark frame repeats. */
final class CurateCorpus(nDocs: Int, cores: Int, break: String) extends Workload {
  val name = "curate_corpus"
  val items: Long = nDocs.toLong
  private var docs: DataFrame = _
  private var bench: DataFrame = _
  private val BenchIdBase = 1000000000L

  private def wordsOf(seed: Long, src: Column): Column =
    transform(sequence(lit(0), lit(49)), i =>
      concat(lit("w"), pmod(xxhash64(lit(seed), src, i), lit(500L)).cast("string")))

  def generate(spark: SparkSession, seed: Long): Unit = {
    val id = col("doc_id")
    val mod10 = pmod(id, lit(10L))
    val mod100 = pmod(id, lit(100L))
    val copies = if (break == "copies") lit(false) else mod10.isin(5L, 9L)
    val src = when(copies, id - 1).otherwise(id)
    val words = wordsOf(seed, src)
    val passage = slice(wordsOf(seed, id - 40), 1, 12)
    val text = when(mod100 === 21, array_repeat(lit("the"), 50))
      .when(mod100 === 47 && id >= 40, concat(passage, slice(words, 13, 38)))
      .when(copies && mod10 === 9, concat(slice(words, 1, 49), array(lit("wdup"))))
      .otherwise(words)
    docs = materialize(spark.range(0L, nDocs.toLong, 1L, cores).toDF("doc_id")
      .select(id, array_join(text, " ").as("text")))
    val benchSlice = if (break == "bench") lit(false) else mod100 === 3
    bench = materialize(docs.filter(benchSlice)
      .select((id + BenchIdBase).as("doc_id"), col("text")))
  }

  def release(): Unit = Seq(docs, bench).filter(_ != null).foreach(_.unpersist(blocking = true))

  def iterate(tr: Tracer): Outcome = {
    val c0 = tr.call("functions", "qualityFilter")(Corpus(docs).qualityFilter(0.5))
    val c1 = tr.call("operators", "dedupExact")(c0.dedupExact())
    val c2 = tr.call("operators", "dedupNearClusters")(c1.dedupNearClusters(0.8))
    val c3 = tr.call("operators", "stripDupSpans")(c2.stripDupSpans(8))
    val c4 = tr.call("operators", "decontaminate")(c3.decontaminate(bench))
    val packed = tr.call("operators", "pack")(c4.pack(2048))
    val id = col("doc_id")
    val mod10 = pmod(id, lit(10L))
    val mod100 = pmod(id, lit(100L))
    val nTok = col("n_tokens")
    val m = tr.run("operators", "pack", packed,
      digest(id, col("text"), col("shard"), col("offset_start")) ++ Seq(
        "exact" -> countIf(mod10 === 5), "near" -> countIf(mod10 === 9),
        "lowq" -> countIf(mod100 === 21), "benchslice" -> countIf(mod100 === 3),
        "stripped" -> countIf(mod100 === 47 && id >= 40 && nTok <= 42),
        "packed_tokens" -> sum(nTok),
        "text_tokens" -> sum(size(split(col("text"), " "))),
        "bad_chunk" -> countIf(col("offset_start") < 0 ||
          col("chunk_start") =!= floor(col("offset_start") / 2048) ||
          col("chunk_end") =!= floor((col("offset_start") + nTok - 1) / 2048))))

    val per100 = nDocs / 100
    val expected = nDocs - 2 * (nDocs / 10) - 2 * per100
    val problems = Seq(
      (long(m, "exact") > 0) -> s"dedupExact: ${long(m, "exact")} id%10==5 copies survive",
      (long(m, "near") > 0) -> s"dedupNearClusters: ${long(m, "near")} id%10==9 near copies survive",
      (long(m, "lowq") > 0) -> s"qualityFilter: ${long(m, "lowq")} low-quality docs survive",
      (long(m, "benchslice") > 0) -> s"decontaminate: ${long(m, "benchslice")} benchmark-slice docs survive",
      (long(m, "stripped") < per100 - 1) -> s"stripDupSpans: ${long(m, "stripped")} passages stripped",
      (long(m, "d_n") != expected) -> s"survivors: ${long(m, "d_n")}, expected $expected",
      (long(m, "packed_tokens") != long(m, "text_tokens")) ->
        s"pack: ${long(m, "packed_tokens")} packed tokens vs ${long(m, "text_tokens")} surviving tokens",
      (long(m, "bad_chunk") > 0) -> s"pack: ${long(m, "bad_chunk")} rows with inconsistent chunks"
    ).collect { case (true, msg) => msg }
    Outcome(digestOf(m), problems)
  }
}
