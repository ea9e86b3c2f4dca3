package graft.models

import breeze.linalg.{DenseMatrix, DenseVector}
import breeze.optimize.{DiffFunction, LBFGS}
import graft.core.SeriesFrame._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, StringType, StructField, StructType}

/** Recurrent sequence regressors — the reference's `rnn` / `lstm` estimators
  * (/root/reference/src/scalecast/models.py:561-878, TF Keras SimpleRNN/LSTM).
  *
  * Model shape matches the reference exactly (models.py:658-772): a DIRECT
  * multi-horizon seq2vec net — each training row's input is its scaled
  * feature vector (AR lags scaled by the series' minmax, exogenous regressors
  * by their own) fed to the recurrent cell as a length-d sequence of scalar
  * steps; the target is the next `width` observations of y (minmax-scaled);
  * the head is Dense(width). The forecast is the horizon-input row's full
  * output vector; fitted values are each row's first output (one step ahead,
  * models.py:663-668 `in_sample`).
  *
  * DOCUMENTED SUBSTITUTIONS, same model family (the mlp/sgd precedent):
  * Keras trains with mini-batch Adam from a random init and MAE loss and its
  * own docs warn seeds don't guarantee reproducibility; this trains with
  * FULL-BATCH Breeze L-BFGS on MSE from a DETERMINISTIC hash-seeded Glorot
  * init — bit-reproducible across runs and partitionings, which the engine's
  * correctness machinery requires. Gradients are hand-derived
  * backpropagation-through-time (RnnSpec pins them against central finite
  * differences at 1e-6 for both cells). One recurrent layer + Dense head
  * (the reference's default `layers_struct` depth).
  *
  * Spark shapes (the [[Svr]]/[[MlpNet]] pattern):
  *  - [[RnnNet.fit]] + [[RnnNet.scoreFrame]]: per-series-pool driver fit
  *    over a series-length-sized design (SURVEY §4 — the reference's unit
  *    of work); scoring is COLUMNAR and UDF-free — the recurrence is a fold,
  *    so it maps to Spark's columnar fold, `aggregate` over the scaled
  *    feature sequence with the cell weights as literal arrays (O(U²)
  *    expression size regardless of sequence length);
  *  - [[RnnNet.fitPredictBySeries]] (the 10⁶-series path): per-series fit +
  *    window scoring inside ONE `flatMapGroups` pass, one shuffle keyed by
  *    series_id, zero driver state.
  */
object RnnNet {

  /** The design is collected per fit — a series is the per-task unit. */
  val MaxTrainRows = 50000

  /** Deterministic pseudo-uniform in (−1, 1) from (seed, index) — the
    * [[MlpNet]] generator. */
  private def hashUnit(seed: Long, idx: Int): Double = {
    var h = seed * 6364136223846793005L + idx * 1442695040888963407L
    h ^= (h >>> 33); h *= -7046029254386353131L; h ^= (h >>> 29)
    ((h >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
  }

  private def sigm(v: Double): Double = 1.0 / (1.0 + math.exp(-v))

  // ------------------------------------------------------------ local model

  /** Fitted net — pure JVM state, serializable into executor tasks.
    *
    * RNN cell (`lstm = false`): h_t = tanh(wIn·x_t + Wrec h_{t−1} + b).
    * LSTM cell: standard i/f/g/o gates; the gate arrays hold 4 stacked
    * blocks in i,f,g,o order (wIn: 4·U, wRec: 4·U×U flattened by gate, b:
    * 4·U). Head: ŷ_j = wOut_j·h_d + bOut_j, j < width.
    *
    * `shift`/`scale` minmax-scale the inputs; outputs are un-scaled with
    * (yLo, ySpan) — predictions come back on the original y scale.
    */
  final case class LocalRnn(
      lstm: Boolean, units: Int, width: Int,
      wIn: Array[Double], wRec: Array[Array[Double]], b: Array[Double],
      wOut: Array[Array[Double]], bOut: Array[Double],
      shift: Array[Double], scale: Array[Double],
      yLo: Double, ySpan: Double) {

    /** Roll the cell over one raw feature vector; returns all `width`
      * outputs on the original y scale. */
    def predict(xRaw: Array[Double]): Array[Double] = {
      val d = shift.length
      val u = units
      var h = new Array[Double](u)
      var c = new Array[Double](u)
      var t = 0
      while (t < d) {
        val x = (xRaw(t) - shift(t)) / scale(t)
        val hNew = new Array[Double](u)
        val cNew = new Array[Double](u)
        var k = 0
        while (k < u) {
          if (!lstm) {
            var pre = wIn(k) * x + b(k)
            var v = 0
            while (v < u) { pre += wRec(k)(v) * h(v); v += 1 }
            hNew(k) = math.tanh(pre)
          } else {
            // gate g block offset: g*units + k
            var pi = wIn(k) * x + b(k)
            var pf = wIn(u + k) * x + b(u + k)
            var pg = wIn(2 * u + k) * x + b(2 * u + k)
            var po = wIn(3 * u + k) * x + b(3 * u + k)
            var v = 0
            while (v < u) {
              pi += wRec(k)(v) * h(v)
              pf += wRec(u + k)(v) * h(v)
              pg += wRec(2 * u + k)(v) * h(v)
              po += wRec(3 * u + k)(v) * h(v)
              v += 1
            }
            val ig = sigm(pi); val fg = sigm(pf)
            val gg = math.tanh(pg); val og = sigm(po)
            cNew(k) = fg * c(k) + ig * gg
            hNew(k) = og * math.tanh(cNew(k))
          }
          k += 1
        }
        h = hNew; c = cNew
        t += 1
      }
      Array.tabulate(width) { j =>
        var s = bOut(j)
        var k = 0
        while (k < u) { s += wOut(j)(k) * h(k); k += 1 }
        yLo + ySpan * s
      }
    }
  }

  // --------------------------------------------------------------- training

  /** Flat parameter layout (row-major blocks):
    * [wIn (G·U) | wRec (G·U·U) | b (G·U) | wOut (W·U) | bOut (W)],
    * G = 1 (rnn) or 4 (lstm, gate order i,f,g,o). */
  private def nParams(lstm: Boolean, u: Int, w: Int): Int = {
    val g = if (lstm) 4 else 1
    g * u + g * u * u + g * u + w * u + w
  }

  /** Full-batch BPTT loss/gradient over the SCALED design.
    *
    * x: n×d inputs, y: n×w window targets. obj = ½·Σe²/(n·w) + α(‖wIn‖² +
    * ‖Wrec‖² + ‖Wout‖²). Pinned against finite differences in RnnSpec.
    */
  private[graft] def lossGrad(lstm: Boolean, u: Int, w: Int,
                               x: DenseMatrix[Double], y: DenseMatrix[Double],
                               alpha: Double)(
      theta: DenseVector[Double]): (Double, DenseVector[Double]) = {
    val n = x.rows
    val d = x.cols
    val g = if (lstm) 4 else 1
    val gu = g * u
    val oIn = 0
    val oRec = gu
    val oB = gu + gu * u
    val oOut = oB + gu
    val oBOut = oOut + w * u
    @inline def wIn(r: Int) = theta(oIn + r)
    @inline def wRec(r: Int, v: Int) = theta(oRec + r * u + v)
    @inline def bG(r: Int) = theta(oB + r)
    @inline def wOut(j: Int, k: Int) = theta(oOut + j * u + k)
    @inline def bOut(j: Int) = theta(oBOut + j)

    // forward, storing per-step activations (d small: the feature count)
    val hs = Array.fill(d + 1)(DenseMatrix.zeros[Double](n, u))
    val cs = if (lstm) Array.fill(d + 1)(DenseMatrix.zeros[Double](n, u)) else null
    val ig = if (lstm) Array.ofDim[DenseMatrix[Double]](d) else null
    val fg = if (lstm) Array.ofDim[DenseMatrix[Double]](d) else null
    val gg = if (lstm) Array.ofDim[DenseMatrix[Double]](d) else null
    val og = if (lstm) Array.ofDim[DenseMatrix[Double]](d) else null
    var t = 0
    while (t < d) {
      val hPrev = hs(t)
      if (!lstm) {
        hs(t + 1) = DenseMatrix.tabulate(n, u) { (i, k) =>
          var pre = wIn(k) * x(i, t) + bG(k)
          var v = 0
          while (v < u) { pre += wRec(k, v) * hPrev(i, v); v += 1 }
          math.tanh(pre)
        }
      } else {
        def gate(blk: Int, act: Double => Double) = DenseMatrix.tabulate(n, u) { (i, k) =>
          val r = blk * u + k
          var pre = wIn(r) * x(i, t) + bG(r)
          var v = 0
          while (v < u) { pre += wRec(r, v) * hPrev(i, v); v += 1 }
          act(pre)
        }
        ig(t) = gate(0, sigm)
        fg(t) = gate(1, sigm)
        gg(t) = gate(2, math.tanh)
        og(t) = gate(3, sigm)
        cs(t + 1) = DenseMatrix.tabulate(n, u)((i, k) =>
          fg(t)(i, k) * cs(t)(i, k) + ig(t)(i, k) * gg(t)(i, k))
        hs(t + 1) = DenseMatrix.tabulate(n, u)((i, k) =>
          og(t)(i, k) * math.tanh(cs(t + 1)(i, k)))
      }
      t += 1
    }
    // head + loss
    val hd = hs(d)
    val e = DenseMatrix.tabulate(n, w) { (i, j) =>
      var s = bOut(j)
      var k = 0
      while (k < u) { s += wOut(j, k) * hd(i, k); k += 1 }
      s - y(i, j)
    }
    var reg = 0.0
    var ii = 0
    while (ii < oB) { reg += theta(ii) * theta(ii); ii += 1 } // wIn + wRec
    ii = oOut
    while (ii < oBOut) { reg += theta(ii) * theta(ii); ii += 1 } // wOut
    val nw = (n * w).toDouble
    var sq = 0.0
    e.foreachValue(v => sq += v * v)
    val obj = 0.5 * sq / nw + alpha * reg

    // backward
    val grad = DenseVector.zeros[Double](theta.length)
    // head grads + dH_d
    val dY = e / nw
    var j = 0
    while (j < w) {
      var k = 0
      while (k < u) {
        var s = 0.0
        var i = 0
        while (i < n) { s += dY(i, j) * hd(i, k); i += 1 }
        grad(oOut + j * u + k) = s + 2.0 * alpha * wOut(j, k)
        k += 1
      }
      var sb = 0.0
      var i = 0
      while (i < n) { sb += dY(i, j); i += 1 }
      grad(oBOut + j) = sb
      j += 1
    }
    var dH = DenseMatrix.tabulate(n, u) { (i, k) =>
      var s = 0.0
      var jj = 0
      while (jj < w) { s += dY(i, jj) * wOut(jj, k); jj += 1 }
      s
    }
    var dC = if (lstm) DenseMatrix.zeros[Double](n, u) else null
    t = d - 1
    while (t >= 0) {
      val hPrev = hs(t)
      if (!lstm) {
        val ht = hs(t + 1)
        // δ = dH ⊙ (1 − h²)
        val delta = DenseMatrix.tabulate(n, u)((i, k) => dH(i, k) * (1.0 - ht(i, k) * ht(i, k)))
        accumulate(grad, theta, delta, hPrev, x, t, 0, u, n, oIn, oRec, oB, alpha)
        dH = DenseMatrix.tabulate(n, u) { (i, v) =>
          var s = 0.0
          var k = 0
          while (k < u) { s += delta(i, k) * wRec(k, v); k += 1 }
          s
        }
      } else {
        val tc = DenseMatrix.tabulate(n, u)((i, k) => math.tanh(cs(t + 1)(i, k)))
        // dC accumulates the next step's f-gated carry, plus this step's h path
        val dCt = DenseMatrix.tabulate(n, u)((i, k) =>
          dC(i, k) + dH(i, k) * og(t)(i, k) * (1.0 - tc(i, k) * tc(i, k)))
        val dO = DenseMatrix.tabulate(n, u)((i, k) =>
          dH(i, k) * tc(i, k) * og(t)(i, k) * (1.0 - og(t)(i, k)))
        val dF = DenseMatrix.tabulate(n, u)((i, k) =>
          dCt(i, k) * cs(t)(i, k) * fg(t)(i, k) * (1.0 - fg(t)(i, k)))
        val dI = DenseMatrix.tabulate(n, u)((i, k) =>
          dCt(i, k) * gg(t)(i, k) * ig(t)(i, k) * (1.0 - ig(t)(i, k)))
        val dG = DenseMatrix.tabulate(n, u)((i, k) =>
          dCt(i, k) * ig(t)(i, k) * (1.0 - gg(t)(i, k) * gg(t)(i, k)))
        accumulate(grad, theta, dI, hPrev, x, t, 0, u, n, oIn, oRec, oB, alpha)
        accumulate(grad, theta, dF, hPrev, x, t, 1, u, n, oIn, oRec, oB, alpha)
        accumulate(grad, theta, dG, hPrev, x, t, 2, u, n, oIn, oRec, oB, alpha)
        accumulate(grad, theta, dO, hPrev, x, t, 3, u, n, oIn, oRec, oB, alpha)
        dH = DenseMatrix.tabulate(n, u) { (i, v) =>
          var s = 0.0
          val deltas = Array(dI, dF, dG, dO)
          var blk = 0
          while (blk < 4) {
            var k = 0
            while (k < u) { s += deltas(blk)(i, k) * wRec(blk * u + k, v); k += 1 }
            blk += 1
          }
          s
        }
        dC = DenseMatrix.tabulate(n, u)((i, k) => dCt(i, k) * fg(t)(i, k))
      }
      t -= 1
    }
    // the α‖·‖² terms for wIn/wRec are added once, post-loop (accumulate adds
    // the data term per step only)
    ii = 0
    while (ii < oB) { grad(ii) += 2.0 * alpha * theta(ii); ii += 1 }
    (obj, grad)
  }

  /** Add one gate-block's data-term gradients for step t: gwIn += δᵀx_t,
    * gWrec += δᵀ h_{t−1}, gb += Σδ. */
  private def accumulate(grad: DenseVector[Double], theta: DenseVector[Double],
                         delta: DenseMatrix[Double], hPrev: DenseMatrix[Double],
                         x: DenseMatrix[Double], t: Int, blk: Int, u: Int, n: Int,
                         oIn: Int, oRec: Int, oB: Int, alpha: Double): Unit = {
    var k = 0
    while (k < u) {
      val r = blk * u + k
      var sIn = 0.0
      var sB = 0.0
      var i = 0
      while (i < n) { sIn += delta(i, k) * x(i, t); sB += delta(i, k); i += 1 }
      grad(oIn + r) += sIn
      grad(oB + r) += sB
      var v = 0
      while (v < u) {
        var s = 0.0
        i = 0
        while (i < n) { s += delta(i, k) * hPrev(i, v); i += 1 }
        grad(oRec + r * u + v) += s
        v += 1
      }
      k += 1
    }
  }

  /** The deterministic L-BFGS solve over the SCALED design (inputs and
    * window targets already minmax'd; scaling params passed through). */
  private[graft] def solveLocal(lstm: Boolean, units: Int, width: Int,
                                 x: DenseMatrix[Double], y: DenseMatrix[Double],
                                 shift: Array[Double], scale: Array[Double],
                                 yLo: Double, ySpan: Double,
                                 alpha: Double, maxIter: Int, seed: Long): LocalRnn = {
    val n = x.rows
    require(n > 0, "rnn: empty training set")
    require(n <= MaxTrainRows,
      s"rnn: $n training rows exceeds the per-series bound $MaxTrainRows")
    val u = units
    val g = if (lstm) 4 else 1
    val np = nParams(lstm, u, width)
    val oB = g * u + g * u * u
    val oOut = oB + g * u
    val rr = math.sqrt(6.0 / (1 + u)) // Glorot over the scalar-input fan
    val init = DenseVector.tabulate(np) { i =>
      if (i < oB) hashUnit(seed, i) * rr
      else if (i < oOut && lstm && i - oB >= u && i - oB < 2 * u) 1.0 // forget bias
      else if (i < oOut) 0.0
      else hashUnit(seed, i) * 0.1
    }
    val f = new DiffFunction[DenseVector[Double]] {
      override def calculate(theta: DenseVector[Double]) =
        lossGrad(lstm, u, width, x, y, alpha)(theta)
    }
    val opt = new LBFGS[DenseVector[Double]](maxIter = maxIter, m = 7, tolerance = 1e-9)
    val theta = opt.minimize(f, init)
    LocalRnn(lstm, u, width,
      Array.tabulate(g * u)(i => theta(i)),
      Array.tabulate(g * u, u)((r, v) => theta(g * u + r * u + v)),
      Array.tabulate(g * u)(i => theta(oB + i)),
      Array.tabulate(width, u)((j, k) => theta(oOut + j * u + k)),
      Array.tabulate(width)(j => theta(oOut + width * u + j)),
      shift, scale, yLo, ySpan)
  }

  // ---------------------------------------------------------------- fitting

  /** Build the reference's training design from ordered (features, y) rows:
    * input row i (feature vector at time i) targets the window
    * y[i .. i+width−1] (models.py:658-700: the AR(1) column at row i is
    * y[i−1], so row i's first target is its own y). Windows never cross the
    * `starts` boundaries (series pooled like [[Svr.trainRows]]). */
  private[graft] def windowDesign(feats: Array[Array[Double]], ys: Array[Double],
                                   starts: Array[Int], width: Int):
      (DenseMatrix[Double], DenseMatrix[Double]) = {
    val d = if (feats.isEmpty) 0 else feats(0).length
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Array[Double])]
    var s = 0
    while (s < starts.length) {
      val lo = starts(s)
      val hi = if (s + 1 < starts.length) starts(s + 1) else ys.length
      var i = lo
      while (i + width <= hi) {
        rows += ((feats(i), Array.tabulate(width)(j => ys(i + j))))
        i += 1
      }
      s += 1
    }
    require(rows.nonEmpty,
      s"rnn: no training windows — need at least $width observations per series")
    (DenseMatrix.tabulate(rows.length, d)((i, j) => rows(i)._1(j)),
     DenseMatrix.tabulate(rows.length, width)((i, j) => rows(i)._2(j)))
  }

  /** Minmax scaling per the reference (models.py:664-698): AR-lag columns
    * and the target share the SERIES scaler (fit on the observed y); other
    * regressors get per-column minmax over the train design. */
  private[graft] def scaleParams(features: Seq[String], feats: Array[Array[Double]],
                                  ys: Array[Double]): (Array[Double], Array[Double], Double, Double) = {
    val yLo = ys.min
    val yHi = ys.max
    val ySpan = if (yHi > yLo) yHi - yLo else 1.0
    val d = features.length
    val shift = new Array[Double](d)
    val scale = new Array[Double](d)
    var j = 0
    while (j < d) {
      if (features(j).startsWith(graft.functions.FeatureOps.ArPrefix)) {
        shift(j) = yLo; scale(j) = ySpan
      } else {
        var lo = Double.MaxValue; var hi = Double.MinValue
        var i = 0
        while (i < feats.length) {
          val v = feats(i)(j)
          if (v < lo) lo = v
          if (v > hi) hi = v
          i += 1
        }
        shift(j) = lo; scale(j) = if (hi > lo) hi - lo else 1.0
      }
      j += 1
    }
    (shift, scale, yLo, ySpan)
  }

  private def fitLocal(train: IndexedSeq[(String, Array[Double], Double)],
                       features: Seq[String], lstm: Boolean, units: Int,
                       width: Int, alpha: Double, maxIter: Int, seed: Long): LocalRnn = {
    val feats = train.map(_._2).toArray
    val ys = train.map(_._3).toArray
    val starts = train.map(_._1).zipWithIndex
      .foldLeft(Vector.empty[Int]) { case (acc, (sid, i)) =>
        if (i == 0 || train(i - 1)._1 != sid) acc :+ i else acc
      }.toArray
    val (shift, scale, yLo, ySpan) = scaleParams(features, feats, ys)
    val (xRaw, yRaw) = windowDesign(feats, ys, starts, width)
    val x = DenseMatrix.tabulate(xRaw.rows, xRaw.cols)((i, j) =>
      (xRaw(i, j) - shift(j)) / scale(j))
    val yScaled = yRaw.map(v => (v - yLo) / ySpan)
    solveLocal(lstm, units, width, x, yScaled, shift, scale, yLo, ySpan,
      alpha, maxIter, seed)
  }

  /** Driver fit on observed, non-test, feature-complete rows (series pooled,
    * windows per series — the [[Svr.fit]] unit of work). `width` is the
    * net's output span: callers pass max(horizon, testLength). */
  def fit(frame: DataFrame, features: Seq[String], cell: String,
          width: Int, units: Int = 8, alpha: Double = 1e-4,
          maxIter: Int = 200, seed: Long = 42L): LocalRnn = {
    require(cell == "rnn" || cell == "lstm", s"unknown cell '$cell'")
    require(width >= 1, "rnn: width must be >= 1")
    val train = features.foldLeft(Ols.trainSlice(frame, features))((f, c0) =>
      f.filter(!isnan(col(c0))))
    val rows = train.orderBy(col(SeriesId), col(Ds))
      .select((Seq(col(SeriesId).cast("string")) ++ features.map(col) :+ col(Y)): _*)
      .collect()
    val d = features.length
    val design = rows.map(r =>
      (r.getString(0), Array.tabulate(d)(j => r.getDouble(1 + j)), r.getDouble(1 + d)))
    fitLocal(design.toIndexedSeq, features, cell == "lstm", units, width,
      alpha, maxIter, seed)
  }

  // ------------------------------------------------------ columnar scoring

  /** A fitted net's forward pass as column expressions: the recurrence is a
    * FOLD over the scaled feature sequence, so it maps to Spark's columnar
    * fold — `aggregate(sequence, zeroState, step)` — with the cell weights
    * as literal arrays. Expression size is O(U²), independent of the
    * sequence length (a naive per-step unroll inlines under projection
    * collapse and grows past the 64 KB codegen limit). Zero UDFs; a null
    * feature propagates to a null output. Returns the un-scaled head
    * outputs, one Column per horizon step. */
  private def unroll(m: LocalRnn, features: Seq[String]): Seq[Column] = {
    val u = m.units
    val xsArr: Column = array(features.zipWithIndex.map { case (c, t) =>
      (col(c) - lit(m.shift(t))) / lit(m.scale(t))
    }: _*)
    val wInL = typedLit(m.wIn.toSeq)
    val wRecL = typedLit(m.wRec.map(_.toSeq).toSeq)
    val bL = typedLit(m.b.toSeq)
    def sigmC(c: Column): Column = lit(1.0) / (lit(1.0) + exp(-c))
    def dotRow(row: Column, state: Column): Column =
      aggregate(zip_with(row, state, (w, h) => w * h), lit(0.0), (acc, v) => acc + v)
    // gate r's pre-activation from (x_t, h_{t-1}); r is 0-based
    def pre(r: Column, xv: Column, h: Column): Column =
      element_at(wInL, r + 1) * xv + dotRow(element_at(wRecL, r + 1), h) +
        element_at(bL, r + 1)

    val hFinal: Column =
      if (!m.lstm) {
        val zero = array_repeat(lit(0.0), u)
        aggregate(xsArr, zero, (state, xv) =>
          transform(sequence(lit(0), lit(u - 1)), k => tanh(pre(k, xv, state))))
      } else {
        // state = h(0..u-1) ++ c(u..2u-1); gate blocks i,f,g,o at r = g·u + k
        val zero = array_repeat(lit(0.0), 2 * u)
        val folded = aggregate(xsArr, zero, (state, xv) => {
          val h = slice(state, 1, u)
          val c = slice(state, u + 1, u)
          def newC(k: Column): Column =
            sigmC(pre(lit(u) + k, xv, h)) * element_at(c, k + 1) +
              sigmC(pre(k, xv, h)) * tanh(pre(lit(2 * u) + k, xv, h))
          transform(sequence(lit(0), lit(2 * u - 1)), idx =>
            when(idx < u,
              sigmC(pre(lit(3 * u) + idx, xv, h)) * tanh(newC(idx)))
            .otherwise(newC(idx - u)))
        })
        slice(folded, 1, u)
      }
    (0 until m.width).map { j =>
      val s = lit(m.bOut(j)) + dotRow(typedLit(m.wOut(j).toSeq), hFinal)
      lit(m.yLo) + lit(m.ySpan) * s
    }
  }

  /** Score the facade frame with the reference's semantics, columnar:
    *  - observed non-test rows: first head output (one step ahead — the
    *    fitted values, models.py:663-668);
    *  - test rows: the FIRST test row's input (its AR lags are pre-test
    *    actuals) emits the full window; output j lands on test row j;
    *  - future rows: same, from the first future row (the reference's
    *    `future_X`, models.py:700-712).
    * Returns the frame + `yhat` (the [[MllibTsEstimator]] output shape). */
  def scoreFrame(frame: DataFrame, m: LocalRnn, features: Seq[String]): DataFrame = {
    val flagged = if (frame.columns.contains("is_test")) frame
                  else frame.withColumn("is_test", lit(false))
    val complete = features.map(c => col(c).isNotNull && !isnan(col(c)))
      .reduce(_ && _)
    // nulls in any feature propagate through the fold to a null yhat —
    // incomplete-lag rows keep their row, lose their prediction (the MLlib
    // handleInvalid=keep shape)
    val outputs = unroll(m, features)
    val oneStep = flagged.withColumn("yhat", outputs.head)

    // window slices: (slice flag, ordered position within the slice)
    val wTest = Window.partitionBy(col(SeriesId)).orderBy(col(Ds))
    def windowSlice(df: DataFrame, flag: Column, sliceName: String): DataFrame = {
      val slice = df.filter(flag)
        .withColumn("_pos", row_number().over(wTest) - 1)
      val winRows = slice.filter(col("_pos") === 0 && complete)
        .select(col(SeriesId).as("_wsid"), posexplode(array(outputs: _*)).as(Seq("_p", s"_win_$sliceName")))
      slice.join(winRows, slice(SeriesId) === winRows("_wsid") && slice("_pos") === winRows("_p"), "left")
        .drop("_wsid", "_p")
    }
    val testScored = windowSlice(flagged, col("is_test") && !col(IsFuture), "t")
      .withColumnRenamed("_win_t", "yhat").drop("_pos")
    val futScored = windowSlice(flagged, col(IsFuture), "f")
      .withColumnRenamed("_win_f", "yhat").drop("_pos")

    val base = flagged.columns.toSeq
    oneStep.filter(!col("is_test") && !col(IsFuture))
      .select((base :+ "yhat").map(col): _*)
      .unionByName(testScored.select((base :+ "yhat").map(col): _*))
      .unionByName(futScored.select((base :+ "yhat").map(col): _*))
  }

  /** The 10⁶-series path: per-series direct fit + window scoring inside ONE
    * `flatMapGroups` pass — one shuffle keyed by series_id, zero driver or
    * broadcast state (the [[Svr.fitPredictBySeries]] twin, window semantics
    * of [[scoreFrame]]). Output: (series_id, ds, yhat). */
  def fitPredictBySeries(frame: DataFrame, features: Seq[String], cell: String,
                         width: Int, units: Int = 8, alpha: Double = 1e-4,
                         maxIter: Int = 200, seed: Long = 42L): DataFrame = {
    require(cell == "rnn" || cell == "lstm", s"unknown cell '$cell'")
    val lstm = cell == "lstm"
    val spark = frame.sparkSession
    val hasTest = frame.columns.contains("is_test")
    val cols = Seq(col(SeriesId).cast("string"), col(Ds).cast("date"),
      col(Y).cast("double"), col(IsFuture).cast("boolean"),
      (if (hasTest) col("is_test") else lit(false)).cast("boolean").as("is_test")) ++
      features.map(c => col(c).cast("double"))
    val d = features.length
    val outSchema = StructType(Seq(
      StructField(SeriesId, StringType), StructField(Ds, DateType),
      StructField("yhat", DoubleType)))
    import org.apache.spark.sql.{Encoders, Row}
    frame.select(cols: _*).groupByKey(_.getString(0))(Encoders.STRING)
      .flatMapGroups { (sid, it) =>
        val rows = it.toIndexedSeq.sortBy(r => r.getDate(1).getTime)
        def feats(r: Row): Option[Array[Double]] = {
          val a = new Array[Double](d)
          var j = 0
          while (j < d) {
            if (r.isNullAt(5 + j) || r.getDouble(5 + j).isNaN) return None
            a(j) = r.getDouble(5 + j); j += 1
          }
          Some(a)
        }
        val train = rows.filter(r => !r.getBoolean(3) && !r.isNullAt(2) &&
          !r.getBoolean(4) && feats(r).isDefined)
        if (train.length < width) Iterator.empty
        else {
          val design = train.map(r => (sid, feats(r).get, r.getDouble(2)))
          val m = fitLocal(design, features, lstm, units, width, alpha, maxIter, seed)
          val obs = rows.filter(r => !r.getBoolean(3) && !r.getBoolean(4))
            .flatMap(r => feats(r).map(f => Row(sid, r.getDate(1), m.predict(f)(0))))
          def slice(p: Row => Boolean): IndexedSeq[Row] = {
            val sl = rows.filter(p)
            sl.headOption.flatMap(feats).map { f =>
              val win = m.predict(f)
              sl.zipWithIndex.collect { case (r, i) if i < win.length =>
                Row(sid, r.getDate(1), win(i))
              }
            }.getOrElse(IndexedSeq.empty)
          }
          (obs ++ slice(r => r.getBoolean(4) && !r.getBoolean(3)) ++
            slice(_.getBoolean(3))).iterator
        }
      }(Encoders.row(outSchema)).toDF()
  }
}
