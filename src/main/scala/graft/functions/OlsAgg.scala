package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Exact OLS fit as a native Catalyst aggregate — the SQL surface of the
  * engine's closed-form solver ([[graft.models.Ols]] /
  * [[graft.models.GroupedOls]]): `graft_ols_fit(y, array(x1, ..., xk))`
  * accumulates the normal-equation moments in [[graft.models.Ols]]'s
  * format (intercept column implicit) and solves at eval time with its
  * solver, returning the beta array with the intercept at index 1 (SQL
  * 1-based via `element_at`). Pair with `graft_ols_predict(beta, array(x...))`
  * for the scalar side.
  *
  * Same scale shape as every moments fit here: the serialized buffer is
  * (k+1)(k+2)/2 + (k+1) doubles regardless of group size, partial
  * aggregation applies, merge is elementwise addition — so
  * `GROUP BY series_id` fits a million series in one shuffle, the
  * [[graft.models.GroupedOls.fitBySeries]] plan from plain SQL. Rows with a
  * null y, a null array or any null element are skipped, as
  * [[graft.models.Ols.trainSlice]] drops them; unlike that slice, a NaN y
  * or a NaN element is skipped too (the slice keeps a NaN and the fit
  * turns non-finite). A group with no usable rows (or a singular system)
  * yields non-finite betas, surfacing as NaN predictions — the per-series
  * skip policy.
  */
case class OlsFit(
    y: Expression,
    xs: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[OlsFit.Moments]
  with BinaryLike[Expression] {

  override def left: Expression = y
  override def right: Expression = xs

  override def checkInputDataTypes(): TypeCheckResult = (y.dataType, xs.dataType) match {
    case (DoubleType, ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ols_fit needs (DOUBLE, ARRAY<DOUBLE>), got $other")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_ols_fit"

  override def createAggregationBuffer(): OlsFit.Moments = new OlsFit.Moments

  override def update(buf: OlsFit.Moments, input: InternalRow): OlsFit.Moments = {
    val yv = y.eval(input)
    val xv = xs.eval(input)
    if (yv != null && xv != null) {
      val yd = yv.asInstanceOf[Double]
      if (!yd.isNaN) {
        val arr = xv.asInstanceOf[ArrayData]
        val d = arr.numElements()
        var i = 0
        var ok = true
        val z = new Array[Double](d + 2)
        z(0) = 1.0
        z(d + 1) = yd
        while (ok && i < d) {
          if (arr.isNullAt(i)) ok = false
          else {
            val v = arr.getDouble(i)
            if (v.isNaN) ok = false else z(i + 1) = v
          }
          i += 1
        }
        if (ok) buf.add(z)
      }
    }
    buf
  }

  override def merge(buf: OlsFit.Moments, other: OlsFit.Moments): OlsFit.Moments = {
    buf.mergeFrom(other)
    buf
  }

  override def eval(buf: OlsFit.Moments): Any =
    new GenericArrayData(buf.solve())

  override def serialize(buf: OlsFit.Moments): Array[Byte] = {
    val k = buf.k
    val cells = if (k < 0) 0 else buf.tri.length - 1
    val bb = ByteBuffer.allocate(4 + cells * 8)
    bb.putInt(k)
    (0 until cells).foreach(i => bb.putDouble(buf.tri(i)))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): OlsFit.Moments = {
    val bb = ByteBuffer.wrap(bytes)
    val m = new OlsFit.Moments
    val k = bb.getInt
    if (k >= 0) {
      m.init(k)
      (0 until m.tri.length - 1).foreach(i => m.tri(i) = bb.getDouble)
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): OlsFit =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): OlsFit =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
                                                newRight: Expression): OlsFit =
    copy(y = newLeft, xs = newRight)
}

object OlsFit {

  /** The moments triangle over (1, x₁..xₖ, y), [[graft.models.Ols]]'s
    * format, in `tri`. `k` = feature count excluding the intercept; −1
    * until the first row fixes the width. y'y, the last cell, is not part
    * of the serialized state: the solve never reads it. */
  final class Moments extends Serializable {
    var k: Int = -1
    var tri: Array[Double] = null

    def init(kk: Int): Unit = {
      k = kk
      tri = new Array[Double](graft.models.Ols.gramWidth(k + 2))
    }

    /** z = (1, x₁..xₖ, y). */
    def add(z: Array[Double]): Unit = {
      if (k < 0) init(z.length - 2)
      require(z.length - 2 == k,
        s"graft_ols_fit: inconsistent feature array length ${z.length - 2} vs $k")
      graft.models.Ols.accumulate(tri, z)
    }

    def mergeFrom(o: Moments): Unit = {
      if (o.k >= 0) {
        if (k < 0) init(o.k)
        require(k == o.k, s"graft_ols_fit: merging widths $k vs ${o.k}")
        var i = 0
        while (i < tri.length) { tri(i) += o.tri(i); i += 1 }
      }
    }

    /** β over (1, x₁..xₖ); non-finite for a singular or empty group. */
    def solve(): Array[Double] =
      if (k < 0) Array(Double.NaN)
      else new graft.models.Ols.Moments(tri, k + 2).beta(0 to k)
  }
}
