package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Build a single-series frame from (ds, y) pairs; monthly dates from
    * 2020-01-01. Nullable y via Option. */
  def seriesOf(ys: Seq[Option[Double]], sid: String = "s"): DataFrame = {
    import spark.implicits._
    ys.zipWithIndex.map { case (y, i) =>
      (sid, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusMonths(i)), y, false)
    }.toDF("series_id", "ds", "y", "is_future")
  }

  def obsSeries(ys: Seq[Double], sid: String = "s"): DataFrame =
    seriesOf(ys.map(Some(_)), sid)

  def col1(df: DataFrame, c: String): Seq[Double] =
    df.orderBy("ds").collect().map(r => r.getAs[Any](c) match {
      case null => Double.NaN
      case d: Double => d
    }).toSeq
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(2, logLevel = "ERROR")
}
