package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exchange-rate conversion (SURVEY.md §2.4 J5; reference `convert_usd_to_cny`
  * py:320-340). The nested rate dict becomes a tiny (year, month, rate)
  * DataFrame broadcast-joined on the fact's date — no shuffle of the fact. */
object Rates {

  def rateTable(spark: SparkSession, rates: Seq[(Int, Int, Double)]): DataFrame = {
    import spark.implicits._
    rates.toDF("__ry", "__rm", "__rate")
  }

  /** Multiply each (src → dst) column pair by the (year, month) rate of
    * `dateCol`. Rows with no rate get null converted values (the reference
    * leaves them NaN). */
  def convert(
      df: DataFrame,
      dateCol: String,
      rates: DataFrame,
      cols: Seq[(String, String)],
      roundTo: Option[Int] = None): DataFrame = {
    val joined = df.join(broadcast(rates),
      year(col(dateCol)) === col("__ry") && month(col(dateCol)) === col("__rm"),
      "left")
    Project(joined, "__ry", "__rm", "__rate")(cols.map { case (src, dst) =>
      val v = col(src) * col("__rate")
      dst -> roundTo.map(round(v, _)).getOrElse(v)
    }: _*)
  }
}
