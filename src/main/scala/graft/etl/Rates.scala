package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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

  /** Throw if the collected rate table `rows` gives some (year, month) more
    * than one rate: `convert`'s left join would return that month's fact
    * rows once per rate. The error names every repeated month. */
  def requireOneRatePerMonth(rows: Seq[Row]): Unit = {
    val repeated = rows.map(r => (r.getAs[Any]("__ry"), r.getAs[Any]("__rm")))
      .filter { case (y, m) => y != null && m != null }
      .groupBy(identity).collect { case ((y, m), rs) if rs.size > 1 => s"($y, $m) × ${rs.size}" }
    require(repeated.isEmpty,
      s"rate table repeats (year, month): ${repeated.toSeq.sorted.mkString(", ")}")
  }
}
