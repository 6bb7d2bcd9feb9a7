package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Median-based outlier marking (SURVEY.md §2.5 A2; reference `mark_outliers`
  * `data_processing_program_20240520.py:287-316`).
  *
  * Shape: per-group EXACT median (Catalyst `percentile` — linear
  * interpolation, same as pandas and DuckDB `quantile_cont`) as a window
  * aggregate over the group keys; rows that are unknown or have a null
  * value are masked out of the aggregate, not filtered away. The input is
  * read once, so a pipeline needs no cut before this stage, and the stage
  * adds one exchange. The trade-off: a window sorts each group inside one
  * task, so a heavy-hitter group (SANY ≈ 17% of rows in the golden
  * output) is one task's work. Output columns: the keys first, then the
  * rest of the input, then `outCol` (the order of the left join on the
  * keys this replaces).
  */
object Outliers {

  /** Add `outCol` ∈ {yes, no, unknown}: unknown when `unknownCond` or a key
    * is null; yes when value ≥ hi×median or ≤ lo×median of its `keys`
    * group; else no. */
  def markOutliers(
      df: DataFrame,
      valueCol: String,
      keys: Seq[String],
      unknownCond: Column,
      outCol: String = "outliers",
      lo: Double = 0.8,
      hi: Double = 1.2): DataFrame =
    mark(df, valueCol, keys, keys, unknownCond, outCol, lo, hi)

  /** Term-scoped outlier marking (reference py:287-316 with term=True):
    * medians are computed per (`keys` + `termCol`) group — e.g. per
    * (brand, model, month) instead of all-time.
    *
    * Under documented INTENT this is exactly `markOutliers` with the term
    * appended to the keys. With `compat.referenceBugs` the
    * reference's §2.12-4 behavior is reproduced: the upper bound compares
    * against the term-scoped median but the lower bound against the
    * all-terms `keys` median (py:304,312 omit the term filter), a second
    * window aggregate. */
  def markOutliersTerm(
      df: DataFrame,
      valueCol: String,
      keys: Seq[String],
      termCol: String,
      unknownCond: Column,
      outCol: String = "outliers",
      lo: Double = 0.8,
      hi: Double = 1.2,
      compat: CompatFlags = CompatFlags.intent): DataFrame =
    mark(df, valueCol, keys :+ termCol,
      if (compat.referenceBugs) keys else keys :+ termCol,
      unknownCond, outCol, lo, hi)

  /** `outCol` against the median of the `keys` group (unknown test and
    * upper bound) and of the `lowerKeys` group (lower bound), each taken
    * over the group's rows that are not `unknownCond`. A null key is
    * unknown, as a join on it never matches. */
  private def mark(df: DataFrame, valueCol: String, keys: Seq[String], lowerKeys: Seq[String],
      unknownCond: Column, outCol: String, lo: Double, hi: Double): DataFrame = {
    val v = col(valueCol)
    def median(ks: Seq[String]): Column =
      percentile(when(!unknownCond && v.isNotNull, v), lit(0.5))
        .over(Window.partitionBy(ks.map(col): _*))
    val lower = if (lowerKeys == keys) "__median" else "__lower_median"
    val meds = df.withColumns(Map("__median" -> median(keys), lower -> median(lowerKeys)))
    val (med, lowerMed) = (col("__median"), col(lower))
    val flag = when(unknownCond || keys.map(col(_).isNull).reduce(_ || _) || med.isNull,
        "unknown")
      .when(v >= med * hi || v <= lowerMed * lo, "yes")
      .otherwise("no")
    Project.select(meds, keys ++ df.columns.filterNot(keys.contains), Seq(outCol -> flag))
  }
}
