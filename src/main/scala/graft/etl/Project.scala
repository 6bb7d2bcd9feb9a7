package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Column edits as one projection. Every `withColumn` re-analyses the whole
  * plan, so a stage that sets five columns with five calls pays that five
  * times; the stages set all columns of one dependency level in one call. */
private[etl] object Project {

  /** `df` with each (name, value) of `cols` replacing the column of that name
    * in place, or appended in the given order if the name is new; the `drop`
    * columns are left out. */
  def apply(df: DataFrame, drop: String*)(cols: (String, Column)*): DataFrame =
    select(df, df.columns.toSeq.filterNot(drop.contains), cols)

  /** The columns `names` of `df`, each replaced by its value in `cols` if it
    * has one, then the remaining `cols` in the given order. */
  def select(df: DataFrame, names: Seq[String], cols: Seq[(String, Column)]): DataFrame = {
    val byName = cols.toMap
    val kept = names.map(n => byName.get(n).fold(col(s"`$n`"))(_.as(n)))
    val added = cols.collect { case (n, v) if !names.contains(n) => v.as(n) }
    df.select(kept ++ added: _*)
  }
}
