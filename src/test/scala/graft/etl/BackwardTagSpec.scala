package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `Pipeline.backwardTag` (one window aggregate over (brand, type)) against
  * the band self-join it replaced, kept here as the reference: labeled
  * (brand, type, capacity, model) rows broadcast-joined to the todo rows
  * within ±5% capacity, ties broken by `row_number` over the smallest model. */
class BackwardTagSpec extends SparkSpec {
  import spark.implicits._

  private val UNK = "UNKNOWN"
  private val tagged = Pipeline.Remark.inferredModel

  private def reference(df: DataFrame): DataFrame = {
    val known = df
      .filter(col("model") =!= UNK && col("capacity").isNotNull)
      .select(col("brand").as("bt_brand"), col("type").as("bt_type"),
        col("capacity").as("bt_capacity"), col("model").as("bt_model"))
      .distinct()
    val todoCond = col("model") === UNK && col("brand") =!= UNK && col("capacity").isNotNull
    val done = df.filter(!todoCond)
    val matched = Matching.bestMatchJoin(df.filter(todoCond), Seq("__row_id"), known,
      col("brand") === col("bt_brand") && col("type") === col("bt_type") &&
        col("bt_capacity").between(col("capacity") * 0.95, col("capacity") * 1.05),
      Seq(col("bt_model").asc_nulls_last), Map("bt_model" -> "bt_model"))
      .withColumn("remark",
        when(col("bt_model").isNotNull, tagged).otherwise(col("remark")))
      .withColumn("model", coalesce(col("bt_model"), col("model")))
      .drop("bt_model")
    done.unionByName(matched)
  }

  // (id, brand, type, capacity, model); every todo row has capacity 20, so
  // the inclusive band is [19, 21] (20 × 0.95 and 20 × 1.05 are exact)
  private val rows: Seq[(String, String, String, Option[Double], String)] = Seq(
    ("lo-label", "A", "T1", Some(19.0), "LO"),
    ("lo-todo", "A", "T1", Some(20.0), UNK),          // candidate on the lower bound
    ("hi-label", "A", "T2", Some(21.0), "HI"),
    ("hi-todo", "A", "T2", Some(20.0), UNK),          // candidate on the upper bound
    ("out-label-lo", "A", "T3", Some(18.99), "OUT1"),
    ("out-label-hi", "A", "T3", Some(21.01), "OUT2"),
    ("out-todo", "A", "T3", Some(20.0), UNK),         // both just outside the band
    ("tie-label-z", "A", "T4", Some(20.0), "ZX2"),
    ("tie-label-a", "A", "T4", Some(20.9), "AB1"),
    ("tie-todo", "A", "T4", Some(20.0), UNK),         // smaller model name wins
    ("nolabel-todo", "B", "T1", Some(20.0), UNK),     // group without a labeled row
    ("unk-label", UNK, "T1", Some(20.0), "UX"),
    ("unk-todo", UNK, "T1", Some(20.0), UNK),         // UNKNOWN brand is never tagged
    ("nulltype-label", "C", null, Some(20.0), "NT"),
    ("nulltype-todo", "C", null, Some(20.0), UNK),    // null type never matches
    ("nullcap-label", "D", "T1", None, "NC"),
    ("nullcap-todo", "D", "T1", None, UNK),           // null capacity is not todo
    ("nullcap-todo2", "D", "T1", Some(20.0), UNK))    // null-capacity label is no candidate

  private lazy val input = rows.toDF("id", "brand", "type", "capacity", "model")
    .withColumn("remark", lit("before"))
    .withColumn("__row_id", monotonically_increasing_id())

  private def result(df: DataFrame): Map[String, (String, String)] =
    df.select("id", "model", "remark").as[(String, String, String)].collect()
      .map { case (id, m, r) => id -> (m, r) }.toMap

  test("window form equals the band self-join on bounds, ties and null keys") {
    val got = result(Pipeline.backwardTag(input))
    assert(got == result(reference(input)))
    assert(got.size == rows.size)
    assert(got("lo-todo") == ("LO", tagged))
    assert(got("hi-todo") == ("HI", tagged))
    assert(got("tie-todo") == ("AB1", tagged))
    Seq("out-todo", "nolabel-todo", "unk-todo", "nulltype-todo", "nullcap-todo",
      "nullcap-todo2").foreach(id => assert(got(id) == (UNK, "before"), id))
    rows.filter(_._5 != UNK).foreach(r => assert(got(r._1) == (r._5, "before"), r._1))
  }

  test("keeps the input schema and column order") {
    assert(Pipeline.backwardTag(input).schema == input.schema)
  }
}
