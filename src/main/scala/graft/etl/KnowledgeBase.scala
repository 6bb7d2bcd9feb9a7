package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Knowledge-base (dimension) tables for the customs pipeline and their
  * maintenance ops (SURVEY.md §1.1, §2.10).
  *
  * In the reference these load from xlsx (notebook cells 14/24); here they
  * are plain DataFrames the caller supplies (parquet/CSV/literal). The
  * sample tables below are small synthetic stand-ins with the same SHAPE
  * (brand, model, capacity, type, model_ref, hp / brand, model_regex,
  * capacity_regex, category, starting_point) for tests and demos.
  */
object KnowledgeBase {

  /** Normalize a model KB: derive `model_ref` (normalized model string)
    * WHEN the KB doesn't already carry one — the reference's df_ref has an
    * explicit model_ref column (SURVEY §1.1: brand, model, capacity, type,
    * model_ref, hp) so the author can map spaced/aliased description forms
    * ("330 GC") to one canonical model ("330GC"). Also adds `ref_order`
    * (row precedence for J1's first-match tie-break), mirroring
    * `data_preperation`'s KB half (py:46-58). */
  def prepareModelKb(kb: DataFrame): DataFrame = {
    val withRef =
      if (kb.columns.contains("model_ref"))
        kb.withColumn("model_ref",
          Normalize.collapseWs(Normalize.preProcess(col("model_ref"))))
      else
        kb.withColumn("model_ref", Normalize.collapseWs(Normalize.preProcess(col("model"))))
    withRef.withColumn("ref_order", monotonically_increasing_id())
  }

  /** Letter↔digit boundary regex ("330GC" → boundary between 0 and G). */
  private val letterDigitBoundary = "(?<=[A-Za-z])(?=\\d)|(?<=\\d)(?=[A-Za-z])"

  /** KB-maintenance op: expand each model row with its spaced model_ref
    * variant, so containment matching also catches "MODEL 330 GC" style
    * descriptions. Original rows keep their (possibly explicit) refs. */
  def expandModelRefVariants(kb: DataFrame): DataFrame = {
    val base =
      if (kb.columns.contains("model_ref")) kb
      else kb.withColumn("model_ref", col("model"))
    // codegen'd regexp_replace, not a UDF: a space at every letter↔digit
    // boundary ("330GC" → "330 GC", "TE20HD" → "TE 20 HD"), the
    // description-side form the reference's hand-maintained model_ref encodes
    val variants = base
      .withColumn("model_ref", regexp_replace(col("model"), letterDigitBoundary, " "))
      .filter(col("model_ref") =!= col("model"))
    base.unionByName(variants)
  }

  /** KB-maintenance op: generate a literal regex KB from labeled
    * (brand, model[, category]) rows — pattern = regex-escaped model with
    * optional spaces at letter↔digit boundaries, so "R215" also matches
    * inside "FR215F 800 TRACK..." the way the reference's accumulated
    * regex sheet (K1, update_regex_df) does. capacity_regex captures
    * nothing usable → starting_point 2 (capacity stays unknown). */
  def regexKbFromModels(kb: DataFrame): DataFrame = {
    // regexp_replace chain, not a UDF: escape regex metachars, then allow
    // an optional space at letter↔digit boundaries (same replacement
    // semantics as Java replaceAll — both are Matcher.appendReplacement)
    def toPattern(model: Column): Column =
      regexp_replace(
        regexp_replace(model, "([\\\\.\\[\\]{}()*+?^$|])", "\\\\$1"),
        letterDigitBoundary, " ?")
    val cat = if (kb.columns.contains("type")) col("type") else lit("UNKNOWN")
    kb.select(col("brand"), col("model"), cat.as("category"))
      .groupBy("brand", "model")
      .agg(first(col("category")).as("category"))
      .select(col("brand"), toPattern(col("model")).as("model_regex"),
        lit("(\\d+)").as("capacity_regex"), col("category"),
        lit(2).as("starting_point"))
      .filter(length(col("model_regex")) >= 4) // 1-3 char patterns over-match
  }

  /** K1 `update_regex_df` (py:435-447): append new patterns, dedup on
    * (brand, model_regex), longer patterns first (priority column — in
    * Spark ordering is a tie-break key, not an iteration order). */
  def updateRegexKb(kb: DataFrame, fresh: DataFrame): DataFrame =
    kb.unionByName(fresh, allowMissingColumns = true)
      .dropDuplicates("brand", "model_regex")
      .withColumn("priority", -length(col("model_regex")))

  /** Raw rows of the sample model KB — shared by `sampleModelKb` and the
    * q40 full-pipeline DuckDB oracle (queries.Q40Oracle), which re-derives
    * the same VALUES table so both engines see one source of truth. */
  val sampleModelKbRows: Seq[(String, String, Double, String, Double)] = Seq(
    ("KOMATSU", "PC200-8", 20.0, "EXCAVATOR", 148.0),
    ("KOMATSU", "PC78US-6N0", 7.8, "EXCAVATOR", 68.0),
    ("KOMATSU", "PC2000", 200.0, "EXCAVATOR", 976.0),
    ("SANY", "SY215C", 21.5, "EXCAVATOR", 158.0),
    ("SANY", "SY55C", 5.5, "EXCAVATOR", 58.0),
    ("HITACHI", "ZX200", 20.0, "EXCAVATOR", 150.0),
    ("HITACHI", "ZX330", 33.0, "EXCAVATOR", 250.0),
    ("CATERPILLAR", "320D", 20.0, "EXCAVATOR", 146.0),
    ("XCMG", "XE215C", 21.5, "EXCAVATOR", 160.0),
    ("GROVE", "RT765E", 60.0, "ROUGH-TERRAIN CRANE", 0.0))

  /** Small synthetic model KB (same shape as notebook cell 16). */
  def sampleModelKb(spark: SparkSession): DataFrame = {
    import spark.implicits._
    sampleModelKbRows.toDF("brand", "model", "capacity", "type", "hp")
  }

  /** Raw rows of the sample regex KB (see `sampleModelKbRows`). */
  val sampleRegexKbRows: Seq[(String, String, String, String, Int)] = Seq(
    ("KOMATSU", "PC ?\\d{2,4}(-\\d)?", "PC ?(\\d{2,4})", "EXCAVATOR", 0),
    ("SANY", "SY ?\\d{2,3}[A-Z]?", "SY ?(\\d{2,3})", "EXCAVATOR", 0),
    ("HITACHI", "ZX ?\\d{2,3}", "ZX ?(\\d{2,3})", "EXCAVATOR", 3),
    ("XCMG", "XE ?\\d{2,3}[A-Z]?", "XE ?(\\d{2,3})", "EXCAVATOR", 0),
    ("CATERPILLAR", "3\\d{2}[A-Z]{0,2}", "(3\\d{2})", "EXCAVATOR", 2))

  /** Small synthetic regex KB (same shape as notebook cell 27; the
    * starting_point codes follow cell 28's documented semantics). */
  def sampleRegexKb(spark: SparkSession): DataFrame = {
    import spark.implicits._
    sampleRegexKbRows.toDF("brand", "model_regex", "capacity_regex", "category", "starting_point")
  }

  /** EN→CN type-label translations for the J8 merge (reference cell 73's
    * translation sheet) — UNKNOWN is deliberately absent so the left-join
    * miss path (null type_translated) stays exercised. Shared with the q68
    * crane-pipeline oracle (Q40Oracle.craneSql). */
  val sampleTypeTranslationRows: Seq[(String, String)] = Seq(
    "EXCAVATOR" -> "挖掘机",
    "WHEEL EXCAVATOR" -> "轮式挖掘机",
    "CRAWLER CRANE" -> "履带起重机",
    "CRAWLER CRANE (LATTICE_BOOM)" -> "桁架臂履带起重机",
    "ROUGH-TERRAIN CRANE" -> "越野轮胎起重机",
    "WHEELED CRANE" -> "轮式起重机")

  /** Monthly USD→CNY rates shaped like the reference's dict (py:322-323). */
  def sampleRates(spark: SparkSession): DataFrame =
    Rates.rateTable(spark,
      for { y <- 2022 to 2024; m <- 1 to 12 } yield (y, m, 6.7 + (y - 2022) * 0.2 + m * 0.005))
}
