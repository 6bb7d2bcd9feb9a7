package graft.etl

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Barrier

/** The customs-analytics pipeline (SURVEY.md §3 E1): the reference's
  * notebook cells 4→83 re-expressed as one lazy DataFrame lineage.
  *
  * Input: the 27-column customs fact table (FIXTURES.md A1 schema, column
  * names as in the reference input sheet). Output adds the enrichment
  * columns of §1.3: description2, brand, model, type, capacity (nullable
  * double — sentinels only at export), remark (provenance), new/used,
  * unit weight in ton, capacity/type intervals, outliers, cny amounts.
  *
  * Every stage is a pure `DataFrame => DataFrame` that sets its columns in
  * one projection per dependency level (`Project`); Catalyst sees the whole
  * tree, so filters push to the scan and all dimension joins broadcast.
  * The two knowledge-base stages (2: model KB, 7: regex KB) collect their
  * KB at plan time and match it with literal expressions, at any KB size.
  * `run` / `runCrane` analyze the 13 stages once per KB version
  * (`CompiledPipeline`), not once per batch. Their output is one lazy plan
  * that stores no block: a second action runs the whole chain again, so a
  * caller that needs two actions caches it.
  * Shuffles: the two window aggregates, backward tagging over (brand, type)
  * and the outlier median over (brand, model) — everything else is
  * map-side. A window puts a whole group in one task, so a heavy-hitter
  * brand (SANY, ≈17% of rows) is sorted by a single task.
  */
object Pipeline {

  private val UNK = "UNKNOWN"

  /** Remark provenance vocabulary (reference py:102-275). */
  object Remark {
    val fully = "Fully match"
    val brandNoModel = "Brands existed but without models"
    val noMatch = "No match"
    val parts = "Parts"
    val uniqueRegex = "Unique model match with regex"
    val longestRegex = "Keep the longest from the multiple matched"
    val noBrandUniqueRegex = "No brand in description, and unique model match with regex"
    val noBrandLongestRegex = "No brand in description, and keep the longest from the multiple matched"
    val capacityInDesc = "Description contains working capacity"
    val inferredModel =
      "Description contains working capacity, and the model is inferenced with existed infomation"
    val qtyKeywords = "Description contains quantity keywords"
  }

  private def c(name: String): Column = col(s"`$name`")

  /** Stage 1 (cells 5-13): normalized text columns, numeric coercions,
    * low-amount filter, derived unit metrics. */
  def prepare(df: DataFrame): DataFrame = {
    val typed = Project(df)(
      // lenient like pd.to_datetime: accept ISO or slash dates, null otherwise
      "date" -> coalesce(
        try_to_timestamp(c("date")),
        try_to_timestamp(c("date"), lit("yyyy/MM/dd")),
        try_to_timestamp(c("date"), lit("MM/dd/yyyy"))),
      "qty" -> expr("try_cast(qty AS DOUBLE)"),
      "amount in usd" -> expr("try_cast(`amount in usd` AS DOUBLE)"),
      "weight in kg" -> expr("try_cast(`weight in kg` AS DOUBLE)"))
      .filter(c("amount in usd") >= 10000)
    // try_divide: a zero qty gives a null price like an unparseable one
    // (the price filter drops the row); ANSI `/` would fail the batch
    val priced = Project(typed)(
      "price in usd" -> try_divide(c("amount in usd"), c("qty")),
      "unit weight in ton" -> try_divide(c("weight in kg"), c("qty")) / 1000)
      .filter(c("price in usd") >= 10000)
    // preProcess already collapses+trims whitespace; a second collapseWs
    // would be a no-op regex pass over every row (measured on q40)
    // explicit null semantics: a null description becomes '' (like
    // supplier below), so downstream stages are total — the row survives
    // dropIrrelevant, matches nothing, and lands in remark = "No match"
    Project(priced)(
      "description2" -> Normalize.preProcess(
        Normalize.applyAliases(upper(coalesce(c("product description"), lit(""))),
          Normalize.customsAliases)),
      "supplier_norm" -> supplierNorm(c("supplier")))
  }

  /** Normalized supplier text for brand matching — shared by `prepare` and
    * Matching.rematchIndividual (which re-derives the column when a
    * pipeline-output row no longer carries it). */
  def supplierNorm(supplier: Column): Column =
    Normalize.preProcess(
      Normalize.applyAliases(upper(coalesce(supplier, lit(""))), Normalize.customsAliases))

  /** Stage 2 (J1+J2, py:61-115): brand containment match (first in KB
    * order), then model containment match (longest), remark provenance.
    *
    * The KB is collected at plan time and the whole match compiles to
    * codegen'd array expressions (Matching §expr): no join, no window,
    * the fact table is never shuffled. Collecting is the same bound a
    * broadcast join puts on the KB, which it also gathers on the driver
    * first. */
  def matchKnowledgeBase(df: DataFrame, modelKbRaw: DataFrame): DataFrame =
    matchKbRows(df, modelKbRows(modelKbRaw))

  /** The model KB as stage 2 matches it: `prepareModelKb`'s rows. */
  private[etl] def modelKbRows(modelKbRaw: DataFrame): Seq[Row] =
    KnowledgeBase.prepareModelKb(modelKbRaw)
      .select("brand", "model", "model_ref", "capacity", "type", "hp").collect().toSeq

  /** Stage 2 over the rows of `modelKbRows`. */
  private[etl] def matchKbRows(df: DataFrame, kb: Seq[Row]): DataFrame = {
    val brandOrder: Seq[String] = kb.map(_.getString(0)).toSeq.distinct
    val modelsByBrand: Map[String, Seq[String]] =
      kb.groupBy(_.getString(0)).map { case (b, rows) => b -> rows.map(_.getString(2)).toSeq }
    val infoByKey: Map[String, (String, Option[Double], String, Option[Double])] =
      kb.map { r =>
        s"${r.getString(0)}|${r.getString(2)}" ->
          ((r.getString(1), Option(r.get(3)).map(_.toString.toDouble),
            r.getString(4), Option(r.get(5)).map(_.toString.toDouble)))
      }.toMap
    val matched = df.withColumn("brand",
        Matching.firstMatchAuto(Seq(c("description2"), col("supplier_norm")), brandOrder))
      .withColumn("__model_ref",
        Matching.literalKeyedLongestMatch(col("brand"), c("description2"), modelsByBrand))
      .withColumn("__info",
        try_element_at(typedLit(infoByKey), concat_ws("|", col("brand"), col("__model_ref"))))
    Project(matched, "__model_ref", "__info")(
      "brand" -> coalesce(col("brand"), lit(UNK)),
      "remark" -> when(col("brand").isNull, Remark.noMatch)
        .when(col("__model_ref").isNull, Remark.brandNoModel)
        .otherwise(Remark.fully),
      "model" -> coalesce(col("__info._1"), lit(UNK)),
      "capacity" -> col("__info._2"),
      "type" -> coalesce(col("__info._3"), lit(UNK)),
      "hp" -> col("__info._4"))
  }

  /** Irrelevant-keyword vocabulary (P3, py:119-125 — excerpt of the 32). */
  val irrelevantKeywords: Seq[String] = Seq(
    "CARRIER", "LOADER", "ROLLER", "TELESCOPLADER", "FORKLIFT", "BULLDOZER",
    "TRACTOR", "HARVESTER", "DRILLING", "PILING", "GRADER", "PAVER")

  /** Stage 3 (P3): anti-filter rows whose description matches any
    * irrelevant keyword (case-insensitive substring). Contains-any over
    * plain words → the Aho-Corasick expression (one O(text) automaton scan
    * instead of a backtracking alternation regex). */
  def dropIrrelevant(df: DataFrame): DataFrame =
    df.filter(graft.functions.MultiContains
      .multiContainsFirst(c("description2"), irrelevantKeywords).isNull)

  /** Stage 4 (P5, py:127-144): keyword type overrides. */
  def applyTypeRules(df: DataFrame): DataFrame =
    df.withColumn("type",
      when(c("description2").contains("WHEEL EXCAVATOR"), "WHEEL EXCAVATOR")
        .when(c("description2").contains("WHEELED CRANE"), "WHEELED CRANE")
        .when(c("description2").contains("ROUGH TERRAIN CRANE"), "ROUGH-TERRAIN CRANE")
        .when(c("description2").contains("CRAWLER CRANE"), "CRAWLER CRANE")
        .otherwise(col("type")))

  /** Stage 5 (B3, py:146-158): used/new with NEW/UNUSED override. */
  def markUsedNew(df: DataFrame): DataFrame =
    df.withColumn("new/used",
      Enrich.usedNew(c("description2"),
        Seq("USED", "SECONDHAND", "OLD", "REFURBISH", "SECOND", "2ND"),
        Seq("NEW", "UNUSED")))

  /** Stage 6 (py:161-162 + A7): parts marking. */
  def markParts(df: DataFrame): DataFrame =
    df.withColumn("remark",
      when(c("description2").rlike("PARTIAL|PARTY|\\bPARTS?\\b|ASSEMBLE|\\bSKD\\b|\\bCKD\\b"),
        Remark.parts).otherwise(col("remark")))

  /** Stage 7 (J3/J4 + F6, py:167-236): regex KB pass over still-unmatched
    * rows; brand-scoped when the brand is known, global otherwise; longest
    * findall match wins; capacity decoded per starting_point.
    *
    * The regex KB is collected at plan time (as for stage 2): every
    * pattern becomes a literal regex inside one fused expression
    * (`RegexMatch.literalRegexBest`), which returns the winner's ordinal —
    * zero joins, zero shuffles. Brand, category, starting point and
    * capacity regex are looked up by that ordinal in literal arrays, so
    * the plan grows by one array element per pattern and the pass is the
    * same at any KB size. Only a matched row runs its capacity regex. */
  def regexPass(df: DataFrame, regexKb: DataFrame,
      compat: CompatFlags = CompatFlags.intent): DataFrame =
    regexPassRows(df, regexKbRows(regexKb), compat)

  /** The regex KB as stage 7 matches it. */
  private[etl] def regexKbRows(regexKb: DataFrame): Seq[Row] =
    regexKb.select("brand", "model_regex", "capacity_regex", "category", "starting_point")
      .collect().toSeq

  /** Stage 7 over the rows of `regexKbRows`. */
  private[etl] def regexPassRows(df: DataFrame, kb: Seq[Row], compat: CompatFlags): DataFrame = {
    val rows = kb.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
        r.getInt(4)))
      .sortBy { case (_, pat, _, _, _) => (-pat.length, pat) } // longer patterns first (O2)
    if (rows.isEmpty) return df // no regex KB → stage is a no-op
    val todoCond = col("remark").isin(Remark.brandNoModel, Remark.noMatch)
    val patterns = rows.map { case (b, pat, _, _, _) =>
      (pat, -pat.length, col("brand") === lit(UNK) || col("brand") === lit(b))
    }.toSeq
    val best = RegexMatch.literalRegexBest(c("description2"), patterns, findallLongest = true)
    val ord = col("__rx.ord")
    val matched = col("__rx.matched")
    def byOrd(vals: Seq[Column]): Column = get(array(vals: _*), ord)
    val rxBrand = byOrd(rows.map(r => lit(r._1)).toSeq)
    val rxCategory = byOrd(rows.map(r => lit(r._4)).toSeq)
    val rxSp = byOrd(rows.map(r => lit(r._5)).toSeq)
    val rxCapReg = byOrd(rows.map(r => lit(r._3)).toSeq)
    val rxCapNum = get(regexp_extract_all(c("description2"), rxCapReg, lit(1)), lit(0))
    Project(df.withColumn("__rx", when(todoCond, best)), "__rx")(
      "remark" -> when(col("__rx").isNull, col("remark"))
        .when(col("brand") === UNK && col("__rx.n_matched") === 1, Remark.noBrandUniqueRegex)
        .when(col("brand") === UNK, Remark.noBrandLongestRegex)
        .when(col("__rx.n_matched") === 1, Remark.uniqueRegex)
        .otherwise(Remark.longestRegex),
      "model" ->
        when(col("__rx").isNotNull, Normalize.stripSpaces(matched)).otherwise(col("model")),
      "capacity" -> when(col("__rx").isNotNull && col("capacity").isNull,
        RegexMatch.decodeCapacity(rxCapNum, rxSp, compat)).otherwise(col("capacity")),
      "type" ->
        when(col("__rx").isNotNull && col("type") === UNK, rxCategory).otherwise(col("type")),
      "brand" ->
        when(col("__rx").isNotNull && col("brand") === UNK, rxBrand).otherwise(col("brand")))
  }

  /** Stage 8 (B4, py:239-252): capacity from "N TONS" in the description
    * for rows still lacking one. */
  def searchCapacity(df: DataFrame): DataFrame = {
    val cap = Enrich.extractDouble(c("description2"),
      "\\b(\\d+(?:\\.\\d+)?)\\s*(?:METRIC\\s*)?TONS?\\b")
    Project(df)(
      "remark" -> when(col("capacity").isNull && cap.isNotNull, Remark.capacityInDesc)
        .otherwise(col("remark")),
      "capacity" -> coalesce(col("capacity"), cap))
  }

  /** Stage 9 (J6, py:255-276): backward tagging — rows with known
    * (brand, type, capacity) but UNKNOWN model borrow the model of a
    * labeled row of the same brand+type with capacity within ±5%
    * (inclusive); among several, the smallest model name wins.
    *
    * One window aggregate over (brand, type) collects the group's labeled
    * (capacity, model) pairs; no self-join, so the input is read once and
    * needs no cut. A null type never matches, as in the band-join form. */
  def backwardTag(df: DataFrame): DataFrame = {
    val todo = col("model") === UNK && col("brand") =!= UNK &&
      col("capacity").isNotNull && col("type").isNotNull
    val cands = collect_set(when(col("model") =!= UNK && col("capacity").isNotNull,
        struct(col("capacity").as("c"), col("model").as("m"))))
      .over(Window.partitionBy("brand", "type"))
    val inBand = (x: Column) => x("c").between(col("capacity") * 0.95, col("capacity") * 1.05)
    val tagged = df.withColumn("__bt",
      when(todo, array_min(transform(filter(cands, inBand), x => x("m")))))
    Project(tagged, "__bt")(
      "remark" -> when(col("__bt").isNotNull, Remark.inferredModel).otherwise(col("remark")),
      "model" -> coalesce(col("__bt"), col("model")))
  }

  /** Stage 10 (A2, py:287-316): ±20% of same-(brand, model) median price;
    * used or unlabeled rows are 'unknown'. */
  def markOutliers(df: DataFrame): DataFrame =
    Outliers.markOutliers(df, "price in usd", Seq("brand", "model"),
      col("model") === UNK || col("capacity").isNull || col("new/used") === "used")

  /** Stage 11 (B1/B2, py:343-431): intervals from capacity, falling back
    * to unit weight. */
  def markIntervals(df: DataFrame, loadInterval: Int = 10): DataFrame = {
    val basis = when(col("capacity").isNotNull && col("capacity") > 0, col("capacity"))
      .otherwise(c("unit weight in ton"))
    Project(df)(
      "capacity interval" -> Enrich.dynamicBuckets(basis, loadInterval),
      "type interval" -> Enrich.fixedBuckets(basis))
  }

  /** Stage 12 (J5, py:320-340): USD→CNY per (year, month) of `date`.
    * `run` rejects a rate table that repeats a month
    * (`Rates.requireOneRatePerMonth`): the join would repeat its rows. */
  def convertCurrency(df: DataFrame, rates: DataFrame): DataFrame =
    Rates.convert(df, "date", rates,
      Seq("price in usd" -> "price in cny", "amount in usd" -> "amount in cny"))

  /** Stage 13 (F5 + P6, cells 57/60): model whitespace cleanup + sentinel
    * rendering for export (capacity stays a nullable double internally). */
  def finalize(df: DataFrame): DataFrame =
    Project(df, "supplier_norm")(
      "model" -> Normalize.stripSpaces(col("model")),
      "datasource" -> coalesce(c("datasource"), lit("pipeline")))

  /** The 13 stages; the interval stage is the only one that differs between
    * the excavator (E1) and crane (E2) modes. The barrier after the match
    * block keeps stage 3's filter above it: pushed into the scan, the filter
    * would compute `description2` a second time. */
  private[etl] def chain(fact: DataFrame, modelKb: Seq[Row], regexKb: Seq[Row], rates: DataFrame,
      mode: CompiledPipeline.Mode): DataFrame =
    fact.transform(prepare)
      .withColumn("datasource", lit("pipeline"))
      .transform(matchKbRows(_, modelKb))
      .drop("supplier_norm") // it exists only for brand matching
      .transform(df => GraftBridge.ofRows(df.sparkSession, Barrier(df.queryExecution.analyzed)))
      .transform(dropIrrelevant)
      .transform(applyTypeRules)
      .transform(markUsedNew)
      .transform(markParts)
      .transform(regexPassRows(_, regexKb, mode.compat))
      .transform(searchCapacity)
      .transform(Lookups.refineCraneType) // B5: >300T crawler → lattice boom
      .transform(backwardTag)
      .transform(markOutliers)
      .transform(df => if (mode.crane) markIntervalsCrane(df, mode.loadInterval)
        else markIntervals(df, mode.loadInterval))
      .transform(convertCurrency(_, rates))
      .transform(finalize)

  /** The whole E1 (excavator) composition, as one lazy plan: a caller that
    * needs two actions on it caches it. */
  def run(fact: DataFrame, modelKb: DataFrame, regexKb: DataFrame,
      rates: DataFrame, compat: CompatFlags = CompatFlags.intent): DataFrame =
    CompiledPipeline.run(fact, modelKb, regexKb, rates,
      CompiledPipeline.Mode(crane = false, loadInterval = 10, compat))

  /** Crane-mode intervals (B1 crane branch): capacity ONLY — no unit-
    * weight fallback — with `<wT` + w-wide bands; the fixed working-
    * scenario buckets also read capacity alone. */
  def markIntervalsCrane(df: DataFrame, loadInterval: Int = 50): DataFrame =
    Project(df)(
      "capacity interval" -> Enrich.craneBuckets(col("capacity"), loadInterval),
      "type interval" -> Enrich.fixedBuckets(col("capacity")))

  /** E2 (crane) entry point (SURVEY §3; reference cells 37/51-52/73):
    * the same 13 stages with crane interval rules and an optional EN↔CN
    * type-label translation merge (J8). `translations`: (key, translated).
    * Like `run`, one lazy plan: a caller that needs two actions caches it. */
  def runCrane(fact: DataFrame, modelKb: DataFrame, regexKb: DataFrame,
      rates: DataFrame, translations: Option[DataFrame] = None,
      loadInterval: Int = 50,
      compat: CompatFlags = CompatFlags.intent): DataFrame = {
    val out = CompiledPipeline.run(fact, modelKb, regexKb, rates,
      CompiledPipeline.Mode(crane = true, loadInterval, compat))
    translations.map(t => Lookups.translateLabels(out, "type", t, "type_translated"))
      .getOrElse(out)
  }
}
