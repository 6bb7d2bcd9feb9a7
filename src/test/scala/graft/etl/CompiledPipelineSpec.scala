package graft.etl

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.Barrier

/** `Pipeline.run` / `runCrane` bind each batch to plans analyzed once per
  * KB version (`CompiledPipeline`). These specs pin what the memo key must
  * hold, against the pipeline composed from the public stage functions
  * with no memo, kept here as the reference. */
class CompiledPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val columns = Seq("declaration number", "product description", "supplier",
    "amount in usd", "qty", "weight in kg", "date", "hs code", "month")

  private def factRow(id: String, desc: String, supplier: String, amount: Double,
      kg: Double, date: String) =
    (id, desc, supplier, amount, 1.0, kg, date, "84295200", "202405")

  private val factRows = Seq(
    factRow("r1", "KOMATSU PC200-8 EXCAVATOR YEAR 2020", "MOKAC CO", 120000, 20000, "2024/05/01"),
    factRow("r2", "EXCAVATOR XE215C UNIT", "XUZHOU CONSTRUCTION MACHINERY CO", 110000, 21000,
      "2024/05/02"),
    factRow("r3", "SANY EXCAVATOR SY365H GOOD", "SOMECO", 105000, 36500, "2024/05/03"),
    factRow("r4", "MACHINE PC2000 HEAVY", "NOBRAND LTD", 500000, 200000, "2024/05/04"),
    factRow("r5", "MYSTERY DEVICE", "NOBRAND LTD", 90000, 15000, "2024/05/05"),
    factRow("r6", "USED KOMATSU PC200-8 YEAR 2015", "MOKAC CO", 95000, 20000, "2024/05/06"),
    factRow("r7", "WHEEL LOADER BIG", "MOKAC CO", 100000, 9000, "2024/05/07"),
    factRow("r9", "HITACHI SPECIAL 25 TONS RIG", "SOMECO", 130000, 25000, "2024/05/09"),
    factRow("r10", "KOMATSU SPARE PARTS SKD", "MOKAC CO", 60000, 3000, "2024-05-10"))

  /** The rows `ids` of the fixture, as a batch read on its own. */
  private def batch(ids: String*): DataFrame =
    factRows.filter(r => ids.isEmpty || ids.contains(r._1)).toDF(columns: _*)

  private lazy val fact = batch()

  private def kb = KnowledgeBase.sampleModelKb(spark)
  private def rkb = KnowledgeBase.sampleRegexKb(spark)
  private def rates = KnowledgeBase.sampleRates(spark)

  /** The 13 stages from their public functions, as one plain chain. */
  private def reference(fact: DataFrame): DataFrame =
    fact.transform(Pipeline.prepare)
      .withColumn("datasource", lit("pipeline"))
      .transform(Pipeline.matchKnowledgeBase(_, kb))
      .drop("supplier_norm")
      .transform(Pipeline.dropIrrelevant)
      .transform(Pipeline.applyTypeRules)
      .transform(Pipeline.markUsedNew)
      .transform(Pipeline.markParts)
      .transform(Pipeline.regexPass(_, rkb))
      .transform(Pipeline.searchCapacity)
      .transform(Lookups.refineCraneType)
      .transform(Pipeline.backwardTag)
      .transform(Pipeline.markOutliers)
      .transform(Pipeline.markIntervals(_))
      .transform(Pipeline.convertCurrency(_, rates))
      .transform(Pipeline.finalize)

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  private def id(i: String) = col("`declaration number`") === i

  test("a KB that grows compiles again, and the old KB gives the old rows again") {
    // matched by the fresh pattern alone: no sample brand or pattern fits it
    val z = Seq(factRow("z1", "ZOOMLION ZE205E EXCAVATOR", "NOBRAND LTD", 150000, 20500,
      "2024/05/20")).toDF(columns: _*)
    val fresh = Seq(("ZOOMLION", "ZE ?\\d{3}[A-Z]?", "ZE ?(\\d{3})", "EXCAVATOR", 0))
      .toDF("brand", "model_regex", "capacity_regex", "category", "starting_point")
    def labelOf(regexKb: DataFrame) =
      Pipeline.run(fact.union(z), kb, regexKb, rates).filter(id("z1"))
        .select("remark", "brand").as[(String, String)].head()
    val R = Pipeline.Remark
    assert(labelOf(rkb) == (R.noMatch -> "UNKNOWN"))
    // the sample KB's columns: only the rows tell the two versions apart
    val grown = KnowledgeBase.updateRegexKb(rkb, fresh).drop("priority")
    assert(labelOf(grown) == (R.noBrandUniqueRegex -> "ZOOMLION"))
    assert(labelOf(rkb) == (R.noMatch -> "UNKNOWN"))
  }

  test("the session time zone is part of the key: each zone parses dates in its own zone") {
    // `prepare` parses the date text as a time in the session zone
    try for (zone <- Seq("UTC", "Asia/Shanghai")) {
      spark.conf.set("spark.sql.session.timeZone", zone)
      same(Pipeline.run(fact, kb, rkb, rates), reference(fact))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("a fact with reordered or extra columns binds to a plan of its own schema") {
    same(Pipeline.run(fact, kb, rkb, rates), reference(fact))
    val reordered = fact.select(fact.columns.reverse.map(c => col(s"`$c`")).toSeq: _*)
    val extra = fact.withColumn("importer", concat(lit("I-"), col("`declaration number`")))
    for (f <- Seq(reordered, extra)) same(Pipeline.run(f, kb, rkb, rates), reference(f))
    assert(Pipeline.run(extra, kb, rkb, rates).filter(id("r1")).select("importer")
      .as[String].head() == "I-r1")
  }

  test("two batch outputs union and join as two reference chains' do") {
    val a = batch("r1", "r2", "r3", "r4", "r5")
    val b = batch("r1", "r2", "r6", "r9", "r10")
      .withColumn("amount in usd", col("`amount in usd`") * 2)
    val (ra, rb) = (Pipeline.run(a, kb, rkb, rates), Pipeline.run(b, kb, rkb, rates))
    val (fa, fb) = (reference(a), reference(b))
    same(ra.unionByName(rb), fa.unionByName(fb))
    // by column reference, and by alias
    def joined(x: DataFrame, y: DataFrame) =
      x.join(y, x("declaration number") === y("declaration number"))
        .select(x("declaration number"), x("brand"), x("amount in cny"), y("amount in cny"))
    def aliased(x: DataFrame, y: DataFrame) =
      x.as("x").join(y.as("y"), col("`x`.`declaration number`") === col("`y`.`declaration number`"))
        .select(col("`x`.`declaration number`"), col("`y`.`amount in cny`"))
    same(joined(ra, rb), joined(fa, fb))
    same(aliased(ra, rb), aliased(fa, fb))
    assert(joined(ra, rb).count() == 2)
  }

  test("a second run on equal KBs reuses the analyzed plans") {
    // a pattern no other test uses, so the first run compiles
    def rkbOnce = (KnowledgeBase.sampleRegexKbRows :+
        (("ONCEBRAND", "ONCE\\d{7}", "ONCE(\\d)", "EXCAVATOR", 0)))
      .toDF("brand", "model_regex", "capacity_regex", "category", "starting_point")
    def runs(tables: (DataFrame, DataFrame, DataFrame)): Long = {
      RuleExecutor.resetMetrics()
      Pipeline.run(fact, tables._1, tables._2, tables._3)
      RuleExecutor.getCurrentMetrics().numRuns
    }
    val first = runs((kb, rkbOnce, rates))
    val second = runs((kb, rkbOnce, rates)) // equal tables, new DataFrames
    assert(second * 3 < first, s"rule runs: first $first, second $second")
  }

  test("a miss reads each KB once, and compiles the rows it keyed") {
    val reads = spark.sparkContext.longAccumulator("regex KB rows read")
    // a pattern no other test uses, so this run compiles
    val rows = KnowledgeBase.sampleRegexKbRows :+
      (("READBRAND", "READ\\d{7}", "READ(\\d)", "EXCAVATOR", 0))
    val counted = spark.createDataFrame(spark.sparkContext
      .parallelize(rows.map(Row.fromTuple), 1).map { r => reads.add(1); r }, rkb.schema)
    same(Pipeline.run(fact, kb, counted, rates), reference(fact))
    assert(reads.sum == rows.size)
  }

  test("rates are bound per call: new rates on equal KBs give their own amounts") {
    val doubled = KnowledgeBase.sampleRates(spark).withColumn("__rate", col("__rate") * 2)
    def cny(r: DataFrame) = Pipeline.run(fact, kb, rkb, r).filter(id("r1"))
      .select("amount in cny").as[Double].head()
    assert(cny(doubled) == 2 * cny(rates))
  }

  test("misses install the barrier strategy on their session once") {
    // patterns no other test uses, so each run compiles
    for (i <- 1 to 2) {
      val grown = (KnowledgeBase.sampleRegexKbRows :+
          ((s"MISS${i}BRAND", s"MISS$i\\d{7}", s"MISS$i(\\d)", "EXCAVATOR", 0)))
        .toDF("brand", "model_regex", "capacity_regex", "category", "starting_point")
      same(Pipeline.run(fact, kb, grown, rates), reference(fact))
    }
    assert(spark.experimental.extraStrategies.count(_ == Barrier.PlanAsChild) == 1)
  }
}
