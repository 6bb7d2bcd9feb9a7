package graft.etl

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{MultiContainsFirst, PreProcessExpr}
import graft.plans.Barrier

/** End-to-end pipeline test on a customs-shaped fixture (FIXTURES.md A1):
  * each row exercises one matching path of SURVEY.md §3 E2. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def factRow(id: String, desc: String, supplier: String, amount: Double,
      qty: Double, kg: Double, date: String) =
    (id, desc, supplier, amount, qty, kg, date, "84295200", "202405")

  lazy val fact = Seq(
    // full KB match (brand in desc, model longest)
    factRow("r1", "KOMATSU PC200-8 EXCAVATOR YEAR 2020", "MOKAC CO", 120000, 1, 20000, "2024/05/01"),
    // brand via supplier alias (XUZHOU → XCMG), model via regex
    factRow("r2", "EXCAVATOR XE215C UNIT", "XUZHOU CONSTRUCTION MACHINERY CO", 110000, 1, 21000, "2024/05/02"),
    // brand known, no model → regex pass (brand-scoped)
    factRow("r3", "SANY EXCAVATOR SY365H GOOD", "SOMECO", 105000, 1, 36500, "2024/05/03"),
    // no brand anywhere → global regex (KOMATSU pattern)
    factRow("r4", "MACHINE PC2000 HEAVY", "NOBRAND LTD", 500000, 1, 200000, "2024/05/04"),
    // no match at all
    factRow("r5", "MYSTERY DEVICE", "NOBRAND LTD", 90000, 1, 15000, "2024/05/05"),
    // used marker + year token
    factRow("r6", "USED KOMATSU PC200-8 YEAR 2015", "MOKAC CO", 95000, 1, 20000, "2024/05/06"),
    // irrelevant keyword → dropped
    factRow("r7", "WHEEL LOADER BIG", "MOKAC CO", 100000, 1, 9000, "2024/05/07"),
    // below amount threshold → dropped
    factRow("r8", "KOMATSU PC200-8", "MOKAC CO", 5000, 1, 20000, "2024/05/08"),
    // capacity from description text (brand known, no model, no regex hit)
    factRow("r9", "HITACHI SPECIAL 25 TONS RIG", "SOMECO", 130000, 1, 25000, "2024/05/09"),
    // parts row
    factRow("r10", "KOMATSU SPARE PARTS SKD", "MOKAC CO", 60000, 1, 3000, "2024/05/10"))
    .toDF("declaration number", "product description", "supplier", "amount in usd",
      "qty", "weight in kg", "date", "hs code", "month")

  /** `fact` read back from parquet: over a local relation the optimizer
    * folds the stages below the barrier into new local rows, and a plan
    * equal to `out`'s is answered from its cache. */
  private lazy val scanned = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_fact").resolve("f").toString
    fact.write.parquet(dir)
    spark.read.parquet(dir)
  }

  lazy val out = Pipeline.run(fact,
    KnowledgeBase.sampleModelKb(spark), KnowledgeBase.sampleRegexKb(spark),
    KnowledgeBase.sampleRates(spark)).cache()

  private def row(id: String) =
    out.filter($"`declaration number`" === id).collect().headOption
      .map(r => out.columns.zip(r.toSeq).toMap)

  test("filters: low-amount and irrelevant rows dropped") {
    val ids = out.select($"`declaration number`").as[String].collect().toSet
    assert(!ids.contains("r7") && !ids.contains("r8"))
    assert(ids.size == 8)
  }

  test("full KB match path") {
    val r = row("r1").get
    assert(r("brand") == "KOMATSU" && r("model") == "PC200-8")
    assert(r("type") == "EXCAVATOR" && r("capacity") == 20.0)
    assert(r("remark") == Pipeline.Remark.fully)
    assert(r("new/used") == "new")
  }

  test("supplier alias feeds brand match; regex completes the model") {
    val r = row("r2").get
    assert(r("brand") == "XCMG")
    assert(r("model") == "XE215C")
    assert(r("capacity") == 21.5) // starting_point 0: 215/10
  }

  test("brand-scoped regex pass with capacity decode") {
    val r = row("r3").get
    assert(r("brand") == "SANY" && r("model") == "SY365H")
    assert(r("remark") == Pipeline.Remark.uniqueRegex)
    assert(r("capacity") == 36.5)
  }

  test("global regex pass labels brand from the pattern table") {
    val r = row("r4").get
    assert(r("brand") == "KOMATSU" && r("model") == "PC2000")
    assert(r("remark") == Pipeline.Remark.noBrandUniqueRegex)
  }

  test("regex pass: same rows at any KB size (padded to 65 and 1,000 patterns)") {
    val extra = Seq(
      // no brand; two patterns match → longest of several
      factRow("x1", "EXCAVATOR PC200 AND PC300-7 LOT", "NOBRAND LTD", 150000, 1, 30000,
        "2024/05/12"),
      // brand known, two findall hits of one pattern → unique match, longest hit
      factRow("x2", "SANY UNIT SY75 AND SY135C", "SOMECO", 140000, 1, 13500, "2024/05/13"),
      // starting_point 3 decode
      factRow("x3", "HITACHI ZX 210 EXCAVATOR", "SOMECO", 125000, 1, 21000, "2024/05/14"))
      .toDF(fact.columns: _*)
    val beforeRegex = fact.union(extra)
      .transform(Pipeline.prepare)
      .transform(Pipeline.matchKnowledgeBase(_, KnowledgeBase.sampleModelKb(spark)))
      .transform(Pipeline.dropIrrelevant)
      .transform(Pipeline.applyTypeRules)
      .transform(Pipeline.markUsedNew)
      .transform(Pipeline.markParts)
    def regexRows(kb: Seq[(String, String, String, String, Int)]) =
      Pipeline.regexPass(beforeRegex,
          kb.toDF("brand", "model_regex", "capacity_regex", "category", "starting_point"))
        .select($"`declaration number`", $"remark", $"brand", $"model", $"type", $"capacity")
        .orderBy($"`declaration number`").collect().toSeq
    val base = regexRows(KnowledgeBase.sampleRegexKbRows)
    val R = Pipeline.Remark
    assert(Set(R.uniqueRegex, R.noBrandUniqueRegex, R.noBrandLongestRegex)
      .subsetOf(base.map(_.getString(1)).toSet))
    // lower-case patterns never match the upper-cased description; their
    // lengths (6 to 31) interleave with the real patterns' (11 to 19), so the
    // real patterns' ordinals shift, and a wrong lookup would read the
    // padding's brand, category or capacity regex
    val brands = Seq("KOMATSU", "SANY", "HITACHI", "XCMG", "CATERPILLAR", "PADCO")
    for (n <- Seq(65, 1000)) {
      val pad = (0 until n - KnowledgeBase.sampleRegexKbRows.size).map { i =>
        (brands(i % brands.size), s"never${"q" * (i % 23)}$i", "(\\d)", "PADCAT", 3)
      }
      assert(regexRows(KnowledgeBase.sampleRegexKbRows ++ pad) == base, s"at $n patterns")
    }
  }

  test("no-match rows keep UNKNOWNs") {
    val r = row("r5").get
    assert(r("brand") == "UNKNOWN" && r("model") == "UNKNOWN")
    assert(r("remark") == Pipeline.Remark.noMatch)
  }

  test("used detection from marker tokens") {
    assert(row("r6").get("new/used") == "used")
  }

  test("capacity extracted from description text") {
    val r = row("r9").get
    assert(r("capacity") == 25.0)
    assert(r("remark") == Pipeline.Remark.capacityInDesc)
  }

  test("parts remark wins over match provenance") {
    assert(row("r10").get("remark") == Pipeline.Remark.parts)
  }

  test("intervals, outliers and cny columns are populated") {
    val r = row("r1").get
    assert(r("capacity interval") == "20-30T")
    assert(r("type interval") == "10-30T")
    assert(Set("yes", "no", "unknown").contains(r("outliers").asInstanceOf[String]))
    val cny = r("amount in cny").asInstanceOf[Double]
    assert(math.abs(cny - 120000 * (6.7 + 0.4 + 5 * 0.005)) < 1e-6)
  }

  test("used rows and unlabeled rows get outliers=unknown") {
    assert(row("r6").get("outliers") == "unknown")
    assert(row("r5").get("outliers") == "unknown")
  }

  test("K2 over actual pipeline output: supplier_norm is re-derived, not required") {
    // `out` comes from Pipeline.run, whose runStages drops supplier_norm —
    // the documented K2 flow (re-match pipeline output by remark class).
    assert(!out.columns.contains("supplier_norm"))
    val rematched = Matching.rematchIndividual(out,
      col("remark") === Pipeline.Remark.noMatch, KnowledgeBase.sampleModelKb(spark))
    assert(!rematched.columns.contains("supplier_norm")) // not leaked into output
    assert(rematched.count() == out.count())
    // r2's brand came from the supplier alias (XUZHOU → XCMG); force it
    // through the rematch path and prove the supplier-derived brand survives
    val viaSupplier = Matching.rematchIndividual(out,
      $"`declaration number`" === "r2", KnowledgeBase.sampleModelKb(spark))
      .filter($"`declaration number`" === "r2")
      .select($"brand").as[String].head()
    assert(viaSupplier == "XCMG")
  }

  test("a zero qty drops only its own row; the batch still runs (ANSI division)") {
    // qty arrives as text from the CSV reader; a zero parses, unlike "n/a"
    val zero = Seq(factRow("r11", "KOMATSU PC200-8 EXCAVATOR", "MOKAC CO", 120000, 0,
        20000, "2024/05/11"))
      .toDF(fact.columns: _*)
    val batch = fact.union(zero).withColumn("qty", $"qty".cast("string"))
    val ids = Pipeline.run(batch, KnowledgeBase.sampleModelKb(spark),
        KnowledgeBase.sampleRegexKb(spark), KnowledgeBase.sampleRates(spark))
      .select($"`declaration number`").as[String].collect()
    assert(ids.sorted.toSeq == out.select($"`declaration number`").as[String].collect()
      .sorted.toSeq)
    assert(!ids.contains("r11"))
  }

  private def samples = (KnowledgeBase.sampleModelKb(spark), KnowledgeBase.sampleRegexKb(spark),
    KnowledgeBase.sampleRates(spark))

  test("run and runCrane start no job before an action and fence the lineage once") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      val (kb, rx, rates) = samples
      val translations = Seq(("CRAWLER CRANE", "履带起重机")).toDF("key", "translated")
      val batch = scanned // written and read before construction: its jobs are not construction's
      sc.setJobGroup("construct", "pipeline construction")
      val built = try Seq(Pipeline.run(batch, kb, rx, rates),
          Pipeline.runCrane(batch, kb, rx, rates, Some(translations)))
        finally sc.clearJobGroup()
      // listener events arrive in order: once this job is seen, every job
      // started during construction has been seen too
      sc.setJobGroup("fence", "fence")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("fence"))
      assert(!groups.contains("construct"), s"jobs started: ${groups.toArray.toSeq}")
      built.foreach { df =>
        val plan = df.queryExecution.optimizedPlan
        assert(plan.collect { case r: LogicalRDD => r }.isEmpty)
        assert(plan.collect { case b: Barrier => b }.size == 1)
      }
    } finally sc.removeSparkListener(listener)
  }

  test("the barrier keeps stage 3's filter above the match block") {
    val (kb, rx, rates) = samples
    val qe = Pipeline.run(scanned, kb, rx, rates).queryExecution
    def preProcesses(p: LogicalPlan) =
      p.flatMap(_.expressions.flatMap(_.collect { case e: PreProcessExpr => e })).size
    // pushed into the scan, the filter would evaluate description2 a second time
    assert(preProcesses(qe.optimizedPlan) == preProcesses(qe.analyzed))
    val irrelevant = qe.optimizedPlan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[MultiContainsFirst]) => f
    }
    assert(irrelevant.size == 1)
    assert(irrelevant.head.child.isInstanceOf[Barrier], irrelevant.head.child.nodeName)
  }

  test("run and runCrane leave no persistent RDD behind their action") {
    val (kb, rx, rates) = samples
    val sc = spark.sparkContext
    for (build <- Seq(() => Pipeline.run(scanned, kb, rx, rates),
        () => Pipeline.runCrane(scanned, kb, rx, rates))) {
      // ids, not the count: the cleaner may unpersist an earlier suite's RDDs meanwhile
      val before = sc.getPersistentRDDs.keySet
      assert(build().count() > 0)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    }
  }

  test("a rate table that repeats a month is rejected; with one rate a month no row repeats") {
    val (kb, rx) = (KnowledgeBase.sampleModelKb(spark), KnowledgeBase.sampleRegexKb(spark))
    // the left join to the rates would return each May row twice
    val twice = Rates.rateTable(spark, Seq((2024, 4, 7.0), (2024, 5, 7.1), (2024, 5, 7.2)))
    val e = intercept[IllegalArgumentException](Pipeline.run(fact, kb, rx, twice))
    assert(e.getMessage.contains("(2024, 5) × 2"), e.getMessage)
    val ids = (df: DataFrame) => df.select($"`declaration number`").as[String].collect().sorted.toSeq
    val filtered = fact.transform(Pipeline.prepare).transform(Pipeline.dropIrrelevant)
    assert(ids(Pipeline.run(fact, kb, rx, KnowledgeBase.sampleRates(spark))) == ids(filtered))
  }

  test("output schema carries the §1.3 enrichment columns") {
    val need = Seq("description2", "brand", "model", "type", "capacity",
      "capacity interval", "type interval", "new/used", "unit weight in ton",
      "price in cny", "amount in cny", "outliers", "hp", "remark", "datasource")
    assert(need.forall(out.columns.contains))
  }
}

class CranePipelineSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("crane mode: capacity-only intervals + type translation merge") {
    def factRow(id: String, desc: String, kg: Double) =
      (id, desc, "MOKAC CO", 900000.0, 1.0, kg, "2024/05/01", "84261100", "202405")
    val fact = Seq(
      factRow("c1", "GROVE RT765E ROUGH TERRAIN CRANE", 60000.0),
      factRow("c2", "KOMATSU MYSTERY RIG", 50000.0)) // no capacity → UNKNOWN, no weight fallback
      .toDF("declaration number", "product description", "supplier", "amount in usd",
        "qty", "weight in kg", "date", "hs code", "month")
    val translations = Seq(("ROUGH-TERRAIN CRANE", "越野轮胎起重机")).toDF("key", "translated")
    val out = Pipeline.runCrane(fact,
      KnowledgeBase.sampleModelKb(spark), KnowledgeBase.sampleRegexKb(spark),
      KnowledgeBase.sampleRates(spark), Some(translations), loadInterval = 50)
    val r1 = out.filter($"`declaration number`" === "c1").collect().head
    val m1 = out.columns.zip(r1.toSeq).toMap
    assert(m1("capacity interval") == "50-100T") // 60T in a 50-wide band
    assert(m1("type_translated") == "越野轮胎起重机")
    val m2 = out.columns.zip(
      out.filter($"`declaration number`" === "c2").collect().head.toSeq).toMap
    assert(m2("capacity interval") == "UNKNOWN") // crane: NO weight fallback
    assert(m2("type interval") == "UNKNOWN")
  }

  test("K2: scoped re-match only touches the targeted rows") {
    val df = Seq(
      ("r1", "KOMATSU PC200-8 UNIT", "S", "No match"),
      ("r2", "SANY SY215C UNIT", "S", "Fully match"))
      .toDF("declaration number", "description2", "supplier_norm", "remark")
      .withColumn("brand", lit("STALE")).withColumn("model", lit("STALE"))
      .withColumn("capacity", lit(null).cast("double"))
      .withColumn("type", lit("STALE")).withColumn("hp", lit(null).cast("double"))
    val out = Matching.rematchIndividual(df, col("remark") === "No match",
      KnowledgeBase.sampleModelKb(spark))
    val byId = out.select($"`declaration number`", $"brand", $"model", $"remark")
      .as[(String, String, String, String)].collect().map(r => r._1 -> r).toMap
    assert(byId("r1")._2 == "KOMATSU" && byId("r1")._3 == "PC200-8"
      && byId("r1")._4 == Pipeline.Remark.fully)
    assert(byId("r2")._2 == "STALE") // untouched
  }
}
