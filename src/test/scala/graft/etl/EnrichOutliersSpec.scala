package graft.etl

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EnrichOutliersSpec extends SparkSpec {
  import spark.implicits._

  test("buckets: every value lands in exactly one label; boundaries correct") {
    val df = Seq(-1.0, 0.0, 0.1, 4.99, 5.0, 9.99, 10.0, 29.9, 30.0, 69.9, 70.0, 89.9, 90.0, 250.0)
      .toDF("v")
      .select($"v", Enrich.fixedBuckets($"v").as("b"), Enrich.dynamicBuckets($"v", 10).as("d"))
    val fixed = df.select("v", "b").as[(Double, String)].collect().toMap
    assert(fixed(-1.0) == "UNKNOWN" && fixed(0.0) == "UNKNOWN")
    assert(fixed(4.99) == "<5T" && fixed(5.0) == "5-10T")
    assert(fixed(29.9) == "10-30T" && fixed(30.0) == "30-70T")
    assert(fixed(89.9) == "70-90T" && fixed(90.0) == "≥90T")
    val dyn = df.select("v", "d").as[(Double, String)].collect().toMap
    assert(dyn(29.9) == "20-30T" && dyn(30.0) == "30-40T" && dyn(250.0) == "250-260T")
  }

  test("usedNew: year tokens and markers; NEW override wins") {
    val got = Seq(
      "EXCAVATOR 2015 MODEL",      // year token → used
      "USED MACHINE",               // marker (token) → used
      "2015 BUT UNUSED",            // override → new
      "BRAND 2019 THING",           // 2019 > hi → new
      "NOTHING SPECIAL").toDF("s")
      .select(Enrich.usedNew(lower($"s"), Seq("used", "second-hand"), Seq("new", "unused")))
      .as[String].collect()
    assert(got.toSeq == Seq("used", "used", "new", "new", "new"))
  }

  test("markOutliers: trichotomy and ±20% rule") {
    // group g: values 100 (x3) → median 100; 130 is yes-high; 80 is yes-low(≤0.8×100)
    // null key: a group of its own by value, but a join never matches it → unknown
    val df = Seq(("g", 100.0, false), ("g", 100.0, false), ("g", 100.0, false),
      ("g", 130.0, false), ("g", 80.0, false), ("g", 101.0, false),
      ("h", 55.0, true), (null, 60.0, false), (null, 200.0, false)).toDF("k", "v", "unk")
    val got = Outliers.markOutliers(df, "v", Seq("k"), $"unk" === true)
      .select("v", "outliers").as[(Double, String)].collect().toSet
    assert(got.contains((130.0, "yes")) && got.contains((80.0, "yes")))
    assert(got.contains((101.0, "no")) && got.contains((100.0, "no")))
    assert(got.contains((55.0, "unknown")))
    assert(got.contains((60.0, "unknown")) && got.contains((200.0, "unknown")))
  }

  test("markOutliers keeps the left-join column order: keys first, flag last") {
    val df = Seq((1.0, "g", "x")).toDF("v", "k", "other")
    assert(Outliers.markOutliers(df, "v", Seq("k"), lit(false)).columns.toSeq ==
      Seq("k", "v", "other", "outliers"))
    val term = Seq((1.0, "g", 2020)).toDF("v", "k", "term")
    Seq(CompatFlags.intent, CompatFlags.bugCompatible).foreach { compat =>
      assert(Outliers.markOutliersTerm(term, "v", Seq("k"), "term", lit(false),
        compat = compat).columns.toSeq == Seq("k", "term", "v", "outliers"))
    }
  }

  test("markOutliersTerm: §2.12-4 bug flag switches only the lower bound's scope") {
    // partkey g: 2020 → [100,100,100] (term med 100); 2021 → [200,300,400]
    // (term med 300); all-terms med 150. Row (2021, 200):
    //   intent: 200 ≤ 0.8·300 = 240 → yes (term-scoped lower bound)
    //   bug:    lower bound vs 0.8·150 = 120 → 200 is not below → no
    // null key or null term rows are unknown under both settings
    val df = Seq[(String, Option[Int], Double)](("g", Some(2020), 100.0),
      ("g", Some(2020), 100.0), ("g", Some(2020), 100.0), ("g", Some(2021), 200.0),
      ("g", Some(2021), 300.0), ("g", Some(2021), 400.0), ("g", None, 150.0),
      (null, Some(2021), 300.0)).toDF("k", "term", "v")
    def run(compat: CompatFlags) =
      Outliers.markOutliersTerm(df, "v", Seq("k"), "term", lit(false), compat = compat)
    def flag(compat: CompatFlags) = run(compat)
      .filter($"term" === 2021 && $"v" === 200.0)
      .select($"outliers").as[String].head()
    assert(flag(CompatFlags.intent) == "yes")
    assert(flag(CompatFlags.bugCompatible) == "no")
    Seq(CompatFlags.intent, CompatFlags.bugCompatible).foreach { compat =>
      val nullKeyed = run(compat).filter($"k".isNull || $"term".isNull)
        .select($"outliers").as[String].collect()
      assert(nullKeyed.toSeq == Seq("unknown", "unknown"))
    }
  }

  test("markOutliers matches pandas-style interpolated median") {
    // even count: median of (10, 20) = 15 → 19 is 'yes' (19 ≥ 1.2·15 = 18)
    val df = Seq(("g", 10.0), ("g", 20.0)).toDF("k", "v")
    val med = df.groupBy("k").agg(percentile($"v", lit(0.5))).as[(String, Double)].head()._2
    assert(med == 15.0)
  }

  test("extractInt / extractDouble / numberWord") {
    val r = Seq("THREE UNITS OF 25 TONS").toDF("s").select(
      Enrich.extractInt($"s", "(\\d+)\\s*TONS").as("t"),
      Enrich.numberWord($"s", Map("one" -> 1, "three" -> 3)).as("w"),
      Enrich.numberWord(lower($"s"), Map("one" -> 1, "three" -> 3)).as("wl"))
      .as[(Option[Int], Option[Int], Option[Int])].head()
    assert(r._1 == Some(25) && r._2 == None && r._3 == Some(3))
  }
}
