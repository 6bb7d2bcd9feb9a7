package graft.etl

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AnalyticsHistorySpec extends SparkSpec {
  import spark.implicits._

  val sales = Seq(("A", 60.0), ("B", 25.0), ("C", 6.0), ("D", 5.0), ("E", 4.0))
    .toDF("brand", "amount")

  test("sharesTable: shares sum to 100") {
    val sh = Analytics.sharesTable(sales, "brand", $"amount")
    val total = sh.agg(sum($"share")).as[Double].head()
    assert(math.abs(total - 100.0) < 1e-9)
  }

  test("regroupLongTail folds the <20% cumulative tail into OTHERS") {
    val sh = Analytics.sharesTable(sales, "brand", $"amount")
    val re = Analytics.regroupLongTail(sh, "brand", "total_value", "share")
      .select($"brand", $"share").as[(String, Double)].collect().toMap
    // ascending shares: E 4, D 5(cum 9), C 6(cum 15) all < 20 cum → OTHERS;
    // B cum 40 stays
    assert(re.keySet == Set("A", "B", "OTHERS"))
    assert(math.abs(re("OTHERS") - 15.0) < 1e-9)
    assert(math.abs(re.values.sum - 100.0) < 1e-9)
  }

  test("bottomLabelsKey orders OTHERS/UNKNOWN last") {
    val df = Seq("X", "OTHERS", "UNKNOWN", "Y").toDF("brand")
    val got = df.orderBy(Analytics.bottomLabelsKey("brand", Seq("OTHERS", "UNKNOWN")), $"brand")
      .as[String].collect()
    assert(got.toSeq == Seq("X", "Y", "OTHERS", "UNKNOWN"))
  }

  test("topK is deterministic under ties") {
    val df = Seq(("A", 10.0), ("B", 10.0), ("C", 1.0)).toDF("g", "v")
    val got = Analytics.topK(df, "g", $"v", 2).select("g").as[String].collect()
    assert(got.toSeq == Seq("A", "B"))
  }

  test("history append tolerates schema drift; colDiff reports it") {
    val hist = Seq((1L, "a", "p1")).toDF("id", "x", "extra")
    val fresh = Seq((2L, "b")).toDF("id", "x")
    val (l, r) = History.colDiff(hist, fresh)
    assert(l == Seq("extra") && r.isEmpty)
    val u = History.appendHistory(hist, fresh)
    assert(u.count() == 2 && u.columns.toSet == Set("id", "x", "extra"))
  }
}

class KnowledgeBaseOutliersSpec extends graft.SparkSpec {
  import spark.implicits._

  test("K1 updateRegexKb: union, dedup on (brand, pattern), longest-first priority") {
    val kb = Seq(("A", "a\\d+", "x", "T", 0)).toDF("brand", "model_regex", "capacity_regex", "category", "starting_point")
    val fresh = Seq(("A", "a\\d+", "y", "T", 1), ("B", "bbbb\\d+", "z", "T", 0))
      .toDF("brand", "model_regex", "capacity_regex", "category", "starting_point")
    val got = KnowledgeBase.updateRegexKb(kb, fresh)
    assert(got.count() == 2) // (A, a\d+) deduped, first wins
    val pri = got.orderBy("priority").select("brand").as[String].collect()
    assert(pri.head == "B") // longer pattern → more negative priority → first
    assert(got.filter($"brand" === "A").select("capacity_regex").as[String].head() == "x")
  }
}
