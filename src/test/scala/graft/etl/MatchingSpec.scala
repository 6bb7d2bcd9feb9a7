package graft.etl

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MatchingSpec extends SparkSpec {
  import spark.implicits._

  val fact = Seq((1L, "KOMATSU PC200 EXCAVATOR"), (2L, "plain row"),
    (3L, "SANY AND KOMATSU BOTH")).toDF("id", "text")
  val dim = Seq(("KOMATSU", 1), ("SANY", 2)).toDF("brand", "ref_order")

  test("literalFirstMatch keeps first brand in reference order") {
    val brands = Seq("KOMATSU", "SANY")
    for (m <- Seq(Matching.literalFirstMatch(Seq($"text"), brands),
        Matching.firstMatchAuto(Seq($"text"), brands, automatonThreshold = 1))) {
      val got = fact.orderBy("id").select(m).as[Option[String]].collect()
      assert(got.toSeq == Seq(Some("KOMATSU"), None, Some("KOMATSU")))
    }
  }

  test("literalLongestMatch keeps longest match, deterministic on ties") {
    val models = Seq("PC200", "PC200-9", "PC200-8", "PC2")
    val f = Seq("KOMATSU PC200-8 MODEL", "PC200-9 OR PC200-8", "PC2").toDF("text")
    val want = Seq(Some("PC200-8"), Some("PC200-8"), Some("PC2"))
    val flat = f.select(Matching.literalLongestMatch($"text", models)).as[Option[String]]
    assert(flat.collect().toSeq == want)
    val keyed = f.select(Matching.literalKeyedLongestMatch(lit("KOMATSU"), $"text",
      Map("KOMATSU" -> models, "SANY" -> Seq("PC"))))
    assert(keyed.as[Option[String]].collect().toSeq == want)
  }

  test("unmatched fact rows survive with nulls (left semantics)") {
    val got = Matching.bestMatchJoin(fact, Seq("id"), dim,
      $"text".contains($"brand"), Seq($"ref_order".asc_nulls_last), Map("brand" -> "matched"))
      .orderBy("id").select("matched").as[Option[String]].collect()
    assert(got.toSeq == Seq(Some("KOMATSU"), None, Some("KOMATSU")))
  }
}
