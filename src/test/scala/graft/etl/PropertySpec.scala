package graft.etl

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Generative property tests (SURVEY.md §5.3). ScalaCheck generators with a
  * fixed seed drive one vectorized Spark evaluation per property — the
  * deterministic-seed variant of forAll (no scalatestplus bridge needed). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val dirtyText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.oneOf(",", "(", ")", "[", "]",
      ":", ";", "/", "*", " ", "  ", "\t", "\n", "\r", "\f", "\u000b",
      "\u00e9", "\u4e2d", " \t ", "**//"))).map(_.mkString)

  test("property: fused preProcess is bit-identical to the declarative chain") {
    val df = (samples(dirtyText, 400).map(Option(_)) ++ Seq(None)).toDF("s")
    val violations = df.filter(not(
      Normalize.preProcess($"s") <=> Normalize.preProcessDeclarative($"s")))
    assert(violations.count() == 0)
  }

  test("property: fused usedNew is bit-identical to the declarative chain") {
    val tokeny: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.oneOf("USED", "NEW", "OLD", "UNUSED", "2ND"),
      Gen.chooseNum(1000, 2100).map(_.toString),
      Gen.oneOf(" ", "  ", ""))).map(_.mkString(" "))
    // null and empty inputs included: `=!=` would null out on a one-sided
    // null, so the comparison is null-safe (<=>)
    val df = (samples(tokeny, 400).map(Option(_)) ++ Seq(None, Some(""), Some(" ")))
      .toDF("s")
    val used = Seq("USED", "SECONDHAND", "OLD", "REFURBISH", "SECOND", "2ND")
    val neu = Seq("NEW", "UNUSED")
    spark.conf.set("spark.sql.codegen.fallback", "false") // codegen path must compile
    try {
      val violations = df.filter(not(
        Enrich.usedNew($"s", used, neu) <=> Enrich.usedNewDeclarative($"s", used, neu)))
      assert(violations.count() == 0)
      // the agreed-on semantics, pinned: null text classifies as "new"
      val onNull = df.filter($"s".isNull)
        .select(Enrich.usedNew($"s", used, neu)).as[String].head()
      assert(onNull == "new")
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("property: chunk windows tile the token stream for any (chunk, stride)") {
    val gen = org.scalacheck.Gen.chooseNum(0, 40)
      .map(n => (1 to n).map(i => s"w$i").mkString(" "))
    val texts = samples(gen, 150)
    for ((chunk, stride) <- Seq((5, 3), (4, 4), (3, 1), (1, 1))) {
      val rows = texts.toDF("s")
        .select($"s", graft.ops.TextStats.chunkTokens($"s", chunk, stride).as("cs"))
        .collect()
      rows.foreach { r =>
        val toks = r.getString(0).split(" ", -1).toSeq
        val cs = r.getSeq[org.apache.spark.sql.Row](1)
          .sortBy(_.getInt(0)).map(_.getString(1))
        // window w is exactly tokens[w·stride, w·stride+chunk)
        cs.zipWithIndex.foreach { case (c, w) =>
          assert(c == toks.slice(w * stride, w * stride + chunk).mkString(" ")) }
        // windows cover every token, with no superfluous trailing window
        assert((cs.size - 1) * stride + chunk >= toks.size)
        if (cs.size > 1) assert((cs.size - 2) * stride + chunk < toks.size)
      }
    }
  }

  test("property: preProcess is idempotent on arbitrary dirty text") {
    val df = samples(dirtyText).toDF("s")
    val violations = df.filter(
      Normalize.preProcess(Normalize.preProcess($"s")) =!= Normalize.preProcess($"s"))
    assert(violations.count() == 0)
  }

  test("property: preProcess output is clean (no banned chars, no ws runs, upper)") {
    val df = samples(dirtyText).toDF("s")
    val out = df.select(Normalize.preProcess($"s").as("o"))
    assert(out.filter($"o".rlike("[,()\\[\\]:;/*]") || $"o".rlike("\\s\\s") ||
      $"o" =!= upper($"o")).count() == 0)
  }

  test("property: buckets are total and consistent with their bounds") {
    val vals = samples(Gen.chooseNum(-50.0, 500.0), 500)
    val df = vals.toDF("v").select($"v",
      Enrich.fixedBuckets($"v").as("b"), Enrich.dynamicBuckets($"v", 10).as("d"))
    // total: no nulls ever
    assert(df.filter($"b".isNull || $"d".isNull).count() == 0)
    // fixed-bucket membership is consistent with the numeric bounds
    val rows = df.as[(Double, String, String)].collect()
    rows.foreach { case (v, b, _) =>
      val expected =
        if (v <= 0) "UNKNOWN" else if (v < 5) "<5T" else if (v < 10) "5-10T"
        else if (v < 30) "10-30T" else if (v < 70) "30-70T"
        else if (v < 90) "70-90T" else "≥90T"
      assert(b == expected, s"v=$v")
    }
  }

  test("property: outlier flags are a trichotomy and 'unknown' only when marked") {
    val gen = for {
      k <- Gen.oneOf[String]("a", "b", "c", null)
      v <- Gen.chooseNum(1.0, 1000.0)
      unk <- Gen.oneOf(true, false)
    } yield (k, v, unk)
    val df = samples(gen, 300).toDF("k", "v", "unk")
    val out = Outliers.markOutliers(df, "v", Seq("k"), $"unk" === true)
    assert(out.filter(!$"outliers".isin("yes", "no", "unknown")).count() == 0)
    assert(out.filter($"unk" === true && $"outliers" =!= "unknown").count() == 0)
    // a null key never matches a median: its rows stay unknown
    assert(out.filter($"k".isNull).count() > 0)
    assert(out.filter($"k".isNull && $"outliers" =!= "unknown").count() == 0)
    assert(out.filter($"k".isNotNull && $"unk" === false && $"outliers" === "unknown")
      .count() == 0)
  }

  test("property: longest containment match is always >= any other match length") {
    val kws = Seq("ab", "abc", "abcd", "b", "bcd", "zz")
    val texts = samples(Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "z")).map(_.mkString), 300)
    val df = texts.toDF("t")
    val got = df.select($"t",
      Matching.literalLongestMatch($"t", kws).as("m"),
      graft.functions.MultiContains.multiContainsLongest($"t", kws).as("ac"))
      .as[(String, Option[String], Option[String])].collect()
    got.foreach { case (t, m, ac) =>
      assert(m == ac, s"automaton disagrees on '$t'")
      val contained = kws.filter(t.contains)
      m match {
        case None => assert(contained.isEmpty)
        case Some(best) =>
          assert(contained.contains(best))
          assert(contained.forall(_.length <= best.length))
      }
    }
  }
}
