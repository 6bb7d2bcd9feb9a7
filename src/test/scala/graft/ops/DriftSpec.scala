package graft.ops

import graft.SparkSpec

class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("histogram clamps outliers to edge bins and zero-fills gaps") {
    val df = Seq(-5.0, 0.0, 1.0, 4.5, 99.0, 10.0).toDF("v")
    val h = Drift.histogram(df, "v", lo = 0.0, hi = 10.0, nbins = 5)
      .orderBy($"bin").select($"bin", $"n").as[(Int, Long)].collect()
    // bins of width 2: [-5,0]→bin0, 1→0, 4.5→2, 99→clamp bin4, 10→clamp bin4
    assert(h.toSeq == Seq((0, 3L), (1, 0L), (2, 1L), (3, 0L), (4, 2L)))
  }

  test("histogram ignores nulls and reports exact edges") {
    val df = Seq(Some(2.0), None, Some(6.0)).toDF("v")
    val h = Drift.histogram(df, "v", 0.0, 8.0, 4)
      .orderBy($"bin").select($"lo_edge", $"hi_edge", $"n")
      .as[(Double, Double, Long)].collect()
    assert(h.map(_._3).sum == 2)
    assert(h.head == ((0.0, 2.0, 0L)) || h.head._3 == 1L)
    assert(h.last._2 == 8.0)
  }

  test("chi-square drift: identical distributions give chi2 = 0") {
    val a = Seq("x", "x", "y").toDF("c")
    val out = Drift.chiSquareDrift(a, a, "c")
      .select($"chi2").as[Double].collect()
    assert(out.forall(_ == 0.0))
  }

  test("chi-square drift: new category gets NULL contrib, excluded from total") {
    val ref = Seq("x", "x", "y", "y").toDF("c")
    val cur = Seq("x", "y", "y", "z").toDF("c") // z unseen in ref
    val rows = Drift.chiSquareDrift(ref, cur, "c")
      .orderBy($"category")
      .select($"category", $"contrib", $"chi2")
      .as[(String, Option[Double], Double)].collect()
    val z = rows.find(_._1 == "z").get
    assert(z._2.isEmpty, "unseen category must have NULL contrib")
    // manual: p_ref(x)=.5 p_cur(x)=.25 -> .0625/.5 ; y: .5 vs .5 -> 0
    val expected = (0.25 - 0.5) * (0.25 - 0.5) / 0.5
    assert(math.abs(rows.head._3 - expected) < 1e-15)
    assert(rows.map(_._3).distinct.size == 1, "total repeated on every row")
  }

  test("chi-square drift: a bigger shift scores a bigger chi2") {
    val ref = Seq("en", "en", "de", "fr").toDF("lang")
    def chi2(cur: Seq[String]): Double =
      Drift.chiSquareDrift(ref, cur.toDF("lang"), "lang").select($"chi2").as[Double].head()
    val mild = chi2(Seq("en", "de"))
    val big = chi2(Seq("de", "de", "de", "zz")) // zz is unseen: NULL contrib, not in chi2
    assert(mild > 0.0 && big > mild, s"mild $mild, big $big")
  }

  test("klDrift: identical distributions give kl = psi = 0") {
    val a = Seq("x", "x", "y").toDF("c")
    val out = Drift.klDrift(a, a, "c")
      .select($"kl", $"psi").as[(Double, Double)].collect()
    assert(out.forall(_ == ((0.0, 0.0))))
  }

  test("klDrift: one-sided categories excluded from totals, psi >= 0") {
    val ref = Seq("x", "x", "y", "y").toDF("c")
    val cur = Seq("x", "y", "y", "z").toDF("c") // z new, x shrank
    val rows = Drift.klDrift(ref, cur, "c")
      .orderBy($"category")
      .select($"category", $"kl_contrib", $"psi_contrib", $"kl", $"psi")
      .as[(String, Option[Double], Option[Double], Double, Double)].collect()
    val z = rows.find(_._1 == "z").get
    assert(z._2.isEmpty && z._3.isEmpty, "new category must have NULL contribs")
    // manual: x p_ref=.5 p_cur=.25 kl=.25·ln(.5); y p=.5 both -> 0
    val klX = BigDecimal(0.25 * math.log(0.25 / 0.5))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rows.head._4 - klX) < 1e-12)
    assert(rows.forall(_._5 >= 0.0), "psi terms share a sign; total >= 0")
    assert(rows.map(_._4).distinct.size == 1, "total repeated on every row")
  }

  test("robustZ: median/MAD per group, zero-MAD group gets NULL z") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 100.0),
      ("b", 7.0), ("b", 7.0), ("b", 7.0)).toDF("g", "v")
    val rows = Drift.robustZ(df, "v", Seq("g"))
      .select($"g", $"v", $"m", $"mad", $"robust_z")
      .as[(String, Double, Double, Double, Option[Double])].collect()
    val b = rows.filter(_._1 == "b")
    assert(b.forall(r => r._3 == 7.0 && r._4 == 0.0 && r._5.isEmpty),
      "constant group: MAD 0, z NULL")
    val a100 = rows.find(r => r._1 == "a" && r._2 == 100.0).get
    // a: m = 2.5, |v-m| = {1.5, .5, .5, 97.5} -> mad = 1.0
    assert(a100._3 == 2.5 && a100._4 == 1.0)
    assert(math.abs(a100._5.get - 97.5 / 1.4826) < 1e-9)
  }

  test("weightedSampleTopK: deterministic, respects k, excludes w <= 0") {
    val df = (1L to 100L).map(i => (i, if (i % 10 == 0) 0.0 else i.toDouble))
      .toDF("id", "w")
    val s1 = Mixing.weightedSampleTopK(df, "id", $"w", 20)
      .select($"id").as[Long].collect().toSeq
    val s2 = Mixing.weightedSampleTopK(df, "id", $"w", 20)
      .select($"id").as[Long].collect().toSeq
    assert(s1 == s2, "sample is a pure function of ids and weights")
    assert(s1.size == 20 && s1.forall(_ % 10 != 0), "zero-weight rows never sample")
    // heavier ids should dominate: the top-20 median id sits well above 50
    assert(s1.map(_.toDouble).sorted.apply(10) > 50.0)
  }

  test("keySkew reports share and mean-load ratio for the hot key") {
    // 6 rows of 'hot', 1 each of 'a','b' -> hot share 6/8, ratio 6*3/8
    val df = (Seq.fill(6)("hot") ++ Seq("a", "b")).toDF("k")
    val top = Drift.keySkew(df, "k", topK = 1)
      .as[(String, Long, Double, Double)].head()
    assert(top == (("hot", 6L, 6.0 / 8.0, 6.0 * 3.0 / 8.0)))
  }

  test("jsDivergence: 0 on identical, ln 2 on disjoint distributions") {
    val ab = Seq("a", "b").toDF("t")
    val same = Drift.jsDivergence(ab, ab, "t")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(same == ((2L, 2L, 2L, 0.0, 0.0)))
    val dis = Drift.jsDivergence(Seq("a").toDF("t"), Seq("b").toDF("t"), "t")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(dis._4 == 0.693147 && dis._5 == 1.0)
  }

  test("fdHistogram: Freedman–Diaconis width from type-1 quartiles") {
    // 1..8: q1=2, q3=6 → h = 2·4/∛8 = 4 → 2 bins of 4 values each
    val df = (1 to 8).map(_.toDouble).toDF("v")
    val out = Drift.fdHistogram(df, "v")
      .as[(Long, Double, Double, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((0L, 1.0, 5.0, 4L), (1L, 5.0, 9.0, 4L)))
    // degenerate spread: single bin holding everything
    val flat = Seq.fill(5)(7.0).toDF("v")
    val f = Drift.fdHistogram(flat, "v").as[(Long, Double, Double, Long)].collect()
    assert(f.length == 1 && f.head._1 == 0L && f.head._4 == 5L)
  }

  test("twoSampleDist: exact KS and earth-mover from merged ECDFs") {
    import org.apache.spark.sql.functions.col
    // A = {1, 2}, B = {1, 3}: F diverge only on [2, 3) by 0.5
    val df = Seq((1.0, true), (2.0, true), (1.0, false), (3.0, false))
      .toDF("v", "a")
    val out = Drift.twoSampleDist(df, "v", col("a"))
      .as[(Long, Long, Double, Double)].head()
    assert(out == ((2L, 2L, 0.5, 0.5)))
    // identical samples: both distances exactly 0
    val same = Seq((1.0, true), (2.0, true), (1.0, false), (2.0, false))
      .toDF("v", "a")
    val z = Drift.twoSampleDist(same, "v", col("a"))
      .as[(Long, Long, Double, Double)].head()
    assert(z == ((2L, 2L, 0.0, 0.0)))
  }
}
