package graft

/** Bench's stdout JSON line, its query-name filter and its per-query timed call. */
class BenchSpec extends SparkSpec {
  private val results = Seq("q01_pricing_summary" -> 1.23456,
    "q40_customs_pipeline" -> 12.0, "q156_logreg_fit" -> 0.0649,
    "q999_not_headline" -> 3.5, "q382_ece" -> 1.0365)

  // Golden bytes: the line as printed before Bench took over the probes,
  // for the same inputs. Benchmark readers parse it; it must not drift.
  test("jsonLine: full, partial and empty lines are byte-identical to the golden") {
    assert(Bench.jsonLine(results, "data/sf0.1", 3) ==
      """{"metric":"total","value":17.836,"unit":"sec","n_queries":5,"n_runs":3,"queries":{"q01":1.235,"q40":12.000,"q156":0.065,"q382":1.037},"sf":"data/sf0.1"}""")
    assert(Bench.jsonLine(results.take(2), "data/sf0.1", 1, partial = true) ==
      """{"metric":"total","value":13.235,"unit":"sec","partial":true,"n_queries":2,"n_runs":1,"queries":{"q01":1.235,"q40":12.000},"sf":"data/sf0.1"}""")
    assert(Bench.jsonLine(Seq.empty, "data/sf0.1", 0) ==
      """{"metric":"total","value":0.000,"unit":"sec","n_queries":0,"n_runs":0,"queries":{},"sf":"data/sf0.1"}""")
  }

  test("namePrefixes: a comma-separated prefix list selects; no list keeps all") {
    val keep = SparkEntry.namePrefixes(Some("q15, q40_"))
    assert(Seq("q156_logreg_fit", "q15_x", "q40_customs", "q400_y", "q1_z").filter(keep) ==
      Seq("q156_logreg_fit", "q15_x", "q40_customs"))
    assert(SparkEntry.namePrefixes(None)("anything"))
  }

  test("timed: a query that throws while it is built is a failed call") {
    val call = Bench.timed(spark, sfTiny, (_, _) => throw new IllegalStateException("build"))
    assert(!call.ok)
    assert(call.error.get.getMessage == "build")
    assert(call.actionSec == 0.0)
  }

  test("timed: a query that throws in its action is a failed call") {
    val call = Bench.timed(spark, sfTiny, (s, _) =>
      s.range(3).where("CASE WHEN id = 1 THEN raise_error('boom') ELSE true END").toDF())
    assert(!call.ok)
    assert(call.error.get.getMessage.contains("boom"))
    assert(call.actionSec > 0.0)
  }

  test("timed: a query that succeeds is an ok call with both phases timed") {
    val call = Bench.timed(spark, sfTiny, (s, _) => s.range(3).toDF())
    assert(call.ok && call.error.isEmpty)
    assert(call.constructSec >= 0.0 && call.actionSec > 0.0)
    assert(call.sec == call.constructSec + call.actionSec)
  }
}
