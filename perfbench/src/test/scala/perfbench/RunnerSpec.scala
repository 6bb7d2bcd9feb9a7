package perfbench

/** Failure accounting: a throwing op and an op whose result fails its
  * check both count as failed, and neither is timed as a success. */
class RunnerSpec extends SparkSuite {

  private def loop(op: Int => Op) =
    Runner.loop(spark, "spec", 0.0, trace = false, cycle = 3, op, None, _ => ()).samples

  test("a throwing op and a wrong result count as failed") {
    val samples = loop {
      case 0 => Op("ok", 10, _ => () => ())
      case 1 => Op("throws", 10, _ => throw new IllegalStateException("boom"))
      case _ => Op("wrong", 10, _ => { Thread.sleep(50); () => Check(cond = false, "wrong") })
    }
    assert(samples.map(s => s.name -> s.ok) == Seq("ok" -> true, "throws" -> false,
      "wrong" -> false))
    val m = Main.opMetrics(samples)
    // only the successful op is timed: the 50 ms wrong op is not in the median
    assert(m("op_p50_s") == samples.head.wallS)
    assert(m("op_p50_s") < 0.05)
  }

  test("with no successful op there are no latency metrics") {
    val samples = loop(_ => Op("throws", 1, _ => throw new RuntimeException("x")))
    assert(samples.size == 3 && samples.forall(!_.ok))
    assert(Main.opMetrics(samples).isEmpty)
  }

  test("traced ops get an engine record keyed by their job group") {
    val samples = Runner.loop(spark, "spec", 0.0, trace = true, cycle = 1,
      i => Op("count", 100, ctx => {
        ctx.phase("execute")(spark.range(100).selectExpr("sum(id)").collect())
        () => ()
      }), None, _ => ()).samples
    val traced = samples.filter(_.traced)
    assert(traced.nonEmpty && samples.exists(!_.traced))
    traced.foreach { s =>
      assert(s.engine.exists(e => e.jobs >= 1 && e.tasks >= 1))
      assert(s.phaseJobs.getOrElse("execute", 0) >= 1)
    }
  }
}
