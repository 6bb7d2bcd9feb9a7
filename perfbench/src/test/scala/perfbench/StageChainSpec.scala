package perfbench

import org.apache.spark.sql.DataFrame

import graft.etl.{KnowledgeBase, Pipeline}
import graft.sources.CustomsSource

/** The traced run times prefixes of `StageChain`; this spec pins the
  * chain to `Pipeline.run` / `runCrane`, so a change to the private stage
  * order fails here instead of the benchmark tracing a stale pipeline. */
class StageChainSpec extends SparkSuite {

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
  }

  for (crane <- Seq(false, true)) {
    test(s"the composed chain equals Pipeline.${if (crane) "runCrane" else "run"}") {
      val b = CustomsGen.write(5L,
        CustomsGen.Spec(1300, Seq((2023, 4)), "S"), tempDir().resolve("s.csv"))
      val fact = CustomsSource.readCustomsCsv(spark, b.path.toString)
      val kb = KnowledgeBase.sampleModelKb(spark)
      val rkb = KnowledgeBase.sampleRegexKb(spark)
      val rates = Customs.rates(spark)
      val stages = StageChain.stages(kb, rkb, rates, crane)
      assert(stages.size == 14)
      val chained = StageChain.prefix(stages, stages.size)(fact)
      val direct =
        if (crane) Pipeline.runCrane(fact, kb, rkb, rates) else Pipeline.run(fact, kb, rkb, rates)
      same(chained, direct)
    }
  }
}
