package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.etl.{CompatFlags, Lookups, Pipeline}

/** The customs pipeline rebuilt from the public `etl.Pipeline` stage
  * functions, in the order of `Pipeline.runStages`, so a traced run can
  * time every prefix of the chain. Each stage carries the lineage cuts
  * (`localCheckpoint(eager = false)`) that follow it inside `runStages`.
  *
  * `StageChainSpec` checks that the full chain equals `Pipeline.run` /
  * `Pipeline.runCrane`: if the private chain drifts, the spec fails instead
  * of the benchmark tracing a stale pipeline.
  */
object StageChain {

  final case class Stage(name: String, f: DataFrame => DataFrame)

  private def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  def stages(modelKb: DataFrame, regexKb: DataFrame, rates: DataFrame,
      crane: Boolean): Seq[Stage] = Seq(
    Stage("prepare", df => Pipeline.prepare(df).withColumn("datasource", lit("pipeline"))),
    Stage("matchKnowledgeBase",
      df => cut(Pipeline.matchKnowledgeBase(df, modelKb).drop("supplier_norm"))),
    Stage("dropIrrelevant", Pipeline.dropIrrelevant),
    Stage("applyTypeRules", Pipeline.applyTypeRules),
    Stage("markUsedNew", Pipeline.markUsedNew),
    Stage("markParts", Pipeline.markParts),
    Stage("regexPass", Pipeline.regexPass(_, regexKb, CompatFlags.intent)),
    Stage("searchCapacity", Pipeline.searchCapacity),
    Stage("refineCraneType", df => cut(Lookups.refineCraneType(df))),
    Stage("backwardTag", df => cut(Pipeline.backwardTag(df))),
    Stage("markOutliers", Pipeline.markOutliers),
    Stage("markIntervals",
      if (crane) Pipeline.markIntervalsCrane(_) else Pipeline.markIntervals(_)),
    Stage("convertCurrency", Pipeline.convertCurrency(_, rates)),
    Stage("finalize", Pipeline.finalize))

  /** The first `n` stages applied to `fact`. */
  def prefix(stages: Seq[Stage], n: Int)(fact: DataFrame): DataFrame =
    stages.take(n).foldLeft(fact)((df, s) => s.f(df))
}
