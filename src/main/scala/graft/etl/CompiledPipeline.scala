package graft.etl

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap, WeakHashMap}

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan,
  Project => PlanProject}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** The customs pipeline analyzed once per KB version, then bound to each
  * batch.
  *
  * Building the 13 stages takes some 30 Dataset operations, and each one
  * analyzes the whole plan built so far. For a 1,300-row month that
  * analysis is most of the driver's work, and it is the same for every
  * batch run against one KB. So each half of the chain — the match block
  * before the cut, and the rest after it — is analyzed once, over
  * placeholder leaves. A call binds its own fact (and, after the cut, its
  * own checkpoint and rate table) into those plans and marks the result
  * analyzed, so it is not analyzed again.
  *
  * The memo key is everything the analyzed plans depend on: the SQL conf
  * (time zone, ANSI mode), the fact schema, the rows of both KBs as their
  * stages collect them, the rate table's schema, and the mode. A KB that
  * grows is a new key and compiles again; the rate table is bound per call
  * like the fact, so new rates (a month added) reuse the plans. A miss
  * compiles from the KB rows in its key, so a plan always matches its key
  * and each KB is read once per call, then binds the batch as a hit does.
  * The memo holds analyzed plans, no data: every call still scans its
  * fact, makes its own cut, and runs its own action.
  */
private[etl] object CompiledPipeline {

  /** What differs between `Pipeline.run` and `runCrane` inside the chain. */
  final case class Mode(crane: Boolean, loadInterval: Int, compat: CompatFlags)

  /** `modelKb` and `regexKb` hold the KB rows as the two stages collect
    * them (`Pipeline.modelKbRows`, `regexKbRows`). */
  private final case class Key(conf: Map[String, String], fact: StructType, modelKb: Seq[Row],
      regexKb: Seq[Row], rates: StructType, mode: Mode)

  /** `half1` reads the leaf `factIn`; `half2` reads a leaf of half 1's
    * output (the cut) and the leaf `ratesIn`. */
  private final case class Plans(factIn: Seq[Attribute], half1: LogicalPlan,
      ratesIn: Seq[Attribute], half2: LogicalPlan)

  /** Plans per session (a few MB together): one KB version in both modes. A
    * monthly series runs its latest KB version, so an older one is not
    * asked for again, and holding it would only grow the heap. */
  private val PlansPerSession = 2
  private val memo = new WeakHashMap[SparkSession, JMap[Key, Plans]]

  def run(fact: DataFrame, modelKb: DataFrame, regexKb: DataFrame, rates: DataFrame,
      mode: Mode): DataFrame = {
    val spark = fact.sparkSession
    Rates.requireOneRatePerMonth(rates.collect().toSeq)
    val key = Key(spark.conf.getAll, fact.schema, Pipeline.modelKbRows(modelKb),
      Pipeline.regexKbRows(regexKb), rates.schema, mode)
    val p = plans(spark, key)(compile(spark, key))
    val matched = Pipeline.materialize(
      GraftBridge.ofAnalyzed(spark, bind(p.half1, p.factIn -> fact)))
    val out = bind(p.half2, p.half1.output -> matched, p.ratesIn -> rates)
    // every batch's plan carries the template's attributes; fresh output
    // attributes let two batches' outputs join by column reference as two
    // separately built pipelines do
    GraftBridge.ofAnalyzed(spark, PlanProject(out.output.map(a => Alias(a, a.name)()), out))
  }

  /** The plans memoized for `key`, compiled on a miss. The lock is held
    * for the lookup and the store only: two racing misses compile twice,
    * and the second store wins. */
  private def plans(spark: SparkSession, key: Key)(compile: => Plans): Plans = {
    val bySession = memo.synchronized {
      // a stopped session can stay reachable, and with it its plans
      memo.keySet.removeIf(_.sparkContext.isStopped)
      memo.computeIfAbsent(spark, _ =>
        new JLinkedHashMap[Key, Plans](16, 0.75f, true) {
          override def removeEldestEntry(e: JMap.Entry[Key, Plans]): Boolean =
            size > PlansPerSession
        })
    }
    memo.synchronized(Option(bySession.get(key))).getOrElse {
      val p = compile
      memo.synchronized(bySession.put(key, p))
      p
    }
  }

  /** Both halves, analyzed over placeholder leaves by the stage functions,
    * from the KB rows in `key`. */
  private def compile(spark: SparkSession, key: Key): Plans = {
    def leaf(attrs: Seq[Attribute]) = GraftBridge.ofRows(spark, LocalRelation(attrs))
    val factIn = DataTypeUtils.toAttributes(key.fact)
    val half1 = Pipeline.matchBlock(leaf(factIn), key.modelKb).queryExecution.analyzed
    val ratesIn = DataTypeUtils.toAttributes(key.rates)
    val half2 = Pipeline.enrich(leaf(half1.output), key.regexKb, leaf(ratesIn), key.mode)
      .queryExecution.analyzed
    Plans(factIn, half1, ratesIn, half2)
  }

  /** `plan` with each placeholder leaf replaced by the analyzed plan of its
    * DataFrame, renamed to the placeholder's attributes. */
  private def bind(plan: LogicalPlan, leaves: (Seq[Attribute], DataFrame)*): LogicalPlan = {
    val byLeaf = leaves.map { case (in, df) =>
      in.map(_.exprId) -> renamed(df.queryExecution.analyzed, in)
    }.toMap
    plan.transformUp {
      case l: LocalRelation if byLeaf.contains(l.output.map(_.exprId)) =>
        byLeaf(l.output.map(_.exprId))
    }
  }

  /** `plan` with its output attributes renamed to `to` (same names and
    * types; a checkpoint of half 1 already has them). */
  private def renamed(plan: LogicalPlan, to: Seq[Attribute]): LogicalPlan =
    if (plan.output.map(_.exprId) == to.map(_.exprId)) plan
    else PlanProject(plan.output.zip(to).map { case (a, t) =>
      Alias(a, t.name)(exprId = t.exprId)
    }, plan)
}
