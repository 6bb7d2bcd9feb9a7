package graft.etl

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap, WeakHashMap}

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan,
  Project => PlanProject}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

import graft.plans.Barrier

/** The customs pipeline analyzed once per KB version, then bound to each
  * batch.
  *
  * Building the 13 stages takes some 30 Dataset operations, and each one
  * analyzes the whole plan built so far. For a 1,300-row month that
  * analysis is most of the driver's work, and it is the same for every
  * batch run against one KB. So the chain is analyzed once, over
  * placeholder leaves for the fact and the rate table. A call binds its
  * own fact and rate table into that plan and marks the result analyzed,
  * so it is not analyzed again.
  *
  * The memo key is everything the analyzed plan depends on: the SQL conf
  * (time zone, ANSI mode), the fact schema, the rows of both KBs as their
  * stages collect them, the rate table's schema, and the mode. A KB that
  * grows is a new key and compiles again; the rate table is bound per call
  * like the fact, so new rates (a month added) reuse the plan. A miss
  * compiles from the KB rows in its key, so a plan always matches its key
  * and each KB is read once per call, then binds the batch as a hit does.
  * The memo holds analyzed plans, no data.
  */
private[etl] object CompiledPipeline {

  /** What differs between `Pipeline.run` and `runCrane` inside the chain. */
  final case class Mode(crane: Boolean, loadInterval: Int, compat: CompatFlags)

  /** `modelKb` and `regexKb` hold the KB rows as the two stages collect
    * them (`Pipeline.modelKbRows`, `regexKbRows`). */
  private final case class Key(conf: Map[String, String], fact: StructType, modelKb: Seq[Row],
      regexKb: Seq[Row], rates: StructType, mode: Mode)

  /** `plan` reads the leaves `factIn` and `ratesIn`. */
  private final case class Plans(factIn: Seq[Attribute], ratesIn: Seq[Attribute], plan: LogicalPlan)

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
    val out = bind(p.plan, p.factIn -> fact, p.ratesIn -> rates)
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

  /** The chain, analyzed over placeholder leaves by the stage functions,
    * from the KB rows in `key`, on a session that can plan its barrier. */
  private def compile(spark: SparkSession, key: Key): Plans = {
    memo.synchronized(Barrier.install(spark))
    def leaf(attrs: Seq[Attribute]) = GraftBridge.ofRows(spark, LocalRelation(attrs))
    val factIn = DataTypeUtils.toAttributes(key.fact)
    val ratesIn = DataTypeUtils.toAttributes(key.rates)
    Plans(factIn, ratesIn, Pipeline.chain(leaf(factIn), key.modelKb, key.regexKb, leaf(ratesIn),
      key.mode).queryExecution.analyzed)
  }

  /** `plan` with each placeholder leaf replaced by the analyzed plan of its
    * DataFrame, its output renamed to the placeholder's attributes (same
    * names and types). */
  private def bind(plan: LogicalPlan, leaves: (Seq[Attribute], DataFrame)*): LogicalPlan = {
    val byLeaf = leaves.map { case (in, df) =>
      val p = df.queryExecution.analyzed
      in.map(_.exprId) ->
        PlanProject(p.output.zip(in).map { case (a, t) => Alias(a, t.name)(exprId = t.exprId) }, p)
    }.toMap
    plan.transformUp {
      case l: LocalRelation if byLeaf.contains(l.output.map(_.exprId)) =>
        byLeaf(l.output.map(_.exprId))
    }
  }
}
