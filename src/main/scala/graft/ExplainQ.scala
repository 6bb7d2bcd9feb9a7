package graft

/** Plan-audit probe (PerfProbe's sibling): prints whether a registry
  * query's physical plan contains a BroadcastNestedLoopJoin or
  * CartesianProduct, plus its join lines — the quick scale-hygiene
  * check run on new queries before PERF.md sign-off. 1-row
  * grand-total cross joins legitimately appear as nested loops; a
  * nested loop over data-scaled inputs is the smell.
  * Usage: runMain graft.ExplainQ <queryName> [sfDir] */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Session.build(4)
    val df = SparkEntry.queries(args(0))(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    println("NESTEDLOOP=" + plan.contains("BroadcastNestedLoopJoin"))
    println("CARTESIAN=" + plan.contains("CartesianProduct"))
    println(plan.split("\n").filter(_.contains("Join")).take(12).mkString("\n"))
    spark.stop()
  }
}
