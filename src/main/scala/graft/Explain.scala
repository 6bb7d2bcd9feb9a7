package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit tool: prints the formatted physical plan of selected queries
  * (all if no names given). Used to keep every query's plan honest:
  * pushed filters, pruned scans, broadcast joins, wide codegen spans.
  *
  * Queries that END in an eager localCheckpoint (the 1-row eval-metric
  * kernels, iterative ops) do their real work DURING construction — the
  * returned frame's plan is just a checkpoint scan. A
  * QueryExecutionListener therefore captures every sub-execution
  * (checkpoint materializations, scalar collects) fired while the query
  * builds and runs, and prints each one's formatted plan too.
  *
  *   sbt "runMain graft.Explain q05_contains_first q10_median_outliers"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.build(4)
    // Sub-execution capture: the listener bus is async, so plans are
    // buffered and flushed after a quiet wait per query.
    val subPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        subPlans.add(s"\n--- sub-execution: $funcName ---\n" +
          qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      subPlans.clear()
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      // flush async listener events from construction-time sub-executions
      Thread.sleep(1500)
      var p = subPlans.poll()
      while (p != null) { println(p); p = subPlans.poll() }
    }
    spark.stop()
  }
}
