package graft

/** Phase-split probe: for each named query, separates DataFrame
  * CONSTRUCTION+PLANNING time (building the frame + forcing
  * executedPlan, which runs analysis/optimization/physical planning —
  * plus any construction-time sub-jobs like eager checkpoints) from
  * EXECUTION time (the count action). Tells whether a query's bench
  * cost is driver-side planning or actual compute.
  * Usage: runMain graft.PhaseProbe <q1,q2,...> [iters] */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(Session.cpus(32))
    val names = args(0).split(",").toSeq
    val iters = if (args.length > 1) args(1).toInt else 2
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      for (i <- 1 to iters) {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analyze+optimize+plan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        println(f"$n iter $i: construct ${(t1 - t0) / 1e9}%.3f  plan ${(t2 - t1) / 1e9}%.3f  exec ${(t3 - t2) / 1e9}%.3f s")
      }
    }
    spark.stop()
  }
}
