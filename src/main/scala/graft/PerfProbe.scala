package graft

/** Perf microscope: repeat one query N times at a given SF and print
  * per-iteration wall times, isolating fixed (planning/codegen) overhead
  * from data-dependent cost.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.PerfProbe q37_embed_nn 3"
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val iters = if (args.length > 1) args(1).toInt else 3
    val spark = Session.build(Session.cpus(32))
    names.foreach { name =>
      (1 to iters).foreach { i =>
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        println(f"$name iter $i: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
    }
    spark.stop()
  }
}
