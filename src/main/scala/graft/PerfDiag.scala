package graft

/** Bench-shaped multi-pass runner with block-manager/GC instrumentation —
  * built to root-cause the round-9 official-artifact bimodality (q398
  * median 13.5 s vs 7.3 s steady; q68/q103 wildly bimodal across passes,
  * none touched that round). Replays Bench's exact pass structure
  * (sorted registry, clearCache between passes) and reports, per pass:
  * suite time, the watched queries' times, JVM GC totals, and the
  * number/size of leftover persistent RDDs (localCheckpoint blocks wait
  * for GC + ContextCleaner — `spark.catalog.clearCache()` does NOT drop
  * them). `SPARK_GRAFT_DIAG_CLEAN=1` additionally unpersists every
  * leftover RDD and triggers a GC between passes, isolating whether the
  * pass-2/3 slowdown is checkpoint-block pressure. */
object PerfDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = args.headOption.map(_.toInt).getOrElse(3)
    val watch = sys.env.getOrElse("SPARK_GRAFT_DIAG_WATCH",
      "q398_bleu,q68_crane_pipeline,q103_pagerank").split(",").toSet
    val clean = sys.env.get("SPARK_GRAFT_DIAG_CLEAN").contains("1")
    val spark = Session.build(Session.cpus(32))
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    def gcStats(): (Long, Long) = {
      import scala.jdk.CollectionConverters._
      val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
    }
    def storage(): (Int, Long) = {
      val rdds = spark.sparkContext.getPersistentRDDs
      val mem = org.apache.spark.SparkEnv.get.blockManager.master
        .getMemoryStatus.values.map { case (max, free) => max - free }.sum
      (rdds.size, mem)
    }
    // warm pass, like Bench
    names.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () }
    }
    spark.catalog.clearCache()
    for (p <- 1 to passes) {
      spark.catalog.clearCache()
      if (clean && p > 1) {
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.gc()
        Thread.sleep(500)
      }
      val (gc0, gct0) = gcStats()
      val t0 = System.nanoTime()
      val watched = scala.collection.mutable.ListBuffer.empty[String]
      names.foreach { case (name, fn) =>
        val tq = System.nanoTime()
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        val dt = (System.nanoTime() - tq) / 1e9
        if (watch.contains(name)) watched += f"$name=$dt%.2f"
      }
      val total = (System.nanoTime() - t0) / 1e9
      val (gc1, gct1) = gcStats()
      val (nRdd, unroll) = storage()
      val heap = Runtime.getRuntime
      println(f"PASS $p%d total=$total%.1f s  ${watched.mkString(" ")}  " +
        f"gcCount=${gc1 - gc0}%d gcTime=${(gct1 - gct0) / 1000.0}%.1f s  " +
        f"leftoverRdds=$nRdd%d storageUsed=${unroll / (1 << 20)}%d MB  " +
        f"heapUsed=${(heap.totalMemory - heap.freeMemory) / (1 << 20)}%d MB")
      System.out.flush()
    }
    spark.stop()
  }
}
