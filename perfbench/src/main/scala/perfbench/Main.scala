package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark; `run.py` builds it and starts it.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <result.json>
  * }}}
  *
  * Set-up (session + warm-up) runs three times on fresh sessions and its
  * median is `setup_s`. The timed loop then runs the workload's ops for
  * `--seconds`. The result file holds every metric this run measured;
  * `run.py` picks the ones BENCHMARK.json names for the mode.
  */
object Main {

  val SetupReps = 3

  def session(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same codegen cache size as the program's own harnesses
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.LogHygiene.suppressAccumulatorReleaseNoise()
    spark
  }

  /** End-to-end op metrics over the ops that succeeded: a failed op is
    * counted in `failed`, never timed as a fast success. */
  def opMetrics(samples: Seq[Sample]): Map[String, Double] = {
    val good = samples.filter(_.ok)
    if (good.isEmpty) Map.empty
    else {
      val walls = good.map(_.wallS)
      val (pct, tail) = Stats.tail(walls)
      Map("op_p50_s" -> Stats.median(walls), "op_tail_s" -> tail, "bench.op_tail_pct" -> pct,
        "rows_per_s" -> good.map(_.inputRows).sum / walls.sum,
        "cpu_s_per_op" -> Stats.median(good.map(_.cpuS)))
    }
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    val out = Paths.get(a("out"))
    val trace = a("trace") == "1"
    val tMain = System.nanoTime()
    def log(s: String): Unit =
      System.err.println(f"[perfbench ${(System.nanoTime() - tMain) / 1e9}%7.2fs] $s")
    val wl = Workloads(a("workload"), work, a("seed").toLong, log)
    Files.createDirectories(work)

    wl.generate()
    log("inputs generated")
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      wl.warmUp(spark, rep)
      setups += (System.nanoTime() - t0) / 1e9
    }
    log(s"set-up done: ${setups.map(x => f"$x%.2f").mkString(" ")}")
    wl.prepare(spark)
    wl.settle(spark)
    log("prepared and settled")

    val traceLog = if (trace) Some(work.resolve("trace_ops.jsonl")) else None
    val loop = Runner.loop(spark, wl.name, a("seconds").toDouble, trace, wl.cycle,
      wl.op(spark), traceLog, log)
    val samples = loop.samples
    val good = samples.filter(_.ok)
    val persistentLeft = spark.sparkContext.getPersistentRDDs.size
    log(s"timed loop done: ${samples.size} ops")

    var correct = good.size == samples.size
    var failed = samples.size - good.size
    val bytesPerRow = try wl.finish(spark, samples) catch {
      case NonFatal(e) =>
        log(s"end-of-run check failed: $e")
        correct = false
        failed = math.max(failed, 1)
        Double.NaN
    }

    log("end-of-run checks done")
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("setup_s") = Stats.median(setups.toSeq)
    m ++= opMetrics(samples)
    m("peak_heap_mb") = loop.peakHeapMb
    m("history_bytes_per_row") = bytesPerRow
    m("bench.ops") = samples.size.toDouble

    if (trace) {
      val traced = good.filter(_.traced)
      val recs = traced.flatMap(_.engine)
      def med(f: EngineRecord => Double) = if (recs.isEmpty) 0.0 else Stats.median(recs.map(f))
      m("spark.driver_only_s") = med(_.driverOnlyS)
      m("spark.jobs_per_op") = med(_.jobs.toDouble)
      m("spark.stages_per_op") = med(_.stages.toDouble)
      m("spark.tasks_per_op") = med(_.tasks.toDouble)
      m("spark.task_cpu_s_per_op") = med(_.taskCpuS)
      m("spark.task_skew") = med(_.taskSkew)
      m("spark.shuffle_write_bytes_per_op") = med(_.shuffleWriteBytes.toDouble)
      m("spark.spill_bytes_per_op") = med(_.spillBytes.toDouble)
      m("spark.gc_s_per_op") = med(_.gcS)
      m("spark.codegen_compiles_per_op") = med(_.codegenCompiles.toDouble)
      m("spark.codegen_compile_s_per_op") = med(_.codegenCompileS)
      m("spark.persistent_rdds_left") = persistentLeft.toDouble
      // tracing overhead: per op name, traced minus untraced median wall
      val diffs = good.groupBy(_.name).values.flatMap { ss =>
        val (t, u) = ss.partition(_.traced)
        if (t.isEmpty || u.isEmpty) None
        else Some(Stats.median(t.map(_.wallS)) - Stats.median(u.map(_.wallS)))
      }
      m("trace.overhead_s") = if (diffs.isEmpty) Double.NaN else Stats.median(diffs.toSeq)
      try m ++= wl.layers(spark, samples) catch {
        case NonFatal(e) =>
          log(s"per-layer measurement failed: $e")
          correct = false
      }
    }
    log("per-layer done")
    spark.stop()

    val byName = samples.groupBy(_.name).map { case (n, ss) =>
      n -> Json.obj(Seq("ok" -> ss.count(_.ok).toString, "attempted" -> ss.size.toString))
    }
    Files.writeString(out, Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> samples.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "ops" -> Json.obj(byName.toSeq.sortBy(_._1)),
      "digests" -> wl.digests.map(Json.str).mkString("[", ", ", "]"))) + "\n")
  }
}
