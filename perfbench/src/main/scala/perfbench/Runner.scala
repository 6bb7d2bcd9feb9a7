package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** A result that failed its check. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, msg: => String): Unit = if (!cond) throw new CheckFailed(msg)
}

/** Handed to an op body: times named phases and tags their Spark jobs with
  * the job group `<prefix>.<phase>`, which is how `OpListener` keys them. */
final class OpCtx(spark: SparkSession, val groupPrefix: String, val traced: Boolean) {
  val phases: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def phase[T](name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(s"$groupPrefix.$name", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      spark.sparkContext.clearJobGroup()
    }
  }
}

/** One timed operation. `run` is timed; the check it returns is not.
  * @param inputRows rows the op consumes, for `rows_per_s`. */
final case class Op(name: String, inputRows: Long, run: OpCtx => (() => Unit))

/** One attempted op as measured. `engine` is set on traced ops. */
final case class Sample(index: Int, name: String, ok: Boolean, wallS: Double,
    cpuS: Double, inputRows: Long, traced: Boolean,
    phases: Map[String, Double], engine: Option[EngineRecord],
    phaseJobs: Map[String, Int])

/** Closed loop with one client: the next op starts when the previous one
  * and its check have finished, until `seconds` have passed. */
object Runner {

  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memBean = ManagementFactory.getMemoryMXBean
  private val threadBean = ManagementFactory.getThreadMXBean

  def processCpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  /** CPU nanoseconds of every live Java thread: the driver, Spark's task
    * and service threads. JIT compiler and GC threads are not Java threads
    * here, so warm-up compilation and heap state stay out of it. */
  def threadCpuNs(): Map[Long, Long] =
    threadBean.getAllThreadIds.map(id => id -> threadBean.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Thread CPU seconds spent since `before` (threads that ended since are
    * not counted). */
  def threadCpuSince(before: Map[Long, Long]): Double =
    threadCpuNs().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Live heap in MB. Spark's context cleaner releases blocks of
    * unreachable RDDs and broadcasts on its own thread after a collection,
    * so collect, give it time, and collect again. */
  def liveHeapMb(): Double = {
    for (_ <- 0 until 3) {
      System.gc()
      Thread.sleep(300)
    }
    memBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def codegenCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean compile time over the histogram's reservoir, in seconds. */
  def codegenMeanS(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean / 1e3

  /** @param peakHeapMb the larger live heap of before and after the loop */
  final case class Loop(samples: Seq[Sample], peakHeapMb: Double)

  /** Runs whole cycles of `cycle` distinct ops, so every run measures the
    * same op mix. In a traced run whole cycles alternate between traced
    * and untraced, and at least one of each runs. */
  def loop(spark: SparkSession, workload: String, seconds: Double, trace: Boolean,
      cycle: Int, op: Int => Op, traceLog: Option[Path], log: String => Unit): Loop = {
    val listener = new OpListener
    val samples = mutable.ArrayBuffer.empty[Sample]
    val heapBefore = liveHeapMb()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    def more = i % cycle != 0 || i < (if (trace) 2 * cycle else cycle) ||
      System.nanoTime() < deadline
    while (more) {
      val o = op(i)
      val traced = trace && (i / cycle) % 2 == 0
      val prefix = s"$workload.${o.name}.$i"
      if (traced) spark.sparkContext.addSparkListener(listener)
      val ctx = new OpCtx(spark, prefix, traced)
      val cg0 = codegenCount()
      val cpu0 = processCpuS()
      val threads0 = threadCpuNs()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val outcome = Try(o.run(ctx))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = threadCpuSince(threads0)
      val procCpu = processCpuS() - cpu0
      val w1 = System.currentTimeMillis()
      val compiles = codegenCount() - cg0
      val ok = outcome.flatMap(chk => Try(chk())) match {
        case Success(_) => true
        case Failure(e) =>
          log(s"op ${o.name}#$i failed: $e")
          false
      }
      var phaseJobs = Map.empty[String, Int]
      val engine = if (!traced) None else {
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val groups = listener.groupsWithPrefix(prefix + ".")
        phaseJobs = groups.map { case (g, s) => g.stripPrefix(prefix + ".") -> s.jobs }.toMap
        val rec = EngineRecord.of(o.name, groups.map(_._2),
          w0, w1, compiles, compiles * codegenMeanS())
        listener.clear()
        traceLog.foreach(p => Files.writeString(p, rec.json + "\n",
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND))
        Some(rec)
      }
      log(f"op ${o.name}#$i ${if (ok) "ok" else "FAILED"} wall $wall%.3fs cpu $cpu%.2fs " +
        f"process-cpu $procCpu%.2fs " +
        ctx.phases.map { case (k, v) => f"$k $v%.3f" }.mkString(" "))
      samples += Sample(i, o.name, ok, wall, cpu, o.inputRows, traced, ctx.phases.toMap,
        engine, phaseJobs)
      i += 1
    }
    Loop(samples.toSeq, math.max(heapBefore, liveHeapMb()))
  }
}
