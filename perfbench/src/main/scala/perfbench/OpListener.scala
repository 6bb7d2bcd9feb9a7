package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Engine-side counters per op. Ops are keyed by the job group the runner
  * sets (`<workload>.<op>.<phase>`); every job, stage and task is charged
  * to the group of the job that ran it. */
final class OpListener extends SparkListener {

  final class Group {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskCpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    /** (start, end) epoch millis of each job. */
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = new ConcurrentHashMap[String, Group]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(name: String): Group = groups.computeIfAbsent(name, _ => new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { name =>
      jobGroup.put(e.jobId, name)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageGroup.put(_, name))
      group(name).synchronized { group(name).jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { name =>
      val g = group(name)
      g.synchronized { g.jobSpans += ((jobStart.get(e.jobId), e.time)) }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { name =>
      val g = group(name)
      g.synchronized { g.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { name =>
      val g = group(name)
      val m = e.taskMetrics
      g.synchronized {
        g.tasks += 1
        g.taskMs += e.taskInfo.duration
        if (m != null) {
          g.taskCpuNs += m.executorCpuTime
          g.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          g.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          g.gcMs += m.jvmGCTime
        }
      }
    }

  /** Groups whose name starts with `prefix`. */
  def groupsWithPrefix(prefix: String): Seq[(String, Group)] =
    groups.asScala.toSeq.filter(_._1.startsWith(prefix))

  def clear(): Unit = {
    groups.clear(); jobGroup.clear(); jobStart.clear(); stageGroup.clear()
  }
}

/** One op's engine record, summed over the op's phases. */
final case class EngineRecord(
    op: String, wallS: Double, driverOnlyS: Double, jobs: Int, stages: Int,
    tasks: Int, taskCpuS: Double, taskSkew: Double, shuffleWriteBytes: Long,
    spillBytes: Long, gcS: Double, codegenCompiles: Long, codegenCompileS: Double) {

  def json: String = Json.obj(Seq(
    "op" -> Json.str(op), "wall_s" -> Json.num(wallS),
    "driver_only_s" -> Json.num(driverOnlyS), "jobs" -> jobs.toString,
    "stages" -> stages.toString, "tasks" -> tasks.toString,
    "task_cpu_s" -> Json.num(taskCpuS), "task_skew" -> Json.num(taskSkew),
    "shuffle_write_bytes" -> shuffleWriteBytes.toString,
    "spill_bytes" -> spillBytes.toString, "gc_s" -> Json.num(gcS),
    "codegen_compiles" -> codegenCompiles.toString,
    "codegen_compile_s" -> Json.num(codegenCompileS)))
}

object EngineRecord {
  /** Fold the listener groups of one op (wall window [t0, t1] in epoch
    * millis) into a record. Driver-only time is the part of the window no
    * job of the op covers. */
  def of(op: String, groups: Seq[OpListener#Group], t0: Long, t1: Long,
      codegenCompiles: Long, codegenCompileS: Double): EngineRecord = {
    val spans = groups.flatMap(_.jobSpans).map { case (s, e) =>
      (math.max(s, t0), math.min(e, t1)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val taskMs = groups.flatMap(_.taskMs).sorted
    val skew = if (taskMs.isEmpty) 1.0
      else taskMs.last.toDouble / math.max(1.0, Stats.median(taskMs.map(_.toDouble)))
    EngineRecord(op, (t1 - t0) / 1e3, math.max(0L, t1 - t0 - covered) / 1e3,
      groups.map(_.jobs).sum, groups.map(_.stages).sum, groups.map(_.tasks).sum,
      groups.map(_.taskCpuNs).sum / 1e9, skew, groups.map(_.shuffleWriteBytes).sum,
      groups.map(_.spillBytes).sum, groups.map(_.gcMs).sum / 1e3,
      codegenCompiles, codegenCompileS)
  }
}
