package graft.ops

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every `Ranks` entry point costs a fixed number of Spark jobs: the
  * construction jobs (the range exchange's sampling pass and the
  * partials collect, which also fills the checkpoint) and the jobs of
  * the first action on the result (the apply over the checkpoint).
  * A listener counts them per job group, so a change to the shared
  * prefix-walk core that adds a pass over the data fails here. */
class RanksJobsSpec extends SparkSpec {
  import spark.implicits._

  test("each Ranks entry point keeps its construct and first-action job counts") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    var fences = 0
    // jobs started under `group` while `body` runs; a fence job makes
    // sure every earlier job-start event has reached the listener
    def jobs[T](group: String)(body: => T): (T, Int) = {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      fences += 1
      val fence = s"fence-$fences"
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(fence) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(fence))
      (out, groups.toArray.count(_ == group))
    }
    sc.addSparkListener(listener)
    try {
      val df = spark.range(0, 400, 1, 4).select($"id",
        ($"id" % 3).cast("string").as("g"), ($"id" * 7 % 101).as("a"),
        ($"id" % 5).cast("decimal(18,2)").as("d"))
      val forms: Seq[(String, () => DataFrame)] = Seq(
        "withRowNumber" -> (() => Ranks.withRowNumber(df, "rn", $"a", $"id")),
        "withNtile" -> (() => Ranks.withNtile(df, "t", 8, $"a", $"id")),
        "runningSums" -> (() =>
          Ranks.runningSums(df, Seq("a" -> "ca"), Some("a" -> "na"), $"id").df),
        "runningSumsRanked" -> (() =>
          Ranks.runningSumsRanked(df, Seq("a" -> "ca"), None, "rn", $"id").df),
        "runningMaxByValue" -> (() =>
          Ranks.runningMaxByValue(df, "a", "lt", "le", $"id" % 50)),
        "runningDecimalSums" -> (() =>
          Ranks.runningDecimalSums(df, Seq("d" -> "cd"), Some("rn"), $"id").df),
        "runningSumsBy" -> (() =>
          Ranks.runningSumsBy(df, Seq("g"), Seq("a" -> "ca"), $"id")),
        "withRowNumberBy" -> (() =>
          Ranks.withRowNumberBy(df, Seq("g"), "rn", $"id")),
        "runningDecimalSumsBy" -> (() =>
          Ranks.runningDecimalSumsBy(df, Seq("g"), Seq("d" -> "cd"), $"id")),
        "runningLeadBy" -> (() =>
          Ranks.runningLeadBy(df, Seq("g"), "a" -> "na", $"id")))
      val got = forms.map { case (name, build) =>
        val (out, construct) = jobs(s"$name-construct")(build())
        val (rows, action) = jobs(s"$name-action")(out.collect().length)
        assert(rows == 400, s"$name returned $rows rows")
        name -> (construct, action)
      }.toMap
      // construct: the range sampling, the partials collect (which fills
      // the checkpoint) and their AQE stages; first action: the apply
      val want = forms.map { case (name, _) => name -> (4, 1) }.toMap
      assert(got == want, s"(construct, first action) jobs per form: $got")
    } finally sc.removeSparkListener(listener)
  }
}
