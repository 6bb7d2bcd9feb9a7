package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{SparkSpec, Tables}
import graft.etl.KnowledgeBase

class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed agg over a memory stream matches the batch twin") {
    val batchEvents = Tables.events(spark, sfTiny)
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val streamDf = stream.toDF().toDF("ts", "event_type", "value")

    val q = Streams.windowedEventAgg(streamDf)
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_agg").start()
    try {
      stream.addData(batchEvents
        .select($"ts", $"event_type", $"value")
        .as[(java.sql.Timestamp, String, Double)].collect().toSeq)
      q.processAllAvailable()
      val streamed = spark.table("win_agg")
        .select($"ts_hour", $"event_type", $"n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      val batch = Streams.windowedEventAgg(batchEvents)
        .select($"ts_hour", $"event_type", $"n")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  // two monthly customs batches: s1/s2 (one KB hit, one miss), then s3
  private def factRow(id: String, desc: String) =
    (id, desc, "MOKAC CO", 120000.0, 1.0, 20000.0, "2024/05/01", "84295200", "202405")
  private val factCols = Seq("declaration number", "product description", "supplier",
    "amount in usd", "qty", "weight in kg", "date", "hs code", "month")
  private def batch1 = Seq(factRow("s1", "KOMATSU PC200-8 EXCAVATOR"),
    factRow("s2", "MYSTERY DEVICE")).toDF(factCols: _*)
  private def batch2 = Seq(factRow("s3", "SANY EXCAVATOR SY365H GOOD")).toDF(factCols: _*)

  private def startPipeline(incoming: String, sink: String, ck: String) =
    Streams.pipelineStream(spark, batch1.schema, incoming, sink, ck,
      KnowledgeBase.sampleModelKb(spark), KnowledgeBase.sampleRegexKb(spark),
      KnowledgeBase.sampleRates(spark)).start()

  test("the full customs pipeline runs incrementally via foreachBatch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_stream").toString
    val incoming = s"$dir/in"; val sink = s"$dir/out"; val ck = s"$dir/ck"
    new java.io.File(incoming).mkdirs()
    batch1.write.mode("append").parquet(incoming)
    val q = startPipeline(incoming, sink, ck)
    try {
      q.processAllAvailable()
      val first = spark.read.parquet(sink)
      assert(first.count() == 2)
      batch2.write.mode("append").parquet(incoming)
      q.processAllAvailable()
      val all = spark.read.parquet(sink)
      assert(all.count() == 3) // incremental: only the new batch appended
      val byId = all.select($"`declaration number`", $"brand", $"model", $"remark")
        .as[(String, String, String, String)].collect().map(r => r._1 -> r).toMap
      assert(byId("s1")._2 == "KOMATSU" && byId("s1")._3 == "PC200-8")
      assert(byId("s2")._2 == "UNKNOWN")
      assert(byId("s3")._2 == "SANY" && byId("s3")._3 == "SY365H")
    } finally q.stop()
  }

  test("a replayed pipeline micro-batch overwrites its own partition, no duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pipe_replay").toString
    val incoming = s"$dir/in"; val sink = s"$dir/out"; val ck = s"$dir/ck"
    new java.io.File(incoming).mkdirs()
    batch1.write.mode("append").parquet(incoming)
    val q = startPipeline(incoming, sink, ck)
    try {
      q.processAllAvailable()
      batch2.write.mode("append").parquet(incoming)
      q.processAllAvailable()
    } finally q.stop()
    // forget that batch 1 committed: as after a crash between the sink
    // write and the commit, the restart must run batch 1 again
    Seq("commits/1", "commits/.1.crc").foreach(f => new java.io.File(s"$ck/$f").delete())
    assert(!new java.io.File(s"$ck/commits/1").exists())
    val replay = startPipeline(incoming, sink, ck)
    try {
      replay.processAllAvailable()
      assert(replay.recentProgress.exists(p => p.batchId == 1 && p.numInputRows == 1),
        "the restart should have re-run batch 1")
    } finally replay.stop()
    val all = spark.read.parquet(sink)
    assert(all.count() == 3)
    assert(all.select($"`declaration number`").distinct().count() == 3)
    val batch1Dirs = new java.io.File(sink).list().filter(_.startsWith("__batch_id=1"))
    assert(batch1Dirs.toSeq == Seq("__batch_id=1"))
  }
}
