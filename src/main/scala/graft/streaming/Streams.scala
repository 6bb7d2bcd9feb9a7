package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming surface: the customs path only.
  *
  * The reference is batch-only; its closest streaming analogue is the
  * monthly history append (SURVEY.md §2.11). That append runs here as
  * `pipelineStream`, the whole customs pipeline per micro-batch. The
  * other entry point is `windowedEventAgg`, q23's transform, which also
  * runs unchanged on a stream. Every other operator in the repo is
  * batch-only.
  */
object Streams {

  /** Tumbling event-time window aggregate (q23_window_agg): count + exact
    * decimal sum(value) per (1h window, event_type). With `withWatermark`
    * upstream this runs incrementally in append mode. */
  def windowedEventAgg(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("w.start").as("ts_hour"), col("event_type"), col("n"), col("total_value"))

  /** The WHOLE customs pipeline as an incremental streaming job: monthly
    * batch files appearing under `incomingDir` run through
    * `etl.Pipeline.run` and append to the history sink — the reference's
    * manual monthly re-run (cells 4→83) promoted to a continuously-running
    * job.
    *
    * Shape: `foreachBatch`. Stages 1-8 are stateless maps and could stream
    * directly, but backward tagging and the outlier medians aggregate over
    * the batch (the reference's semantics are per-batch-with-history, not
    * per-row), so each micro-batch runs the full batch pipeline — the
    * standard pattern for promoting a complex batch flow without rewriting
    * it. Every micro-batch has the same schema and, until a KB changes,
    * the same KBs, so `run` binds it to the plans it analyzed for the
    * first one: a micro-batch pays its scan, its one pass through the
    * chain and its write, not the pipeline's analysis.
    *
    * foreachBatch alone is only at-least-once (a micro-batch that fails
    * after a partial write is replayed), so the write is made IDEMPOTENT:
    * the sink is partitioned by batch id and each batch dynamically
    * overwrites exactly its own partition — a replay rewrites the same
    * `__batch_id=` partition instead of appending duplicates, so the sink
    * holds each batch's rows once (StreamsSpec replays a batch to pin
    * this). */
  def pipelineStream(spark: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      incomingDir: String, sinkDir: String, checkpointDir: String,
      modelKb: DataFrame, regexKb: DataFrame, rates: DataFrame) =
    spark.readStream.schema(schema).parquet(incomingDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.etl.Pipeline.run(batch, modelKb, regexKb, rates)
          .withColumn("__batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch_id")
          .parquet(sinkDir)
      }
}
