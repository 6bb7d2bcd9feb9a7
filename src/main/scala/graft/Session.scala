package graft

import org.apache.spark.sql.SparkSession

/** The one local session the `graft.*` entry points (Bench, Verify,
  * Explain) run on: `cpus`
  * task threads and as many shuffle partitions, UTC, no UI, a
  * registry-sized codegen cache, and ERROR logging without the benign
  * checkpoint-release traces. */
object Session {
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Whole-stage-codegen compilation cache: Spark's default (100
      // entries) is sized for a handful of repeated queries; a 488-query
      // registry generates thousands of distinct codegen units, so every
      // pass evicts and Janino-recompiles the lot. Scale-neutral (the
      // cache is per-JVM source-keyed compilation, identical benefit on
      // any cluster executor).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    // ERROR, not WARN: cache/checkpoint WARN lines printed after Bench's
    // JSON line would push it out of the stdout tail its reader parses
    spark.sparkContext.setLogLevel("ERROR")
    LogHygiene.suppressAccumulatorReleaseNoise()
    spark
  }

  /** Task threads from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)
}
