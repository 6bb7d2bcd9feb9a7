package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Timeout-proof by construction: oracle_sql.json is written BEFORE any
  * query runs, and every completed query immediately appends one flushed
  * JSON line to outDir/progress.jsonl — a mid-run kill leaves the oracle
  * map plus N parseable per-query records (name, ok, rows, sec) on disk,
  * never an empty artifact. Queries run on a small thread pool
  * (SPARK_GRAFT_VERIFY_PAR, default 8): they are independent reads, and
  * overlapping driver-side planning with execution is most of the wall
  * saving at sf0.01 where per-query runtime is dominated by fixed cost. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name-prefix filter for fast local
    // iteration (the driver always calls with two args = full dump)
    val keep = SparkEntry.namePrefixes(args.lift(2))
    val spark = Session.build(Session.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    import SparkEntry.{jsonString => q}

    // oracle map FIRST: a timeout after this point still leaves the
    // driver everything it needs to grade whatever parquet landed.
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val progress = Paths.get(s"$outDir/progress.jsonl")
    Files.deleteIfExists(progress)
    def record(line: String): Unit = synchronized {
      Files.writeString(progress, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      System.err.println(s"[verify] $line")
    }

    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "8").toInt
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    val t0 = System.nanoTime()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      pool.submit(new Runnable { def run(): Unit = {
        val s0 = System.nanoTime()
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          val rows = spark.read.parquet(s"$outDir/$name").count()
          record(f"""{"name": ${q(name)}, "ok": true, "rows": $rows, "sec": ${(System.nanoTime() - s0) / 1e9}%.3f}""")
        } catch { case e: Throwable =>
          record(f"""{"name": ${q(name)}, "ok": false, "error": ${q(String.valueOf(e.getMessage).take(400))}, "sec": ${(System.nanoTime() - s0) / 1e9}%.3f}""")
        }
      }})
    }
    pool.shutdown()
    pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    System.err.println(f"[verify] total ${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
