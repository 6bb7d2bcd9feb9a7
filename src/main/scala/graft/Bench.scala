package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one registry runner: an untimed warm pass at sf0.001, then
  * `SPARK_GRAFT_BENCH_RUNS` (default 3) timed passes at
  * `SPARK_GRAFT_SF_DIR`, and the per-query medians as one stdout JSON line.
  * An optional first argument selects queries by comma-separated name
  * prefixes (`runMain graft.Bench q156,q157`); without it every query runs.
  *
  * `bench_detail.json` holds every median (`queries`), the queries that
  * threw (`failed`), each timed call's construct and action seconds
  * (`calls`) and, per pass, the JVM and block-manager counters read after
  * its clock stops (`passes`). */
object Bench {
  /** Small fixed subset printed inline in the stdout JSON line so the
    * driver's `queries` schema stays populated without the line growing
    * with the registry (393 queries x ~12 bytes blew past the driver's
    * ~2 KB stdout tail window in round 7 -> parsed:null). One per major
    * family; the full per-query map lives in bench_detail.json. */
  private val headline = Seq(
    "q01", "q25", "q28", "q30", "q36", "q40", "q68", "q103", "q124",
    "q153", "q156", "q360", "q369", "q382")

  /** One timed call: seconds in `fn(spark, dir)` (construction, including
    * any eager sub-jobs) and in its `count()`, and what either threw. */
  private[graft] final case class Call(constructSec: Double, actionSec: Double,
      error: Option[Throwable]) {
    def sec: Double = constructSec + actionSec
    def ok: Boolean = error.isEmpty
    def json: String =
      s"""{"construct_s":${fmt(constructSec)},"action_s":${fmt(actionSec)},"ok":$ok""" +
        error.fold("")(e => ",\"error\":" + SparkEntry.jsonString(String.valueOf(e).take(400))) + "}"
  }

  private[graft] def timed(spark: SparkSession, dir: String,
      fn: (SparkSession, String) => DataFrame): Call = {
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    val t0 = System.nanoTime()
    val built = try Right(fn(spark, dir)) catch { case e: Throwable => Left(e) }
    val construct = since(t0)
    built.fold(e => Call(construct, 0.0, Some(e)), { df =>
      val t1 = System.nanoTime()
      try { df.count(); Call(construct, since(t1), None) }
      catch { case e: Throwable => Call(construct, since(t1), Some(e)) }
    })
  }

  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build(Session.cpus(4))
    // a renamed headline query must fail LOUDLY here, not silently thin
    // the driver-visible `queries` field (jsonLine flatMaps over prefixes)
    val prefixes = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    require(headline.forall(prefixes.contains),
      s"headline queries missing from registry: " +
        headline.filterNot(prefixes.contains).mkString(", "))
    val keep = SparkEntry.namePrefixes(args.headOption)
    val names = SparkEntry.queries.toSeq.sortBy(_._1).filter(q => keep(q._1))
    require(names.nonEmpty, s"no registry query matches ${args.head}")
    // Untimed warm pass at the smallest SF: pays JVM/codegen/parquet-footer
    // session overhead without pre-computing any timed work; the cache is
    // cleared so persisted intermediates don't leak into the timed pass.
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { case (_, fn) => timed(spark, warmDir, fn) }
    spark.catalog.clearCache()
    // Median of n timed passes per query: a single pass is hostage to host
    // load (round-2's driver capture read 46.6s for a 26s suite); medians
    // over 3 passes keep the artifact within ~15% of steady state.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(3).max(1)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Kill-robustness measures (round 5's driver capture had NO JSON line —
    // consistent with a timeout kill mid-run; round 7's 420s budget fell
    // below ONE 393-query pass (~480s) and silently degraded 3-pass medians
    // to a single contended pass; round 11's contended host stretched pass 1
    // to 1090s — under the 1500s budget, so pass 2 STARTED and the driver's
    // wall-clock timeout killed it mid-pass, rc=124):
    //  - a wall-clock budget measured from JVM start (warm pass included,
    //    since the driver's timeout clock sees it too);
    //  - PREDICTIVE pass scheduling: pass k+1 starts only if the budget has
    //    room for another pass at the last pass's observed cost (+10%), so a
    //    degraded host degrades the artifact to fewer runs instead of dying;
    //  - an interim JSON line (medians over completed passes) printed after
    //    EVERY pass, plus rolling PARTIAL lines during pass 1 (n_queries
    //    marks the partial coverage) — whenever the driver kills the
    //    process anyway, the stdout tail still holds a parseable line.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption).getOrElse(1500.0)
    def elapsed(): Double = (System.nanoTime() - tStart) / 1e9
    val samples = scala.collection.mutable.ListBuffer.empty[Map[String, Call]]
    val passes = scala.collection.mutable.ListBuffer.empty[String]
    // A query that threw has no time: medians run over its ok calls only,
    // and a query with none drops out of `queries`, the total and n_queries.
    def medians(): Seq[(String, Double)] = names.flatMap { case (n, _) =>
      val ok = samples.toSeq.map(_(n)).filter(_.ok).map(_.sec)
      if (ok.isEmpty) None else Some(n -> median(ok))
    }
    var lastPassSec = 0.0
    while (samples.size < runs &&
        (samples.isEmpty || elapsed() + lastPassSec * 1.1 < budgetSec)) {
      spark.catalog.clearCache()
      val pass = samples.size + 1
      val gc0 = gc()
      val tp = System.nanoTime()
      val sofar = scala.collection.mutable.ListBuffer.empty[(String, Double)]
      samples += names.zipWithIndex.map { case ((name, fn), j) =>
        val call = timed(spark, sfDir, fn)
        call.error.foreach(e => System.err.println(
          s"[bench] FAILED $name (pass $pass): " + String.valueOf(e).replace('\n', ' ')))
        if (pass == 1) {
          if (call.ok) sofar += (name -> call.sec)
          if ((j + 1) % 60 == 0 && j + 1 < names.size) {
            println(jsonLine(sofar.toSeq, sfDir, 1, partial = true))
            System.out.flush()
          }
        }
        name -> call
      }.toMap
      lastPassSec = (System.nanoTime() - tp) / 1e9
      passes += passRecord(spark, lastPassSec, gc0)
      if (samples.size < runs) {
        println(jsonLine(medians(), sfDir, samples.size))
        System.out.flush()
      }
    }
    val results = medians()
    try {
      val detail = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
      val failed = names.map(_._1)
        .filter(n => samples.exists(!_(n).ok))
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      val calls = names.map { case (n, _) =>
        "\"" + n + "\":" + samples.map(_(n).json).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val w = new java.io.PrintWriter("bench_detail.json", "UTF-8")
      try w.println(s"""{"total":${fmt(total)},"n_queries":${results.size},"n_runs":${samples.size},"queries":$detail,"sf":"$sfDir",""" +
        s""""failed":$failed,"passes":${passes.mkString("[", ",", "]")},"calls":$calls}""")
      finally w.close()
    } catch { case _: Throwable => () } // detail file is best-effort
    spark.stop()
    // Print the JSON line LAST, after spark.stop(), so no executor/shutdown
    // log noise can interleave after it — the driver parses this line.
    println(jsonLine(results, sfDir, samples.size))
    System.out.flush()
  }

  /** Cumulative JVM GC (count, ms). */
  private def gc(): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  /** One pass's record, read after its clock stops: wall seconds, GC count
    * and ms since `gc0`, and what the pass left behind — persistent RDDs
    * still registered (localCheckpoint blocks wait for GC + ContextCleaner;
    * `clearCache()` does not drop them), block-manager storage and JVM
    * heap used, in bytes. */
  private def passRecord(spark: SparkSession, sec: Double, gc0: (Long, Long)): String = {
    val (count, ms) = gc()
    val storage = org.apache.spark.SparkEnv.get.blockManager.master
      .getMemoryStatus.values.map { case (max, free) => max - free }.sum
    val heap = Runtime.getRuntime
    s"""{"sec":${fmt(sec)},"gc_count":${count - gc0._1},"gc_ms":${ms - gc0._2},""" +
      s""""persistent_rdds":${spark.sparkContext.getPersistentRDDs.size},""" +
      s""""storage_bytes":$storage,"heap_bytes":${heap.totalMemory - heap.freeMemory}}"""
  }

  // Locale.ROOT pins '.' as the decimal separator regardless of host locale.
  private def fmt(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  /** The driver-parsed one-line artifact. The driver stores only the TAIL
    * of stdout and its capture window is ~2 KB: rounds 3/4 overflowed it
    * with full names, and round 7 overflowed it AGAIN at 393 queries even
    * with 3-byte qNN keys (393 x ~12 bytes = 4.7 KB) — summary-first key
    * order doesn't help because the driver keeps the TAIL, so the summary
    * got truncated and the artifact read parsed:null. Fix: the stdout line
    * is SUMMARY-ONLY (~350 bytes — immune to the tail window at any
    * registry size) plus a fixed 14-query headline subset so the `queries`
    * field stays schema-compatible; the full per-query map lives in
    * bench_detail.json. */
  private[graft] def jsonLine(results: Seq[(String, Double)], sfDir: String,
      nRuns: Int, partial: Boolean = false): String = {
    val byPrefix = results.map { case (k, v) => k.takeWhile(_ != '_') -> v }.toMap
    val qs = headline.flatMap(p => byPrefix.get(p).map(v => "\"" + p + "\":" + fmt(v)))
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // "partial":true marks an incomplete-coverage rolling line — a
    // consumer parsing the stdout tail can detect a mid-pass total
    // without knowing the registry size (full-coverage lines omit it)
    val p = if (partial) """"partial":true,""" else ""
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$p"n_queries":${results.size},"n_runs":$nRuns,"queries":$qs,"sf":"$sfDir"}"""
  }
}
