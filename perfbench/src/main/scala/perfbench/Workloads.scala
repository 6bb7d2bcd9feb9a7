package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.{Analytics, KnowledgeBase, Pipeline, Rates}
import graft.sources.CustomsSource

/** What every workload provides to `Main`. */
trait Workload {
  def name: String
  /** Number of distinct ops before `op(i)` repeats itself. */
  def cycle: Int
  /** Untimed, before any session: write generated inputs. */
  def generate(): Unit = ()
  /** Timed as part of set-up, on a fresh session: warm-up on inputs drawn
    * from a seed different from the timed ops'. */
  def warmUp(spark: SparkSession, rep: Int): Unit
  /** Untimed, after set-up, before the timed loop. */
  def prepare(spark: SparkSession): Unit = ()
  /** Untimed, last before the timed loop: more ops like the timed ones, on
    * warm-up inputs, so JIT-compiled driver code has settled when timing
    * starts (op latency still falls over the first ops after set-up). */
  def settle(spark: SparkSession): Unit = ()
  def op(spark: SparkSession)(i: Int): Op
  /** Untimed, after the timed loop: end-of-run checks (throw `CheckFailed`)
    * and the bytes written per stored row. */
  def finish(spark: SparkSession, samples: Seq[Sample]): Double
  /** Traced run only: the per-layer metrics this workload exercises. */
  def layers(spark: SparkSession, samples: Seq[Sample]): Map[String, Double] = Map.empty
  /** Facts about outputs for cross-run comparison (same seed, same value). */
  def digests: Seq[String] = Nil
}

object Workloads {
  def apply(name: String, work: Path, seed: Long, log: String => Unit): Workload = name match {
    case "pipeline_bulk" => new PipelineBulk(work, seed)
    case "pipeline_monthly" => new PipelineMonthly(work, seed)
    case "history_analytics" => new HistoryAnalytics(work, seed, log)
    case "registry_heavy" => new RegistryHeavy(work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Seed for warm-up inputs: never equal to the timed ops' seeds. */
  def warmSeed(seed: Long): Long = CustomsGen.subSeed(seed, "warm-up", -1)

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_"))
          .toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }

  def median(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  /** Release the blocks of a DataFrame made by `localCheckpoint`. */
  def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = true)
      case _ => ()
    }

  /** Time building `df` plus one action that writes every column of it
    * nowhere. */
  def noopWriteS(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}

/** Shared by the pipeline workloads and the history set-up. */
object Customs {
  val remarks: Set[String] = {
    val r = Pipeline.Remark
    Set(r.fully, r.brandNoModel, r.noMatch, r.parts, r.uniqueRegex, r.longestRegex,
      r.noBrandUniqueRegex, r.noBrandLongestRegex, r.capacityInDesc, r.inferredModel,
      r.qtyKeywords)
  }
  val regexRemarks: Set[String] = {
    val r = Pipeline.Remark
    Set(r.uniqueRegex, r.longestRegex, r.noBrandUniqueRegex, r.noBrandLongestRegex)
  }
  val outliers: Set[String] = Set("yes", "no", "unknown")
  val usedNew: Set[String] = Set("new", "used")

  /** Monthly rates over every year the generators use. */
  def rates(spark: SparkSession): DataFrame =
    Rates.rateTable(spark,
      for { y <- 2015 to 2040; m <- 1 to 12 } yield (y, m, 6.5 + (y % 5) * 0.1 + m * 0.01))

  def months(from: (Int, Int), n: Int): Seq[(Int, Int)] =
    (0 until n).map { k =>
      val t = from._1 * 12 + (from._2 - 1) + k
      (t / 12, t % 12 + 1)
    }

  /** read -> run/runCrane -> appendToHistory. A traced op splits the
    * action: the output is checkpointed first ("execute"), so "append"
    * times the write alone. */
  def pipelineOp(spark: SparkSession, ctx: OpCtx, csv: Path, hist: Path,
      crane: Boolean): Unit = {
    val fact = ctx.phase("read") { CustomsSource.readCustomsCsv(spark, csv.toString) }
    val out = ctx.phase("construct") {
      val kb = KnowledgeBase.sampleModelKb(spark)
      val rkb = KnowledgeBase.sampleRegexKb(spark)
      if (crane) Pipeline.runCrane(fact, kb, rkb, rates(spark))
      else Pipeline.run(fact, kb, rkb, rates(spark))
    }
    if (ctx.traced) {
      val done = ctx.phase("execute") { out.localCheckpoint(eager = true) }
      ctx.phase("append") { CustomsSource.appendToHistory(done, hist.toString) }
      Workloads.release(done)
    } else ctx.phase("append") { CustomsSource.appendToHistory(out, hist.toString) }
  }

  /** Check stored pipeline output: row conservation and the remark,
    * outliers and new/used vocabularies. Returns (rows, digest). */
  def checkOutput(stored: DataFrame, expectedRows: Long): (Long, String) = {
    val cols = stored.columns.filterNot(_ == "__ym").sorted.map(c => col(s"`$c`"))
    val r = stored.agg(count(lit(1)), bit_xor(xxhash64(cols: _*)),
      collect_set(col("remark")), collect_set(col("outliers")),
      collect_set(col("`new/used`"))).head()
    val rows = r.getLong(0)
    Check(rows == expectedRows, s"row conservation: stored $rows, expected $expectedRows")
    def set(i: Int) = r.getSeq[String](i).toSet
    Check(set(2).subsetOf(remarks), s"remark vocabulary: ${set(2) -- remarks}")
    Check(set(3).subsetOf(outliers), s"outliers vocabulary: ${set(3) -- outliers}")
    Check(set(4).subsetOf(usedNew), s"new/used vocabulary: ${set(4) -- usedNew}")
    (rows, java.lang.Long.toHexString(if (r.isNullAt(1)) 0L else r.getLong(1)))
  }
}

/** Per-layer metrics common to the two pipeline workloads: stage prefixes,
  * regex hit ratio, function kernels and CSV read cost, all on `csv`. */
object PipelineLayers {
  import Workloads.noopWriteS

  private def med3(f: => Double): Double = Stats.median(Seq(f, f, f))

  def measure(spark: SparkSession, csv: Path, rows: Long, samples: Seq[Sample],
      hist: Seq[Path]): Map[String, Double] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    def read() = CustomsSource.readCustomsCsv(spark, csv.toString)
    val traced = samples.filter(s => s.ok && s.traced)
    def phaseMed(p: String) = Workloads.median(traced.map(_.phases.getOrElse(p, 0.0)))
    m("sources.read_ns_per_row") = med3(noopWriteS(read())) / rows * 1e9
    m("sources.append_s") = phaseMed("append")
    val files = hist.map(Workloads.dirBytes)
    m("sources.history_files") = files.map(_._1).sum.toDouble / hist.size
    m("sources.history_bytes") = files.map(_._2).sum.toDouble / hist.size
    m("etl.construct_s") = phaseMed("construct")
    m("etl.execute_s") = phaseMed("execute")
    m("etl.construct_jobs") =
      Workloads.median(traced.map(_.phaseJobs.getOrElse("construct", 0).toDouble))

    // stage prefixes, timed end to end (read included) and differenced
    val kb = KnowledgeBase.sampleModelKb(spark)
    val rkb = KnowledgeBase.sampleRegexKb(spark)
    val stages = StageChain.stages(kb, rkb, Customs.rates(spark), crane = false)
    var prev = med3(noopWriteS(read()))
    stages.indices.foreach { k =>
      val t = med3(noopWriteS(StageChain.prefix(stages, k + 1)(read())))
      m(s"etl.stage.${stages(k).name}_s") = t - prev
      prev = t
    }
    val beforeRegex = StageChain.prefix(stages, 6)(read())
    val tested = beforeRegex.filter(col("remark").isin(
      Pipeline.Remark.brandNoModel, Pipeline.Remark.noMatch)).count()
    val relabeled = stages(6).f(beforeRegex)
      .filter(col("remark").isin(Customs.regexRemarks.toSeq: _*)).count()
    m("etl.regex_hit_ratio") = if (tested == 0) 0.0 else relabeled.toDouble / tested

    // function kernels over the checkpointed description column, repeated
    // to at least 100k rows so a kernel outweighs the job's fixed cost
    val copies = math.max(1L, 100000L / rows)
    val raw = read().crossJoin(spark.range(copies))
      .select(upper(coalesce(col("`product description`"), lit(""))).as("d"))
      .repartition(4).localCheckpoint(eager = true)
    val d2 = raw.select(graft.etl.Normalize.preProcess(col("d")).as("d"))
      .localCheckpoint(eager = true)
    val n = raw.count().toDouble
    def kernelNs(base: DataFrame, k: Column): Double =
      med3(noopWriteS(base.select(k.as("k"))) - noopWriteS(base.select(col("d")))) / n * 1e9
    val brands = KnowledgeBase.sampleModelKbRows.map(_._1).distinct
    val patterns = KnowledgeBase.sampleRegexKbRows.map { case (_, p, _, _, _) =>
      (p, -p.length, lit(true)) }
    m("functions.preprocess_ns_per_row") = kernelNs(raw, graft.etl.Normalize.preProcess(col("d")))
    m("functions.multicontains_ns_per_row") = kernelNs(d2,
      graft.functions.MultiContains.multiContainsFirst(col("d"), Pipeline.irrelevantKeywords))
    m("functions.first_match_ns_per_row") = kernelNs(d2,
      graft.etl.Matching.firstMatchAuto(Seq(col("d")), brands))
    m("functions.literal_regex_ns_per_row") = kernelNs(d2,
      graft.etl.RegexMatch.literalRegexBest(col("d"), patterns, findallLongest = true))
    Workloads.release(raw)
    Workloads.release(d2)
    m.toMap
  }
}

abstract class PipelineWorkload(work: Path, seed: Long) extends Workload {
  protected val opDigests = mutable.ArrayBuffer.empty[String]
  override def digests: Seq[String] = opDigests.toSeq

  private val warmCsv = work.resolve("warm.csv")
  private var warmBatch: CustomsGen.Batch = _

  override def generate(): Unit =
    warmBatch = CustomsGen.write(Workloads.warmSeed(seed),
      CustomsGen.Spec(2000, Customs.months((2021, 1), 12), "W"), warmCsv)

  /** One `run` of a small batch; each rep writes its own history dir. */
  def warmUp(spark: SparkSession, rep: Int): Unit = {
    val hist = work.resolve(s"warm_hist_$rep")
    Customs.pipelineOp(spark, new OpCtx(spark, s"warm.$rep", traced = false),
      warmCsv, hist, crane = false)
    Customs.checkOutput(spark.read.parquet(hist.toString), warmBatch.expectedOut)
  }
}

/** One large batch over 36 months, re-run by every op into its own dir. */
final class PipelineBulk(work: Path, seed: Long) extends PipelineWorkload(work, seed) {
  val name = "pipeline_bulk"
  val cycle = 1
  val rows = 40000
  private val csv = work.resolve("bulk.csv")
  private var batch: CustomsGen.Batch = _
  private val bytesPerRow = mutable.ArrayBuffer.empty[Double]

  override def generate(): Unit = {
    super.generate()
    batch = CustomsGen.write(CustomsGen.subSeed(seed, name, 0),
      CustomsGen.Spec(rows, Customs.months((2022, 1), 36), "B"), csv)
  }

  private def hist(i: Int) = work.resolve(s"hist/op_$i")

  override def settle(spark: SparkSession): Unit = {
    val warm = CustomsGen.write(Workloads.warmSeed(seed),
      CustomsGen.Spec(rows, Customs.months((2019, 1), 36), "WB"), work.resolve("warm_bulk.csv"))
    (0 until 2).foreach { k =>
      Customs.pipelineOp(spark, new OpCtx(spark, s"settle.$k", traced = false), warm.path,
        work.resolve(s"settle_hist/op_$k"), crane = false)
    }
  }

  def op(spark: SparkSession)(i: Int): Op = Op("bulk", rows, { ctx =>
    Customs.pipelineOp(spark, ctx, csv, hist(i), crane = false)
    () => {
      val (n, digest) = Customs.checkOutput(spark.read.parquet(hist(i).toString),
        batch.expectedOut)
      if (opDigests.nonEmpty)
        Check(digest == opDigests.head, s"output digest $digest differs from ${opDigests.head}")
      opDigests += digest
      bytesPerRow += Workloads.dirBytes(hist(i))._2.toDouble / n
    }
  })

  def finish(spark: SparkSession, samples: Seq[Sample]): Double = {
    Check(bytesPerRow.nonEmpty, "no op stored any rows")
    // one digest per run: every op re-ran the same batch
    opDigests.remove(1, opDigests.size - 1)
    Workloads.median(bytesPerRow)
  }

  override def layers(spark: SparkSession, samples: Seq[Sample]): Map[String, Double] =
    PipelineLayers.measure(spark, csv, rows, samples,
      samples.filter(_.ok).map(s => hist(s.index)))
}

/** ~1,300-row monthly batches, alternating `run` and `runCrane`, all
  * appended to one history dir; batch i covers month i. */
final class PipelineMonthly(work: Path, seed: Long) extends PipelineWorkload(work, seed) {
  val name = "pipeline_monthly"
  val cycle = 2
  val rows = 1300
  private val hist = work.resolve("hist")
  private var stored = 0L

  private def month(i: Int) = Customs.months((2022, 1), i + 1).last

  private def batchCsv(i: Int) = work.resolve(s"month_$i.csv")

  override def settle(spark: SparkSession): Unit =
    Customs.months((2019, 1), 6).zipWithIndex.foreach { case ((y, m), k) =>
      val b = CustomsGen.write(CustomsGen.subSeed(Workloads.warmSeed(seed), name, k),
        CustomsGen.Spec(rows, Seq((y, m)), f"S$y%04d$m%02d"), work.resolve(s"settle_$k.csv"))
      Customs.pipelineOp(spark, new OpCtx(spark, s"settle.$k", traced = false), b.path,
        work.resolve("settle_hist"), crane = k % 2 == 1)
    }

  def op(spark: SparkSession)(i: Int): Op = {
    val (y, m) = month(i)
    val b = CustomsGen.write(CustomsGen.subSeed(seed, name, i),
      CustomsGen.Spec(rows, Seq((y, m)), f"M$y%04d$m%02d"), batchCsv(i))
    val crane = i % 2 == 1
    Op(if (crane) "monthly_crane" else "monthly_run", rows, { ctx =>
      Customs.pipelineOp(spark, ctx, b.path, hist, crane)
      () => {
        val part = hist.resolve(f"__ym=$y%04d$m%02d")
        val (n, digest) = Customs.checkOutput(spark.read.parquet(part.toString), b.expectedOut)
        opDigests += digest
        stored += n
      }
    })
  }

  def finish(spark: SparkSession, samples: Seq[Sample]): Double = {
    val total = CustomsSource.readHistory(spark, hist.toString).count()
    Check(total == stored, s"history holds $total rows, ops stored $stored")
    Workloads.dirBytes(hist)._2.toDouble / total
  }

  override def layers(spark: SparkSession, samples: Seq[Sample]): Map[String, Double] = {
    val last = samples.filter(_.ok).map(_.index).max
    PipelineLayers.measure(spark, batchCsv(last), rows, samples, Seq(hist))
  }
}

/** The reference report queries over a 36-month history built by appends.
  * 430 rows a month: the reference input held 1,294 rows for three months. */
final class HistoryAnalytics(work: Path, seed: Long, log: String => Unit) extends Workload {
  val name = "history_analytics"
  val monthRows = 430
  private val hist = work.resolve("hist")
  private var histRows = 0L
  private var histTotal: java.math.BigDecimal = _
  private var histDigest = ""
  override def digests: Seq[String] = Seq(histDigest)

  private val amount = col("`amount in usd`")
  private val others = "OTHERS"

  /** name -> (query, check of its collected rows) */
  private def queries(h: DataFrame): Seq[(String, () => Array[Row], Array[Row] => Unit)] = {
    def sumsTo100(rows: Array[Row], shareIdx: Int, what: String): Unit = {
      val s = rows.map(_.getDouble(shareIdx)).sum
      Check(math.abs(s - 100.0) < 1e-6, s"$what shares sum to $s")
    }
    def decimalTotal(rows: Array[Row], idx: Int): java.math.BigDecimal =
      rows.map(_.getDecimal(idx)).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
    Seq(
      ("key_players", () => {
        val shares = Analytics.sharesTable(h, "brand", amount)
        Analytics.regroupLongTail(shares, "brand", "total_value", "share")
          .orderBy(Analytics.bottomLabelsKey("brand", Seq(others, "UNKNOWN")),
            col("share").desc)
          .select("brand", "total_value", "share").collect()
      }, rows => {
        sumsTo100(rows, 2, "key-player")
        Check(decimalTotal(rows, 1).compareTo(histTotal) == 0, "key-player total")
      }),
      ("top_k", () => Analytics.topK(h, "model", amount, 10).collect(), rows => {
        Check(rows.nonEmpty && rows.length <= 10, s"top-k returned ${rows.length} rows")
        val v = rows.map(_.getDouble(1))
        Check(v.sameElements(v.sortBy(-_)), "top-k order")
      }),
      ("interval_mix", () =>
        Analytics.sharesTable(h, "capacity interval", amount)
          .select(col("capacity interval").as("bucket"), col("total_value"), col("share"))
          .unionByName(Analytics.sharesTable(h, "type interval", amount)
            .select(concat(lit("type:"), col("type interval")).as("bucket"),
              col("total_value"), col("share")))
          .collect(), rows => {
        val (ty, cap) = rows.partition(_.getString(0).startsWith("type:"))
        sumsTo100(ty, 2, "type-interval")
        sumsTo100(cap, 2, "capacity-interval")
      }),
      ("monthly_trend", () => {
        val ym = date_format(col("date"), "yyyyMM")
        val g = h.groupBy(ym.as("ym"), col("brand"))
          .agg(Analytics.exactSum(amount).as("total_value"))
        g.withColumn("share", col("total_value").cast("double") /
            sum(col("total_value")).over(
              org.apache.spark.sql.expressions.Window.partitionBy("ym")).cast("double") * 100)
          .orderBy("ym", "brand").collect()
      }, rows => {
        val byMonth = rows.groupBy(_.getString(0))
        Check(byMonth.size == 36, s"trend covers ${byMonth.size} months, expected 36")
        byMonth.values.foreach(r => sumsTo100(r, 3, "monthly"))
      }),
      ("outlier_mix", () =>
        Analytics.sharesTable(h, "outliers", lit(1)).select("outliers", "total_value", "share")
          .collect(), rows => {
        Check(rows.map(_.getString(0)).toSet.subsetOf(Customs.outliers), "outlier labels")
        Check(decimalTotal(rows, 1).longValue == histRows, "outlier rows")
      }))
  }
  val cycle = 5

  private def monthCsvs(dir: Path, s: Long, from: (Int, Int), n: Int): Seq[CustomsGen.Batch] =
    Customs.months(from, n).zipWithIndex.map { case ((y, m), k) =>
      CustomsGen.write(CustomsGen.subSeed(s, name, k),
        CustomsGen.Spec(monthRows, Seq((y, m)), f"H$y%04d$m%02d"), dir.resolve(s"m_$k.csv"))
    }

  private var batches: Seq[CustomsGen.Batch] = Nil

  override def generate(): Unit = {
    batches = monthCsvs(work.resolve("hist_in"), seed, (2022, 1), 36)
    monthCsvs(work.resolve("warm_in"), Workloads.warmSeed(seed), (2021, 1), 3)
  }

  /** Run the pipeline once over all batches in `in`, then append the
    * output to `out` in `appends` chunks of months. */
  private def build(spark: SparkSession, in: Path, out: Path, appends: Seq[Seq[String]]): Unit = {
    val run = Pipeline.run(CustomsSource.readCustomsCsv(spark, in.toString),
      KnowledgeBase.sampleModelKb(spark), KnowledgeBase.sampleRegexKb(spark),
      Customs.rates(spark)).localCheckpoint(eager = true)
    appends.foreach { yms =>
      CustomsSource.appendToHistory(
        run.filter(date_format(col("date"), "yyyyMM").isin(yms: _*)), out.toString)
    }
    Workloads.release(run)
  }

  private def ymOf(from: (Int, Int), n: Int) =
    Customs.months(from, n).map { case (y, m) => f"$y%04d$m%02d" }

  def warmUp(spark: SparkSession, rep: Int): Unit = {
    val out = work.resolve(s"warm_hist_$rep")
    build(spark, work.resolve("warm_in"), out, Seq(ymOf((2021, 1), 3)))
    val h = CustomsSource.readHistory(spark, out.toString)
    queries(h).foreach(_._2())
  }

  override def settle(spark: SparkSession): Unit = {
    val h = CustomsSource.readHistory(spark,
      work.resolve(s"warm_hist_${Main.SetupReps - 1}").toString)
    (0 until 2).foreach(_ => queries(h).foreach(_._2()))
  }

  override def prepare(spark: SparkSession): Unit = {
    build(spark, work.resolve("hist_in"), hist, ymOf((2022, 1), 36).grouped(12).toSeq)
    val h = CustomsSource.readHistory(spark, hist.toString)
    val (n, digest) = Customs.checkOutput(h, batches.map(_.expectedOut).sum)
    histRows = n
    histDigest = digest
    histTotal = h.agg(Analytics.exactSum(amount)).head().getDecimal(0)
  }

  def op(spark: SparkSession)(i: Int): Op = {
    val (qn, q, check) = queries(CustomsSource.readHistory(spark, hist.toString))(i % cycle)
    Op(qn, histRows, { ctx =>
      val rows = ctx.phase("query")(q())
      () => check(rows)
    })
  }

  def finish(spark: SparkSession, samples: Seq[Sample]): Double =
    Workloads.dirBytes(hist)._2.toDouble / histRows

  /** Besides its own layers, the traced run carries the `ops` layer: one
    * untraced and one traced pass of the registry workload's queries. */
  override def layers(spark: SparkSession, samples: Seq[Sample]): Map[String, Double] = {
    val (files, bytes) = Workloads.dirBytes(hist)
    val byQuery = samples.filter(_.ok).groupBy(_.name).map { case (q, ss) =>
      s"etl.analytics.${q}_s" -> Workloads.median(ss.map(_.wallS)) }
    val reg = new RegistryHeavy(work, seed)
    reg.prepare(spark)
    val ops = Runner.loop(spark, reg.name, 0.0, trace = true, reg.cycle, reg.op(spark),
      None, log).samples
    Check(ops.forall(_.ok), "a registry op failed")
    byQuery ++ reg.layers(spark, ops) ++ Map("sources.history_files" -> files.toDouble,
      "sources.history_bytes" -> bytes.toDouble)
  }
}

/** Registry operators the customs workloads never touch, over generated
  * TPC-H-shaped tables. The 13 `cachedFit` consumers are left out: they
  * reuse a fitted model across calls, so their timed ops would not be
  * independent. */
final class RegistryHeavy(work: Path, seed: Long) extends Workload {
  val name = "registry_heavy"
  val names: Seq[String] = Seq("q184", "q234", "q267", "q302", "q405", "q103",
    "q398", "q400", "q129", "q327")
  private val tableDir = work.resolve("registry/tables").toString
  private val warmDir = work.resolve("registry/warm_tables").toString
  private lazy val registry: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    names.map { p =>
      val hits = all.keys.filter(_.startsWith(p + "_")).toSeq
      require(hits.size == 1, s"registry prefix $p matched ${hits.mkString(",")}")
      hits.head -> all(hits.head)
    }
  }
  val cycle: Int = names.size
  private val tablesOf: Map[String, Seq[String]] = Map(
    "q234" -> Seq("lineitem"), "q267" -> Seq("lineitem"), "q302" -> Seq("lineitem"),
    "q405" -> Seq("orders", "lineitem")).withDefaultValue(Seq("documents"))
  private var inputRows: Map[String, Long] = Map.empty

  def warmUp(spark: SparkSession, rep: Int): Unit =
    registry(1)._2(spark, warmDir).write.format("noop").mode("overwrite").save()

  private var bytesPerRow = Double.NaN

  /** Write every query's result once, before the timed loop, with the
    * oracle SQL beside it; run.py compares them in DuckDB. This pass also
    * warms every query up on the timed tables. */
  override def prepare(spark: SparkSession): Unit = {
    val out = work.resolve("registry/out")
    var rows = 0L
    registry.foreach { case (qn, fn) =>
      fn(spark, tableDir).coalesce(1).write.mode("overwrite").parquet(out.resolve(qn).toString)
      rows += spark.read.parquet(out.resolve(qn).toString).count()
    }
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(registry.map { case (qn, _) => qn -> Json.str(oracle(qn)) }))
    bytesPerRow = Workloads.dirBytes(out)._2.toDouble / math.max(1L, rows)
    val rowsOf = Seq("documents", "lineitem", "orders").map { t =>
      t -> spark.read.parquet(s"$tableDir/$t.parquet").count() }.toMap
    inputRows = names.map(p => p -> tablesOf(p).map(rowsOf).sum).toMap
  }

  def op(spark: SparkSession)(i: Int): Op = {
    val p = names(i % cycle)
    val fn = registry(i % cycle)._2
    Op(p, inputRows(p), { ctx =>
      val df = ctx.phase("construct")(fn(spark, tableDir))
      ctx.phase("execute")(df.write.format("noop").mode("overwrite").save())
      () => ()
    })
  }

  /** Bytes of the result files per result row. */
  def finish(spark: SparkSession, samples: Seq[Sample]): Double = bytesPerRow

  override def layers(spark: SparkSession, samples: Seq[Sample]): Map[String, Double] = {
    val ok = samples.filter(_.ok)
    ok.groupBy(_.name).flatMap { case (q, ss) =>
      val jobs = ss.flatMap(_.engine).map(_.jobs.toDouble)
      Seq(s"ops.${q}_s" -> Workloads.median(ss.map(_.wallS)),
        s"ops.${q}_jobs" -> (if (jobs.isEmpty) 0.0 else Workloads.median(jobs)))
    }
  }
}
