package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The distributed prefix-sum hatch must be EQUAL to the
  * single-partition `sum()/lead() OVER (ORDER BY …)` windows it
  * replaces — proven here on multi-partition frames (including frames
  * with empty range partitions), not argued. */
class RunningSumsSpec extends SparkSpec {
  import spark.implicits._

  test("runningSums == sum() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)") {
    // distinct sort keys (the call-site contract: value tables), two
    // sum columns at once, enough rows to span several range partitions
    val df = spark.range(1000).select($"id",
      ($"id" * 37 % 101).as("a"), ($"id" % 7).as("b"))
    val r = Ranks.runningSums(df, Seq("a" -> "ca", "b" -> "cb"), None, $"id")
    val w = Window.orderBy($"id").rowsBetween(Window.unboundedPreceding, 0)
    val want = df
      .withColumn("ca", sum($"a").over(w))
      .withColumn("cb", sum($"b").over(w))
    assert(r.df.exceptAll(want).isEmpty && want.exceptAll(r.df).isEmpty,
      "distributed prefix sum diverged from the window form")
    // totals and row count ride along from the partials job
    val (ta, tb) = df.agg(sum($"a"), sum($"b"))
      .as[(Long, Long)].collect().head
    assert(r.totals == Map("a" -> ta, "b" -> tb) && r.rows == 1000L)
    // and the decorated frame really spans several partitions (the point)
    val nPart = r.df.select(spark_partition_id()).distinct().count()
    assert(nPart > 1, s"prefix sum ran in $nPart partition(s) — hatch not engaged")
    // the ranked form adds row_number() under the same order
    val rk = Ranks.runningSumsRanked(df, Seq("a" -> "ca", "b" -> "cb"), None,
      "rn", $"id")
    val wantRk = want.withColumn("rn",
      row_number().over(Window.orderBy($"id")).cast("long"))
    assert(rk.df.exceptAll(wantRk).isEmpty && wantRk.exceptAll(rk.df).isEmpty,
      "runningSumsRanked's rank diverged from row_number()")
    assert(rk.totals == r.totals && rk.rows == 1000L)
  }

  test("lead boundaries patch across range partitions (incl. global last)") {
    val df = spark.range(500).select(($"id" * 3).as("v"),
      lit(1L).as("c"))
    val r = Ranks.runningSums(df, Seq("c" -> "cum"), Some("v" -> "vn"), $"v")
    val w = Window.orderBy($"v")
    val want = df
      .withColumn("cum", sum($"c").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("vn", lead($"v", 1).over(w))
    assert(r.df.exceptAll(want).isEmpty && want.exceptAll(r.df).isEmpty,
      "lead across partition boundaries diverged from the window lead")
    // globally last row gets NULL, exactly one of them
    assert(r.df.filter($"vn".isNull).count() == 1L)
  }

  test("empty range partitions neither shift offsets nor break lead") {
    // 3 rows across 4 shuffle partitions: at least one partition is
    // empty; offsets/lead must skip it, not zero-fill through it
    val df = Seq((10L, 2L), (20L, 3L), (30L, 5L)).toDF("v", "c")
    val r = Ranks.runningSums(df, Seq("c" -> "cum"), Some("v" -> "vn"), $"v")
    val got = r.df.select($"v", $"cum", $"vn")
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq((10L, 2L, Some(20L)), (20L, 5L, Some(30L)),
      (30L, 10L, None)))
    assert(r.totals("c") == 10L && r.rows == 3L)
  }

  test("null sum inputs count as 0 (SQL sum skips them)") {
    val df = Seq((1L, Some(4L)), (2L, None), (3L, Some(6L)))
      .toDF("v", "c")
    val r = Ranks.runningSums(df, Seq("c" -> "cum"), None, $"v")
    val got = r.df.select($"v", $"cum").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 4L), (2L, 4L), (3L, 10L)))
    assert(r.totals("c") == 10L)
  }

  test("non-Long sum input is rejected loudly") {
    val df = Seq((1L, 1.5)).toDF("v", "c")
    val e = intercept[IllegalArgumentException] {
      Ranks.runningSums(df, Seq("c" -> "cum"), None, $"v")
    }
    assert(e.getMessage.contains("LongType"))
  }

  test("runningDecimalSums == decimal window sum, exact, with rank and totals") {
    // revenue-shaped decimals over enough rows to span range partitions
    val df = spark.range(800).select($"id",
      (($"id" * 37 % 1013).cast("decimal(18,6)") / 7).cast("decimal(18,6)")
        .as("rev"))
    val r = Ranks.runningDecimalSums(df, Seq("rev" -> "cum"),
      Some("rk"), $"rev".desc, $"id")
    val w = Window.orderBy($"rev".desc, $"id")
    val want = df
      .withColumn("cum", sum($"rev").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rk", row_number().over(w).cast("long"))
    assert(r.df.schema("cum").dataType ===
      org.apache.spark.sql.types.DecimalType(28, 6),
      "output type must equal the window-sum result type")
    assert(r.df.exceptAll(want).isEmpty && want.exceptAll(r.df).isEmpty,
      "distributed decimal prefix sum diverged from the window form")
    val tot = df.agg(sum($"rev")).collect().head.getDecimal(0)
    assert(r.totals("rev").compareTo(tot) == 0 && r.rows == 800L)
    val nPart = r.df.select(spark_partition_id()).distinct().count()
    assert(nPart > 1, s"decimal prefix sum ran in $nPart partition(s)")
  }

  test("runningDecimalSums: null inputs add 0; non-decimal input rejected") {
    val df = Seq((1L, Some(BigDecimal("1.50"))), (2L, None),
      (3L, Some(BigDecimal("2.25")))).toDF("v", "c")
      .select($"v", $"c".cast("decimal(10,2)").as("c"))
    val r = Ranks.runningDecimalSums(df, Seq("c" -> "cum"), None, $"v")
    val got = r.df.select($"v", $"cum".cast("string")).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "1.50"), (2L, "1.50"), (3L, "3.75")))
    val e = intercept[IllegalArgumentException] {
      Ranks.runningDecimalSums(Seq((1L, 2L)).toDF("v", "c"),
        Seq("c" -> "cum"), None, $"v")
    }
    assert(e.getMessage.contains("DecimalType"))
  }

  test("runningSumsBy == sum() OVER (PARTITION BY g ORDER BY v), groups straddling partitions") {
    // 3 mega-groups × hundreds of rows over 4 shuffle partitions: every
    // group straddles at least one range boundary
    val df = spark.range(900).select($"id",
      ($"id" % 3).cast("string").as("g"), ($"id" % 11).as("a"),
      when($"id" % 17 === 0, lit(null).cast("long"))
        .otherwise($"id" % 5).as("b"))
    val got = Ranks.runningSumsBy(df, Seq("g"),
      Seq("a" -> "ca", "b" -> "cb"), $"id")
    val w = Window.partitionBy($"g").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = df
      .withColumn("ca", sum($"a").over(w))
      .withColumn("cb", coalesce(sum($"b").over(w), lit(0L)))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "grouped prefix sum diverged from the partitioned window form")
    val nPart = got.select(spark_partition_id()).distinct().count()
    assert(nPart > 1, s"grouped prefix sum ran in $nPart partition(s)")
  }

  test("runningSumsBy: single-row groups and a group inside one partition") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("b", 1L, 5L),
      ("c", 1L, 7L), ("c", 2L, 8L), ("c", 3L, 9L)).toDF("g", "v", "x")
    val got = Ranks.runningSumsBy(df, Seq("g"), Seq("x" -> "cx"), $"v")
      .select($"g", $"v", $"cx").as[(String, Long, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(("a", 1L, 10L), ("a", 2L, 30L), ("b", 1L, 5L),
      ("c", 1L, 7L), ("c", 2L, 15L), ("c", 3L, 24L)))
  }

  test("runningDecimalSumsBy == decimal sum OVER (PARTITION BY g ORDER BY v)") {
    val df = spark.range(700).select($"id",
      ($"id" % 3).cast("string").as("g"),
      // null weights add 0 (no group starts with one, so the window
      // sum is never NULL)
      when($"id" % 19 === 5, lit(null).cast("decimal(18,6)")).otherwise(
        (($"id" * 13 % 97).cast("decimal(18,6)") / 7).cast("decimal(18,6)"))
        .as("w"))
    val got = Ranks.runningDecimalSumsBy(df, Seq("g"),
      Seq("w" -> "cw"), $"id")
    val w = Window.partitionBy($"g").orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("cw", sum($"w").over(w))
    assert(got.schema("cw").dataType ===
      org.apache.spark.sql.types.DecimalType(28, 6))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "grouped decimal prefix sum diverged from the partitioned window")
    val nPart = got.select(spark_partition_id()).distinct().count()
    assert(nPart > 1, s"grouped decimal prefix sum ran in $nPart partition(s)")
  }

  test("runningLeadBy == lead() OVER (PARTITION BY g ORDER BY v), group-boundary NULLs") {
    // 3 mega-groups straddling range partitions; a singleton group too
    val df = spark.range(600).select($"id",
        when($"id" === 599, "z").otherwise(($"id" % 3).cast("string")).as("g"),
        ($"id" * 7 % 1000).as("x"))
    val got = Ranks.runningLeadBy(df, Seq("g"), "x" -> "nx", $"id")
    val w = Window.partitionBy($"g").orderBy($"id")
    val want = df.withColumn("nx", lead($"x", 1).over(w))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "grouped lead diverged from the partitioned window lead")
    // one NULL per group (each group's last row)
    assert(got.filter($"nx".isNull).count() ==
      df.select($"g").distinct().count())
    val nPart = got.select(spark_partition_id()).distinct().count()
    assert(nPart > 1, s"grouped lead ran in $nPart partition(s)")
  }

  test("reserved internal names are rejected loudly") {
    val df = Seq((1L, 2L)).toDF("v", "__mid")
    val e = intercept[IllegalArgumentException] {
      Ranks.runningSums(df.withColumnRenamed("__mid", "c")
        .withColumn("__mid", lit(0L)), Seq("c" -> "cum"), None, $"v")
    }
    assert(e.getMessage.contains("__mid"))
    val e2 = intercept[IllegalArgumentException] {
      Ranks.runningMaxByValue(Seq((1L, 2L, 3L)).toDF("v", "y", "__val"),
        "y", "lt", "le", $"v")
    }
    assert(e2.getMessage.contains("__val"))
    // output names must be free too: a clash would otherwise surface as
    // a duplicate column (sums) or silently replace the caller's column
    // (ranks)
    val vcc = Seq((1L, 2L, 3L)).toDF("v", "c", "cum")
    val clashes = Seq[(String, () => Any)](
      "cum" -> (() => Ranks.runningSums(vcc, Seq("c" -> "cum"), None, $"v")),
      "cum" -> (() => Ranks.runningSumsBy(vcc, Seq("v"), Seq("c" -> "cum"), $"c")),
      "c" -> (() => Ranks.runningLeadBy(vcc, Seq("v"), "cum" -> "c", $"cum")),
      "c" -> (() => Ranks.withRowNumber(vcc, "c", $"v")),
      "cum" -> (() => Ranks.withNtile(vcc, "cum", 4, $"v")),
      "v" -> (() => Ranks.runningMaxByValue(vcc, "c", "lt", "v", $"v")))
    clashes.foreach { case (name, call) =>
      val e3 = intercept[IllegalArgumentException](call())
      assert(e3.getMessage.contains(s"'$name'"), e3.getMessage)
    }
  }

  /** true when `e` or one of its causes reports an arithmetic overflow */
  private def overflowed(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).toLowerCase.contains("overflow"))

  test("Long prefix sums throw on overflow, as ANSI sum does") {
    // 400 × 2^55 passes Long.MaxValue (2^63 − 1) at row 256, while each
    // of the 4 range partitions' partial sums stays in range: only the
    // offset scan, the walk and the grand total can see the overflow
    val df = spark.range(400).select($"id".as("v"), lit(1L << 55).as("c"))
    val e = intercept[Exception] {
      Ranks.runningSums(df, Seq("c" -> "cum"), None, $"v").df.collect()
    }
    assert(overflowed(e), e.toString)
  }

  test("grouped Long prefix sums throw on overflow, as ANSI sum does") {
    // group g's 396 rows overflow across partitions; group h's 4 do not
    val df = spark.range(400).select(
      when($"id" < 396, "g").otherwise("h").as("g"), $"id".as("v"),
      lit(1L << 55).as("c"))
    val e = intercept[Exception] {
      Ranks.runningSumsBy(df, Seq("g"), Seq("c" -> "cum"), $"v").collect()
    }
    assert(overflowed(e), e.toString)
  }

  test("runningMaxByValue == RANGE-frame window maxima, ties included/excluded") {
    // only 7 distinct values over 400 rows: every range boundary falls
    // inside a tie group, which must share maxLe and exclude itself
    // from maxLt
    val df = spark.range(400).select($"id",
      ($"id" % 7 * 10).as("v"),
      when($"id" % 13 === 0, lit(null).cast("long"))
        .otherwise(($"id" * 31) % 97).as("y"))
    val got = Ranks.runningMaxByValue(df, "y", "mlt", "mle", $"v")
    val lt = Window.orderBy($"v").rangeBetween(Window.unboundedPreceding, -1)
    val le = Window.orderBy($"v")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df
      .withColumn("mlt", max($"y").over(lt))
      .withColumn("mle", max($"y").over(le))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "distributed RANGE running max diverged from the window form")
    val nPart = got.select(spark_partition_id()).distinct().count()
    assert(nPart > 1, s"running max ran in $nPart partition(s)")
  }

  test("runningMaxByValue: all-null prefix yields NULL, as SQL max does") {
    val df = Seq((1L, 10L, None: Option[Long]), (2L, 20L, None),
      (3L, 30L, Some(5L))).toDF("id", "v", "y")
    val got = Ranks.runningMaxByValue(df, "y", "mlt", "mle", $"v")
      .select($"id", $"mlt", $"mle")
      .as[(Long, Option[Long], Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, None, None), (2L, None, None),
      (3L, None, Some(5L))))
  }
}
