package graft.etl

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.CustomsSource

class LookupsSourcesSpec extends SparkSpec {
  import spark.implicits._

  test("translateLabels: broadcast left join keeps unmatched rows") {
    val df = Seq("EXCAVATOR", "MYSTERY").toDF("type")
    val tr = Seq(("EXCAVATOR", "挖掘机")).toDF("key", "translated")
    val got = Lookups.translateLabels(df, "type", tr, "type_cn")
      .orderBy("type").as[(String, Option[String])].collect()
    assert(got.toSeq == Seq(("EXCAVATOR", Some("挖掘机")), ("MYSTERY", None)))
  }

  test("inferFromWeight: nearest in-band spec wins") {
    val df = Seq((1L, 20.6), (2L, 90.0)).toDF("__row_id", "w")
    val specs = Seq(("Z20", 20.0, 20.0, "EXC"), ("Z21", 21.0, 21.0, "EXC"))
      .toDF("model", "weight", "capacity", "type")
    val got = Lookups.inferFromWeight(df, "w", specs)
      .orderBy("__row_id").select("inferred_model").as[Option[String]].collect()
    assert(got(0) == Some("Z21")) // |20.6-21| < |20.6-20|... both in ±5%? 20.6/20=1.03 in, 20.6/21=0.981 in
    assert(got(1) == None)
  }

  test("reverseLookup returns first key by order, null when absent") {
    val m = Map("a" -> 1.0, "b" -> 2.0, "c" -> 1.0)
    val got = Seq(1.0, 2.0, 9.0).toDF("v")
      .select(Lookups.reverseLookup($"v", m)).as[Option[String]].collect()
    assert(got.toSeq == Seq(Some("a"), Some("b"), None))
  }

  test("refineCraneType only touches >300T crawler cranes") {
    val df = Seq(("CRAWLER CRANE", 350.0), ("CRAWLER CRANE", 100.0), ("EXCAVATOR", 400.0))
      .toDF("type", "capacity")
    val got = Lookups.refineCraneType(df).select("type").as[String].collect()
    assert(got.toSeq == Seq("CRAWLER CRANE (LATTICE_BOOM)", "CRAWLER CRANE", "EXCAVATOR"))
  }

  test("customs CSV round-trip + partitioned history sink with pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toString
    val csv = s"$dir/in.csv"
    val header = CustomsSource.inputSchema.fieldNames.map(n => s""""$n"""").mkString(",")
    val row = CustomsSource.inputSchema.fieldNames.map {
      case "date" => "2024-05-31"
      case "qty" => "2"
      case "amount in usd" => "240000"
      case "weight in kg" => "40000"
      case n => s"v $n"
    }.mkString("\"", "\",\"", "\"")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv), header + "\n" + row + "\n")
    val df = CustomsSource.readCustomsCsv(spark, csv)
    assert(df.schema == CustomsSource.inputSchema)
    assert(df.count() == 1)
    val hist = s"$dir/hist"
    val typed = df.withColumn("date", to_timestamp($"date"))
    CustomsSource.appendToHistory(typed, hist)
    CustomsSource.appendToHistory(
      typed.withColumn("date", to_timestamp(lit("2024-06-15 00:00:00"))), hist)
    val back = CustomsSource.readHistory(spark, hist)
    assert(back.count() == 2)
    // month pruning: filtering on the partition value scans one partition
    assert(new java.io.File(s"$hist/__ym=202405").exists())
    assert(new java.io.File(s"$hist/__ym=202406").exists())
  }

  test("history append writes one file per month whatever the input partitioning") {
    val hist = java.nio.file.Files.createTempDirectory("graft_hist").toString
    // three months, each spread over all four input partitions
    val df = (0 until 40).map(i => (i, s"2024-0${3 + i % 3}-15 00:00:00")).toDF("id", "d")
      .select($"id", to_timestamp($"d").as("date")).repartition(4, $"id")
    assert(df.rdd.getNumPartitions == 4)
    CustomsSource.appendToHistory(df, hist)
    val parts = new java.io.File(hist).listFiles().filter(_.getName.startsWith("__ym="))
    assert(parts.map(_.getName).sorted.toSeq == Seq("__ym=202403", "__ym=202404", "__ym=202405"))
    parts.foreach(p => assert(p.list().count(_.endsWith(".parquet")) == 1, p.getName))
    assert(CustomsSource.readHistory(spark, hist).count() == 40)
  }
}
