package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Customs-table ingest/egress (SURVEY.md §2.1 S1/S2).
  *
  * The reference reads/writes xlsx (`pd.read_excel` / `to_excel`, notebook
  * cells 4/75/83). There is no Excel reader in a zero-egress Spark distro,
  * and xlsx is not a 100TB format anyway — the engine ingests CSV (the
  * interchange export of the same sheets) and Parquet, and writes
  * date-partitioned Parquet as the history sink.
  */
object CustomsSource {

  /** The 27-column input sheet schema (SURVEY.md §1.2). Numeric columns
    * stay StringType at ingest — the pipeline's `prepare` stage does the
    * `try_cast` coercion exactly where pandas did `to_numeric(coerce)`. */
  val inputSchema: StructType = StructType(Seq(
    "month", "hs code", "product description", "code description", "importer",
    "supplier", "original country", "original state", "qty", "unit",
    "amount in usd", "price in usd", "amount in contract", "price in contract",
    "date", "declaration number", "import/export",
    "destination port in indonesia", "foreign ports of loading",
    "importer address", "exporter address", "currency", "amount in IDR",
    "price in IDR", "unit price in usd by weight", "weight in kg",
    "weight in tons").map(StructField(_, StringType)))

  /** S1: fact-table scan from CSV (header row, quoted fields). */
  def readCustomsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .schema(inputSchema)
      .csv(path)

  /** S2/S3: history sink — append-mode Parquet partitioned by month of
    * `date`, so each monthly batch lands in its own partition and readers
    * prune by month. This is the 100TB shape of the reference's
    * "concat + rewrite the whole xlsx" history update.
    *
    * Rows are hash-partitioned by month before the write, so an append
    * writes one file per month whatever its input's partitioning. The
    * pipeline's output is clustered by its last window keys (brand,
    * model); written as it comes, every task would add a file to every
    * month it holds rows of, and readers would open that many more. */
  def appendToHistory(df: DataFrame, path: String): Unit =
    df.withColumn("__ym", date_format(col("date"), "yyyyMM"))
      .repartition(col("__ym"))
      .write.mode("append").partitionBy("__ym").parquet(path)

  def readHistory(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("__ym")

  /** S2 golden-export parity: the reference's `to_excel` (cells 75/83).
    * Driver-side single-sheet xlsx via the pure-JDK writer — for the
    * golden report/KB sheets a human opens, NOT a data sink (history
    * stays partitioned Parquet). Round-trip proven in XlsxSourceSpec. */
  def writeGoldenXlsx(df: DataFrame, path: String, sheetName: String = "Sheet1"): Unit =
    Xlsx.write(df, path, sheetName)
}
