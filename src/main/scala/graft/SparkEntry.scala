package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{EtlQueries, OpsQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  private def registry: Seq[(String, EtlQueries.Q)] = EtlQueries.all ++ OpsQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.fn }.toMap

  /** Name filter for a comma-separated list of query-name prefixes, as
    * Bench's first and Verify's third argument take it; no list keeps
    * every query. */
  private[graft] def namePrefixes(arg: Option[String]): String => Boolean =
    arg.fold((_: String) => true) { a =>
      val ps = a.split(",").map(_.trim)
      n => ps.exists(n.startsWith)
    }

  /** JSON string literal: quote, backslash and every control character
    * escaped, so oracle SQL or an exception message cannot
    * break the reader's parse. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case (n, q) if q.sql.isDefined => n -> q.sql.get }.toMap
}
