package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Containment matching (SURVEY.md §2.4 J1/J2).
  *
  * The reference hand-rolls these as O(N·dims) iterrows loops
  * (`data_processing_program_20240520.py:75-107`). The customs KB match
  * (`Pipeline.matchKnowledgeBase`, `rematchIndividual`) uses only the
  * literal-expression path below: the KB is collected at plan time and
  * compiled into array expressions, so the fact side never shuffles.
  * `bestMatchJoin` is the generic broadcast theta-join + window tie-break,
  * used for the weight band lookup (`Lookups.inferFromWeight`).
  */
object Matching {

  /** Separator for multi-column scans: NUL can appear in no keyword, so a
    * match can never span the boundary between two text columns (the
    * reference scans description and supplier separately, py:75-89).
    * Written as an escape so the source file stays diffable text. */
  private[etl] val NulSep = "\u0000"

  /** Join `fact` to the best-matching `dim` row under an arbitrary theta
    * `cond`, keeping exactly one dim row per fact row chosen by `tie`
    * (ascending; put `length(...).desc` first for longest-match semantics).
    *
    * `idCols` must uniquely identify a fact row. `keep` lists dim columns to
    * carry over (renamed via the map). Left-join semantics: unmatched fact
    * rows survive with nulls in the kept columns.
    *
    * Scale note: dim MUST be broadcastable (all reference dims are ≪ 10 MB).
    * The window partitions by the fact id, so with a unique id the sort is
    * per-row-group and cheap; no global sort, no fact-side shuffle beyond
    * the row_number exchange (which AQE coalesces).
    */
  def bestMatchJoin(
      fact: DataFrame,
      idCols: Seq[String],
      dim: DataFrame,
      cond: Column,
      tie: Seq[Column],
      keep: Map[String, String]): DataFrame = {
    val joined = fact.join(broadcast(dim), cond, "left")
    val w = Window.partitionBy(idCols.map(col): _*).orderBy(tie: _*)
    joined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .select(fact.columns.map(col) ++ keep.map { case (from, to) => col(from).as(to) }: _*)
  }

  // ─── Shuffle-free literal-expression path ─────────────────────────────
  //
  // A broadcast join already assumes the dimension fits in memory on every
  // executor. When it additionally fits on the driver at plan time (every
  // KB in the reference: hundreds of rows), the best-match lookup can be
  // compiled into a literal array expression instead: no join, no window,
  // NO EXCHANGE — the fact table is never shuffled, the whole match stays
  // inside one WholeStageCodegen span. At 100 TB this removes the only
  // full-fact shuffle of the matching phase.

  /** First entry (in the given order) contained in ANY of `texts`.
    * Null when none match. */
  def literalFirstMatch(texts: Seq[Column], entries: Seq[String]): Column = {
    val arr = array(entries.map(lit): _*)
    get(filter(arr, e => texts.map(_.contains(e)).reduce(_ || _)), lit(0))
  }

  /** Longest entry contained in `text` (ties → lexicographically first).
    * Null when none match. */
  def literalLongestMatch(text: Column, entries: Seq[String]): Column = {
    val sorted = entries.distinct.sortBy(e => (-e.length, e))
    get(filter(array(sorted.map(lit): _*), e => text.contains(e)), lit(0))
  }

  /** Longest match from a per-key candidate list (e.g. models of the
    * already-matched brand): `byKey` maps key → candidates. Null on
    * missing key or no match. */
  def literalKeyedLongestMatch(key: Column, text: Column,
      byKey: Map[String, Seq[String]]): Column = {
    val sortedMap = byKey.map { case (k, vs) => k -> vs.distinct.sortBy(e => (-e.length, e)) }
    get(filter(coalesce(try_element_at(typedLit(sortedMap), key),
      array().cast("array<string>")), e => text.contains(e)), lit(0))
  }

  /** Adaptive first-match: for big entry lists the O(keywords×text) chained
    * `contains` flips to the O(text) Aho-Corasick expression
    * (graft.functions.MultiContains). Multiple text columns are scanned as
    * one NUL-joined string (no keyword can span the separator). */
  def firstMatchAuto(texts: Seq[Column], entries: Seq[String],
      automatonThreshold: Int = 12): Column =
    if (entries.size >= automatonThreshold)
      graft.functions.MultiContains.multiContainsFirst(
        concat_ws(NulSep, texts: _*), entries)
    else literalFirstMatch(texts, entries)

  /** K2 `matching_program_individual` (py:494-530): re-run the KB match
    * for only the rows satisfying `cond` (e.g. a remark class or brand the
    * KB just learned about), leaving every other row untouched. Columns
    * already present are overwritten on the re-matched rows only.
    *
    * The match scans description2 AND supplier_norm; pipeline output drops
    * supplier_norm right after the match block (`Pipeline.chain`), so
    * when the column is missing it is re-derived here from the raw supplier
    * column — deterministic, identical to Pipeline.prepare's derivation. */
  def rematchIndividual(df: DataFrame, cond: Column,
      modelKb: DataFrame): DataFrame = {
    val hadSupplierNorm = df.columns.contains("supplier_norm")
    val base =
      if (hadSupplierNorm) df
      else df.withColumn("supplier_norm", Pipeline.supplierNorm(col("supplier")))
    val todo = base.filter(cond)
    val done = base.filter(!coalesce(cond, lit(false)))
    val out = done.unionByName(
      Pipeline.matchKnowledgeBase(todo.drop("brand", "model", "capacity",
        "type", "hp", "remark"), modelKb),
      allowMissingColumns = true)
    if (hadSupplierNorm) out else out.drop("supplier_norm")
  }
}
