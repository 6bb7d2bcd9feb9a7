package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bit-level compatibility switch for the reference's BUGGY behaviors
  * (SURVEY §2.12 — this library implements the documented INTENT by
  * default; use `bugCompatible` only to reproduce the reference's buggy
  * output byte-for-byte, e.g. when diffing against a historical export). */
final case class CompatFlags(
    /** Reproduce all three together:
      * §2.12-1: `search_regex` computes capacities for starting_point 1
      * (and 2) but never assigns them (missing `df.at`);
      * §2.12-2: the `capcacity` typo makes starting_point −2 crash; rows
      * that would hit it end with no capacity;
      * §2.12-4: in term-scoped outlier marking (py:287-316, term=True) the
      * LOWER-bound test omits the term filter (py:304,312): the upper bound
      * compares against the term-scoped median, the lower against the
      * all-terms (brand, model) median. */
    referenceBugs: Boolean)

object CompatFlags {
  /** Documented intent (cells 19/28/43/49) — the default everywhere. */
  val intent: CompatFlags = CompatFlags(referenceBugs = false)
  /** Reproduce the reference's actual buggy assignments. */
  val bugCompatible: CompatFlags = CompatFlags(referenceBugs = true)
}

/** Regex-knowledge-base matching (SURVEY.md §2.4 J3/J4, §2.3 F6).
  *
  * The reference loops every unmatched row over every pattern with
  * `re.findall` and keeps the longest match across all patterns
  * (`data_processing_program_20240520.py:167-236`). Spark shape: broadcast
  * theta-join on a column-side `rlike` (Spark's RLike accepts non-foldable
  * patterns; it recompiles only when the pattern value changes, and the
  * pattern table is sorted so equal patterns are adjacent), then a window
  * tie-break on the longest extracted match.
  */
object RegexMatch {

  /** All matches of (column-side) `pattern` in `text`, longest first.
    * Python `re.findall` + `max(key=len)` semantics — NOT first-match. */
  def longestMatch(text: Column, pattern: Column): Column = {
    val all = regexp_extract_all(text, pattern, lit(0))
    // sort by (length desc, value asc) and take the head
    val sorted = array_sort(all,
      (l, r) => when(length(l) > length(r), -1)
        .when(length(l) < length(r), 1)
        .when(l < r, -1).when(l > r, 1).otherwise(0))
    get(sorted, lit(0)) // null-safe head (ANSI mode errors on element_at OOB)
  }

  /** Join `fact` rows against a broadcast pattern table; keep the single
    * best (longest-match) pattern row per fact row. `patCol` is the regex
    * column in `dim`; `scope` is an extra equi/theta conjunct (e.g.
    * brand === ref_brand, or lit(true) for the global pass). Adds
    * `extractedAs` = the longest matched substring.
    *
    * Tie-break order mirrors the reference: longest extracted match first
    * (py:189), then the dim-provided `priorityCol` (the reference sorts its
    * regex table longest-pattern-first, py:445), then pattern text for
    * determinism.
    */
  def regexJoin(
      fact: DataFrame,
      idCols: Seq[String],
      textCol: String,
      dim: DataFrame,
      patCol: String,
      scope: Column,
      priorityCol: Option[String],
      keep: Map[String, String],
      extractedAs: String = "matched",
      findallLongest: Boolean = true): DataFrame = {
    val matched = col("__m")
    val extractExpr =
      if (findallLongest)
        // cached-pattern kernel: the builtin recompiles when the pattern
        // column's value changes, i.e. on EVERY candidate of the theta-join
        graft.functions.RegexCached.longestFindall(col(textCol), col(patCol))
      // first-match semantics: null-safe head of the findall list
      else get(regexp_extract_all(col(textCol), col(patCol), lit(0)), lit(0))
    val joined = fact
      .join(broadcast(dim),
        scope && graft.functions.RegexCached.rlikeCached(col(textCol), col(patCol)),
        "left")
      .withColumn("__m", extractExpr)
    val tie: Seq[Column] =
      Seq(length(matched).desc_nulls_last) ++
        priorityCol.map(c => col(c).asc_nulls_last).toSeq ++
        Seq(col(patCol).asc_nulls_last)
    val w = Window.partitionBy(idCols.map(col): _*).orderBy(tie: _*)
    joined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(fact.columns.map(col) ++
        (keep.map { case (from, to) => col(from).as(to) }.toSeq :+ matched.as(extractedAs)): _*)
  }

  /** Shuffle-free literal path (same idea as Matching §expr): when the
    * pattern table is plan-time small, evaluate every pattern as a LITERAL
    * regex and pick the winner in ONE fused expression
    * (functions.LiteralRegexBestExpr — per-instance compiled patterns, one
    * pass). Zero joins, zero exchanges; returns struct(ord, matched,
    * n_matched), null when no gated pattern matches.
    *
    * Tie-break mirrors `regexJoin`: longest extracted match, then the
    * given priority (ascending), then pattern ordinal — proven bit-equal
    * to `literalRegexBestDeclarative` in RegexMatchSpec. */
  def literalRegexBest(text: Column, patterns: Seq[(String, Int, Column)],
      findallLongest: Boolean = false): Column =
    graft.functions.LiteralRegexBest(text, patterns, findallLongest)

  /** The original greatest-struct-fold formulation (kept for the
    * equivalence spec; ~6 plan nodes per pattern). */
  def literalRegexBestDeclarative(text: Column, patterns: Seq[(String, Int, Column)],
      findallLongest: Boolean = false): Column = {
    val cands = patterns.zipWithIndex.map { case ((pat, prio, gate), i) =>
      val extracted =
        if (findallLongest) longestMatch(text, lit(pat))
        else get(regexp_extract_all(text, lit(pat), lit(0)), lit(0))
      val m = coalesce(extracted, lit(""))
      struct(when(gate, length(m)).otherwise(0).as("len"), lit(-prio).as("negprio"),
        lit(-i).as("negord"), lit(i).as("ord"), m.as("matched"))
    }
    val best = greatest(cands: _*)
    // how many applicable patterns matched at all (reference distinguishes
    // "unique match" from "keep the longest of multiple", py:198-205);
    // repeated cand subtrees are CSE'd (they sit outside any lambda)
    val nMatched = cands.map(c => when(c.getField("len") > 0, 1).otherwise(0))
      .reduce(_ + _)
    when(best.getField("len") > 0,
      struct(best.getField("ord").as("ord"), best.getField("matched").as("matched"),
        nMatched.as("n_matched")))
      .otherwise(lit(null))
  }

  /** Capacity decode from a regex capture + per-pattern `starting_point` code
    * (reference F6, py:207-234 — implements the DOCUMENTED intent of cell 28;
    * the reference's own code has assignment/typo bugs for codes 1, 2, −2,
    * see SURVEY.md §2.12).
    *
    * codes: 0 → n/10; 1 → drop 1st digit then /10; 2 → unknown (null, 'TBD'
    * provenance handled by caller); 3 → n; −1 → drop 1st digit; −2 → drop
    * first two digits.
    */
  def decodeCapacity(numText: Column, startingPoint: Column,
      compat: CompatFlags = CompatFlags.intent): Column = {
    val n = numText.cast("double")
    val drop1 = substring(numText, 2, 1000).cast("double")
    val drop2 = substring(numText, 3, 1000).cast("double")
    // §2.12-1/-2: the reference computes but never assigns for codes 1/2,
    // and code -2 raises (the `capcacity` typo) — under the bug flag those
    // codes contribute nothing, exactly like the buggy original
    val c1 = if (compat.referenceBugs) lit(null).cast("double") else drop1 / 10
    val cm2 = if (compat.referenceBugs) lit(null).cast("double") else drop2
    when(startingPoint === 0, n / 10)
      .when(startingPoint === 1, c1)
      .when(startingPoint === 2, lit(null).cast("double"))
      .when(startingPoint === 3, n)
      .when(startingPoint === -1, drop1)
      .when(startingPoint === -2, cm2)
      .otherwise(lit(null).cast("double"))
  }
}
