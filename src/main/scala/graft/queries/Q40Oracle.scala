package graft.queries

import graft.etl.{KnowledgeBase, Normalize, Pipeline}

/** DuckDB oracle for q40 — the FULL 13-stage customs pipeline
  * (graft.etl.Pipeline.run) re-expressed as one relational CTE chain, so
  * the flagship query is hash-gated instead of rows-only.
  *
  * The SQL is GENERATED from the same data the Spark side uses
  * (KnowledgeBase.sampleModelKbRows / sampleRegexKbRows,
  * Normalize.customsAliases, Pipeline.Remark/irrelevantKeywords), so the
  * two engines cannot drift apart on KB contents.
  *
  * Stages that provably cannot change the (remark, outliers,
  * "type interval") output are omitted:
  *  - stage 12 currency conversion: a left join against a rate table with
  *    unique (year, month) keys — adds columns, never adds/drops rows;
  *  - the dynamic capacity-interval buckets of stage 11 (only the fixed
  *    "type interval" buckets reach the output);
  *  - stage 13 model whitespace cleanup (runs after the outlier medians).
  *
  * The literal-expression matching paths (Matching.literalFirstMatch,
  * RegexMatch.literalRegexBest) are expressed here in their relational
  * twin form (LEFT JOIN + QUALIFY row_number) — the tie-break orders are
  * proven identical in MatchingSpec/RegexMatchSpec.
  */
object Q40Oracle {

  /** Brand/model token vocabularies injected into the synthesized fact
    * table — shared with the Spark side of q40 (OpsQueries). */
  val factBrands: Seq[String] = Seq(
    "KOMATSU", "SANY", "HITACHI", "CATERPILLAR", "XCMG", "NOBRAND", "MYSTERY")
  val factModels: Seq[String] = Seq(
    "PC200-8", "SY215C", "ZX330", "320D", "XE215C", "PC2000", "SY365H",
    "ZX85", "NOMODEL", "25 TONS UNIT", "USED RIG 2015", "SPARE PARTS SKD")

  /** Plain-Scala twin of Normalize.collapseWs∘preProcess for driver-side
    * model_ref derivation (KnowledgeBase.prepareModelKb does the same as a
    * Column expression). */
  private def normRef(s: String): String =
    s.flatMap {
      case ch if ",()[]:;".contains(ch) => " "
      case '/' | '*' => ""
      case ch => ch.toString
    }.replaceAll("\\s+", " ").trim.toUpperCase

  /** The F1 alias chain (Normalize.applyAliases over customsAliases) as a
    * DuckDB CASE over expression `t`. First matching rule wins. */
  private def aliasSql(t: String): String = {
    val whens = Normalize.customsAliases.map { r =>
      val hit =
        if (r.matchToken) s"list_contains(string_split($t, ' '), '${r.needle}')"
        else s"contains($t, '${r.needle}')"
      s"WHEN $hit THEN '${r.prefix} ' || $t"
    }.mkString("\n              ")
    s"CASE $whens\n              ELSE $t END"
  }

  /** F2+F3 pre-processing: punctuation→space via translate ( `/`/`*`
    * deleted — chars in `from` beyond `to`'s length), whitespace collapse,
    * trim, upper. Identical translate semantics in Spark and DuckDB. */
  private def normSql(e: String): String =
    s"upper(trim(regexp_replace(translate($e, ',()[]:;/*', '       '), '\\s+', ' ', 'g')))"

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** The shared CTE prefix: synthetic fact → prepare → brand/model match
    * (fact0..s2). Reused by the full-pipeline oracle (`sql`) and the
    * match-only oracle (`matchOnlySql`).
    *
    * rid must uniquely identify a PHYSICAL lineitem row: the synthetic
    * corpus has duplicate (l_orderkey, l_linenumber) pairs, so a global
    * row_number over every column that feeds the pipeline is used. Rows
    * tying on ALL of those columns are interchangeable downstream, so the
    * arbitrary id assignment among ties cannot change the result. */
  /** fact0+prep CTEs (synthetic fact → stage-1 prepare). */
  private def factPrepCtes(every: Int): String =
    s"""WITH fact0 AS (
       |  SELECT row_number() OVER (ORDER BY l.l_orderkey, l.l_linenumber, l.l_partkey,
       |           l.l_suppkey, l.l_quantity, l.l_extendedprice) AS rid,
       |         upper(concat_ws(' ',
       |           ${sqlList(factBrands)}[CAST(l.l_partkey % 7 AS INTEGER) + 1],
       |           ${sqlList(factModels)}[CAST((l.l_orderkey + l.l_linenumber) % 12 AS INTEGER) + 1],
       |           p.p_name)) AS descr,
       |         upper('SUPPLIER ' || CAST(l.l_suppkey AS VARCHAR)) AS supp,
       |         l.l_extendedprice * 10 AS amount,
       |         l.l_quantity AS qty,
       |         l.l_quantity * 20000.0 AS wkg
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE l.l_orderkey % $every = 0),
       |prep AS (
       |  SELECT rid, amount / qty AS price, wkg / qty / 1000 AS unit_wt,
       |         ${normSql(aliasSql("descr"))} AS d2,
       |         ${normSql(aliasSql("supp"))} AS supp_n
       |  FROM fact0 WHERE amount >= 10000 AND amount / qty >= 10000)""".stripMargin

  /** Stage-2 brand/model match CTEs (b/m/s2, suffixed) over `prep`, for an
    * arbitrary KB row set — lets one oracle match against two KB versions
    * (the K2 rematch oracle). */
  private def matchCtes(
      kbRows: Seq[(String, String, Double, String, Double)], sfx: String): String = {
    val R = Pipeline.Remark
    val brandVals = kbRows.map(_._1).distinct.zipWithIndex
      .map { case (b, i) => s"('$b', ${i + 1})" }.mkString(", ")
    val kbVals = kbRows.map { case (b, m, cap, ty, _) =>
      s"('$b', '$m', '${normRef(m)}', $cap::DOUBLE, '$ty')"
    }.mkString(",\n      ")
    s""",
       |b$sfx AS (
       |  SELECT prep.*, br.b AS brand0
       |  FROM prep LEFT JOIN (VALUES $brandVals) br(b, ord)
       |    ON contains(prep.d2, br.b) OR contains(prep.supp_n, br.b)
       |  QUALIFY row_number() OVER (PARTITION BY prep.rid ORDER BY br.ord ASC NULLS LAST) = 1),
       |m$sfx AS (
       |  SELECT b$sfx.*, kb.model AS model0, kb.capacity AS cap0, kb.typ AS type0
       |  FROM b$sfx LEFT JOIN (VALUES
       |      $kbVals) kb(kb_brand, model, model_ref, capacity, typ)
       |    ON b$sfx.brand0 = kb.kb_brand AND contains(b$sfx.d2, kb.model_ref)
       |  QUALIFY row_number() OVER (PARTITION BY b$sfx.rid
       |    ORDER BY length(kb.model_ref) DESC NULLS LAST, kb.model_ref ASC NULLS LAST) = 1),
       |s2$sfx AS (
       |  SELECT rid, price, unit_wt, d2,
       |         coalesce(brand0, 'UNKNOWN') AS brand,
       |         coalesce(model0, 'UNKNOWN') AS model,
       |         cap0 AS capacity,
       |         coalesce(type0, 'UNKNOWN') AS typ,
       |         CASE WHEN brand0 IS NULL THEN '${R.noMatch}'
       |              WHEN model0 IS NULL THEN '${R.brandNoModel}'
       |              ELSE '${R.fully}' END AS remark
       |  FROM m$sfx)""".stripMargin
  }

  private def matchPrefix(every: Int): String =
    factPrepCtes(every) + matchCtes(KnowledgeBase.sampleModelKbRows, "")

  /** Oracle for q66 (K2 rematchIndividual): match with a KB missing
    * `dropBrand`, then re-match only the 'No match' rows against the full
    * KB; rows the first pass matched keep their first-pass result. */
  def rematchSql(every: Int, dropBrand: String): String = {
    val R = Pipeline.Remark
    val reduced = KnowledgeBase.sampleModelKbRows.filterNot(_._1 == dropBrand)
    factPrepCtes(every) +
      matchCtes(reduced, "_r") +
      matchCtes(KnowledgeBase.sampleModelKbRows, "_f") +
      s"""
         |SELECT CASE WHEN a.remark = '${R.noMatch}' THEN f.brand ELSE a.brand END AS brand,
         |       CASE WHEN a.remark = '${R.noMatch}' THEN f.model ELSE a.model END AS model,
         |       CASE WHEN a.remark = '${R.noMatch}' THEN f.remark ELSE a.remark END AS remark,
         |       count(*) AS n
         |FROM s2_r a JOIN s2_f f USING (rid)
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  }

  /** Oracle for q55: the match stage alone as a (brand, model, remark)
    * distribution. */
  def matchOnlySql(every: Int): String =
    matchPrefix(every) + """
      |SELECT brand, model, remark, count(*) AS n
      |FROM s2 GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Prefix through the regex pass (fact0..s7). The remark tells a unique
    * regex match from the longest of several via n_matched. */
  private def throughS7(every: Int = 7): String = {
    val R = Pipeline.Remark
    val rxVals = KnowledgeBase.sampleRegexKbRows.map { case (b, pat, capreg, cat, sp) =>
      s"('$b', '$pat', '$capreg', '$cat', $sp, ${pat.length})"
    }.mkString(",\n      ")
    matchPrefix(every) + s""",
       |s6 AS (
       |  SELECT rid, price, unit_wt, d2, brand, model, capacity,
       |         CASE WHEN contains(d2, 'WHEEL EXCAVATOR') THEN 'WHEEL EXCAVATOR'
       |              WHEN contains(d2, 'WHEELED CRANE') THEN 'WHEELED CRANE'
       |              WHEN contains(d2, 'ROUGH TERRAIN CRANE') THEN 'ROUGH-TERRAIN CRANE'
       |              WHEN contains(d2, 'CRAWLER CRANE') THEN 'CRAWLER CRANE'
       |              ELSE typ END AS typ,
       |         CASE WHEN list_has_any(string_split(d2, ' '), ['NEW', 'UNUSED']) THEN 'new'
       |              WHEN list_has_any(string_split(d2, ' '),
       |                     ['USED', 'SECONDHAND', 'OLD', 'REFURBISH', 'SECOND', '2ND'])
       |                   OR len(list_filter(string_split(d2, ' '),
       |                        t -> regexp_matches(t, '^\\d{4}$$') AND t >= '1950' AND t <= '2018')) > 0
       |              THEN 'used' ELSE 'new' END AS newused,
       |         CASE WHEN regexp_matches(d2, 'PARTIAL|PARTY|\\bPARTS?\\b|ASSEMBLE|\\bSKD\\b|\\bCKD\\b')
       |              THEN '${R.parts}' ELSE remark END AS remark
       |  FROM s2
       |  WHERE NOT regexp_matches(d2, '${Pipeline.irrelevantKeywords.mkString("|")}')),
       |rx AS (SELECT * FROM (VALUES
       |      $rxVals) t(rx_brand, pat, capreg, cat, sp, patlen)),
       |s7j AS (
       |  SELECT s6.*, rx.rx_brand, rx.cat, rx.sp, rx.capreg,
       |         list_extract(list_sort(list_transform(regexp_extract_all(s6.d2, rx.pat),
       |            x -> {'negl': -length(x), 'v': x})), 1).v AS m,
       |         count(rx.pat) OVER (PARTITION BY s6.rid) AS nm
       |  FROM s6 LEFT JOIN rx
       |    ON s6.remark IN ('${R.brandNoModel}', '${R.noMatch}')
       |   AND (s6.brand = 'UNKNOWN' OR s6.brand = rx.rx_brand)
       |   AND regexp_matches(s6.d2, rx.pat)
       |  QUALIFY row_number() OVER (PARTITION BY s6.rid
       |     ORDER BY length(m) DESC NULLS LAST, rx.patlen DESC NULLS LAST, rx.pat ASC NULLS LAST) = 1),
       |s7 AS (
       |  SELECT rid, price, unit_wt, d2, newused,
       |         CASE WHEN m IS NULL THEN remark
       |              WHEN brand = 'UNKNOWN' AND nm = 1 THEN '${R.noBrandUniqueRegex}'
       |              WHEN brand = 'UNKNOWN' THEN '${R.noBrandLongestRegex}'
       |              WHEN nm = 1 THEN '${R.uniqueRegex}'
       |              ELSE '${R.longestRegex}' END AS remark,
       |         CASE WHEN m IS NOT NULL THEN replace(m, ' ', '') ELSE model END AS model,
       |         CASE WHEN m IS NOT NULL AND capacity IS NULL THEN
       |              CASE WHEN sp = 0 THEN try_cast(capnum AS DOUBLE) / 10
       |                   WHEN sp = 1 THEN try_cast(substr(capnum, 2) AS DOUBLE) / 10
       |                   WHEN sp = 3 THEN try_cast(capnum AS DOUBLE)
       |                   WHEN sp = -1 THEN try_cast(substr(capnum, 2) AS DOUBLE)
       |                   WHEN sp = -2 THEN try_cast(substr(capnum, 3) AS DOUBLE)
       |                   ELSE NULL END
       |              ELSE capacity END AS capacity,
       |         CASE WHEN m IS NOT NULL AND typ = 'UNKNOWN' THEN cat ELSE typ END AS typ,
       |         CASE WHEN m IS NOT NULL AND brand = 'UNKNOWN' THEN rx_brand ELSE brand END AS brand
       |  FROM (SELECT s7j.*, nullif(regexp_extract(d2, capreg, 1), '') AS capnum FROM s7j))""".stripMargin
  }

  /** Oracle for q56: stages 2-7 through the regex pass, as a
    * (brand, model, remark) distribution. */
  def regexOnlySql(every: Int): String =
    throughS7(every) + """
      |SELECT brand, model, remark, count(*) AS n
      |FROM s7 GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Prefix through outlier marking (fact0..s10) — shared by the E1
    * (excavator) and E2 (crane) full-pipeline oracles; only the interval
    * tail differs between the two entry points. */
  private def throughS10(every: Int = 7): String = {
    val R = Pipeline.Remark
    throughS7(every) + s""",
       |s8 AS (
       |  SELECT rid, price, unit_wt, brand, model, newused,
       |         CASE WHEN capacity IS NULL AND cap8 IS NOT NULL THEN '${R.capacityInDesc}'
       |              ELSE remark END AS remark,
       |         coalesce(capacity, cap8) AS capacity,
       |         CASE WHEN typ = 'CRAWLER CRANE' AND coalesce(capacity, cap8) > 300
       |              THEN 'CRAWLER CRANE (LATTICE_BOOM)' ELSE typ END AS typ
       |  FROM (SELECT s7.*,
       |          try_cast(nullif(regexp_extract(d2,
       |            '\\b(\\d+(?:\\.\\d+)?)\\s*(?:METRIC\\s*)?TONS?\\b', 1), '') AS DOUBLE) AS cap8
       |        FROM s7)),
       |known AS (
       |  SELECT DISTINCT brand AS bt_brand, typ AS bt_type,
       |                  capacity AS bt_capacity, model AS bt_model
       |  FROM s8 WHERE model <> 'UNKNOWN' AND capacity IS NOT NULL),
       |s9 AS (
       |  SELECT rid, price, unit_wt, brand, typ, newused,
       |         CASE WHEN bt_model IS NOT NULL THEN '${R.inferredModel}' ELSE remark END AS remark,
       |         coalesce(bt_model, model) AS model, capacity
       |  FROM (
       |    SELECT s8.*, k.bt_model,
       |           row_number() OVER (PARTITION BY s8.rid ORDER BY k.bt_model ASC NULLS LAST) AS rn
       |    FROM s8 LEFT JOIN known k
       |      ON s8.model = 'UNKNOWN' AND s8.brand <> 'UNKNOWN' AND s8.capacity IS NOT NULL
       |     AND s8.brand = k.bt_brand AND s8.typ = k.bt_type
       |     AND k.bt_capacity BETWEEN s8.capacity * 0.95 AND s8.capacity * 1.05)
       |  WHERE rn = 1),
       |med AS (
       |  SELECT brand, model, quantile_cont(price, 0.5) AS md
       |  FROM s9
       |  WHERE NOT (model = 'UNKNOWN' OR capacity IS NULL OR newused = 'used')
       |    AND price IS NOT NULL
       |  GROUP BY brand, model),
       |s10 AS (
       |  SELECT s9.*,
       |         CASE WHEN s9.model = 'UNKNOWN' OR s9.capacity IS NULL OR s9.newused = 'used'
       |                   OR med.md IS NULL THEN 'unknown'
       |              WHEN s9.price >= med.md * 1.2 OR s9.price <= med.md * 0.8 THEN 'yes'
       |              ELSE 'no' END AS outliers
       |  FROM s9 LEFT JOIN med ON s9.brand = med.brand AND s9.model = med.model)""".stripMargin
  }

  def sql: String =
    throughS10() + s"""
       |SELECT remark, outliers,
       |  CASE WHEN basis IS NULL OR basis <= 0 THEN 'UNKNOWN'
       |       WHEN basis < 5 THEN '<5T' WHEN basis < 10 THEN '5-10T'
       |       WHEN basis < 30 THEN '10-30T' WHEN basis < 70 THEN '30-70T'
       |       WHEN basis < 90 THEN '70-90T' ELSE '≥90T' END AS "type interval",
       |  count(*) AS n
       |FROM (SELECT s10.*,
       |        CASE WHEN capacity IS NOT NULL AND capacity > 0 THEN capacity
       |             ELSE unit_wt END AS basis
       |      FROM s10)
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Oracle for q68 (E2 runCrane): same 13 stages, crane interval rules
    * (capacity only, no unit-weight fallback, `<wT` + w-wide bands) and
    * the EN→CN type-label translation merge (J8). `translations` must be
    * the exact rows the Spark side passes. */
  def craneSql(every: Int, loadInterval: Int,
      translations: Seq[(String, String)]): String = {
    val w = loadInterval
    val trVals = translations.map { case (k, v) => s"('$k', '$v')" }.mkString(", ")
    throughS10(every) + s"""
       |SELECT remark, outliers,
       |  CASE WHEN capacity IS NULL OR capacity <= 0 THEN 'UNKNOWN'
       |       WHEN capacity < $w THEN '<${w}T'
       |       ELSE CAST(CAST(floor(capacity / $w) * $w AS INTEGER) AS VARCHAR)
       |            || '-' ||
       |            CAST(CAST(floor(capacity / $w) * $w + $w AS INTEGER) AS VARCHAR)
       |            || 'T' END AS "capacity interval",
       |  tr.translated AS type_translated,
       |  count(*) AS n
       |FROM s10 LEFT JOIN (VALUES $trVals) tr(k, translated) ON s10.typ = tr.k
       |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin
  }
}
