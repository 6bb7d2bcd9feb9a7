package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{ops, Tables}
import graft.etl._

/** One named corpus query per reference operator (SURVEY.md §2), with a
  * DuckDB-equivalent oracle. Cross-engine hash-matching rules applied
  * throughout:
  *   - money SUMs go through DECIMAL(18,6) (exact, order-independent) and
  *     cast to double only at the edge;
  *   - per-row double arithmetic is left unrounded (bitwise-identical in
  *     both engines);
  *   - every query ends in a total ORDER BY;
  *   - DuckDB type quirks (year()→BIGINT, sum(int)→HUGEINT) are cast back
  *     to Spark's types in the oracle SQL.
  */
object EtlQueries {

  final case class Q(fn: (SparkSession, String) => DataFrame, sql: Option[String])

  private[queries] def exactSumD(c: Column): Column =
    sum(c.cast("decimal(18,6)")).cast("double")

  val all: Seq[(String, Q)] = Seq(

    // ─── A1/A3/A4: pricing summary (flagship; TPC-H Q1 shape) ───────────
    "q01_pricing_summary" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .filter($"l_shipdate" <= lit("1998-09-01").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            sum($"l_quantity").as("sum_qty"), // integral doubles: exact
            exactSumD($"l_extendedprice").as("sum_base_price"),
            exactSumD($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
            (sum($"l_quantity") / count(lit(1))).as("avg_qty"),
            count(lit(1)).as("count_order"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  sum(l_quantity) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
             |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
             |  sum(l_quantity)/count(*) AS avg_qty,
             |  count(*) AS count_order
             |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ─── P2/P4/P5/P6: threshold filter + derived unit metrics ───────────
    "q02_filter_derive" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .filter($"l_extendedprice" >= 20000 && $"l_quantity" > 0)
          .select($"l_orderkey", $"l_linenumber",
            ($"l_extendedprice" / $"l_quantity").as("unit_price"),
            when($"l_discount" > 0.05, "discounted").otherwise("full").as("price_class"),
            coalesce($"l_returnflag", lit("UNKNOWN")).as("flag"))
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice/l_quantity AS unit_price,
             |  CASE WHEN l_discount > 0.05 THEN 'discounted' ELSE 'full' END AS price_class,
             |  coalesce(l_returnflag,'UNKNOWN') AS flag
             |FROM lineitem WHERE l_extendedprice >= 20000 AND l_quantity > 0
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ─── F2/F3/F5: text normalization (pre_processing) ──────────────────
    "q03_normalize" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir).select($"p_partkey",
          Normalize.preProcess($"p_name").as("name_norm"),
          Normalize.stripSpaces(upper($"p_name")).as("name_key"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  upper(trim(regexp_replace(translate(p_name, ',()[]:;/*', '       '), '\s+', ' ', 'g'))) AS name_norm,
             |  replace(upper(p_name), ' ', '') AS name_key
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ─── F1: supplier-alias → brand prefixing ───────────────────────────
    "q04_brand_alias" -> Q(
      (s, dir) => {
        import s.implicits._
        val branded = Normalize.applyAliases(upper(col("p_name")), Seq(
          Normalize.AliasRule("WIDGET", "WIDGETCO"),
          Normalize.AliasRule("BOLT", "BOLTWORKS", matchToken = true),
          Normalize.AliasRule("GEAR", "GEARCORP")))
        Tables.part(s, dir)
          .select($"p_partkey", branded.as("branded_name"))
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey,
             |  CASE WHEN contains(upper(p_name), 'WIDGET') THEN 'WIDGETCO ' || upper(p_name)
             |       WHEN list_contains(string_split(upper(p_name), ' '), 'BOLT') THEN 'BOLTWORKS ' || upper(p_name)
             |       WHEN contains(upper(p_name), 'GEAR') THEN 'GEARCORP ' || upper(p_name)
             |       ELSE upper(p_name) END AS branded_name
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ─── J1: containment join, first-in-ref-order tie-break ─────────────
    "q05_contains_first" -> Q(
      (s, dir) => {
        import s.implicits._
        // literal-expression path: dim is plan-time small → zero shuffle
        val kws = Seq("widget", "anvil", "rod", "gear", "bolt")
        Tables.part(s, dir)
          .select($"p_partkey", $"p_name",
            coalesce(Matching.literalFirstMatch(Seq($"p_name"), kws), lit("NONE"))
              .as("matched_kw"))
          .orderBy($"p_partkey")
      },
      Some("""WITH kws(kw, ref_order) AS (VALUES ('widget',1),('anvil',2),('rod',3),('gear',4),('bolt',5)),
             |j AS (SELECT p.p_partkey, p.p_name, k.kw,
             |        row_number() OVER (PARTITION BY p.p_partkey ORDER BY k.ref_order ASC NULLS LAST) AS rn
             |      FROM part p LEFT JOIN kws k ON contains(p.p_name, k.kw))
             |SELECT p_partkey, p_name, coalesce(kw,'NONE') AS matched_kw
             |FROM j WHERE rn = 1 ORDER BY p_partkey""".stripMargin)),

    // ─── J2: containment join, longest-match tie-break ──────────────────
    "q06_contains_longest" -> Q(
      (s, dir) => {
        import s.implicits._
        val kws = Seq("widget", "anvil", "rod", "gear", "bolt")
        Tables.part(s, dir)
          .select($"p_partkey",
            coalesce(Matching.literalLongestMatch($"p_name", kws), lit("NONE"))
              .as("matched_kw"))
          .orderBy($"p_partkey")
      },
      Some("""WITH kws(kw, ref_order) AS (VALUES ('widget',1),('anvil',2),('rod',3),('gear',4),('bolt',5)),
             |j AS (SELECT p.p_partkey, k.kw,
             |        row_number() OVER (PARTITION BY p.p_partkey
             |          ORDER BY length(k.kw) DESC NULLS LAST, k.kw ASC NULLS LAST) AS rn
             |      FROM part p LEFT JOIN kws k ON contains(p.p_name, k.kw))
             |SELECT p_partkey, coalesce(kw,'NONE') AS matched_kw
             |FROM j WHERE rn = 1 ORDER BY p_partkey""".stripMargin)),

    // ─── J3: regex knowledge-base join (column-side patterns) ───────────
    "q07_regex_join" -> Q(
      (s, dir) => {
        import s.implicits._
        val pats = Seq(
          ("w[a-z]*t", "W-CLASS", 1), ("b[a-z]*t", "B-CLASS", 2),
          ("[a-z]*old[a-z]*", "OLD-CLASS", 3), ("[a-z]*ing", "ING-CLASS", 4))
          .toDF("pat", "cls", "prio")
        RegexMatch.regexJoin(
            Tables.part(s, dir), Seq("p_partkey"), "p_name", pats, "pat",
            lit(true), Some("prio"), Map("cls" -> "match_class"),
            findallLongest = false)
          .select($"p_partkey",
            coalesce($"match_class", lit("NONE")).as("match_class"),
            coalesce($"matched", lit("")).as("matched"))
          .orderBy($"p_partkey")
      },
      Some("""WITH pats(pat, cls, prio) AS (VALUES
             |  ('w[a-z]*t','W-CLASS',1),('b[a-z]*t','B-CLASS',2),
             |  ('[a-z]*old[a-z]*','OLD-CLASS',3),('[a-z]*ing','ING-CLASS',4)),
             |j AS (SELECT p.p_partkey, t.cls, regexp_extract(p.p_name, t.pat, 0) AS m,
             |        row_number() OVER (PARTITION BY p.p_partkey
             |          ORDER BY length(regexp_extract(p.p_name, t.pat, 0)) DESC NULLS LAST,
             |                   t.prio ASC NULLS LAST, t.pat ASC NULLS LAST) AS rn
             |      FROM part p LEFT JOIN pats t ON regexp_matches(p.p_name, t.pat))
             |SELECT p_partkey, coalesce(cls,'NONE') AS match_class, coalesce(m,'') AS matched
             |FROM j WHERE rn = 1 ORDER BY p_partkey""".stripMargin)),

    // ─── J5: (year, month) exchange-rate broadcast join ─────────────────
    "q08_fx_join" -> Q(
      (s, dir) => {
        import s.implicits._
        val rates = Rates.rateTable(s,
          for { y <- 1995 to 2002; m <- 1 to 12 }
            yield (y, m, 6.5 + (y % 3) * 0.1 + m * 0.01))
        Rates.convert(Tables.orders(s, dir), "o_orderdate", rates,
            Seq("o_totalprice" -> "total_cny"))
          .select($"o_orderkey", $"total_cny")
          .orderBy($"o_orderkey")
      },
      Some("""WITH rates AS (SELECT y, m, 6.5::DOUBLE + (y % 3) * 0.1::DOUBLE + m * 0.01::DOUBLE AS rate
             |               FROM generate_series(1995, 2002) t(y), generate_series(1, 12) u(m))
             |SELECT o_orderkey, o_totalprice * rate AS total_cny
             |FROM orders LEFT JOIN rates ON year(o_orderdate) = y AND month(o_orderdate) = m
             |ORDER BY o_orderkey""".stripMargin)),

    // ─── J6: backward-tagging band self-join (±0.1% price band) ─────────
    "q09_band_self_join" -> Q(
      (s, dir) => {
        import s.implicits._
        // BandJoin.argMinInBand, not the theta join + rank window: on
        // the 25-value brand domain candidate pairs grow super-linearly
        // (measured 3.4x on 3x data) — the band walk materializes no
        // pair at all. Prices go through exact cents; the +-0.1 % band
        // becomes the integer condition 999*u <= 1000*k <= 1001*u,
        // which agrees with the oracle's double arithmetic because at
        // an exact rational boundary the double product is within a
        // half-ulp of the cent value (and off-boundary pairs are >= 1
        // cent away).
        val part = Tables.part(s, dir)
        val cents = round($"p_retailprice" * 100).cast("long")
        val known = part.filter($"p_size" < 40).select(
          $"p_brand".as("k_brand"), cents.as("k_cents"),
          $"p_type".as("k_type"), $"p_partkey".as("k_key"))
        val unknown = part.filter($"p_size" >= 40)
        ops.BandJoin.argMinInBand(unknown, $"p_brand", cents,
            known, $"k_brand", $"k_cents", $"k_key",
            Map("k_type" -> "borrowed_type", "k_key" -> "borrowed_from"),
            999L, 1001L, 1000L)
          .select($"p_partkey",
            coalesce($"borrowed_type", lit("UNKNOWN")).as("borrowed_type"),
            coalesce($"borrowed_from", lit(-1L)).as("borrowed_from"))
          .orderBy($"p_partkey")
      },
      Some("""WITH known AS (SELECT p_brand AS k_brand, p_retailprice AS k_price,
             |                      p_type AS k_type, p_partkey AS k_key
             |               FROM part WHERE p_size < 40),
             |j AS (SELECT u.p_partkey, k.k_type, k.k_key,
             |        row_number() OVER (PARTITION BY u.p_partkey ORDER BY k.k_key ASC NULLS LAST) AS rn
             |      FROM part u LEFT JOIN known k
             |        ON u.p_brand = k.k_brand
             |       AND k.k_price BETWEEN u.p_retailprice * 0.999 AND u.p_retailprice * 1.001
             |      WHERE u.p_size >= 40)
             |SELECT p_partkey, coalesce(k_type,'UNKNOWN') AS borrowed_type,
             |       coalesce(k_key, -1) AS borrowed_from
             |FROM j WHERE rn = 1 ORDER BY p_partkey""".stripMargin)),

    // ─── A2/J7: exact-median outlier marking ────────────────────────────
    "q10_median_outliers" -> Q(
      (s, dir) => {
        import s.implicits._
        Outliers.markOutliers(Tables.lineitem(s, dir), "l_extendedprice",
            Seq("l_partkey"), col("l_returnflag") === "R")
          .select($"l_orderkey", $"l_linenumber", $"outliers")
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""WITH med AS (SELECT l_partkey, quantile_cont(l_extendedprice, 0.5) AS m
             |             FROM lineitem WHERE NOT (l_returnflag = 'R') GROUP BY l_partkey)
             |SELECT l.l_orderkey, l.l_linenumber,
             |  CASE WHEN l.l_returnflag = 'R' OR m.m IS NULL THEN 'unknown'
             |       WHEN l.l_extendedprice >= m.m * 1.2 OR l.l_extendedprice <= m.m * 0.8 THEN 'yes'
             |       ELSE 'no' END AS outliers
             |FROM lineitem l LEFT JOIN med m ON l.l_partkey = m.l_partkey
             |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin)),

    // ─── A2 term mode: term-scoped medians at BOTH CompatFlags settings ─
    // (§2.12-4: the reference's term=True lower bound omits the term
    // filter; intent and bug-compatible outputs side by side)
    "q69_term_outliers" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.etl.CompatFlags
        val li = Tables.lineitem(s, dir).withColumn("l_year", year($"l_shipdate"))
        val intent = Outliers.markOutliersTerm(li, "l_extendedprice",
          Seq("l_partkey"), "l_year", $"l_returnflag" === "R",
          outCol = "outliers_intent")
        Outliers.markOutliersTerm(intent, "l_extendedprice",
            Seq("l_partkey"), "l_year", $"l_returnflag" === "R",
            outCol = "outliers_bug", compat = CompatFlags.bugCompatible)
          .select($"l_orderkey", $"l_linenumber", $"outliers_intent", $"outliers_bug")
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice,
             |              l_returnflag, year(l_shipdate) AS l_year FROM lineitem),
             |tmed AS (SELECT l_partkey, l_year, quantile_cont(l_extendedprice, 0.5) AS m
             |         FROM li WHERE NOT (l_returnflag = 'R') GROUP BY l_partkey, l_year),
             |bmed AS (SELECT l_partkey, quantile_cont(l_extendedprice, 0.5) AS m
             |         FROM li WHERE NOT (l_returnflag = 'R') GROUP BY l_partkey)
             |SELECT li.l_orderkey, li.l_linenumber,
             |  CASE WHEN li.l_returnflag = 'R' OR t.m IS NULL THEN 'unknown'
             |       WHEN li.l_extendedprice >= t.m * 1.2 OR li.l_extendedprice <= t.m * 0.8
             |       THEN 'yes' ELSE 'no' END AS outliers_intent,
             |  CASE WHEN li.l_returnflag = 'R' OR t.m IS NULL THEN 'unknown'
             |       WHEN li.l_extendedprice >= t.m * 1.2 OR li.l_extendedprice <= b.m * 0.8
             |       THEN 'yes' ELSE 'no' END AS outliers_bug
             |FROM li LEFT JOIN tmed t ON li.l_partkey = t.l_partkey AND li.l_year = t.l_year
             |        LEFT JOIN bmed b ON li.l_partkey = b.l_partkey
             |ORDER BY li.l_orderkey, li.l_linenumber""".stripMargin)),

    // ─── A5: cumulative share + OTHERS long-tail regroup ────────────────
    "q11_cumshare_others" -> Q(
      (s, dir) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir)
        val part = Tables.part(s, dir)
        val joined = li.join(broadcast(part), $"l_partkey" === $"p_partkey")
        val shares = Analytics.sharesTable(joined, "p_brand",
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), "share", "revenue")
        Analytics.regroupLongTail(shares, "p_brand", "revenue", "share")
          .select($"p_brand", $"revenue".cast("double").as("revenue"), $"share")
          .orderBy($"share".desc, $"p_brand")
      },
      Some("""WITH rev AS (SELECT p_brand, sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS revenue
             |             FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand),
             |tot AS (SELECT sum(revenue) AS grand FROM rev),
             |sh AS (SELECT p_brand, revenue, CAST(revenue AS DOUBLE)/CAST(grand AS DOUBLE)*100 AS share, grand
             |       FROM rev CROSS JOIN tot),
             |cum AS (SELECT *, sum(share) OVER (ORDER BY share ASC, p_brand ASC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM sh),
             |re AS (SELECT CASE WHEN c < 20.0 THEN 'OTHERS' ELSE p_brand END AS p_brand,
             |              sum(revenue) AS revenue, any_value(grand) AS grand
             |       FROM cum GROUP BY 1)
             |SELECT p_brand, CAST(revenue AS DOUBLE) AS revenue,
             |       CAST(revenue AS DOUBLE)/CAST(grand AS DOUBLE)*100 AS share
             |FROM re ORDER BY share DESC, p_brand""".stripMargin)),

    // ─── B1/B2: interval bucketing (fixed + dynamic labels) ─────────────
    "q12_buckets" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy(
            Enrich.fixedBuckets($"l_quantity").as("type_interval"),
            Enrich.dynamicBuckets($"l_quantity", 10).as("capacity_interval"))
          .agg(count(lit(1)).as("n"))
          .orderBy($"type_interval", $"capacity_interval")
      },
      Some("""SELECT
             |  CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 'UNKNOWN'
             |       WHEN l_quantity < 5 THEN '<5T' WHEN l_quantity < 10 THEN '5-10T'
             |       WHEN l_quantity < 30 THEN '10-30T' WHEN l_quantity < 70 THEN '30-70T'
             |       WHEN l_quantity < 90 THEN '70-90T' ELSE '≥90T' END AS type_interval,
             |  CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 'UNKNOWN'
             |       WHEN l_quantity < 5 THEN '<5T' WHEN l_quantity < 10 THEN '5-10T'
             |       ELSE CAST(CAST(floor(l_quantity/10)*10 AS INTEGER) AS VARCHAR) || '-' ||
             |            CAST(CAST(floor(l_quantity/10)*10 AS INTEGER)+10 AS VARCHAR) || 'T' END AS capacity_interval,
             |  count(*) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY type_interval, capacity_interval""".stripMargin)),

    // ─── B3: used/new token classifier ──────────────────────────────────
    "q13_usednew_tokens" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            Enrich.usedNew($"text", Seq("slow", "old", "legacy"), Seq("fast", "new"))
              .as("condition_class"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN list_has_any(string_split(text, ' '), ['fast','new']) THEN 'new'
             |       WHEN list_has_any(string_split(text, ' '), ['slow','old','legacy'])
             |            OR len(list_filter(string_split(text, ' '),
             |                 t -> regexp_matches(t, '^\d{4}$')
             |                      AND t >= '1950' AND t <= '2018')) > 0 THEN 'used'
             |       ELSE 'new' END AS condition_class
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ─── F7: keyword → code map lookup ──────────────────────────────────
    "q14_number_words" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            coalesce(Enrich.numberWord($"text",
              Map("join" -> 2, "merge" -> 3, "scan" -> 1, "sort" -> 4)), lit(0))
              .as("word_code"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE regexp_extract(text, '\b(join|merge|scan|sort)\b', 1)
             |    WHEN 'scan' THEN 1 WHEN 'join' THEN 2 WHEN 'merge' THEN 3 WHEN 'sort' THEN 4
             |    ELSE 0 END AS word_code
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ─── F8/B4: integer + decimal regex extraction ──────────────────────
    "q15_units_extract" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .select($"event_id", Enrich.extractInt($"props", "(\\d+)").as("k_value"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, CAST(NULLIF(regexp_extract(props, '(\d+)', 1), '') AS INTEGER) AS k_value
             |FROM events ORDER BY event_id""".stripMargin)),

    "q16_capacity_extract" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.supplier(s, dir)
          .select($"s_suppkey",
            Enrich.extractInt($"s_name", "(\\d+)").as("s_num"),
            Enrich.extractDouble($"s_name", "(\\d+)").as("s_num_d"))
          .orderBy($"s_suppkey")
      },
      Some("""SELECT s_suppkey,
             |  CAST(NULLIF(regexp_extract(s_name, '(\d+)', 1), '') AS INTEGER) AS s_num,
             |  CAST(NULLIF(regexp_extract(s_name, '(\d+)', 1), '') AS DOUBLE) AS s_num_d
             |FROM supplier ORDER BY s_suppkey""".stripMargin)),

    // ─── S3: history union with schema drift ────────────────────────────
    "q17_history_union" -> Q(
      (s, dir) => {
        import s.implicits._
        val orders = Tables.orders(s, dir)
        val hist = orders.filter(year($"o_orderdate") < 1999)
          .withColumn("datasource", lit("hist"))
        val fresh = orders.filter(year($"o_orderdate") >= 1999)
          .withColumn("datasource", lit("new")).drop("o_orderpriority")
        History.appendHistory(hist, fresh)
          .select($"o_orderkey", $"datasource",
            coalesce($"o_orderpriority", lit("NA")).as("priority"))
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, datasource, coalesce(o_orderpriority, 'NA') AS priority FROM (
             |  SELECT o_orderkey, 'hist' AS datasource, o_orderpriority FROM orders WHERE year(o_orderdate) < 1999
             |  UNION ALL
             |  SELECT o_orderkey, 'new' AS datasource, NULL FROM orders WHERE year(o_orderdate) >= 1999)
             |ORDER BY o_orderkey""".stripMargin)),

    // ─── A8: pivot ──────────────────────────────────────────────────────
    "q18_pivot" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .groupBy($"p_brand")
          .pivot("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))
          .agg(exactSumD($"p_retailprice"))
          .orderBy($"p_brand")
      },
      Some("""SELECT p_brand,
             |  CAST(sum(CASE WHEN p_type='ECONOMY'  THEN CAST(p_retailprice AS DECIMAL(18,6)) END) AS DOUBLE) AS "ECONOMY",
             |  CAST(sum(CASE WHEN p_type='LARGE'    THEN CAST(p_retailprice AS DECIMAL(18,6)) END) AS DOUBLE) AS "LARGE",
             |  CAST(sum(CASE WHEN p_type='MEDIUM'   THEN CAST(p_retailprice AS DECIMAL(18,6)) END) AS DOUBLE) AS "MEDIUM",
             |  CAST(sum(CASE WHEN p_type='PROMO'    THEN CAST(p_retailprice AS DECIMAL(18,6)) END) AS DOUBLE) AS "PROMO",
             |  CAST(sum(CASE WHEN p_type='SMALL'    THEN CAST(p_retailprice AS DECIMAL(18,6)) END) AS DOUBLE) AS "SMALL",
             |  CAST(sum(CASE WHEN p_type='STANDARD' THEN CAST(p_retailprice AS DECIMAL(18,6)) END) AS DOUBLE) AS "STANDARD"
             |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // ─── O3: top-k with deterministic ordering ──────────────────────────
    "q19_topk" -> Q(
      (s, dir) => {
        import s.implicits._
        val joined = Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
        Analytics.topK(joined, "p_brand", col("l_extendedprice"), 3)
      },
      Some("""SELECT p_brand, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total_value
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand
             |ORDER BY sum(CAST(l_extendedprice AS DECIMAL(18,6))) DESC, p_brand LIMIT 3""".stripMargin)),

    // ─── A1: value_counts ───────────────────────────────────────────────
    "q20_value_counts" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .groupBy($"event_type").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"event_type")
      },
      Some("""SELECT event_type, count(*) AS n FROM events
             |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin)),

    // ─── A7: keyword incidence QA counts ────────────────────────────────
    "q21_keyword_incidence" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).agg(
          sum(when($"text".contains("scan"), 1).otherwise(0)).as("n_scan"),
          sum(when($"text".contains("join"), 1).otherwise(0)).as("n_join"),
          sum(when($"text".contains("merge"), 1).otherwise(0)).as("n_merge"))
      },
      Some("""SELECT
             |  CAST(sum(CASE WHEN contains(text,'scan') THEN 1 ELSE 0 END) AS BIGINT) AS n_scan,
             |  CAST(sum(CASE WHEN contains(text,'join') THEN 1 ELSE 0 END) AS BIGINT) AS n_join,
             |  CAST(sum(CASE WHEN contains(text,'merge') THEN 1 ELSE 0 END) AS BIGINT) AS n_merge
             |FROM documents""".stripMargin)),

    // ─── §2.6: window rank (top-2 suppliers per nation) ─────────────────
    "q22_window_rank" -> Q(
      (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"s_nationkey").orderBy($"s_acctbal".desc, $"s_suppkey")
        Tables.supplier(s, dir)
          .withColumn("rk", row_number().over(w))
          .filter($"rk" <= 2)
          .select($"s_nationkey", $"rk", $"s_suppkey", $"s_name")
          .orderBy($"s_nationkey", $"rk")
      },
      Some("""SELECT s_nationkey, rk, s_suppkey, s_name FROM (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY s_nationkey
             |    ORDER BY s_acctbal DESC, s_suppkey) AS INTEGER) AS rk FROM supplier)
             |WHERE rk <= 2 ORDER BY s_nationkey, rk""".stripMargin)),

    // ─── event-time tumbling-window aggregate — the SAME transform runs
    //     unchanged on a stream (graft.streaming.Streams.windowedEventAgg) ──
    "q23_window_agg" -> Q(
      (s, dir) => {
        import s.implicits._
        graft.streaming.Streams.windowedEventAgg(Tables.events(s, dir))
          .orderBy($"ts_hour", $"event_type")
      },
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts_hour, event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
             |FROM events GROUP BY 1, 2 ORDER BY ts_hour, event_type""".stripMargin)),

    // ─── E3: full key-players report (A3+A4+A5+O4 + $M formatting) ──────
    "q36_key_players" -> Q(
      (s, dir) => {
        import s.implicits._
        val joined = Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir)), $"l_partkey" === $"p_partkey")
        val g = joined.groupBy($"p_brand").agg(
          Analytics.exactSum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          sum($"l_quantity").as("units"))
        // grand total as a window over the 25-row aggregate: one fact pass
        val sh = g
          .withColumn("__grand", sum($"revenue").over(Window.partitionBy()))
          .withColumn("share", $"revenue".cast("double") / $"__grand".cast("double") * 100)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"share".asc, $"p_brand".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val re = sh.withColumn("__cum", sum($"share").over(w))
          .withColumn("p_brand", when($"__cum" < 20.0, "OTHERS").otherwise($"p_brand"))
          .groupBy($"p_brand")
          .agg(sum($"revenue").as("revenue"), sum($"units").as("units"),
            first($"__grand").as("__grand"))
          .withColumn("share", $"revenue".cast("double") / $"__grand".cast("double") * 100)
        re.select($"p_brand",
            concat(lit("$"), round($"revenue".cast("double") / 1e6, 1).cast("string"),
              lit("M")).as("revenue_fmt"),
            $"units", $"share")
          .orderBy(Analytics.bottomLabelsKey("p_brand", Seq("OTHERS")),
            $"share".desc, $"p_brand")
      },
      Some("""WITH rev AS (SELECT p_brand,
             |    sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS revenue,
             |    sum(l_quantity) AS units
             |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand),
             |tot AS (SELECT sum(revenue) AS grand FROM rev),
             |sh AS (SELECT p_brand, revenue, units,
             |    CAST(revenue AS DOUBLE)/CAST(grand AS DOUBLE)*100 AS share, grand
             |  FROM rev CROSS JOIN tot),
             |cum AS (SELECT *, sum(share) OVER (ORDER BY share ASC, p_brand ASC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c FROM sh),
             |re AS (SELECT CASE WHEN c < 20.0 THEN 'OTHERS' ELSE p_brand END AS p_brand,
             |    sum(revenue) AS revenue, sum(units) AS units, any_value(grand) AS grand
             |  FROM cum GROUP BY 1)
             |SELECT p_brand,
             |  '$' || CAST(round(CAST(revenue AS DOUBLE)/1e6, 1) AS VARCHAR) || 'M' AS revenue_fmt,
             |  units, CAST(revenue AS DOUBLE)/CAST(grand AS DOUBLE)*100 AS share
             |FROM re
             |ORDER BY CASE WHEN p_brand = 'OTHERS' THEN 1 ELSE 0 END, share DESC, p_brand""".stripMargin)))
}
