package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops._
import EtlQueries.Q

/** Training-data-pipeline operators (dedup, similarity search, text
  * analysis, multimodal plumbing) over `documents`/`embeddings`, each with
  * a DuckDB oracle wherever the computation is portable (md5-derived
  * hashing makes even MinHash/SimHash/LSH oracle-checkable). */
object OpsQueries {

  /** q348's Fellegi–Sunter field model (shared by the Spark query and
    * its oracle so both engines inline IDENTICAL weight literals):
    * brand/type/first-name-token equality with assumed m/u rates. */
  private val fsFields: Seq[Linkage.FieldSpec] = Seq(
    Linkage.FieldSpec("p_brand", 0.9, 0.04),
    Linkage.FieldSpec("p_type", 0.85, 0.02),
    Linkage.FieldSpec("tok0", 0.8, 0.1))

  /** q363's channel universe (the literal contract the Shapley lattice
    * is built over). */
  private val shapleyChannels = Seq("click", "error", "signup", "view")

  /** q336's Poisson(1) draw k for resample j from the row's seeded base
    * hash — the former post-explode expression, applied per draw inside
    * one aggregate instead. */
  private def resampleK(h0: org.apache.spark.sql.Column, j: Int) = {
    val u = graft.ops.Dedup.mixHash(h0, j).cast("double") /
      lit(1152921504606846976.0)
    when(u < 0.367879441171, 0).when(u < 0.735758882343, 1)
      .when(u < 0.919698602929, 2).otherwise(3)
  }

  /** q377 oracle: the Markov removal-effect replay — path transitions,
    * integer fixed-point absorption sweeps per chain (full + one per
    * removed channel), HUGEINT arithmetic == the driver's BigInt. */
  private def markovAttributionSql(channels: Seq[String], iters: Int,
      scale: Long): String = {
    val chains = "FULL" +: channels.sorted
    def tf(c: String) = {
      val redirect = if (c == "FULL") "dst"
        else s"CASE WHEN dst = '$c' THEN 'NULL' ELSE dst END"
      s"""tf_$c AS MATERIALIZED (SELECT src, dst2 AS dst, sum(w) AS w FROM
         |  (SELECT src, $redirect AS dst2,
         |     CAST(n AS HUGEINT) * $scale // tot AS w
         |   FROM cnt JOIN tt USING (src)) GROUP BY 1, 2)""".stripMargin
    }
    def steps(c: String) = (1 to iters).map { t =>
      s"""p_${c}_$t AS MATERIALIZED (SELECT st.s,
         |    CAST(coalesce(sum(t.w * CASE WHEN t.dst = 'purchase'
         |        THEN CAST($scale AS HUGEINT)
         |      WHEN t.dst = 'NULL' THEN CAST(0 AS HUGEINT)
         |      ELSE coalesce(pp.p, CAST(0 AS HUGEINT)) END), 0) // $scale
         |      AS HUGEINT) AS p
         |  FROM st LEFT JOIN tf_$c t ON t.src = st.s
         |  LEFT JOIN p_${c}_${t - 1} pp ON pp.s = t.dst
         |  GROUP BY st.s)""".stripMargin
    }.mkString(",\n")
    val p0s = chains.map(c =>
      s"p_${c}_0 AS (SELECT s, CAST(0 AS HUGEINT) AS p FROM st)")
      .mkString(",\n")
    val finCols = chains.map(c =>
      s"""(SELECT CAST(p AS DOUBLE) FROM p_${c}_$iters WHERE s = 'START')
         |    AS p_$c""".stripMargin).mkString(",\n  ")
    val reSum = channels.sorted
      .map(c => s"(1.0 - p_$c / p_FULL)").mkString(" + ")
    val rows = channels.sorted.map(c =>
      s"""SELECT '$c' AS channel,
         |  round(1.0 - p_$c / p_FULL, 6) AS removal_effect,
         |  round((1.0 - p_$c / p_FULL) / ($reSum), 6) AS attribution_share,
         |  round(p_FULL / CAST($scale AS DOUBLE), 6) AS p_conv_full
         |FROM fin""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH e0 AS (SELECT user_id, event_type AS ty,
       |        row_number() OVER (PARTITION BY user_id
       |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
       |      FROM events),
       |cv AS (SELECT user_id, min(CASE WHEN ty = 'purchase' THEN rn END)
       |        AS cvn FROM e0 GROUP BY 1),
       |kept AS (SELECT e0.user_id, e0.ty, e0.rn FROM e0 JOIN cv USING (user_id)
       |         WHERE cv.cvn IS NULL OR e0.rn <= cv.cvn),
       |mx AS (SELECT user_id, max(rn) AS mr FROM kept GROUP BY 1),
       |tr AS (SELECT coalesce(lag(ty) OVER (PARTITION BY user_id ORDER BY rn),
       |          'START') AS src, ty AS dst FROM kept
       |       UNION ALL
       |       SELECT k.ty, 'NULL' FROM kept k
       |       JOIN mx ON k.user_id = mx.user_id AND k.rn = mx.mr
       |       WHERE k.ty <> 'purchase'),
       |cnt AS (SELECT src, dst, count(*) AS n FROM tr GROUP BY 1, 2),
       |tt AS (SELECT src, CAST(sum(n) AS HUGEINT) AS tot FROM cnt GROUP BY 1),
       |st AS (SELECT DISTINCT s FROM
       |        (SELECT src AS s FROM cnt UNION SELECT dst FROM cnt)
       |       WHERE s NOT IN ('purchase', 'NULL')),
       |${chains.map(tf).mkString(",\n")},
       |$p0s,
       |${chains.map(steps).mkString(",\n")},
       |fin AS (SELECT
       |  $finCols)
       |$rows
       |ORDER BY channel""".stripMargin
  }

  /** q372's graded comparison model — shared so the oracle inlines
    * IDENTICAL level-weight literals. */
  private val fsGraded: Seq[Linkage.GradedField] = Seq(
    Linkage.GradedField("p_brand", 0.85, 0.03, 0.05, 0.05, 0.92),
    Linkage.GradedField("p_type", 0.8, 0.02, 0.1, 0.08, 0.88),
    Linkage.GradedField("p_name", 0.7, 0.01, 0.2, 0.09, 0.85))

  /** q373 oracle: the EM replay — pattern table from the blocked pairs,
    * then `iters` E/M steps with every product/sum an ORDERED fold
    * (pattern id = g0 + 2·g1 + 4·g2 ascending; fields in declaration
    * order), matching the driver's foldLeft bit-for-bit. */
  private def fsEmSql(iters: Int): String = {
    val w = "(pm / (pm + pu))"
    def lr(expr: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
         |      list($expr ORDER BY g0 + 2 * g1 + 4 * g2)), (a, c) -> a + c)"""
        .stripMargin
    val sumW = lr(s"CAST(n AS DOUBLE) * $w")
    val sumU = lr(s"CAST(n AS DOUBLE) * (1.0 - $w)")
    def sumG(f: Int) = lr(
      s"CASE WHEN g$f = 1 THEN CAST(n AS DOUBLE) * $w ELSE 0.0 END")
    def sumGU(f: Int) = lr(
      s"CASE WHEN g$f = 1 THEN CAST(n AS DOUBLE) * (1.0 - $w) ELSE 0.0 END")
    val steps = (1 to iters).map { t =>
      val q = s"p${t - 1}"
      s"""w$t AS MATERIALIZED (SELECT pat.g0, pat.g1, pat.g2, pat.n,
         |    (((q.lam * (CASE WHEN pat.g0 = 1 THEN q.m0 ELSE 1.0 - q.m0 END))
         |      * (CASE WHEN pat.g1 = 1 THEN q.m1 ELSE 1.0 - q.m1 END))
         |      * (CASE WHEN pat.g2 = 1 THEN q.m2 ELSE 1.0 - q.m2 END)) AS pm,
         |    ((((1.0 - q.lam) * (CASE WHEN pat.g0 = 1 THEN q.u0 ELSE 1.0 - q.u0 END))
         |      * (CASE WHEN pat.g1 = 1 THEN q.u1 ELSE 1.0 - q.u1 END))
         |      * (CASE WHEN pat.g2 = 1 THEN q.u2 ELSE 1.0 - q.u2 END)) AS pu
         |  FROM pat CROSS JOIN $q q),
         |p$t AS MATERIALIZED (SELECT
         |    $sumW / (SELECT nd FROM tot) AS lam,
         |    ${sumG(0)} / $sumW AS m0,
         |    ${sumG(1)} / $sumW AS m1,
         |    ${sumG(2)} / $sumW AS m2,
         |    ${sumGU(0)} / $sumU AS u0,
         |    ${sumGU(1)} / $sumU AS u1,
         |    ${sumGU(2)} / $sumU AS u2
         |  FROM w$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT p_partkey, p_brand, p_type,
       |        string_split(p_name, ' ')[1] AS tok0,
       |        (row_number() OVER (ORDER BY p_name, p_partkey) - 1) // 64
       |          AS blk
       |      FROM part),
       |pat AS (SELECT CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS g0,
       |        CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS g1,
       |        CASE WHEN a.tok0 = b.tok0 THEN 1 ELSE 0 END AS g2,
       |        count(*) AS n
       |      FROM p a JOIN p b
       |        ON a.blk = b.blk AND a.p_partkey < b.p_partkey
       |      GROUP BY 1, 2, 3),
       |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nd,
       |        CAST(sum(n) AS BIGINT) AS np FROM pat),
       |p0 AS (SELECT 0.1::DOUBLE AS lam,
       |        0.8::DOUBLE AS m0, 0.8::DOUBLE AS m1, 0.8::DOUBLE AS m2,
       |        0.2::DOUBLE AS u0, 0.2::DOUBLE AS u1, 0.2::DOUBLE AS u2),
       |$steps
       |SELECT f.field, round(f.m, 6) AS m, round(f.u, 6) AS u,
       |  round(p$iters.lam, 6) AS lambda, (SELECT np FROM tot) AS n_pairs
       |FROM p$iters, LATERAL (
       |  SELECT 'p_brand' AS field, m0 AS m, u0 AS u
       |  UNION ALL SELECT 'p_type', m1, u1
       |  UNION ALL SELECT 'tok0', m2, u2) f
       |ORDER BY f.field""".stripMargin
  }

  /** q363 oracle: the SAME signed lattice `Cohort.shapleyLattice`
    * computes, emitted as VALUES rows so both engines share identical
    * factorial-weight literals. */
  private def shapleySql(convType: String): String = {
    val lat = graft.ops.Cohort.shapleyLattice(shapleyChannels)
      .map { case (k, c, w) => s"('$k', '$c', ${w}::DOUBLE)" }
      .mkString(",\n        ")
    s"""WITH us AS (SELECT user_id,
       |        array_to_string(list_sort(list_distinct(
       |          list(event_type) FILTER (WHERE event_type <> '$convType'))),
       |          ',') AS key,
       |        max(CASE WHEN event_type = '$convType' THEN 1 ELSE 0 END)
       |          AS conv
       |      FROM events GROUP BY 1),
       |vs AS (SELECT key, CAST(sum(conv) AS DOUBLE) / CAST(count(*) AS DOUBLE)
       |        AS v FROM us GROUP BY 1),
       |lat(key, channel, w) AS (VALUES
       |        $lat)
       |SELECT channel,
       |  round(CAST(sum(CAST(round(lat.w * coalesce(vs.v, 0.0), 9)
       |    AS DECIMAL(18,9))) AS DOUBLE), 6) AS phi
       |FROM lat LEFT JOIN vs USING (key)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q364 oracle: full Sinkhorn replay — 9-dp-quantised kernel, every
    * denominator an ASCENDING-index list_reduce fold from 0.0 (the
    * LogregOracle margin idiom), so u/v/plan/cost match the driver's
    * foldLeft bit-for-bit. */
  private def sinkhornSql(epsilon: Double, iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""u$t AS MATERIALIZED (SELECT kk.i, max(ma.w) / list_reduce(
         |          list_prepend(0.0::DOUBLE, list(kk.kij * v.v ORDER BY kk.j)),
         |          (x, y) -> x + y) AS u
         |       FROM kk JOIN v${t - 1} v ON v.j = kk.j
         |       JOIN ma ON ma.i = kk.i GROUP BY kk.i),
         |v$t AS MATERIALIZED (SELECT kk.j, max(mb.w) / list_reduce(
         |          list_prepend(0.0::DOUBLE, list(kk.kij * u.u ORDER BY kk.i)),
         |          (x, y) -> x + y) AS v
         |       FROM kk JOIN u$t u ON u.i = kk.i
         |       JOIN mb ON mb.i = kk.j GROUP BY kk.j)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT CAST(lang AS VARCHAR) AS c, (doc_id % 2 = 0) AS a
       |      FROM documents),
       |cn AS (SELECT c, a, count(*) AS n FROM d GROUP BY 1, 2),
       |cats AS (SELECT c, CAST(row_number() OVER (ORDER BY c) AS INTEGER) - 1
       |        AS i FROM (SELECT DISTINCT c FROM cn)),
       |ta AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cn WHERE a),
       |tb AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cn WHERE NOT a),
       |ma AS (SELECT cats.i, coalesce(CAST(cn.n AS DOUBLE), 0.0) / ta.t AS w
       |       FROM cats LEFT JOIN cn ON cn.c = cats.c AND cn.a CROSS JOIN ta),
       |mb AS (SELECT cats.i, coalesce(CAST(cn.n AS DOUBLE), 0.0) / tb.t AS w
       |       FROM cats LEFT JOIN cn ON cn.c = cats.c AND NOT cn.a
       |       CROSS JOIN tb),
       |kk AS MATERIALIZED (SELECT ia.i AS i, ja.i AS j,
       |        round(exp(-CAST(abs(ia.i - ja.i) AS DOUBLE) / $epsilon), 9)
       |          AS kij
       |       FROM cats ia CROSS JOIN cats ja),
       |v0 AS MATERIALIZED (SELECT i AS j, 1.0::DOUBLE AS v FROM cats),
       |$steps,
       |pl AS (SELECT kk.i, kk.j, u.u * kk.kij * v.v AS mass
       |       FROM kk JOIN u$iters u ON u.i = kk.i
       |       JOIN v$iters v ON v.j = kk.j),
       |ct AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
       |         list(mass * CAST(abs(i - j) AS DOUBLE) ORDER BY i, j)),
       |         (x, y) -> x + y) AS cost FROM pl)
       |SELECT ca.c AS cat_a, cb.c AS cat_b, round(mass, 6) AS mass,
       |  round(cost, 6) AS ot_cost
       |FROM pl JOIN cats ca ON ca.i = pl.i JOIN cats cb ON cb.i = pl.j
       |CROSS JOIN ct
       |ORDER BY cat_a, cat_b""".stripMargin
  }

  /** q362 oracle: one add-0.5 bigram model trained on doc_id % d == 0,
    * scored against the shared `hb` holdout CTE (the q353 subset-model
    * pattern, NLL flavor). */
  private def scalingFracCtes(d: Int): String =
    s"""ut$d AS (SELECT unnest(tk) AS w FROM toks WHERE doc_id % $d = 0),
       |uc$d AS (SELECT w, count(*) AS c1 FROM ut$d GROUP BY 1),
       |v$d AS (SELECT count(DISTINCT w) AS v FROM ut$d),
       |bc$d AS (SELECT pair, count(*) AS c12 FROM
       |        (SELECT tk[p+1] || ' ' || tk[p+2] AS pair FROM
       |          (SELECT tk, CAST(unnest(range(len(tk)-1)) AS INTEGER) AS p
       |           FROM toks WHERE doc_id % $d = 0 AND len(tk) >= 2))
       |        GROUP BY 1),
       |nt$d AS (SELECT count(*) AS nd FROM documents WHERE doc_id % $d = 0),
       |ag$d AS (SELECT count(*) AS nb,
       |          sum(CAST(round(-ln((coalesce(bc$d.c12, 0) + 0.5::DOUBLE) /
       |            (coalesce(uc$d.c1, 0) + 0.5::DOUBLE * v$d.v)), 9)
       |            AS DECIMAL(18,9))) AS s
       |        FROM hb LEFT JOIN bc$d USING (pair)
       |        LEFT JOIN uc$d ON hb.w1 = uc$d.w CROSS JOIN v$d),
       |p$d AS (SELECT $d::BIGINT AS frac_denom,
       |          CAST(nt$d.nd AS BIGINT) AS n_train_docs, ag$d.nb AS n_bigrams,
       |          CAST(ag$d.s AS DOUBLE) / CAST(ag$d.nb AS DOUBLE) AS nll
       |        FROM ag$d CROSS JOIN nt$d)""".stripMargin

  /** DuckDB fragment: 60-bit seeded md5 hash of expression `e`. */
  private def sqlHash(seed: Int, e: String): String =
    s"('0x'||substr(md5('$seed|'||$e),1,15))::BIGINT"

  /** DuckDB twin of `Dedup.gramOccurrences`' gram key: unseeded 60-bit
    * md5 of the space-joined k-token slice of `toks` at 0-based offset
    * `i` (the `Dedup.baseHash` fragment). */
  private def sqlGramHash(toks: String, i: String, k: Int): String =
    s"('0x'||substr(md5(array_to_string(list_slice($toks, CAST($i AS INT)+1, CAST($i AS INT)+$k),' ')),1,15))::BIGINT"

  /** DuckDB twin of `Dedup.mixHash(e, seed)` — rotate-left within 60 bits
    * then xor the seed constant (the same fragment the MinHash signature
    * CTEs inline). */
  private def sqlMix(seed: Int, e: String): String = {
    val r = Dedup.mixRot(seed)
    val c = Dedup.mixConst(seed)
    val lowMask = (1L << (60 - r)) - 1
    s"xor((($e & $lowMask) << $r) | ($e >> ${60 - r}), $c)"
  }

  private def sqlShinglesFrom(src: String) =
    s"""base AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM $src),
       |sh AS (SELECT doc_id, list_distinct(list_filter(
       |         list_transform(range(1, greatest(len(toks)-1, 1)),
       |           i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]),
       |         x -> x IS NOT NULL)) AS sh FROM base)""".stripMargin

  private val sqlShingles = sqlShinglesFrom("documents")

  /** The MinHash-LSH pair CTE chain (sans WITH keyword) over any source
    * CTE/table with (doc_id, text) — shared by the q25 pairs oracle, the
    * q70 clusters oracle, q78's incremental check and q81's full corpus
    * pipeline. */
  private def minhashCtesFrom(src: String): String = {
    val sigItems = (0 until 16).map { i =>
      val r = Dedup.mixRot(i)
      val c = Dedup.mixConst(i)
      val lowMask = (1L << (60 - r)) - 1
      s"coalesce(list_min(list_transform(hs, h -> xor(((h & $lowMask) << $r) | (h >> ${60 - r}), $c))), 0)"
    }.mkString("[", ",\n    ", "]")
    s"""${sqlShinglesFrom(src)},
       |hsh AS (SELECT doc_id, sh, list_transform(sh, s -> ('0x'||substr(md5(s),1,15))::BIGINT) AS hs FROM sh),
       |sig AS (SELECT doc_id, sh, $sigItems AS sig FROM hsh),
       |bands AS (SELECT doc_id, j, md5(sig[2*j+1]::VARCHAR || ',' || sig[2*j+2]::VARCHAR) AS key
       |          FROM sig CROSS JOIN generate_series(0, 7) t(j)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bands a JOIN bands b ON a.j = b.j AND a.key = b.key AND a.doc_id < b.doc_id),
       |pairs AS (SELECT id_a, id_b,
       |            len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
       |          FROM cand JOIN sh sa ON cand.id_a = sa.doc_id JOIN sh sb ON cand.id_b = sb.doc_id)""".stripMargin
  }

  private val minhashCtes: String = minhashCtesFrom("documents")

  private val minhashSql: String =
    s"""WITH $minhashCtes
       |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** q70 oracle: connected components of the thresholded pair graph by a
    * recursive reachability walk; cluster id = min reachable doc id. */
  /** The ONE recursive connected-components CTE chain (minhash pairs →
    * threshold edges → symmetrize → reach fixpoint → min-label table
    * `cl`), shared by every oracle that consumes clusters (q70, q93,
    * q101) so a threshold or CTE fix can't desynchronize them. */
  private val clusterCtes: String =
    s"""$minhashCtes,
       |edges AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
       |cl AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)""".stripMargin

  private val dupClustersSql: String =
    s"""WITH RECURSIVE $clusterCtes
       |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin

  /** q385 oracle: the shared minhash pair chain, then one CC walk +
    * cluster-size rollup per sweep threshold. */
  private def thresholdSweepSql(ts: Seq[Double]): String = {
    val sorted = ts.sorted
    val blocks = sorted.zipWithIndex.map { case (t, i) =>
      s"""ed$i AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= $t),
         |sym$i AS (SELECT id_a AS src, id_b AS dst FROM ed$i
         |          UNION ALL SELECT id_b, id_a FROM ed$i),
         |reach$i(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, s.dst FROM reach$i r JOIN sym$i s ON r.b = s.src),
         |cl$i AS (SELECT a AS doc_id, min(b) AS label FROM reach$i GROUP BY a),
         |sz$i AS (SELECT label, count(*) AS sz FROM cl$i GROUP BY 1
         |         HAVING count(*) >= 2),
         |row$i AS (SELECT $t::DOUBLE AS threshold,
         |    (SELECT count(*) FROM ed$i) AS n_edges,
         |    count(*) AS n_clusters,
         |    CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_docs_clustered,
         |    CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster
         |  FROM sz$i)""".stripMargin
    }.mkString(",\n")
    val union = sorted.indices.map(i => s"SELECT * FROM row$i")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE $minhashCtes,
       |$blocks
       |$union
       |ORDER BY threshold""".stripMargin
  }

  /** q93: the shared cluster CTEs + the q83 split draw, keyed on the
    * CLUSTER label so near-duplicates can never straddle train/test. */
  private val clusterSplitSql: String =
    s"""WITH RECURSIVE $clusterCtes,
       |u AS (SELECT doc_id, cluster_id,
       |        ('0x'||substr(md5(CAST(cluster_id AS VARCHAR)),1,15))::BIGINT::DOUBLE
       |          / 1152921504606846976.0 AS draw
       |      FROM cl)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN draw < 0.8 THEN 'train' WHEN draw < 0.9 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM u ORDER BY doc_id""".stripMargin

  /** The q110 covariance CTE chain ending in `cv` (i, j, cov — upper
    * triangle), shared by the q110 gate and the q113 power-iteration
    * oracle so the matrix arithmetic can't drift between them. */
  private val covarianceCtes: String =
    """e AS (SELECT vec_id, CAST(t.i AS INTEGER) AS i, embedding[t.i+1]::DOUBLE AS xi
      |      FROM embeddings CROSS JOIN range(64) t(i)),
      |p AS (SELECT a.i, b.i AS j, CAST(round(a.xi * b.xi * 1099511627776::DOUBLE) AS BIGINT) AS pfp
      |      FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i),
      |m2 AS (SELECT i, j, CAST(sum(pfp) AS DOUBLE) AS m2fx, count(*) AS n FROM p GROUP BY i, j),
      |m1 AS (SELECT i, CAST(sum(CAST(round(xi * 1099511627776::DOUBLE) AS BIGINT)) AS DOUBLE) AS m1fx
      |       FROM e GROUP BY i),
      |cv AS (SELECT m2.i AS i, m2.j AS j,
      |         m2.m2fx / 1099511627776::DOUBLE / n -
      |           (a.m1fx / 1099511627776::DOUBLE / n) * (b.m1fx / 1099511627776::DOUBLE / n) AS cov
      |       FROM m2 JOIN m1 a ON m2.i = a.i JOIN m1 b ON m2.j = b.i)""".stripMargin

  /** The q162 blocklist, shared between the Spark expression and the
    * generated oracle CASE chain (first-match-in-LIST-order semantics on
    * both sides). */
  private val blocklistTerms: Seq[String] =
    Seq("order fast", "scan", "merge")

  /** The q153/q154 DSIR chain: hashed-bigram buckets `dbg` (64 bins of
    * the 60-bit md5 idiom), bucket model `dm`/`dlr` (add-one smoothed
    * nano-nat log-ratios, target = lang='en'), per-doc weights
    * `dweights`. Shared by the weight gate and the resample gate so the
    * feature model can't drift between them. */
  private val dsirCtes: String =
    """dtk AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents),
      |dbg AS (SELECT doc_id,
      |          (('0x'||substr(md5(t[x+1]||' '||t[x+2]),1,15))::BIGINT % 64) AS b,
      |          lang
      |        FROM (SELECT doc_id, lang, t, unnest(range(len(t)-1)) AS x
      |              FROM dtk WHERE len(t) >= 2)),
      |dm AS (SELECT b, count(*)::BIGINT AS cr,
      |         (count(*) FILTER (WHERE lang = 'en'))::BIGINT AS ct
      |       FROM dbg GROUP BY b),
      |dtot AS (SELECT sum(cr)::BIGINT AS nr, sum(ct)::BIGINT AS nt FROM dm),
      |dlr AS (SELECT b, CAST(round(ln(
      |           ((ct + 1)::DOUBLE / ((SELECT nt FROM dtot) + 64)::DOUBLE) /
      |           ((cr + 1)::DOUBLE / ((SELECT nr FROM dtot) + 64)::DOUBLE))
      |           * 1000000000::DOUBLE) AS BIGINT) AS lr9
      |        FROM dm),
      |dw AS (SELECT dbg.doc_id, count(*)::BIGINT AS n_bigrams, sum(dlr.lr9)::BIGINT AS w9
      |       FROM dbg JOIN dlr USING (b) GROUP BY dbg.doc_id),
      |dweights AS (SELECT d.doc_id,
      |         coalesce(dw.n_bigrams, 0)::BIGINT AS n_bigrams,
      |         coalesce(dw.w9, 0)::DOUBLE / 1000000000::DOUBLE AS weight
      |       FROM documents d LEFT JOIN dw USING (doc_id))""".stripMargin

  /** The q159/q160 winnowing chain: k-gram 60-bit hashes `wkh`
    * (k=4 tokens), w=4 sliding windows `ws`, rightmost-min selections
    * `wf` (DISTINCT (doc_id, pos, fp)). Shared by the fingerprint gate
    * and the pair gate so the selection rule can't drift. */
  private val winnowCtes: String =
    """wtk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |wkh AS (SELECT doc_id,
      |          list_transform(range(len(tk) - 3),
      |            i -> ('0x'||substr(md5(array_to_string(list_slice(tk, i+1, i+4), ' ')),1,15))::BIGINT) AS kh
      |        FROM wtk WHERE len(tk) >= 4),
      |ww AS (SELECT doc_id, kh, CAST(unnest(range(greatest(len(kh) - 3, least(len(kh), 1)))) AS INTEGER) AS i
      |       FROM wkh),
      |ws AS (SELECT doc_id, i, list_slice(kh, i+1, i+4) AS s FROM ww),
      |wf AS (SELECT DISTINCT doc_id,
      |         CAST(i + len(s) - list_position(list_reverse(s), list_min(s)) AS INTEGER) AS pos,
      |         list_min(s) AS fp
      |       FROM ws)""".stripMargin

  /** The q112 product-quantization chain (codebook `cb` = 16 lowest-id
    * vectors, per-(vector, subspace, code) distances `d`, argmin `best`),
    * shared by the q112 encode gate and the q114 ADC oracle so the
    * codebook and tie-break can't drift. */
  private val pqCtes: String =
    """cb AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
      |         embedding AS cvec
      |       FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
      |d AS (SELECT e.vec_id, t.s, cb.cid,
      |        list_reduce(list_transform(list_zip(
      |            list_slice(e.embedding, t.s*8 + 1, t.s*8 + 8),
      |            list_slice(cb.cvec, t.s*8 + 1, t.s*8 + 8)),
      |          x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)),
      |          (a,b) -> a+b) AS d2
      |      FROM embeddings e CROSS JOIN range(8) t(s) CROSS JOIN cb),
      |best AS (SELECT vec_id, s, cid, d2 FROM (
      |           SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |             ORDER BY d2 ASC, cid ASC) AS rn FROM d) WHERE rn = 1)""".stripMargin

  /** q113 oracle: power iteration on the symmetrized `cv` matrix,
    * iterations unrolled as CTEs. Every per-row sum is an ORDERED
    * list_reduce fold (j asc / i asc) so it reproduces the driver-side
    * ascending accumulation loop bit for bit; init = 1/sqrt(64) = 0.125
    * exactly. */
  private def pcaPowerSql(iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""w$t AS (SELECT cf.i, list_reduce(list(cf.c * p.v ORDER BY cf.j), (a,b) -> a+b) AS w
         |        FROM cfull cf JOIN v${t - 1} p ON cf.j = p.i GROUP BY cf.i),
         |n$t AS (SELECT sqrt(list_reduce(list(w*w ORDER BY i), (a,b) -> a+b)) AS nn FROM w$t),
         |v$t AS (SELECT i, w / (SELECT nn FROM n$t) AS v FROM w$t)""".stripMargin
    }
    (Seq(s"""WITH $covarianceCtes,
            |cfull AS (SELECT i, j, cov AS c FROM cv
            |          UNION ALL SELECT j, i, cov FROM cv WHERE i <> j),
            |v0 AS (SELECT CAST(t.i AS INTEGER) AS i, 0.125::DOUBLE AS v FROM range(64) t(i))""".stripMargin)
      ++ steps).mkString(",\n") +
      s"""\nSELECT i, v AS loading, (SELECT nn FROM n$iters) AS eigenvalue
         |FROM v$iters ORDER BY i""".stripMargin
  }

  /** q103 oracle: fixed-point PageRank over the symmetrized near-dup
    * graph, iterations unrolled as generated CTEs (the KmeansOracle
    * pattern). Every operation is BIGINT arithmetic — `//` in DuckDB and
    * `DIV` in Spark both truncate-toward-zero on the (all-positive)
    * operands, so the replay is bit-exact with `Graph.pageRank`. */
  /** The PageRank iteration CTE chain (od … r<iters>) over an already-
    * defined `sym(src, dst)` CTE — shared by the q103 gate and the q327
    * canonical-pick composition (whose WITH RECURSIVE cluster chain
    * defines the same `sym`). */
  private def pageRankStepCtes(iters: Int, scale: Long = 1L << 40): String = {
    val head =
      s"""od AS (SELECT src, count(*) AS odeg FROM sym GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM documents),
         |r0 AS (SELECT doc_id AS id, CAST($scale // n AS BIGINT) AS rank
         |       FROM documents CROSS JOIN nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r$p r
         |        LEFT JOIN od ON r.id = od.src WHERE od.src IS NULL),
         |c$i AS (SELECT r.id AS src, r.rank // od.odeg AS c
         |        FROM r$p r JOIN od ON r.id = od.src),
         |m$i AS (SELECT s.dst AS id, sum(c.c) AS im
         |        FROM sym s JOIN c$i c USING (src) GROUP BY s.dst),
         |r$i AS (SELECT v.id,
         |          CAST((15 * ($scale // nn.n)) // 100 +
         |               (85 * (coalesce(m.im, 0) + ((SELECT dm FROM d$i) // nn.n))) // 100
         |            AS BIGINT) AS rank
         |        FROM r0 v LEFT JOIN m$i m USING (id) CROSS JOIN nn)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  private def pageRankSql(iters: Int, scale: Long = 1L << 40): String =
    s"""WITH $minhashCtes,
       |edges AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |${pageRankStepCtes(iters, scale)}
       |SELECT id AS doc_id, rank AS rank_fp FROM r$iters ORDER BY doc_id"""
      .stripMargin

  /** q411 oracle: `TextStats.textRankKeywords` replayed — candidate
    * tokens (length ≥ minLen) keeping ORIGINAL positions, DISTINCT
    * canonical co-occurrence edges at offsets 1..window, then the
    * pageRankStepCtes recursion re-based on the word vertex set. */
  private def textRankSql(iters: Int, minLen: Int, window: Int,
      topK: Int, scale: Long = 1L << 40): String = {
    val offs = (1 to window).map(d =>
        s"""SELECT a.w AS wa, b.w AS wb FROM wpos a JOIN wpos b
           |          ON a.doc_id = b.doc_id AND b.pos = a.pos + $d""".stripMargin)
      .mkString("\n        UNION ALL ")
    val head =
      s"""tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
         |px AS (SELECT doc_id, tk, CAST(unnest(range(len(tk))) AS INTEGER) AS pos FROM tk),
         |wpos AS (SELECT doc_id, pos, tk[pos + 1] AS w FROM px
         |         WHERE length(tk[pos + 1]) >= $minLen),
         |cand AS ($offs),
         |ed AS (SELECT DISTINCT least(wa, wb) AS src, greatest(wa, wb) AS dst
         |       FROM cand WHERE wa <> wb),
         |sym AS (SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed),
         |wv AS (SELECT DISTINCT w AS id FROM wpos),
         |od AS (SELECT src, count(*) AS odeg FROM sym GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM wv),
         |r0 AS (SELECT id, CAST($scale // n AS BIGINT) AS rank FROM wv CROSS JOIN nn)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r$p r
         |        LEFT JOIN od ON r.id = od.src WHERE od.src IS NULL),
         |c$i AS (SELECT r.id AS src, r.rank // od.odeg AS c
         |        FROM r$p r JOIN od ON r.id = od.src),
         |m$i AS (SELECT s.dst AS id, sum(c.c) AS im
         |        FROM sym s JOIN c$i c USING (src) GROUP BY s.dst),
         |r$i AS (SELECT v.id,
         |          CAST((15 * ($scale // nn.n)) // 100 +
         |               (85 * (coalesce(m.im, 0) + ((SELECT dm FROM d$i) // nn.n))) // 100
         |            AS BIGINT) AS rank
         |        FROM r0 v LEFT JOIN m$i m USING (id) CROSS JOIN nn)""".stripMargin
    }
    s"""WITH ${(head +: steps).mkString(",\n")}
       |SELECT id AS word, rank AS rank_fp FROM r$iters
       |ORDER BY rank_fp DESC, word LIMIT $topK""".stripMargin
  }

  /** q427 oracle: `EvalMetrics.rboTruncated` replayed — the p^{d−1}
    * weights are the SAME Scala-computed doubles the op folds in as
    * literals (Double.toString round-trips through DuckDB's parser),
    * depth contributions 2^40 fixed-point before the per-key sum. */
  private def rboSql(k: Int, p: Double): String = {
    val ws = (1 to k).map(d =>
        s"WHEN $d THEN ${java.lang.Double.toString((1.0 - p) * math.pow(p, d - 1))}::DOUBLE")
      .mkString(" ")
    s"""WITH toks AS (SELECT lang, doc_id,
       |        unnest(string_split(lower(text), ' ')) AS term FROM documents),
       |tok2 AS (SELECT * FROM toks WHERE length(term) > 0),
       |tf AS (SELECT lang, term, count(*) AS c FROM tok2 GROUP BY 1, 2),
       |dfq AS (SELECT lang, term, count(DISTINCT doc_id) AS c
       |        FROM tok2 GROUP BY 1, 2),
       |ra AS (SELECT lang, term, row_number() OVER
       |        (PARTITION BY lang ORDER BY c DESC, term) AS r FROM tf),
       |rb AS (SELECT lang, term, row_number() OVER
       |        (PARTITION BY lang ORDER BY c DESC, term) AS r FROM dfq),
       |ds AS (SELECT unnest(range(1, ${k + 1}))::INTEGER AS d),
       |ov AS (SELECT ra.lang, ds.d, count(*) AS ov
       |       FROM ra JOIN rb ON ra.lang = rb.lang AND ra.term = rb.term
       |         AND ra.r <= $k AND rb.r <= $k
       |       JOIN ds ON greatest(ra.r, rb.r) <= ds.d
       |       GROUP BY 1, 2),
       |grid AS (SELECT lang, d FROM (SELECT DISTINCT lang FROM documents)
       |         CROSS JOIN ds),
       |t AS (SELECT grid.lang, grid.d, coalesce(ov.ov, 0) AS ov,
       |        CASE grid.d $ws ELSE 0.0::DOUBLE END AS w
       |      FROM grid LEFT JOIN ov ON grid.lang = ov.lang AND grid.d = ov.d),
       |fp AS (SELECT lang, CAST(round(w * (ov::DOUBLE / d::DOUBLE)
       |          * 1099511627776::DOUBLE) AS BIGINT) AS tfp FROM t)
       |SELECT lang, round(CAST(sum(tfp) AS DOUBLE) / 1099511627776::DOUBLE, 6)
       |  AS rbo
       |FROM fp GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q438/q439 oracle helper: `HilbertKernel.xy2d` unrolled as chained
    * CTEs — per bit (s = 2^(order−1−i)) one projection computing the
    * quadrant digit and the rotate, exactly the kernel's loop body.
    * `carry` columns ride through every stage; expects a CTE `b0` with
    * (carry…, x, y, d=0). The final stage is `h<order>`. */
  private def hilbertStages(order: Int, carry: String): String =
    (0 until order).map { i =>
      val s = 1L << (order - 1 - i)
      val prev = if (i == 0) "b0" else s"h$i"
      s"""h${i + 1} AS (SELECT $carry,
         |    d + ${s * s} * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |      (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d,
         |    CASE WHEN (y & $s) = 0 THEN
         |      (CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END)
         |      ELSE x END AS x,
         |    CASE WHEN (y & $s) = 0 THEN
         |      (CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END)
         |      ELSE y END AS y
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")

  /** q446 oracle: the ROUGE-L LCS dynamic program unrolled — one CTE
    * stage per candidate token. Each stage advances the whole DP row in
    * one `list_transform`, using the prefix-max identity
    * new[j] = max(old[j], max_{k≤j, cand_i=ref_k}(old[k−1]+1)) — valid
    * because DP rows are nondecreasing in j, so the sequential
    * new[j−1] dependency of the textbook recurrence folds into the
    * prefix max and no intra-row recursion is needed. `r` is the row as
    * a (n+1)-element list with r[1] = DP[0] = 0. */
  private def rougeLStages(maxTokens: Int): String =
    (1 to maxTokens).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""l$i AS (SELECT pair, cand, ref, n,
         |    CASE WHEN len(cand) >= $i THEN
         |      list_prepend(0, list_transform(range(1, n + 1), j ->
         |        greatest(r[j + 1], coalesce(list_max(
         |          list_transform(range(1, j + 1), k ->
         |            CASE WHEN cand[$i] = ref[k] THEN r[k] + 1
         |                 ELSE 0 END)), 0))))
         |    ELSE r END AS r
         |  FROM $prev)""".stripMargin
    }.mkString(",\n")

  /** Morton interleave of the low `bits` bits of two SQL integer
    * expressions — shared by the q428/q429 oracles so the key can't
    * drift between them. */
  private def zbitsSql(xe: String, ye: String, bits: Int): String =
    (0 until bits).map(b =>
        s"(((($xe) >> $b) & 1) << ${2 * b}) + (((($ye) >> $b) & 1) << ${2 * b + 1})")
      .mkString(" + ")

  /** q412 oracle: `Graph.bfsDistances` replayed — per hop a DISTINCT
    * frontier-neighbor set and a keep-earlier coalesce; unreached → -1. */
  private def bfsSql(maxHops: Int): String = {
    val head =
      s"""$minhashCtes,
         |ed AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.3),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM ed
         |        UNION ALL SELECT id_b, id_a FROM ed),
         |d0 AS (SELECT doc_id AS id,
         |         CASE WHEN doc_id % 50 = 0 THEN 0 END AS dist FROM documents)""".stripMargin
    val steps = (1 to maxHops).map { i =>
      val p = i - 1
      s"""f$i AS (SELECT DISTINCT s.dst AS id FROM sym s
         |        JOIN d$p d ON s.src = d.id AND d.dist = $p),
         |d$i AS (SELECT d.id,
         |          coalesce(d.dist, CASE WHEN f.id IS NOT NULL THEN $i END) AS dist
         |        FROM d$p d LEFT JOIN f$i f USING (id))""".stripMargin
    }
    s"""WITH ${(head +: steps).mkString(",\n")}
       |SELECT id AS doc_id, CAST(coalesce(dist, -1) AS INTEGER) AS dist
       |FROM d$maxHops ORDER BY doc_id""".stripMargin
  }

  /** `Dedup.rareShingleEdges` replayed (df ∈ [2,4] shared-shingle pairs)
    * — the edge CTE `e(a, b)` consumed by the q413/q417/q418 wedge-audit
    * oracles; sharing it keeps the three gates on the SAME graph. */
  private val rareShingleCtes: String =
    s"""$sqlShingles,
       |rsg AS (SELECT doc_id, unnest(list_transform(sh,
       |          s -> ('0x'||substr(md5(s),1,15))::BIGINT)) AS hs FROM sh),
       |rdf AS (SELECT hs FROM (SELECT hs, count(*) AS df FROM rsg GROUP BY hs)
       |        WHERE df BETWEEN 2 AND 4),
       |e AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |      FROM rsg x JOIN rdf USING (hs) JOIN rsg y USING (hs)
       |      WHERE x.doc_id < y.doc_id)""".stripMargin

  /** q413 oracle: `Graph.adamicAdar` replayed — wedge join on the shared
    * center, ANTI JOIN against the edge set, 2^40 fixed-point 1/ln(deg)
    * terms summed per pair. */
  private def adamicAdarSql(topK: Int): String =
    s"""WITH $rareShingleCtes,
       |adj AS (SELECT a AS v, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
       |dg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v),
       |at AS (SELECT adj.v, adj.nbr,
       |         CAST(round(1099511627776::DOUBLE / ln(deg)) AS BIGINT) AS term
       |       FROM adj JOIN dg USING (v) WHERE deg >= 2),
       |wg AS (SELECT x.v, x.nbr AS u, y.nbr AS w, x.term
       |       FROM at x JOIN at y ON x.v = y.v AND x.nbr < y.nbr),
       |aap AS (SELECT u, w, count(*)::BIGINT AS cn, sum(term) AS aa
       |         FROM wg ANTI JOIN e ON wg.u = e.a AND wg.w = e.b
       |         GROUP BY u, w)
       |SELECT u AS id_a, w AS id_b, cn AS common_neighbors,
       |  round(CAST(aa AS DOUBLE) / 1099511627776::DOUBLE, 6) AS adamic_adar
       |FROM aap ORDER BY adamic_adar DESC, id_a, id_b LIMIT $topK""".stripMargin

  /** q405 oracle: `Graph.hits` replayed — the pageRank unrolling pattern
    * with BOTH half-steps per iteration (authorities from previous hubs,
    * then hubs from the NEW authorities) and the L1 renormalization's
    * 1-row total as a scalar subquery. All-BIGINT floor division on
    * positive operands == Spark's `DIV`. */
  private def hitsSql(iters: Int, scale: Long): String = {
    val head =
      s"""e AS (SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
         |      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         |ss AS (SELECT DISTINCT src AS id FROM e),
         |dd AS (SELECT DISTINCT dst AS id FROM e),
         |h0 AS (SELECT id, CAST($scale // (SELECT count(*) FROM ss) AS BIGINT) AS h
         |       FROM ss)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""ar$i AS (SELECT e.dst AS id, sum(h.h) AS ar
         |        FROM e JOIN h$p h ON e.src = h.id GROUP BY 1),
         |a$i AS (SELECT d.id,
         |        CAST((coalesce(ar, 0) * $scale) // (SELECT sum(ar) FROM ar$i)
         |          AS BIGINT) AS a
         |        FROM dd d LEFT JOIN ar$i USING (id)),
         |hr$i AS (SELECT e.src AS id, sum(a.a) AS hr
         |        FROM e JOIN a$i a ON e.dst = a.id GROUP BY 1),
         |h$i AS (SELECT s.id,
         |        CAST((coalesce(hr, 0) * $scale) // (SELECT sum(hr) FROM hr$i)
         |          AS BIGINT) AS h
         |        FROM ss s LEFT JOIN hr$i USING (id))""".stripMargin
    }
    s"""WITH ${(head +: steps).mkString(",\n")}
       |SELECT 'hub' AS kind, id, h AS score_fp FROM h$iters
       |UNION ALL
       |SELECT 'auth' AS kind, id, a AS score_fp FROM a$iters
       |ORDER BY kind, id""".stripMargin
  }

  /** q406 oracle: `Graph.labelPropagation` replayed — per round a
    * neighbor-label count and a (count desc, label asc) plurality pick
    * via row_number, isolated vertices carried by the left join. */
  private def lpaSql(iters: Int): String = {
    val head =
      s"""$minhashCtes,
         |ed AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS src, id_b AS dst FROM ed
         |        UNION ALL SELECT id_b, id_a FROM ed),
         |l0 AS (SELECT doc_id AS id, doc_id AS label FROM documents)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""c$i AS (SELECT s.dst AS id, l.label, count(*) AS n
         |        FROM sym s JOIN l$p l ON s.src = l.id GROUP BY 1, 2),
         |p$i AS (SELECT id, label FROM (SELECT id, label, row_number() OVER
         |          (PARTITION BY id ORDER BY n DESC, label ASC) AS rn FROM c$i)
         |        WHERE rn = 1),
         |l$i AS (SELECT l.id, coalesce(p.label, l.label) AS label
         |        FROM l$p l LEFT JOIN p$i p USING (id))""".stripMargin
    }
    s"""WITH ${(head +: steps).mkString(",\n")}
       |SELECT id AS doc_id, label FROM l$iters ORDER BY doc_id""".stripMargin
  }

  /** q365's stopword list (all four marker languages), shared by the
    * Spark query and its oracle. */
  private val rakeStops =
    Seq("the", "a", "der", "und", "el", "y", "le", "et")

  /** q371 oracle: `TimeSeries.holtWinters` (α=β=γ=0.5, period 12)
    * replayed — the seasonal ring buffer as 12 explicit recursive-CTE
    * state columns, warmup mean as an ordered list fold. */
  private def holtWintersSql: String = {
    val sCols = 1 to 12
    val sidx = "CASE (r.rn - 1) % 12 " +
      sCols.map(j => s"WHEN ${j - 1} THEN rec.s$j").mkString(" ") + " END"
    val l2 = s"0.5 * (r.y - ($sidx)) + 0.5 * (rec.l + rec.b)"
    val b2 = s"0.5 * (($l2) - rec.l) + 0.5 * rec.b"
    val sUpd = sCols.map(j =>
      s"""CASE WHEN (r.rn - 1) % 12 = ${j - 1}
         |      THEN 0.5 * (r.y - ($l2)) + 0.5 * rec.s$j
         |      ELSE rec.s$j END""".stripMargin).mkString(",\n    ")
    val pivCols = sCols.map(j =>
      s"max(CASE WHEN rn = $j THEN y END) - ini.l AS s$j").mkString(",\n    ")
    val sNext = "CASE rn % 12 " +
      sCols.map(j => s"WHEN ${j - 1} THEN s$j").mkString(" ") + " END"
    s"""WITH RECURSIVE m AS (SELECT o_orderpriority AS key,
       |        (year(CAST(o_orderdate AS DATE)) * 12 +
       |         month(CAST(o_orderdate AS DATE))) AS mi,
       |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
       |      FROM orders GROUP BY 1, 2),
       |r AS (SELECT key, y, row_number() OVER
       |        (PARTITION BY key ORDER BY mi) AS rn FROM m),
       |k13 AS (SELECT key FROM r GROUP BY key HAVING count(*) > 12),
       |ini AS (SELECT r.key,
       |        list_reduce(list_prepend(0.0::DOUBLE,
       |          list(y ORDER BY rn) FILTER (WHERE rn <= 12)),
       |          (a, c) -> a + c) / 12.0 AS l
       |       FROM r JOIN k13 USING (key) GROUP BY r.key),
       |piv AS (SELECT r.key, ini.l,
       |    $pivCols
       |  FROM r JOIN ini ON r.key = ini.key WHERE rn <= 12
       |  GROUP BY r.key, ini.l),
       |rec AS (
       |  SELECT key, CAST(12 AS BIGINT) AS rn, l, CAST(0.0 AS DOUBLE) AS b,
       |    ${sCols.map(j => s"s$j").mkString(", ")} FROM piv
       |  UNION ALL
       |  SELECT r.key, r.rn, $l2, $b2,
       |    $sUpd
       |  FROM rec JOIN r ON r.key = rec.key AND r.rn = rec.rn + 1),
       |lst AS (SELECT *, row_number() OVER
       |        (PARTITION BY key ORDER BY rn DESC) AS rr FROM rec)
       |SELECT key AS priority, rn AS n_months, round(l, 6) AS level_last,
       |  round(b, 6) AS trend_last, round($sNext, 6) AS season_next,
       |  round(l + b + ($sNext), 6) AS forecast1
       |FROM lst WHERE rr = 1 ORDER BY priority""".stripMargin
  }

  /** q368 oracle: `Graph.personalizedPageRank` replayed — the q103 step
    * chain with restart AND dangling mass confined to the seed set. */
  private def pprSql(iters: Int, scale: Long = 1L << 40): String = {
    val head =
      s"""od AS (SELECT src, count(*) AS odeg FROM sym GROUP BY src),
         |ns AS (SELECT count(*) AS n FROM documents WHERE lang = 'en'),
         |sd AS (SELECT doc_id AS id, lang = 'en' AS seed FROM documents),
         |r0 AS (SELECT id, CASE WHEN seed THEN CAST($scale // n AS BIGINT)
         |          ELSE 0 END AS rank
         |       FROM sd CROSS JOIN ns)""".stripMargin
    val steps = (1 to iters).map { i =>
      val p = i - 1
      s"""d$i AS (SELECT coalesce(sum(r.rank), 0) AS dm FROM r$p r
         |        LEFT JOIN od ON r.id = od.src WHERE od.src IS NULL),
         |c$i AS (SELECT r.id AS src, r.rank // od.odeg AS c
         |        FROM r$p r JOIN od ON r.id = od.src),
         |m$i AS (SELECT s.dst AS id, sum(c.c) AS im
         |        FROM sym s JOIN c$i c USING (src) GROUP BY s.dst),
         |r$i AS (SELECT v.id,
         |          CAST(CASE WHEN v.seed
         |                 THEN (15 * ($scale // ns.n)) // 100 ELSE 0 END +
         |               (85 * (coalesce(m.im, 0) +
         |                 CASE WHEN v.seed
         |                   THEN ((SELECT dm FROM d$i) // ns.n)
         |                   ELSE 0 END)) // 100
         |            AS BIGINT) AS rank
         |        FROM sd v LEFT JOIN m$i m USING (id) CROSS JOIN ns)"""
        .stripMargin
    }
    s"""WITH $minhashCtes,
       |edges AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |${(head +: steps).mkString(",\n")}
       |SELECT id AS doc_id, rank AS rank_fp FROM r$iters ORDER BY doc_id"""
      .stripMargin
  }

  /** CTE chain (sans WITH) ending in `sg` = (doc_id, sig) — the exact
    * DuckDB replay of `Dedup.simhash`, shared by the q26 fingerprint
    * oracle and the q148 Hamming-pairs oracle. */
  private val simhashCtes: String = {
    val terms = (0 until 48).map(k =>
      s"(CASE WHEN 2*list_sum(list_transform(hs, h -> (h >> $k) & 1)) > len(toks) THEN (1::BIGINT << $k) ELSE 0 END)")
      .mkString(" +\n  ")
    s"""base AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       |h AS (SELECT doc_id, toks, list_transform(toks, t -> ${sqlHash(777, "t")}) AS hs FROM base),
       |sg AS (SELECT doc_id, $terms AS sig FROM h)""".stripMargin
  }

  private val simhashSql: String =
    s"""WITH $simhashCtes
       |SELECT doc_id, sig AS simhash FROM sg ORDER BY doc_id""".stripMargin

  private val cosineSql =
    """WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
      |s AS (SELECT vec_id,
      |  list_reduce(list_transform(list_zip(embedding, qvec), x -> x[1]::DOUBLE * x[2]::DOUBLE), (a,b) -> a+b) /
      |  (sqrt(list_reduce(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b)) *
      |   sqrt(list_reduce(list_transform(qvec, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b))) AS sim
      |FROM embeddings CROSS JOIN q)
      |SELECT vec_id, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  private val lshPlanes = 6
  private val lshDim = 64

  /** DuckDB fragment: sign-LSH bucket id over `planes` hyperplanes. */
  private def sqlBucket(vecCol: String, planes: Int): String =
    (0 until planes).map { j =>
      val weights = (0 until lshDim).map(i => Similarity.planeWeight(j, i)).mkString("[", ",", "]")
      s"(CASE WHEN list_reduce(list_transform(list_zip($vecCol, $weights::DOUBLE[]), x -> x[1]::DOUBLE * x[2]), (a,b) -> a+b) > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " +\n   ", ")")

  private val lshSql: String = {
    def bucketExpr(vecCol: String): String = sqlBucket(vecCol, lshPlanes)
    s"""WITH q AS (SELECT embedding AS qvec, ${bucketExpr("embedding")} AS qb
       |           FROM embeddings WHERE vec_id = 0),
       |b AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bkt FROM embeddings),
       |s AS (SELECT vec_id,
       |  list_reduce(list_transform(list_zip(embedding, qvec), x -> x[1]::DOUBLE * x[2]::DOUBLE), (a,b) -> a+b) /
       |  (sqrt(list_reduce(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b)) *
       |   sqrt(list_reduce(list_transform(qvec, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b))) AS sim
       |FROM b CROSS JOIN q WHERE b.bkt = q.qb)
       |SELECT vec_id, sim FROM s ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** BM25 oracle chain (terms vector/stream/hash, k1=1.2, b=0.75) ending
    * at per-doc contribution columns `p` — shared by the q107 gate and
    * the q201 RRF-fusion oracle so the scoring function cannot drift
    * between them. */
  private val bm25OracleTerms = Seq("vector", "stream", "hash")

  private val bm25OracleScore: String =
    bm25OracleTerms.indices.map(i => s"coalesce(c$i, 0.0::DOUBLE)").mkString(" + ")

  private val bm25OracleCtes: String = {
    val terms = bm25OracleTerms
    val k1 = 1.2; val b = 0.75
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val cCols = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN term = '$t' THEN contrib END) AS c$i"
    }.mkString(",\n        ")
    s"""toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
       |l AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS len FROM toks),
       |g AS (SELECT count(*) AS n, CAST(sum(len) AS BIGINT) AS tl FROM l),
       |t AS (SELECT doc_id, unnest(tk) AS term FROM toks),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM t
       |       WHERE term IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |c AS (SELECT tf.doc_id, tf.term,
       |        ((CAST(g.n - dfq.df AS DOUBLE) + 0.5::DOUBLE) / (CAST(dfq.df AS DOUBLE) + 0.5::DOUBLE)) *
       |        (CAST(tf.tf AS DOUBLE) * ${k1 + 1.0}::DOUBLE) /
       |        (CAST(tf.tf AS DOUBLE) + ${k1}::DOUBLE *
       |          (${1.0 - b}::DOUBLE + ${b}::DOUBLE * CAST(l.len AS DOUBLE)
       |             / (CAST(g.tl AS DOUBLE) / CAST(g.n AS DOUBLE)))) AS contrib
       |      FROM tf JOIN l USING (doc_id) JOIN dfq USING (term) CROSS JOIN g),
       |p AS (SELECT doc_id, $cCols FROM c GROUP BY doc_id)""".stripMargin
  }

  /** Add-0.5-smoothed bigram LM per-doc score chain ending at
    * `lmd(doc_id, n_bigrams, mean_p)` — shared by the q84 gate and the
    * q209 perplexity-bucket oracle. */
  private val lmScoreOracleCtes: String =
    """toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      |uni AS (SELECT unnest(tk) AS w FROM toks),
      |uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
      |v AS (SELECT count(DISTINCT w) AS vs FROM uni),
      |bgx AS (SELECT doc_id, tk, CAST(unnest(range(len(tk) - 1)) AS INTEGER) AS pos
      |        FROM toks WHERE len(tk) >= 2),
      |bg AS (SELECT doc_id, pos, tk[pos+1] AS w1, tk[pos+1] || ' ' || tk[pos+2] AS pair
      |       FROM bgx),
      |bc AS (SELECT pair, count(*) AS c12 FROM bg GROUP BY pair),
      |sc AS (SELECT doc_id,
      |         CAST(round(((c12 + 0.5::DOUBLE) / (c1 + 0.5::DOUBLE * vs))
      |                    * (1099511627776::DOUBLE)) AS BIGINT) AS pfix
      |       FROM bg JOIN bc USING (pair) JOIN uc ON bg.w1 = uc.w CROSS JOIN v),
      |lmd AS (SELECT doc_id, count(*) AS n_bigrams,
      |          CAST(sum(pfix) AS DOUBLE) / (1099511627776::DOUBLE) / count(*) AS mean_p
      |        FROM sc GROUP BY doc_id)""".stripMargin

  /** The q32 marker-vote language-ID chain ending at
    * `g(doc_id, lang, lang_guess)` — shared by q32, the q217 confusion
    * matrix and the q218 kappa oracle. */
  private val langIdOracleCtes: String =
    """sc AS (SELECT doc_id, lang,
      |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['der','und'], t))) AS s_de,
      |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['the','a'], t))) AS s_en,
      |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['el','y'], t))) AS s_es,
      |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['le','et'], t))) AS s_fr
      |FROM documents),
      |g AS (SELECT doc_id, lang,
      |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
      |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
      |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
      |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
      |       ELSE 'fr' END AS lang_guess
      |FROM sc)""".stripMargin

  val all: Seq[(String, Q)] = Seq(

    // ─── J8: label-translation broadcast merge ──────────────────────────
    "q47_translate_labels" -> Q(
      (s, dir) => {
        import s.implicits._
        val dim = Seq(
          ("1-URGENT", "urgentissimo"), ("2-HIGH", "alto"), ("3-MEDIUM", "medio"),
          ("5-LOW", "basso")).toDF("key", "translated")
        graft.etl.Lookups.translateLabels(Tables.orders(s, dir),
            "o_orderpriority", dim, "priority_translated")
          .select($"o_orderkey",
            coalesce($"priority_translated", lit("(none)")).as("priority_translated"))
          .orderBy($"o_orderkey")
      },
      Some("""WITH dim(k, t) AS (VALUES ('1-URGENT','urgentissimo'),('2-HIGH','alto'),
             |  ('3-MEDIUM','medio'),('5-LOW','basso'))
             |SELECT o_orderkey, coalesce(t, '(none)') AS priority_translated
             |FROM orders LEFT JOIN dim ON o_orderpriority = k
             |ORDER BY o_orderkey""".stripMargin)),

    // ─── K1: regex-KB maintenance (append + dedup + priority) ───────────
    "q48_kb_update" -> Q(
      (s, dir) => {
        import s.implicits._
        val fresh = Seq(
          ("KOMATSU", "PC ?\\d{2,4}(-\\d)?", "PC ?(\\d{2,4})", "EXCAVATOR", 0), // dup of kb row
          ("DOOSAN", "DX ?\\d{3}[A-Z]{0,2}", "DX ?(\\d{3})", "EXCAVATOR", 0))
          .toDF("brand", "model_regex", "capacity_regex", "category", "starting_point")
        graft.etl.KnowledgeBase
          .updateRegexKb(graft.etl.KnowledgeBase.sampleRegexKb(s), fresh)
          .select($"brand", $"model_regex", $"priority")
          .orderBy($"brand", $"model_regex")
      },
      Some {
        val kbVals = (graft.etl.KnowledgeBase.sampleRegexKbRows.map(r => (r._1, r._2)) ++ Seq(
          ("KOMATSU", "PC ?\\d{2,4}(-\\d)?"), ("DOOSAN", "DX ?\\d{3}[A-Z]{0,2}")))
          .map { case (b, p) => s"('$b', '$p')" }.mkString(", ")
        s"""SELECT DISTINCT brand, model_regex,
           |  CAST(-length(model_regex) AS INTEGER) AS priority
           |FROM (VALUES $kbVals) t(brand, model_regex)
           |ORDER BY brand, model_regex""".stripMargin
      }),

    // ─── J9: weight-band inference against a literal spec table ─────────
    "q49_weight_inference" -> Q(
      (s, dir) => {
        import s.implicits._
        val specs = Seq(
          ("MODEL-A", 1200.0, 12.0, "EXCAVATOR"),
          ("MODEL-B", 1500.0, 15.0, "EXCAVATOR"),
          ("MODEL-C", 1800.0, 18.0, "CRANE"))
          .toDF("model", "weight", "capacity", "type")
        graft.etl.Lookups.inferFromWeight(
            Tables.part(s, dir).withColumn("__row_id", $"p_partkey"),
            "p_retailprice", specs)
          .select($"p_partkey",
            coalesce($"inferred_model", lit("NONE")).as("inferred_model"),
            coalesce($"inferred_capacity", lit(-1.0)).as("inferred_capacity"))
          .orderBy($"p_partkey")
      },
      Some("""WITH specs(m, w, cap, ty) AS (VALUES
             |  ('MODEL-A', 1200.0::DOUBLE, 12.0::DOUBLE, 'EXCAVATOR'),
             |  ('MODEL-B', 1500.0::DOUBLE, 15.0::DOUBLE, 'EXCAVATOR'),
             |  ('MODEL-C', 1800.0::DOUBLE, 18.0::DOUBLE, 'CRANE')),
             |j AS (SELECT p.p_partkey, s.m, s.cap,
             |        row_number() OVER (PARTITION BY p.p_partkey
             |          ORDER BY abs(p.p_retailprice - s.w) ASC NULLS LAST, s.m ASC NULLS LAST) AS rn
             |      FROM part p LEFT JOIN specs s
             |        ON p.p_retailprice IS NOT NULL
             |       AND p.p_retailprice BETWEEN s.w * 0.95 AND s.w * 1.05)
             |SELECT p_partkey, coalesce(m, 'NONE') AS inferred_model,
             |       coalesce(cap, -1.0) AS inferred_capacity
             |FROM j WHERE rn = 1 ORDER BY p_partkey""".stripMargin)),

    // ─── CUBE: all grouping combinations with exact sums ────────────────
    "q65_cube" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"o_totalprice".cast("decimal(18,6)")).cast("double").as("total"))
          .select(coalesce($"o_orderstatus", lit("(all)")).as("status"),
            coalesce($"o_orderpriority", lit("(all)")).as("priority"),
            $"n", $"total")
          .orderBy($"status", $"priority")
      },
      Some("""SELECT coalesce(o_orderstatus, '(all)') AS status,
             |  coalesce(o_orderpriority, '(all)') AS priority,
             |  count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
             |ORDER BY status, priority""".stripMargin)),

    // ─── corpus-cleaning redaction (email/number masking) ───────────────
    "q64_redact" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .select($"event_id", TextStats.redactPii($"props").as("props_redacted"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id,
             |  regexp_replace(regexp_replace(props,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
             |    '[0-9]+', '<NUM>', 'g') AS props_redacted
             |FROM events ORDER BY event_id""".stripMargin)),

    // ─── JSON property extraction + typed aggregation ───────────────────
    "q63_json_extract" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .withColumn("k", get_json_object($"props", "$.k").cast("int"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"), avg($"k").as("avg_k"))
          .orderBy($"event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
             |  avg(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS avg_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ─── exact multi-quantile summary (pandas-interpolation parity) ─────
    "q61_percentiles" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(
            percentile($"l_extendedprice", lit(0.25)).as("p25"),
            percentile($"l_extendedprice", lit(0.5)).as("p50"),
            percentile($"l_extendedprice", lit(0.75)).as("p75"),
            percentile($"l_extendedprice", lit(0.9)).as("p90"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  quantile_cont(l_extendedprice, 0.25) AS p25,
             |  quantile_cont(l_extendedprice, 0.50) AS p50,
             |  quantile_cont(l_extendedprice, 0.75) AS p75,
             |  quantile_cont(l_extendedprice, 0.90) AS p90
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ─── deterministic string aggregation (sorted distinct listagg) ─────
    "q62_string_agg" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir)
          .groupBy($"o_orderpriority")
          .agg(array_join(array_sort(collect_set($"o_orderstatus")), ",").as("statuses"),
            countDistinct($"o_orderstatus").as("n_statuses"))
          .orderBy($"o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
             |  count(DISTINCT o_orderstatus) AS n_statuses
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ─── left-semi join: customers with at least one urgent order ───────
    "q58_semi_join" -> Q(
      (s, dir) => {
        import s.implicits._
        val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
          .select($"o_custkey")
        Tables.customer(s, dir)
          .join(urgent, $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_name")
          .orderBy($"c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)),

    // ─── left-anti join: parts never shipped in bulk (qty ≥ 48) ─────────
    "q59_anti_join" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.part(s, dir)
          .join(Tables.lineitem(s, dir).filter($"l_quantity" >= 48).select($"l_partkey"),
            $"p_partkey" === $"l_partkey", "left_anti")
          .select($"p_partkey", $"p_name")
          .orderBy($"p_partkey")
      },
      Some("""SELECT p_partkey, p_name FROM part p
             |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
             |                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 48)
             |ORDER BY p_partkey""".stripMargin)),

    // ─── set operations: INTERSECT / EXCEPT over key slices ─────────────
    "q60_set_ops" -> Q(
      (s, dir) => {
        import s.implicits._
        val urgentCust = Tables.orders(s, dir)
          .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey")
        val bigCust = Tables.orders(s, dir)
          .filter($"o_totalprice" > 200000).select($"o_custkey")
        val both = urgentCust.intersect(bigCust).withColumn("set_op", lit("both"))
        val urgentOnly = urgentCust.except(bigCust).withColumn("set_op", lit("urgent_only"))
        both.unionByName(urgentOnly)
          .orderBy($"set_op", $"o_custkey")
      },
      Some("""SELECT o_custkey, 'both' AS set_op FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
             |UNION ALL
             |SELECT o_custkey, 'urgent_only' AS set_op FROM (
             |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
             |ORDER BY set_op, o_custkey""".stripMargin)),

    // ─── gap-based sessionization (lag + cumulative session ids) ────────
    // The batch formulation of event sessionizing: a new session starts
    // after a >30-minute silence; ids are per-user cumulative counts. One
    // shuffle on user_id; both windows share the same sort.
    "q57_sessionize_gaps" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        // exact microsecond arithmetic on both engines (a truncated-seconds
        // diff would disagree with DuckDB's fractional epoch() on
        // sub-second boundaries)
        val newSession = when(
          unix_micros($"ts") - unix_micros(lag($"ts", 1).over(byUser)) > 1800L * 1000000, 1)
          .otherwise(0)
        Tables.events(s, dir)
          .withColumn("__new", newSession)
          .withColumn("session_id",
            sum($"__new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy($"user_id", $"session_id")
          .agg(count(lit(1)).as("n_events"),
            min($"ts").as("session_start"), max($"ts").as("session_end"),
            sum($"value".cast("decimal(18,6)")).cast("double").as("total_value"))
          .orderBy($"user_id", $"session_id")
      },
      Some("""WITH t AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
             |g AS (SELECT *, CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000
             |                     THEN 1 ELSE 0 END AS new_s
             |      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |      FROM g)
             |SELECT user_id, session_id, count(*) AS n_events,
             |       min(ts) AS session_start, max(ts) AS session_end,
             |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // ─── skew-safe two-phase aggregation (Scale.saltedSum) ──────────────
    // The salt is internal plumbing: the oracle is the PLAIN group sum the
    // salted two-phase must reproduce exactly (decimal partials).
    "q54_salted_sum" -> Q(
      (s, dir) => {
        import s.implicits._
        graft.etl.Scale.saltedSum(Tables.lineitem(s, dir),
            "l_returnflag", "l_orderkey", $"l_extendedprice", salts = 8, out = "total")
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ─── A3/A4/O4 by interval: the reference's key_capacity_interval ────
    // (py:664-689): sums + share per capacity bucket, UNKNOWN forced to
    // the bottom of the report.
    "q53_interval_share" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.etl.{Analytics, Enrich}
        val bucketed = Tables.lineitem(s, dir)
          .withColumn("interval", Enrich.fixedBuckets($"l_quantity"))
        val sh = Analytics.sharesTable(bucketed, "interval",
          $"l_extendedprice" * (lit(1.0) - $"l_discount"), "share", "revenue")
        sh.select($"interval", $"revenue".cast("double").as("revenue"), $"share")
          .orderBy(Analytics.bottomLabelsKey("interval", Seq("UNKNOWN")),
            $"share".desc, $"interval")
      },
      Some("""WITH b AS (SELECT CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 'UNKNOWN'
             |    WHEN l_quantity < 5 THEN '<5T' WHEN l_quantity < 10 THEN '5-10T'
             |    WHEN l_quantity < 30 THEN '10-30T' WHEN l_quantity < 70 THEN '30-70T'
             |    WHEN l_quantity < 90 THEN '70-90T' ELSE '≥90T' END AS interval,
             |    l_extendedprice, l_discount FROM lineitem),
             |rev AS (SELECT interval, sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS revenue
             |        FROM b GROUP BY interval),
             |tot AS (SELECT sum(revenue) AS grand FROM rev)
             |SELECT interval, CAST(revenue AS DOUBLE) AS revenue,
             |       CAST(revenue AS DOUBLE)/CAST(grand AS DOUBLE)*100 AS share
             |FROM rev CROSS JOIN tot
             |ORDER BY CASE WHEN interval = 'UNKNOWN' THEN 1 ELSE 0 END,
             |         share DESC, interval""".stripMargin)),

    // ─── B1 crane branch: known-capacity-only w-wide buckets ────────────
    "q52_crane_buckets" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy(graft.etl.Enrich.craneBuckets($"l_quantity", 25).as("crane_interval"))
          .agg(count(lit(1)).as("n"))
          .orderBy($"crane_interval")
      },
      Some("""SELECT CASE WHEN l_quantity IS NULL OR l_quantity <= 0 THEN 'UNKNOWN'
             |  WHEN l_quantity < 25 THEN '<25T'
             |  ELSE CAST(CAST(floor(l_quantity/25)*25 AS INTEGER) AS VARCHAR) || '-' ||
             |       CAST(CAST(floor(l_quantity/25)*25 AS INTEGER)+25 AS VARCHAR) || 'T' END AS crane_interval,
             |  count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY crane_interval""".stripMargin)),

    // ─── crane buckets across a dense boundary grid (non-default w) ─────
    // q52 pins the crane labels at w=25 (3 rows); this pins the label
    // ARITHMETIC: w=7 over fractional capacities (1.3–65.0) crosses the
    // '<7T' low bucket and nine [i·7, (i+1)·7) boundaries, including
    // capacities landing exactly ON a boundary (v=9.1·k hits 36.4, 63.7 …
    // and integer l_quantity·1.3 reproduces the float-edge cases the
    // reference's crane branch (py:381-402) meets on real tonnages).
    "q91_crane_grid" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy(graft.etl.Enrich.craneBuckets($"l_quantity" * 1.3, 7)
            .as("crane_interval"))
          .agg(count(lit(1)).as("n"),
            graft.etl.Analytics.exactSum($"l_quantity").cast("double").as("sum_qty"))
          .orderBy($"crane_interval")
      },
      Some("""WITH g AS (SELECT l_quantity * 1.3::DOUBLE AS v, l_quantity FROM lineitem)
             |SELECT CASE WHEN v IS NULL OR v <= 0 THEN 'UNKNOWN'
             |  WHEN v < 7 THEN '<7T'
             |  ELSE CAST(CAST(floor(v/7)*7 AS INTEGER) AS VARCHAR) || '-' ||
             |       CAST(CAST(floor(v/7)*7 AS INTEGER)+7 AS VARCHAR) || 'T' END AS crane_interval,
             |  count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
             |FROM g GROUP BY 1 ORDER BY crane_interval""".stripMargin)),

    // ─── general window-function surface: lag/lead/first/ntile ─────────
    "q50_window_lag_lead" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables.events(s, dir)
          .select($"event_id", $"user_id",
            lag($"event_id", 1).over(w).as("prev_event"),
            lead($"event_id", 1).over(w).as("next_event"),
            first($"event_id").over(w).as("first_event"),
            ntile(4).over(w).as("quartile"))
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, user_id,
             |  lag(event_id, 1) OVER w AS prev_event,
             |  lead(event_id, 1) OVER w AS next_event,
             |  first_value(event_id) OVER w AS first_event,
             |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |ORDER BY event_id""".stripMargin)),

    // ─── hierarchical totals: ROLLUP with exact decimal sums ────────────
    "q51_rollup" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("n"),
            sum($"l_extendedprice".cast("decimal(18,6)")).cast("double").as("total"))
          .select(coalesce($"l_returnflag", lit("(all)")).as("returnflag"),
            coalesce($"l_linestatus", lit("(all)")).as("linestatus"),
            $"n", $"total")
          .orderBy($"returnflag", $"linestatus")
      },
      Some("""SELECT coalesce(l_returnflag, '(all)') AS returnflag,
             |  coalesce(l_linestatus, '(all)') AS linestatus,
             |  count(*) AS n,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)),

    // ─── exact dedup: normalized-hash duplicate groups ──────────────────
    "q24_dedup_exact" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.exactDupGroups(Tables.documents(s, dir), "doc_id", "text")
          .orderBy($"content_hash")
      },
      Some("""SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
             |       count(*) AS n_docs, min(doc_id) AS canonical_id
             |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin)),

    // ─── MinHash LSH near-dup pairs + exact-Jaccard verify ──────────────
    "q25_minhash_pairs" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
            numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
          .orderBy($"id_a", $"id_b")
      },
      Some(minhashSql)),

    // ─── near-dup CLUSTERS: connected components over the pair graph ────
    // (min-label propagation; cluster id = canonical = min doc id — the
    // step after q25 that dedup at corpus scale actually keys on)
    "q70_dup_clusters" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
            pairs.select($"id_a", $"id_b"))
          .select($"id".as("doc_id"), $"label".as("cluster_id"))
          .orderBy($"doc_id")
      },
      Some(dupClustersSql)),

    // ─── the CC escape hatch, gated against the SAME oracle as q70 ──────
    // Large-star/small-star contraction: O(log² n) rounds on ANY component
    // shape (min-label propagation needs O(diameter) — the documented
    // failure mode for adversarially long dup-chains). Two independent
    // implementations, one oracle.
    "q101_dup_clusters_star" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        Dedup.connectedComponentsStar(docs.select($"doc_id"), "doc_id",
            pairs.select($"id_a", $"id_b"))
          .select($"id".as("doc_id"), $"label".as("cluster_id"))
          .orderBy($"doc_id")
      },
      Some(dupClustersSql)),

    // ─── sub-document (paragraph-window) boilerplate dedup ──────────────
    // CCNet-style: segments occurring >1× anywhere in the corpus are
    // removed from every document; docs reassemble from the survivors in
    // original order (docs that were pure boilerplate vanish).
    "q92_segment_dedup" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.dedupSegments(Tables.documents(s, dir), "doc_id", "text",
            segTokens = 8, maxOccurrences = 1L)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |x AS (SELECT doc_id, tk,
             |        unnest(range(CAST(ceil(len(tk)/8.0) AS BIGINT))) AS i FROM d),
             |s AS (SELECT doc_id, CAST(i AS INTEGER) AS seg_idx,
             |        array_to_string(list_slice(tk, i*8 + 1, i*8 + 8), ' ') AS seg,
             |        CAST(ceil(len(tk)/8.0) AS INTEGER) AS n_segs
             |      FROM x),
             |c AS (SELECT md5(seg) AS h, count(*) AS n FROM s GROUP BY 1)
             |SELECT doc_id, any_value(n_segs) AS n_segs, count(*) AS n_kept,
             |  string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
             |FROM s JOIN c ON md5(s.seg) = c.h
             |WHERE c.n <= 1
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── leakage-safe splits: assign by CLUSTER, not by document ────────
    // A plain per-doc split (q83) can put two near-duplicates on opposite
    // sides of train/test — silent eval contamination. Keying the SAME
    // deterministic draw on the connected-component label moves whole
    // dup-clusters together.
    "q93_cluster_split" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        val clusters = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
          pairs.select($"id_a", $"id_b"))
        // clusters already carries every vertex — no join back to docs
        clusters.select($"id".as("doc_id"), $"label".as("cluster_id"),
            TextStats.assignSplit($"label",
              Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
          .orderBy($"doc_id")
      },
      Some(clusterSplitSql)),

    // ─── equal-size language balancing (deterministic downsample) ───────
    "q94_lang_balance" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.balancePerStratum(
            Tables.documents(s, dir).select($"doc_id", $"lang"), "doc_id", "lang")
          .orderBy($"doc_id")
      },
      Some("""WITH n AS (SELECT lang, count(*) AS ns FROM documents
             |           WHERE lang IS NOT NULL GROUP BY 1),
             |t AS (SELECT lang, min(ns) OVER () AS target FROM n),
             |r AS (SELECT doc_id, lang,
             |        row_number() OVER (PARTITION BY lang
             |          ORDER BY ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE
             |                     / 1152921504606846976.0 ASC, doc_id ASC) AS rk
             |      FROM documents WHERE lang IS NOT NULL)
             |SELECT doc_id, lang FROM r JOIN t USING (lang)
             |WHERE rk <= target ORDER BY doc_id""".stripMargin)),

    // ─── mergeable bottom-k sample (O(k) state vs q94's full sort) ──────
    "q95_bottomk_sample" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"lang", TextStats.hashUniform($"doc_id").as("draw"), $"doc_id")
          .groupBy($"lang")
          .agg(Sketches.bottomK($"draw", $"doc_id", 10).as("__ids"))
          .select($"lang", posexplode($"__ids").as(Seq("pos", "doc_id")))
          .select($"lang", ($"pos" + 1).as("rk"), $"doc_id")
          .orderBy($"lang", $"rk")
      },
      Some("""WITH r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             |    ORDER BY ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE
             |               / 1152921504606846976.0 ASC, doc_id ASC) AS rk
             |  FROM documents)
             |SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id FROM r
             |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin)),

    // ─── HLL++ distinct-count audit ─────────────────────────────────────
    // approx_count_distinct is order-independent (register-max merges)
    // and hash-deterministic, so its error on a fixed dataset is a fixed
    // number; the gate pins |approx − exact| within 3× the requested rsd —
    // the q88 audit pattern: the oracle derives the bound from exact
    // counts and asserts the literal.
    "q96_hll_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(approx_count_distinct($"l_partkey", 0.05).as("appx"),
            countDistinct($"l_partkey").as("exact"))
          .select($"l_returnflag", $"exact",
            (abs($"appx" - $"exact").cast("double") <=
              $"exact".cast("double") * 0.15).as("within_3rsd"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact,
             |  TRUE AS within_3rsd
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ─── Greenwald-Khanna quantile-sketch rank audit ────────────────────
    // percentile_approx(accuracy=100) guarantees the returned element's
    // rank is within n/100 of the target rank; the gate re-derives the
    // TRUE rank interval of the sketch's answer with one exact pass and
    // asserts it at 2× the claimed bound (slack for the ±1 boundary
    // conventions). Also pins that the answer is an actual element of the
    // group (GK returns a sample point, never an interpolation).
    "q97_quantile_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        val m = Tables.lineitem(s, dir).groupBy($"l_returnflag")
          .agg(percentile_approx($"l_extendedprice", lit(0.5), lit(100)).as("m"),
            count(lit(1)).as("n"))
        Tables.lineitem(s, dir).join(m, "l_returnflag")
          .groupBy($"l_returnflag")
          .agg(first($"n").as("n"),
            sum(when($"l_extendedprice" <= $"m", 1L).otherwise(0L)).as("rank_le"),
            sum(when($"l_extendedprice" < $"m", 1L).otherwise(0L)).as("rank_lt"),
            max(when($"l_extendedprice" === $"m", 1L).otherwise(0L)).as("is_elem"))
          .select($"l_returnflag", $"n",
            ($"rank_le".cast("double") >= $"n".cast("double") * 0.48 &&
              $"rank_lt".cast("double") <= $"n".cast("double") * 0.52).as("rank_in_bound"),
            ($"is_elem" === 1L).as("is_element"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  TRUE AS rank_in_bound, TRUE AS is_element
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ─── matryoshka truncation (prefix + renormalize) audit ─────────────
    // 64 → 16 dims: the head component and the re-normalized norm pinned
    // in 2^40 fixed-point; the float cast at the edge is mirrored by
    // CAST(… AS REAL).
    "q98_matryoshka" -> Q(
      (s, dir) => {
        import s.implicits._
        val mv = Similarity.matryoshka($"embedding", 16)
        Tables.embeddings(s, dir).select($"vec_id",
            round(element_at(mv, 1).cast("double") * lit(1099511627776.0))
              .cast("long").as("head_q"),
            round(sqrt(Similarity.norm2(mv)) * lit(1099511627776.0))
              .cast("long").as("norm_q"))
          .orderBy($"vec_id")
      },
      Some("""WITH t AS (SELECT vec_id, list_slice(embedding, 1, 16) AS pre,
             |    sqrt(list_reduce(list_transform(list_slice(embedding, 1, 16),
             |      v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b)) AS nrm
             |  FROM embeddings),
             |m AS (SELECT vec_id,
             |    list_transform(pre, v -> CAST(v::DOUBLE / nrm AS REAL)) AS mv FROM t)
             |SELECT vec_id,
             |  CAST(round(mv[1]::DOUBLE * 1099511627776::DOUBLE) AS BIGINT) AS head_q,
             |  CAST(round(sqrt(list_reduce(list_transform(mv, v -> v::DOUBLE * v::DOUBLE),
             |    (a,b) -> a+b)) * 1099511627776::DOUBLE) AS BIGINT) AS norm_q
             |FROM m ORDER BY vec_id""".stripMargin)),

    // ─── hard-negative mining (cross-label bucketed NN) ─────────────────
    "q99_hard_negatives" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.hardNegatives(Tables.embeddings(s, dir), "vec_id", "embedding",
            "label", lshDim, lshPlanes)
          .orderBy($"vec_id")
      },
      Some(s"""WITH b AS (SELECT vec_id, label, embedding,
              |    ${sqlBucket("embedding", lshPlanes)} AS bkt FROM embeddings),
              |p AS (SELECT l.vec_id AS vec_id, r.vec_id AS nn_id, r.label AS nl,
              |  list_reduce(list_transform(list_zip(l.embedding, r.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE), (a,b) -> a+b) /
              |  (sqrt(list_reduce(list_transform(l.embedding, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b)) *
              |   sqrt(list_reduce(list_transform(r.embedding, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b))) AS sim
              |  FROM b l JOIN b r ON l.bkt = r.bkt AND l.vec_id <> r.vec_id
              |    AND l.label <> r.label),
              |rn AS (SELECT *, row_number() OVER (PARTITION BY vec_id
              |    ORDER BY sim DESC, nn_id ASC) AS rk FROM p)
              |SELECT vec_id, nn_id AS neg_id, nl AS neg_label, sim FROM rn
              |WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    // ─── token-budget selection per source (mixture materialization) ────
    "q100_token_budget" -> Q(
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir).select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("n_tokens"),
          TextStats.meanTokenLen($"text").as("score"))
        // the grouped-hatch form: sources are a handful of labels over
        // the corpus — the window form would sort each source on 1 task
        Mixing.tokenBudgetSelectBy(d, "doc_id", "source", "n_tokens", "score",
            budget = 1000L)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |    list_sum(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t)))::DOUBLE
             |      / len(regexp_split_to_array(text, '\s+')) AS score
             |  FROM documents),
             |c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
             |        ORDER BY score DESC, doc_id ASC) AS BIGINT) AS cum_tokens FROM d)
             |SELECT doc_id, source, n_tokens, score, cum_tokens FROM c
             |WHERE cum_tokens <= 1000 ORDER BY doc_id""".stripMargin)),

    // ─── SimHash fingerprints ───────────────────────────────────────────
    "q26_simhash" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id", Dedup.simhash($"text").as("simhash"))
          .orderBy($"doc_id")
      },
      Some(simhashSql)),

    // ─── exact n-gram Jaccard all-pairs (bounded audit set) ─────────────
    "q27_jaccard_pairs" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.jaccardPairs(
            Tables.documents(s, dir).filter($"doc_id" < 200), "doc_id", "text",
            shingleK = 3, threshold = 0.5)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH $sqlShingles,
              |b AS (SELECT * FROM sh WHERE doc_id < 200),
              |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
              |        len(list_intersect(a.sh, b2.sh)) / len(list_distinct(list_concat(a.sh, b2.sh))) AS jaccard
              |      FROM b a JOIN b b2 ON a.doc_id < b2.doc_id)
              |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin)),

    // ─── asymmetric containment pairs (quote-inclusion dedup signal) ────
    // Same bounded-audit contract as q27; threshold 0.3 exercises varied
    // values on the synthetic corpus (which has no planted supersets).
    "q82_containment_pairs" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.containmentPairs(
            Tables.documents(s, dir).filter($"doc_id" < 200), "doc_id", "text",
            shingleK = 3, threshold = 0.3)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH $sqlShingles,
              |b AS (SELECT * FROM sh WHERE doc_id < 200),
              |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
              |        len(list_intersect(a.sh, b2.sh)) / least(len(a.sh), len(b2.sh)) AS containment
              |      FROM b a JOIN b b2 ON a.doc_id < b2.doc_id)
              |SELECT id_a, id_b, containment FROM p WHERE containment >= 0.3
              |ORDER BY id_a, id_b""".stripMargin)),

    // ─── corpus-trained bigram LM quality score (CCNet-style) ───────────
    // Probability-space mean in 2^40 fixed-point — rational arithmetic
    // only; a ln() here diverges between JVM Math.log and glibc by 1 ulp
    // on real inputs (see TextStats.lmScore scaladoc).
    "q84_lm_score" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.lmScore(Tables.documents(s, dir), "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some(s"""WITH $lmScoreOracleCtes
              |SELECT doc_id, n_bigrams, mean_p FROM lmd ORDER BY doc_id""".stripMargin)),

    // ─── Misra-Gries guarantee audit (oracle-gated) ─────────────────────
    // The MG weights depend on fold order (partial-aggregation splits),
    // so the gate is the GUARANTEE, not the weights: every term with true
    // frequency > n/(k+1) must be present in the summary with a weight in
    // [freq − n/(k+1), freq]. The Spark side evaluates those booleans from
    // the live sketch; the oracle derives the same heavy-hitter set from
    // exact counts and asserts the literals — a hash match iff the
    // mergeable-summaries bound holds on this corpus. k=49 → a 2 % share
    // threshold, which the synthetic hot terms (~3.5 % each) clear at
    // every SF.
    "q88_mg_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        val k = 49
        val terms = Tables.documents(s, dir)
          .select($"lang", explode(split(lower($"text"), " ")).as("term"))
        val mg = terms.groupBy($"lang")
          .agg(Sketches.misraGries($"term", k).as("mg"), count(lit(1)).as("n"))
        val exact = terms.groupBy($"lang", $"term").agg(count(lit(1)).as("freq"))
        exact.join(mg, "lang")
          .filter($"freq".cast("double") > $"n".cast("double") / (k + 1))
          .withColumn("w", coalesce(element_at($"mg", $"term"), lit(0L)))
          .select($"lang", $"term", $"freq",
            ($"w" > 0L).as("present"),
            ($"w" <= $"freq").as("no_overcount"),
            ($"w".cast("double") >=
              $"freq".cast("double") - $"n".cast("double") / (k + 1)).as("within_bound"))
          .orderBy($"lang", $"term")
      },
      Some("""WITH t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS term FROM documents),
             |c AS (SELECT lang, term, count(*) AS freq FROM t GROUP BY 1, 2),
             |n AS (SELECT lang, count(*) AS n FROM t GROUP BY 1)
             |SELECT lang, term, freq,
             |  TRUE AS present, TRUE AS no_overcount, TRUE AS within_bound
             |FROM c JOIN n USING (lang)
             |WHERE freq::DOUBLE > n::DOUBLE / 50
             |ORDER BY lang, term""".stripMargin)),

    // ─── deterministic k-means fit audit (oracle-gated) ─────────────────
    // Gates the IVF *fit* end to end: init = 8 lowest-id vectors, 2 Lloyd
    // iterations, assignment by the SAME literal cosine argmax ivfCell
    // uses at query time (gated by q39/q71), update means over 2^40
    // fixed-point sums (the q80 construction), centroids cast to float at
    // each edge. Emits every centroid dimension re-quantized to 2^40
    // fixed-point plus the final cell occupancy — the oracle replays both
    // iterations as generated CTEs (the Q40Oracle pattern).
    "q89_kmeans_fit" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
          k = 8, iters = 2)
        val centDf = s.createDataFrame(cents.flatMap { case (cid, arr) =>
            arr.zipWithIndex.map { case (v, i) => (cid, i, v.toDouble) }
          }).toDF("cell", "pos", "cv")
          .select($"cell", $"pos",
            round($"cv" * lit(1099511627776.0)).cast("long").as("cq"))
        val sizes = emb
          .withColumn("cell", Similarity.ivfCell($"embedding", cents))
          .groupBy($"cell").agg(count(lit(1)).as("n_assigned"))
        centDf.join(sizes, Seq("cell"), "left")
          .na.fill(0L, Seq("n_assigned"))
          .orderBy($"cell", $"pos")
      },
      Some(KmeansOracle.sql(k = 8, iters = 2, dim = 64))),

    // ─── bigram LM score with a top-K-pruned model ──────────────────────
    // The 100 TB model-size lever: keep only the 2 most frequent
    // successors per w1 (ties pair asc); a pruned-away bigram scores as
    // UNSEEN (α / (c1 + α·V)) — its mass folds into the smoothing floor.
    "q90_lm_score_pruned" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.lmScore(Tables.documents(s, dir), "doc_id", "text", topK = 2)
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
             |uni AS (SELECT unnest(tk) AS w FROM toks),
             |uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
             |v AS (SELECT count(DISTINCT w) AS vs FROM uni),
             |bgx AS (SELECT doc_id, tk, CAST(unnest(range(len(tk) - 1)) AS INTEGER) AS pos
             |        FROM toks WHERE len(tk) >= 2),
             |bg AS (SELECT doc_id, pos, tk[pos+1] AS w1, tk[pos+1] || ' ' || tk[pos+2] AS pair
             |       FROM bgx),
             |bc AS (SELECT w1, pair, count(*) AS c12 FROM bg GROUP BY w1, pair),
             |bcp AS (SELECT pair, c12 FROM (
             |          SELECT *, row_number() OVER (PARTITION BY w1
             |            ORDER BY c12 DESC, pair ASC) AS rk FROM bc) WHERE rk <= 2),
             |sc AS (SELECT doc_id,
             |         CAST(round(((coalesce(c12, 0) + 0.5::DOUBLE) / (c1 + 0.5::DOUBLE * vs))
             |                    * (1099511627776::DOUBLE)) AS BIGINT) AS pfix
             |       FROM bg LEFT JOIN bcp USING (pair) JOIN uc ON bg.w1 = uc.w CROSS JOIN v)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(pfix) AS DOUBLE) / (1099511627776::DOUBLE) / count(*) AS mean_p
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── int8 embedding quantization audit stats ────────────────────────
    "q87_quantize" -> Q(
      (s, dir) => {
        import s.implicits._
        Quantize.quantizeStats(Tables.embeddings(s, dir), "vec_id", "embedding")
          .orderBy($"vec_id")
      },
      Some("""WITH b AS (SELECT vec_id, embedding,
             |  list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS m
             |  FROM embeddings),
             |qz AS (SELECT vec_id, embedding, m, 127.0::DOUBLE / m AS scale,
             |  list_transform(embedding, v ->
             |    CASE WHEN m = 0 THEN 0
             |         ELSE greatest(-127, least(127, CAST(round(v::DOUBLE * (127.0::DOUBLE / m)) AS INTEGER))) END) AS q
             |  FROM b),
             |e AS (SELECT vec_id, q,
             |  list_transform(list_zip(embedding, q), p ->
             |    CASE WHEN m = 0 THEN 0::BIGINT
             |         ELSE CAST(round((p[1]::DOUBLE - p[2]::DOUBLE / scale)
             |                         * (p[1]::DOUBLE - p[2]::DOUBLE / scale)
             |                         * 1099511627776::DOUBLE) AS BIGINT) END) AS efix,
             |  len(embedding) AS d
             |  FROM qz)
             |SELECT vec_id,
             |  CAST(list_min(q) AS INTEGER) AS qmin,
             |  CAST(list_max(q) AS INTEGER) AS qmax,
             |  CAST(list_sum(q) AS BIGINT) AS qsum,
             |  CAST(list_sum(efix) AS DOUBLE) / 1099511627776::DOUBLE / d AS mse
             |FROM e ORDER BY vec_id""".stripMargin)),

    // ─── benchmark decontamination (shared-shingle leak detection) ──────
    // Eval set = every doc_id ≡ 7 (mod 10); a training doc sharing ANY
    // 3-gram with it is flagged with its distinct shared-shingle count.
    "q85_decontaminate" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        Dedup.contaminatedDocs(
            docs.filter($"doc_id" % 10 =!= 7), docs.filter($"doc_id" % 10 === 7),
            "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some(s"""WITH $sqlShingles,
              |g AS (SELECT doc_id,
              |        unnest(list_transform(sh, s -> ('0x'||substr(md5(s),1,15))::BIGINT)) AS hs
              |      FROM sh),
              |ev AS (SELECT DISTINCT hs FROM g WHERE doc_id % 10 = 7),
              |tr AS (SELECT doc_id, hs FROM g WHERE doc_id % 10 <> 7)
              |SELECT doc_id, count(DISTINCT hs) AS n_shared
              |FROM tr JOIN ev USING (hs) GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── weighted source mixing (epoch-style up/down-sampling) ──────────
    "q86_source_mix" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.epochWeightedRepeat(Tables.documents(s, dir), "doc_id", "source",
            Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0))
          .select($"doc_id", $"source", $"copy")
          .orderBy($"doc_id", $"copy")
      },
      Some("""WITH w AS (SELECT doc_id, source,
             |  (CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
             |               WHEN 'src2' THEN 0.0 ELSE 1.0 END)::DOUBLE AS wt,
             |  ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE
             |    / 1152921504606846976.0 AS u
             |  FROM documents),
             |r AS (SELECT doc_id, source,
             |        CAST(floor(wt) AS INTEGER)
             |          + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS reps
             |      FROM w)
             |SELECT doc_id, source, CAST(unnest(range(1, reps + 1)) AS INTEGER) AS copy
             |FROM r WHERE reps >= 1 ORDER BY doc_id, copy""".stripMargin)),

    // ─── deterministic train/val/test split assignment ──────────────────
    "q83_split_assign" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select($"doc_id", $"lang",
          TextStats.assignSplit($"doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, lang,
             |  CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE / 1152921504606846976.0 < 0.8 THEN 'train'
             |       WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE / 1152921504606846976.0 < 0.9 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ─── brute-force cosine top-k (ANN baseline) ────────────────────────
    "q28_ann_cosine" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val query = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        Similarity.cosineTopK(emb, "vec_id", "embedding", query, 10)
      },
      Some(cosineSql)),

    // ─── sign-LSH bucketed cosine top-k (ANN scale path) ────────────────
    "q29_ann_lsh" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val query = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        Similarity.lshTopK(emb, "vec_id", "embedding", query, lshDim, lshPlanes, 10)
      },
      Some(lshSql)),

    // ─── IVF-cell ANN top-k (centroids = fixed sample; k-means slots in) ─
    "q39_ann_ivf" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter($"vec_id" < 16)
          .select($"vec_id", $"embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .sortBy(_._1).toSeq
        val query = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        Similarity.ivfTopK(emb, "vec_id", "embedding", query, centroids, 10)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
             |  (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)) *
             |   sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)))""".stripMargin
        s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
           |scored AS (SELECT e.vec_id, e.embedding, c.cid, ${cos("e.embedding", "c.cv")} AS csim
           |           FROM embeddings e CROSS JOIN c),
           |assign AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
           |           FROM scored),
           |cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
           |q AS (SELECT embedding AS qvec, cid AS qcid FROM cells WHERE vec_id = 0),
           |st AS (SELECT cells.vec_id, ${cos("cells.embedding", "q.qvec")} AS sim
           |       FROM cells, q WHERE cells.cid = q.qcid)
           |SELECT vec_id, sim FROM st ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
      }),

    // ─── multi-probe IVF: nprobe nearest cells (the recall lever) ───────
    "q71_ann_ivf_probed" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter($"vec_id" < 16)
          .select($"vec_id", $"embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .sortBy(_._1).toSeq
        val query = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        Similarity.ivfTopKProbed(emb, "vec_id", "embedding", query, centroids,
          k = 10, nprobe = 4)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
             |  (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)) *
             |   sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)))""".stripMargin
        s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
           |scored AS (SELECT e.vec_id, e.embedding, c.cid, ${cos("e.embedding", "c.cv")} AS csim
           |           FROM embeddings e CROSS JOIN c),
           |assign AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
           |           FROM scored),
           |cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
           |qcells AS (SELECT cid FROM assign WHERE vec_id = 0 AND rn <= 4),
           |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |st AS (SELECT cells.vec_id, ${cos("cells.embedding", "q.qvec")} AS sim
           |       FROM cells, q WHERE cells.cid IN (SELECT cid FROM qcells))
           |SELECT vec_id, sim FROM st ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
      }),

    // ─── per-vector in-bucket nearest neighbor (embedding near-dup) ─────
    "q37_embed_nn" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.nearestInBucket(Tables.embeddings(s, dir), "vec_id", "embedding",
            lshDim, lshPlanes)
          .orderBy($"vec_id")
      },
      Some {
        val bucket = (0 until lshPlanes).map { j =>
          val weights = (0 until lshDim).map(i => Similarity.planeWeight(j, i)).mkString("[", ",", "]")
          s"(CASE WHEN list_reduce(list_transform(list_zip(embedding, $weights::DOUBLE[]), x -> x[1]::DOUBLE * x[2]), (a,b) -> a+b) > 0 THEN ${1 << j} ELSE 0 END)"
        }.mkString("(", " +\n   ", ")")
        s"""WITH b AS (SELECT vec_id, embedding, $bucket AS bkt FROM embeddings),
           |p AS (SELECT l.vec_id AS vec_id, r.vec_id AS nn_id,
           |  list_reduce(list_transform(list_zip(l.embedding, r.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE), (a,b) -> a+b) /
           |  (sqrt(list_reduce(list_transform(l.embedding, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b)) *
           |   sqrt(list_reduce(list_transform(r.embedding, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b))) AS sim
           |  FROM b l JOIN b r ON l.bkt = r.bkt AND l.vec_id <> r.vec_id),
           |rn AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id ASC) AS rk FROM p)
           |SELECT vec_id, nn_id, sim FROM rn WHERE rk = 1 ORDER BY vec_id""".stripMargin
      }),

    // ─── text quality metrics ───────────────────────────────────────────
    // ─── token-window chunking (sequence packing for training prep) ─────
    "q73_chunking" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            explode(TextStats.chunkTokens($"text", chunk = 32, stride = 24)).as("c"))
          .select($"doc_id", $"c.chunk_idx", $"c.chunk_text")
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |n AS (SELECT doc_id, toks, len(toks) AS nt,
             |        CASE WHEN len(toks) <= 32 THEN 1
             |             ELSE 1 + CAST(ceil((len(toks) - 32) / 24.0) AS INTEGER) END AS nc
             |      FROM base),
             |ex AS (SELECT doc_id, toks, CAST(unnest(range(nc)) AS INTEGER) AS w FROM n)
             |SELECT doc_id, w AS chunk_idx,
             |  array_to_string(list_slice(toks, w*24 + 1, w*24 + 32), ' ') AS chunk_text
             |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ─── within-document repetition (Gopher/C4-style quality signals) ───
    "q72_repetition" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            TextStats.wordRepetition($"text").as("word_rep"),
            TextStats.shingleRepetition($"text", 3).as("shingle_rep"))
          .orderBy($"doc_id")
      },
      Some("""WITH base AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
             |sh AS (SELECT doc_id, list_distinct(list_filter(
             |         list_transform(range(1, greatest(len(toks)-1, 1)),
             |           i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]),
             |         x -> x IS NOT NULL)) AS sh FROM base)
             |SELECT b.doc_id,
             |  CASE WHEN len(toks) > 0
             |       THEN 1.0::DOUBLE - len(list_distinct(toks))::DOUBLE / len(toks)
             |       ELSE 0.0::DOUBLE END AS word_rep,
             |  CASE WHEN len(toks) - 2 > 0
             |       THEN 1.0::DOUBLE - len(sh)::DOUBLE / (len(toks) - 2)
             |       ELSE 0.0::DOUBLE END AS shingle_rep
             |FROM base b JOIN sh USING (doc_id) ORDER BY b.doc_id""".stripMargin)),

    "q30_text_quality" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select($"doc_id",
          TextStats.nChars($"text").as("n_chars"),
          TextStats.wsTokenCount($"text").as("n_tokens"),
          TextStats.meanTokenLen($"text").as("mean_token_len"),
          TextStats.stopwordRatio($"text", Seq("the", "a")).as("stopword_ratio"),
          TextStats.digitRatio($"text").as("digit_ratio"),
          TextStats.punctRatio($"text").as("punct_ratio"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(length(text) AS INTEGER) AS n_chars,
             |  CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS n_tokens,
             |  list_sum(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t)))::DOUBLE
             |    / len(regexp_split_to_array(text, '\s+')) AS mean_token_len,
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['the','a'], t)))::DOUBLE
             |    / len(regexp_split_to_array(lower(text), '\s+')) AS stopword_ratio,
             |  len(regexp_extract_all(text, '[0-9]'))::DOUBLE / greatest(length(text), 1) AS digit_ratio,
             |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE / greatest(length(text), 1) AS punct_ratio
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ─── token counting (whitespace + BPE-ish) ──────────────────────────
    "q31_token_count" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select($"doc_id",
          TextStats.wsTokenCount($"text").as("ws_tokens"),
          TextStats.bpeTokenCount($"text").as("bpe_tokens"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ─── language-ID heuristic vs labeled lang ──────────────────────────
    "q32_lang_id" -> Q(
      (s, dir) => {
        import s.implicits._
        val markers = Map(
          "de" -> Seq("der", "und"), "en" -> Seq("the", "a"),
          "es" -> Seq("el", "y"), "fr" -> Seq("le", "et"))
        Tables.documents(s, dir).select($"doc_id", $"lang",
          TextStats.langGuess($"text", markers).as("lang_guess"))
          .withColumn("is_match", $"lang" === $"lang_guess")
          .orderBy($"doc_id")
      },
      Some(s"""WITH $langIdOracleCtes
              |SELECT doc_id, lang, lang_guess, lang = lang_guess AS is_match
              |FROM g ORDER BY doc_id""".stripMargin)),

    // ─── content fingerprint (rolling set-hash + integer bucket) ────────
    "q33_fingerprint" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select($"doc_id",
          TextStats.fingerprint($"text").as("fingerprint"),
          TextStats.fingerprintBucket($"text").as("fp_bucket"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '\s+'))), ' ')) AS fingerprint,
             |  ('0x'||substr(md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '\s+'))), ' ')), 1, 15))::BIGINT AS fp_bucket
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ─── per-source corpus MinHash signature (custom Aggregator UDAF) ───
    "q38_corpus_signature" -> Q(
      (s, dir) => {
        import s.implicits._
        // hash the whole shingle array per doc (one loop-kernel call),
        // THEN explode longs — cheaper rows than hashing post-explode
        val hashed = Tables.documents(s, dir)
          .select($"source",
            explode(graft.functions.HashOps.md5Prefix60Array(
              Dedup.shingles($"text", 3))).as("h"))
        // Signature is emitted as a comma-joined string, not array<bigint>:
        // the driver's pandas-based compare sorts result columns and cannot
        // hash/sort ndarray cells (round-1 q38 failed exactly there).
        hashed.groupBy($"source")
          .agg(Sketches.minhashSig($"h", 16).as("sig"))
          .select($"source",
            concat_ws(",", transform($"sig", x => x.cast("string"))).as("signature"))
          .orderBy($"source")
      },
      Some {
        val mins = (0 until 16).map { i =>
          val r = Dedup.mixRot(i)
          val c = Dedup.mixConst(i)
          val lowMask = (1L << (60 - r)) - 1
          s"coalesce(min(xor(((h & $lowMask) << $r) | (h >> ${60 - r}), $c)), 0)"
        }.mkString("concat_ws(',',\n  ", ",\n  ", ")")
        s"""WITH baseS AS (SELECT source, string_split(lower(text), ' ') AS toks FROM documents),
           |shs AS (SELECT source, list_distinct(list_filter(
           |          list_transform(range(1, greatest(len(toks)-1, 1)),
           |            i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]),
           |          x -> x IS NOT NULL)) AS sh FROM baseS),
           |ex AS (SELECT source, unnest(sh) AS sh_el FROM shs),
           |hashed AS (SELECT source, ('0x'||substr(md5(sh_el),1,15))::BIGINT AS h FROM ex)
           |SELECT source, $mins AS signature
           |FROM hashed GROUP BY source ORDER BY source""".stripMargin
      }),

    // ─── multimodal ingest: binary payload + typed metadata ─────────────
    "q34_multimodal_meta" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.ingestAsBinary(Tables.documents(s, dir), "text", "text/plain")
          .select($"doc_id", $"meta.n_bytes".as("n_bytes"),
            $"meta.content_md5".as("content_md5"), $"meta.media_type".as("media_type"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |  md5(text) AS content_md5, 'text/plain' AS media_type
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ─── multimodal decode (partition-batched REAL PPM parser) ──────────
    // synthesizeMedia builds actual multi-frame PPM P6 byte streams from a
    // closed-form pixel formula; decodeBatch PARSES those bytes (header,
    // comments, raster). The oracle recomputes the closed form, so a green
    // row proves the decoder inverted the real bytes — a parse bug (wrong
    // header skip, signed-byte read, frame boundary) breaks the hash.
    "q35_multimodal_decode" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.decodeBatch(
            Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w,
             |        4 + (7*doc_id) % 11 AS h, 1 + doc_id % 4 AS nf
             |      FROM documents),
             |e AS (SELECT doc_id, w, h, nf,
             |        unnest(generate_series(0, nf - 1)) AS f FROM d),
             |px AS (SELECT doc_id, w, h, nf, f,
             |        unnest(generate_series(0, 3*w*h - 1)) AS i FROM e),
             |s AS (SELECT doc_id, w, h, nf,
             |        sum((31*doc_id + 97*f + i) % 256) AS cks
             |      FROM px GROUP BY 1, 2, 3, 4)
             |SELECT doc_id, CAST(w AS INTEGER) AS width,
             |  CAST(h AS INTEGER) AS height, CAST(nf AS INTEGER) AS n_frames,
             |  CAST(cks AS BIGINT) AS checksum
             |FROM s ORDER BY doc_id""".stripMargin)),

    // ─── distinct counting (exact; the HLL sketch path is spec-bounded
    //     in SketchesSpec since HLL++ internals are engine-private) ──────
    "q44_distinct_counts" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .groupBy($"l_returnflag")
          .agg(countDistinct($"l_partkey").as("n_parts"),
            countDistinct($"l_suppkey").as("n_suppliers"),
            countDistinct($"l_orderkey").as("n_orders"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag,
             |  count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_suppliers,
             |  count(DISTINCT l_orderkey) AS n_orders
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ─── typed Dataset path: per-user session summary via a typed
    //     Aggregator (ops.SessionSummaryAgg — keeps the
    //     KeyValueGroupedDataset API but compiles to a real
    //     aggregate WITH partial aggregation; a mapGroups formulation
    //     would shuffle every raw event row to its group owner) ──────────
    "q43_user_sessions" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .select($"user_id", $"event_type", $"value")
          .as[(Long, String, Double)]
        ev.groupByKey(_._1)
          .agg(graft.ops.SessionSummaryAgg.toColumn.name("s"))
          .toDF("user_id", "s")
          .select($"user_id", $"s._1".as("n_events"),
            $"s._2".as("n_purchases"), $"s._3".as("total_value"))
          .orderBy($"user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
             |  CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS total_value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ─── per-doc top TF-IDF term ────────────────────────────────────────
    "q42_tfidf_top_term" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.topTfidfTerm(Tables.documents(s, dir), "doc_id", "text")
          .withColumn("tfidf", round($"tfidf", 9)) // ln() may differ 1 ulp across libm impls
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
             |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (SELECT doc_id, term, tf * ln((n + 1.0)/(df + 1.0)) AS tfidf
             |           FROM tf JOIN dfq USING(term) CROSS JOIN n),
             |rn AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
             |       FROM scored)
             |SELECT doc_id, term AS top_term, round(tfidf, 9) AS tfidf
             |FROM rn WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // ─── reproducible stratified sampling (hash-based, engine-portable) ─
    "q41_stratified_sample" -> Q(
      (s, dir) => {
        import s.implicits._
        val fractions = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25, "es" -> 0.1, "zh" -> 0.1)
        Tables.documents(s, dir)
          .filter(TextStats.stratifiedKeep($"doc_id", $"lang", fractions))
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id, lang FROM documents
             |WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE / 1152921504606846976.0
             |      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.25
             |                  WHEN 'es' THEN 0.1 WHEN 'zh' THEN 0.1 ELSE 0.0 END
             |ORDER BY doc_id""".stripMargin)),

    // ─── embedding-cosine near-dup dedup (LSH candidates + exact verify) ─
    // Threshold 0.45 is calibrated to the synthetic corpus (max in-corpus
    // cosine ≈ 0.48-0.60 by SF); the operator takes it as a parameter.
    "q45_embed_dedup" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.embedDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
            dim = lshDim, planes = 4, threshold = 0.45)
          .orderBy($"id_a", $"id_b")
      },
      Some {
        val cos =
          """list_reduce(list_transform(list_zip(a.embedding, c.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s,t) -> s+t) /
            |  (sqrt(list_reduce(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE), (s,t) -> s+t)) *
            |   sqrt(list_reduce(list_transform(c.embedding, v -> v::DOUBLE * v::DOUBLE), (s,t) -> s+t)))""".stripMargin
        s"""WITH b AS (SELECT vec_id, embedding, ${sqlBucket("embedding", 4)} AS bkt FROM embeddings),
           |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, $cos AS sim
           |      FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id)
           |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.45 ORDER BY id_a, id_b""".stripMargin
      }),

    // ─── backward as-of join (latest purchase at-or-before each event) ──
    "q46_asof_join" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"event_id", $"value")
        val nonPurchase = ev.filter($"event_type" =!= "purchase")
        AsOf.asofBackward(nonPurchase, "user_id", "ts", purchases, "user_id", "ts",
            carry = Seq("event_id", "value"), outPrefix = "lp_")
          .select($"event_id", $"user_id", $"event_type",
            $"lp_event_id".as("last_purchase_id"),
            $"lp_value".as("last_purchase_value"),
            $"lp_ts".as("last_purchase_ts"))
          .orderBy($"event_id")
      },
      Some("""SELECT e.event_id, e.user_id, e.event_type,
             |  p.event_id AS last_purchase_id, p.value AS last_purchase_value,
             |  CAST(p.ts AS TIMESTAMP) AS last_purchase_ts
             |FROM events e LEFT JOIN events p
             |  ON p.user_id = e.user_id AND p.event_type = 'purchase'
             | AND CAST(p.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP)
             |WHERE e.event_type <> 'purchase'
             |QUALIFY row_number() OVER (PARTITION BY e.event_id
             |  ORDER BY CAST(p.ts AS TIMESTAMP) DESC NULLS LAST, p.event_id DESC NULLS LAST) = 1
             |ORDER BY e.event_id""".stripMargin)),

    // ─── E1 flagship: the full 13-stage customs pipeline at corpus scale ─
    // A customs-shaped fact table is synthesized deterministically from
    // lineitem×part (brand/model tokens injected by key arithmetic) and
    // run through Pipeline.run with the sample KBs; output is the remark ×
    // outliers × interval distribution. The oracle SQL is GENERATED from
    // the same KB data (Q40Oracle) — the whole 13-stage plan is hash-gated.
    "q40_customs_pipeline" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.etl.{KnowledgeBase, Pipeline, Rates}
        val out = Pipeline.run(synthCustomsFact(s, dir),
          KnowledgeBase.sampleModelKb(s), KnowledgeBase.sampleRegexKb(s),
          Rates.rateTable(s,
            for { y <- 1995 to 2002; m <- 1 to 12 }
              yield (y, m, 6.5 + (y % 3) * 0.1 + m * 0.01)))
        out.groupBy($"remark", $"outliers", $"type interval")
          .agg(count(lit(1)).as("n"))
          .orderBy($"remark", $"outliers", $"type interval")
      },
      Some(Q40Oracle.sql)),

    // ─── stage 2 (KB match) alone, oracle-gated ────────────────────────
    // The match stage on its own 1-in-70 slice; the output is a (brand,
    // model, remark) distribution, so no row identity is needed.
    "q55_match_kb" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.etl.{KnowledgeBase, Pipeline}
        val matched = Pipeline.matchKnowledgeBase(
          Pipeline.prepare(synthCustomsFact(s, dir, every = 70)),
          KnowledgeBase.sampleModelKb(s))
        matched.groupBy($"brand", $"model", $"remark")
          .agg(count(lit(1)).as("n"))
          .orderBy($"brand", $"model", $"remark")
      },
      Some(Q40Oracle.matchOnlySql(70))),

    // ─── stages 2-7 through the regex pass, oracle-gated (as q55) ───────
    "q56_regex_pass" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.etl.{KnowledgeBase, Pipeline}
        Pipeline.prepare(synthCustomsFact(s, dir, every = 70))
          .transform(Pipeline.matchKnowledgeBase(_, KnowledgeBase.sampleModelKb(s)))
          .transform(Pipeline.dropIrrelevant)
          .transform(Pipeline.applyTypeRules)
          .transform(Pipeline.markUsedNew)
          .transform(Pipeline.markParts)
          .transform(Pipeline.regexPass(_, KnowledgeBase.sampleRegexKb(s)))
          .groupBy($"brand", $"model", $"remark").agg(count(lit(1)).as("n"))
          .orderBy($"brand", $"model", $"remark")
      },
      Some(Q40Oracle.regexOnlySql(70))),

    // ─── K2 rematchIndividual oracle-gated ──────────────────────────────
    // Match with a KB missing SANY, then re-match ONLY the 'No match' rows
    // against the full KB. supplier_norm is dropped before the rematch
    // (as `Pipeline.chain` drops it from pipeline output), so this also gates
    // rematchIndividual's supplier_norm re-derivation path.
    "q66_rematch_individual" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.etl.{KnowledgeBase, Matching, Pipeline}
        val fullKb = KnowledgeBase.sampleModelKb(s)
        val reducedKb = fullKb.filter($"brand" =!= "SANY")
        val matched = Pipeline.prepare(synthCustomsFact(s, dir, every = 70))
          .transform(Pipeline.matchKnowledgeBase(_, reducedKb))
          .drop("supplier_norm")
          // rematchIndividual branches its input (todo/done split): cut the
          // lineage so the first match isn't recomputed per branch
          .transform(_.localCheckpoint(eager = false))
        Matching.rematchIndividual(matched,
          $"remark" === Pipeline.Remark.noMatch, fullKb)
          .groupBy($"brand", $"model", $"remark").agg(count(lit(1)).as("n"))
          .orderBy($"brand", $"model", $"remark")
      },
      Some(Q40Oracle.rematchSql(70, "SANY"))),

    // ─── F10 reverse dict lookup oracle-gated ───────────────────────────
    // First key (ascending) of the model→capacity dict whose value equals
    // the row's quantity — the reference's get_key_from_value (py:471-491).
    "q67_reverse_lookup" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.etl.{KnowledgeBase, Lookups}
        val capByModel = KnowledgeBase.sampleModelKbRows.map(r => r._2 -> r._3).toMap
        Tables.lineitem(s, dir)
          .select($"l_quantity".cast("double").as("qty"))
          .withColumn("model_key", Lookups.reverseLookup($"qty", capByModel))
          .groupBy($"qty", $"model_key").agg(count(lit(1)).as("n"))
          .orderBy($"qty", $"model_key")
      },
      Some(reverseLookupSql)),

    // ─── E2 crane-mode pipeline oracle-gated ────────────────────────────
    // The full 13 stages with crane interval rules (capacity only, 50T
    // bands) plus the EN→CN type translation merge; distribution over
    // remark × outliers × capacity interval × translated type.
    "q68_crane_pipeline" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.etl.{KnowledgeBase, Pipeline, Rates}
        val tr = KnowledgeBase.sampleTypeTranslationRows.toDF("key", "translated")
        val out = Pipeline.runCrane(synthCustomsFact(s, dir, every = 21),
          KnowledgeBase.sampleModelKb(s), KnowledgeBase.sampleRegexKb(s),
          Rates.rateTable(s,
            for { y <- 1995 to 2002; m <- 1 to 12 }
              yield (y, m, 6.5 + (y % 3) * 0.1 + m * 0.01)),
          translations = Some(tr))
        out.groupBy($"remark", $"outliers", $"capacity interval", $"type_translated")
          .agg(count(lit(1)).as("n"))
          .orderBy($"remark", $"outliers", $"capacity interval", $"type_translated")
      },
      Some(Q40Oracle.craneSql(21, 50, graft.etl.KnowledgeBase.sampleTypeTranslationRows))),

    // ─── CDC upsert/delete merge (corpus maintenance) ───────────────────
    // Deterministic synthetic feed over orders: v1 upserts every 5th key,
    // v2 supersedes every 10th, deletes win on every 7th; snapshot rows
    // survive only where no change touched the key.
    "q74_cdc_upsert" -> Q(
      (s, dir) => {
        import s.implicits._
        val o = Tables.orders(s, dir)
        val snap = o.select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
        val v1 = o.filter($"o_orderkey" % 5 === 0).select($"o_orderkey",
          lit("U1").as("o_orderstatus"), ($"o_totalprice" * 1.1).as("o_totalprice"),
          lit(1L).as("ts"), $"o_orderkey".as("seq"), lit("upsert").as("op"))
        val v2 = o.filter($"o_orderkey" % 10 === 0).select($"o_orderkey",
          lit("U2").as("o_orderstatus"), ($"o_totalprice" * 1.21).as("o_totalprice"),
          lit(2L).as("ts"), $"o_orderkey".as("seq"), lit("upsert").as("op"))
        val del = o.filter($"o_orderkey" % 7 === 0).select($"o_orderkey",
          $"o_orderstatus", $"o_totalprice",
          lit(3L).as("ts"), $"o_orderkey".as("seq"), lit("delete").as("op"))
        Cdc.applyChanges(snap, v1.unionByName(v2).unionByName(del), "o_orderkey")
          .orderBy($"o_orderkey")
      },
      Some("""WITH ch AS (
             |  SELECT o_orderkey, 'U1' AS o_orderstatus, o_totalprice * 1.1::DOUBLE AS o_totalprice,
             |         1::BIGINT AS ts, o_orderkey AS seq, 'upsert' AS op, 1 AS pri
             |  FROM orders WHERE o_orderkey % 5 = 0
             |  UNION ALL
             |  SELECT o_orderkey, 'U2', o_totalprice * 1.21::DOUBLE, 2::BIGINT, o_orderkey, 'upsert', 1
             |  FROM orders WHERE o_orderkey % 10 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_totalprice, 3::BIGINT, o_orderkey, 'delete', 1
             |  FROM orders WHERE o_orderkey % 7 = 0),
             |allr AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice,
             |         (-9223372036854775807 - 1)::BIGINT AS ts,
             |         (-9223372036854775807 - 1)::BIGINT AS seq, 'upsert' AS op, 0 AS pri
             |  FROM orders
             |  UNION ALL SELECT * FROM ch),
             |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
             |        ORDER BY pri DESC, ts DESC, seq DESC) AS rn FROM allr)
             |SELECT o_orderkey, o_orderstatus, o_totalprice FROM r
             |WHERE rn = 1 AND op <> 'delete' ORDER BY o_orderkey""".stripMargin)),

    // ─── Gopher-style composite quality gate ────────────────────────────
    "q75_quality_filter" -> Q(
      (s, dir) => {
        import s.implicits._
        val sw = Seq("the", "a")
        Tables.documents(s, dir).select($"doc_id",
          TextStats.wsTokenCount($"text").as("n_tokens"),
          TextStats.meanTokenLen($"text").as("mean_token_len"),
          TextStats.stopwordRatio($"text", sw).as("stopword_ratio"),
          TextStats.wordRepetition($"text").as("word_rep"),
          TextStats.qualityKeep($"text", sw).as("keep"))
          .orderBy($"doc_id")
      },
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS n_tokens,
             |  list_sum(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t)))::DOUBLE
             |    / len(regexp_split_to_array(text, '\s+')) AS mean_token_len,
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['the','a'], t)))::DOUBLE
             |    / len(regexp_split_to_array(lower(text), '\s+')) AS stopword_ratio,
             |  CASE WHEN len(string_split(lower(text), ' ')) > 0
             |       THEN 1.0::DOUBLE - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
             |            / len(string_split(lower(text), ' '))
             |       ELSE 0.0::DOUBLE END AS word_rep
             |FROM documents)
             |SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, word_rep,
             |  (n_tokens BETWEEN 20 AND 100000) AND (mean_token_len BETWEEN 3.0 AND 10.0)
             |    AND stopword_ratio >= 0.01 AND word_rep <= 0.6 AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ─── per-language heavy hitters (two-phase top-k terms) ─────────────
    // Shape: one explode → partial-agg count on (lang, term) → window over
    // the AGGREGATED term table (tiny vs the corpus) → top 5. The exact
    // version of what a Misra-Gries/count-min pass approximates.
    "q76_heavy_hitters" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val counts = Tables.documents(s, dir)
          .select($"lang", explode(split(lower($"text"), " ")).as("term"))
          .groupBy($"lang", $"term").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"lang").orderBy($"n".desc, $"term".asc)
        counts.withColumn("rank", row_number().over(w))
          .filter($"rank" <= 5)
          .orderBy($"lang", $"rank")
      },
      Some("""WITH t AS (SELECT lang, unnest(string_split(lower(text), ' ')) AS term FROM documents),
             |c AS (SELECT lang, term, count(*) AS n FROM t GROUP BY 1, 2),
             |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
             |        ORDER BY n DESC, term ASC) AS INTEGER) AS rank FROM c)
             |SELECT lang, term, n, rank FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin)),

    // ─── Bloom-filter semi-join pruning ─────────────────────────────────
    // The bloom prune is exact-by-construction at the RESULT level (false
    // positives die in the follow-up semi-join), so the oracle is the
    // plain semi-join; the bloom mechanics are property-spec'd.
    "q77_bloom_prune" -> Q(
      (s, dir) => {
        import s.implicits._
        val dim = Tables.orders(s, dir).filter($"o_totalprice" > 450000.0)
        Bloom.semiJoinPruned(Tables.lineitem(s, dir), $"l_orderkey",
            dim.select($"o_orderkey"), $"o_orderkey")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"),
            graft.etl.Analytics.exactSum($"l_quantity").cast("double").as("sum_qty"))
          .orderBy($"l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0::DOUBLE)
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ─── incremental dedup: new batch vs existing corpus ────────────────
    // Batch = every 5th doc; stays iff no exact content match and no
    // verified MinHash near-dup (jaccard ≥ 0.5) anywhere in the corpus.
    "q78_incremental_dedup" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        Dedup.newAgainstCorpus(
            docs.filter($"doc_id" % 5 =!= 0), docs.filter($"doc_id" % 5 === 0),
            "doc_id", "text")
          .select($"doc_id", $"lang")
          .orderBy($"doc_id")
      },
      Some(s"""WITH $minhashCtes,
              |norm AS (SELECT doc_id,
              |  md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h FROM documents),
              |bat AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
              |corp AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 0),
              |ax AS (SELECT b.doc_id FROM bat b JOIN norm nb USING (doc_id)
              |       WHERE nb.h NOT IN (SELECT nc.h FROM corp c JOIN norm nc USING (doc_id))),
              |near AS (
              |  SELECT id_a AS doc_id FROM pairs WHERE jaccard >= 0.5
              |    AND id_a IN (SELECT doc_id FROM ax) AND id_b IN (SELECT doc_id FROM corp)
              |  UNION
              |  SELECT id_b FROM pairs WHERE jaccard >= 0.5
              |    AND id_b IN (SELECT doc_id FROM ax) AND id_a IN (SELECT doc_id FROM corp))
              |SELECT d.doc_id, d.lang FROM documents d JOIN ax USING (doc_id)
              |WHERE d.doc_id NOT IN (SELECT doc_id FROM near) ORDER BY d.doc_id""".stripMargin)),

    // ─── next-fit sequence packing into context windows ─────────────────
    "q79_pack_bins" -> Q(
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir).select($"doc_id", $"lang",
          size(split($"text", " ")).cast("long").as("n_tokens"))
        Packing.packNextFit(d, "doc_id", "lang", "n_tokens", capacity = 256L)
          .orderBy($"lang", $"doc_id")
      },
      Some("""WITH RECURSIVE d AS (
             |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             |  FROM documents),
             |rec AS (
             |  SELECT lang, rn, doc_id, n_tokens, n_tokens AS fill, 1::BIGINT AS bin
             |  FROM d WHERE rn = 1
             |  UNION ALL
             |  SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
             |         CASE WHEN rec.fill + d.n_tokens <= 256 THEN rec.fill + d.n_tokens
             |              ELSE d.n_tokens END,
             |         CASE WHEN rec.fill + d.n_tokens <= 256 THEN rec.bin ELSE rec.bin + 1 END
             |  FROM rec JOIN d ON d.lang = rec.lang AND d.rn = rec.rn + 1)
             |SELECT lang, doc_id, n_tokens, bin FROM rec ORDER BY lang, doc_id""".stripMargin)),

    // ─── per-label centroids + cosine-to-own-centroid (label noise) ─────
    "q80_centroid_sim" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.centroidSim(Tables.embeddings(s, dir), "vec_id", "embedding", "label")
          .select($"vec_id", $"label", $"centroid_sim")
          .orderBy($"vec_id")
      },
      Some("""WITH x AS (SELECT label, CAST(i AS INTEGER) AS pos,
             |         embedding[i+1]::DOUBLE AS v
             |       FROM embeddings CROSS JOIN range(64) t(i)),
             |c AS (SELECT label, pos,
             |        CAST(sum(CAST(round(v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) / count(*) AS cd
             |      FROM x GROUP BY 1, 2),
             |cent AS (SELECT label, list(cd ORDER BY pos) AS cvec FROM c GROUP BY label)
             |SELECT vec_id, label,
             |  list_reduce(list_transform(list_zip(embedding, cvec),
             |      p -> p[1]::DOUBLE * p[2]::DOUBLE), (a,b) -> a+b) /
             |  (sqrt(list_reduce(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE), (a,b) -> a+b)) *
             |   sqrt(list_reduce(list_transform(cvec, v -> v * v), (a,b) -> a+b))) AS centroid_sim
             |FROM embeddings JOIN cent USING (label) ORDER BY vec_id""".stripMargin)),

    // ─── E2E corpus pipeline: quality → dedup → clusters → chunk → pack ─
    // The LLM-data counterpart of q40: five registry-proven stages
    // composed end to end, oracle assembled from the same CTE pieces that
    // gate each stage on its own.
    "q81_corpus_pipeline" -> Q(
      (s, dir) => {
        import s.implicits._
        CorpusPipeline.run(Tables.documents(s, dir))
          .orderBy($"lang", $"doc_id", $"chunk_idx")
      },
      Some(corpusPipelineSql)),

    // ─── the same pipeline with the star-CC clustering stage swapped in ─
    // Identical oracle as q81: the two CC implementations produce the same
    // (id, min-label) table, so the composed result must hash-match too —
    // gating the swap, not just the operator.
    "q102_corpus_pipeline_star" -> Q(
      (s, dir) => {
        import s.implicits._
        CorpusPipeline.run(Tables.documents(s, dir), starCc = true)
          .orderBy($"lang", $"doc_id", $"chunk_idx")
      },
      Some(corpusPipelineSql)),

    // ─── fixed-point PageRank over the near-dup graph ───────────────────
    // Centrality-based canonical-document choice: within a dup cluster the
    // most-linked document outranks its mirrors. Integer fixed-point
    // throughout (Graph.pageRank scaladoc) — the oracle replays the three
    // iterations as generated CTEs, bit-exact.
    "q103_pagerank" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        val sym = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
          .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
        Graph.pageRank(docs.select($"doc_id"), "doc_id", sym, iters = 3)
          .orderBy($"doc_id")
      },
      Some(pageRankSql(iters = 3))),

    // ─── Count-Min sketch over the term stream, replayed EXACTLY ────────
    // Unlike the Misra-Gries audit (q88, guarantee-only: MG weights depend
    // on fold order), CMS counters are a pure function of the exact term
    // counts — so the oracle rebuilds the identical sketch in SQL and the
    // gate covers the estimates themselves. The sketch is O(d·w) constant
    // state (4×64 here): the broadcast is a 2 KB scalar, not a data-scaled
    // model table. Estimates for the top-25 terms (freq desc, term asc).
    "q104_cms_sketch" -> Q(
      (s, dir) => {
        import s.implicits._
        val d = 4; val w = 64
        val terms = Tables.documents(s, dir)
          .select(explode(split(lower($"text"), " ")).as("term"))
          .withColumn("h", Dedup.baseHash($"term"))
        val sk = terms.agg(Sketches.cmsSketch($"h", d, w).as("cms"))
        val exact = terms.groupBy($"term", $"h").agg(count(lit(1)).as("freq"))
        exact.orderBy($"freq".desc, $"term").limit(25)
          .crossJoin(broadcast(sk))
          .select($"term", $"freq",
            Sketches.cmsEstimate($"cms", $"h", d, w).as("cms_est"))
          .orderBy($"freq".desc, $"term")
      },
      Some {
        val d = 4; val w = 64
        val bCols = (0 until d)
          .map(j => s"${sqlMix(Sketches.CmsSeedBase + j, "h")} % $w AS b$j")
          .mkString(",\n  ")
        val cnts = (0 until d).map(j =>
          s"r$j AS (SELECT b$j AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM b GROUP BY 1)")
          .mkString(",\n")
        val joins = (0 until d).map(j => s"JOIN r$j ON b.b$j = r$j.b").mkString(" ")
        val lst = (0 until d).map(j => s"r$j.cnt").mkString(", ")
        s"""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
           |c AS (SELECT term, count(*) AS freq, ('0x'||substr(md5(term),1,15))::BIGINT AS h
           |      FROM t GROUP BY term),
           |b AS (SELECT term, freq, $bCols FROM c),
           |$cnts
           |SELECT term, CAST(freq AS BIGINT) AS freq, least($lst) AS cms_est
           |FROM b $joins
           |ORDER BY freq DESC, term LIMIT 25""".stripMargin
      }),

    // ─── SemDeDup: k-means cells → within-cell cosine keep-one ──────────
    // Composes the gated fit (q89 chain replayed verbatim via
    // KmeansOracle.ctes) with a per-cell pairwise prune: a vector is
    // dropped iff some LOWER-id cell-mate is ≥ 0.45-cosine-similar. The
    // oracle recomputes the identical fit, assignment, and pair set.
    "q105_semdedup" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
          k = 8, iters = 2)
        Dedup.semanticDedup(emb, "vec_id", "embedding", cents, threshold = 0.45)
          .orderBy($"vec_id")
      },
      Some {
        val cos =
          """list_reduce(list_transform(list_zip(a.embedding, b.embedding), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s,t) -> s+t) /
            |  (sqrt(list_reduce(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE), (s,t) -> s+t)) *
            |   sqrt(list_reduce(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE), (s,t) -> s+t)))""".stripMargin
        s"""WITH ${KmeansOracle.ctes(k = 8, iters = 2, dim = 64)},
           |emb2 AS (SELECT e.vec_id, e.embedding, a.cell
           |         FROM embeddings e JOIN afin a USING (vec_id)),
           |dup AS (SELECT DISTINCT b.vec_id
           |        FROM emb2 a JOIN emb2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
           |        WHERE $cos >= 0.45)
           |SELECT e.vec_id, e.cell, (d.vec_id IS NULL) AS keep
           |FROM emb2 e LEFT JOIN dup d ON e.vec_id = d.vec_id
           |ORDER BY e.vec_id""".stripMargin
      }),

    // ─── two-stage ANN: 16-dim projection prefilter → exact re-rank ─────
    // Retrieve-then-rerank: stage 1 ranks everything by cosine in the
    // random-projected space (16/64 of the arithmetic and bytes), stage 2
    // re-scores only the top-50 candidates exactly. The projection weights
    // are the same md5-derived literals the LSH planes use (seed-offset).
    "q106_ann_two_stage" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val query = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        Similarity.twoStageTopK(emb, "vec_id", "embedding", query,
          dim = lshDim, outDim = 16, candidates = 50, k = 10)
      },
      Some {
        def proj(vecCol: String) = (0 until 16).map { j =>
          val w = (0 until lshDim).map(i => Similarity.planeWeight(100 + j, i))
            .mkString("[", ",", "]")
          s"""list_reduce(list_transform(list_zip($vecCol, $w::DOUBLE[]),
             |      x -> x[1]::DOUBLE * x[2]), (p,q) -> p+q)""".stripMargin
        }.mkString("[", ",\n    ", "]")
        def cosList(a: String, b: String) =
          s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (p,q) -> p+q) /
             |  (sqrt(list_reduce(list_transform($a, v -> v * v), (p,q) -> p+q)) *
             |   sqrt(list_reduce(list_transform($b, v -> v * v), (p,q) -> p+q)))""".stripMargin
        val cosExact =
          """list_reduce(list_transform(list_zip(c.embedding, q.qvec), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,t) -> p+t) /
            |  (sqrt(list_reduce(list_transform(c.embedding, v -> v::DOUBLE * v::DOUBLE), (p,t) -> p+t)) *
            |   sqrt(list_reduce(list_transform(q.qvec, v -> v::DOUBLE * v::DOUBLE), (p,t) -> p+t)))""".stripMargin
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |pe AS (SELECT vec_id, embedding, ${proj("embedding")} AS pv FROM embeddings),
           |pq AS (SELECT qvec, ${proj("qvec")} AS qv FROM q),
           |s1 AS (SELECT pe.vec_id, pe.embedding, ${cosList("pe.pv", "pq.qv")} AS psim
           |       FROM pe CROSS JOIN pq),
           |c AS (SELECT vec_id, embedding FROM s1 ORDER BY psim DESC, vec_id LIMIT 50),
           |r AS (SELECT c.vec_id, $cosExact AS sim FROM c CROSS JOIN q)
           |SELECT vec_id, sim FROM r ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
      }),

    // ─── BM25 ranked keyword retrieval (rational, log-free idf) ─────────
    // Top-20 documents for a fixed 3-term query. Constants (k1+1 etc.) are
    // interpolated from the SAME Scala doubles the Spark side uses —
    // shortest-roundtrip printing makes the DuckDB parse bit-identical.
    "q107_bm25" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.bm25(Tables.documents(s, dir), "doc_id", "text",
          terms = Seq("vector", "stream", "hash"), topN = 20)
      },
      Some(s"""WITH $bm25OracleCtes
              |SELECT doc_id, $bm25OracleScore AS score
              |FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // ─── prefix-filter EXACT Jaccard join over the FULL corpus ──────────
    // The scale path for exact thresholded similarity (q27 is the bounded
    // quadratic baseline): candidates only from shared rarest-first prefix
    // tokens, then exact verification — output identical to all-pairs by
    // the prefix-filtering lemma, which is how the oracle gates it (brute
    // force over all 500 docs, no audit bound needed).
    "q108_prefix_jaccard" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
            shingleK = 3, tNum = 1, tDen = 2)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH $sqlShingles,
              |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
              |        len(list_intersect(a.sh, b2.sh)) / len(list_distinct(list_concat(a.sh, b2.sh))) AS jaccard
              |      FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id)
              |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // ─── shingle novelty (corpus-uniqueness signal) ─────────────────────
    "q109_novelty" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.noveltyScore(Tables.documents(s, dir), "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some(s"""WITH $sqlShingles,
              |t AS (SELECT doc_id, unnest(sh) AS s FROM sh),
              |dfq AS (SELECT s, count(*) AS df FROM t GROUP BY s),
              |p AS (SELECT doc_id, count(*) AS n_shingles,
              |        CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
              |      FROM t JOIN dfq USING (s) GROUP BY doc_id)
              |SELECT doc_id, n_shingles, n_unique,
              |  CAST(n_unique AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
              |FROM p ORDER BY doc_id""".stripMargin)),

    // ─── covariance matrix in 2^40 fixed point (the PCA input) ──────────
    // One map-side pair explode + one (i,j)-keyed partial-combining agg;
    // output is dim²-bounded. Bit-exact across engines by the integer-sum
    // construction (Linalg scaladoc).
    "q110_covariance" -> Q(
      (s, dir) => {
        import s.implicits._
        Linalg.covariance(Tables.embeddings(s, dir), "embedding", dim = 64)
          .orderBy($"i", $"j")
      },
      Some(s"""WITH $covarianceCtes
              |SELECT i, j, cov FROM cv ORDER BY i, j""".stripMargin)),

    // NOTE: q111_standardize (per-dimension z-score, array-shaped output)
    // was retired in round 7: the driver's comparator cannot sort
    // array-typed cells, and q140_standardize_dims already hash-gates the
    // identical per-dimension z-score math in exploded scalar shape. The
    // single standardization code path is Similarity.standardizeDims.

    // ─── product-quantization encode (8 subspaces × 16 codes) ───────────
    // Static init-only codebook = the 16 lowest-id vectors (deterministic
    // fit; a per-subspace Lloyd refinement slots in unchanged). The oracle
    // replays every distance, argmin tie-break, and the subspace-ordered
    // error fold. Gated per (vec_id, subspace) row — the checker's value
    // hashing is row-scalar, so the codes array explodes for the gate
    // (the q140 pattern) with the per-vector recon_err repeated per row.
    "q112_pq_encode" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val cb = emb.orderBy($"vec_id").limit(16)
          .select($"embedding").collect()
          .zipWithIndex.map { case (r, i) => i -> r.getSeq[Float](0).toArray }.toSeq
        Similarity.pqEncode(emb, "vec_id", "embedding", cb, subspaces = 8)
          .select($"vec_id", $"recon_err", posexplode($"codes").as(Seq("s", "cid")))
          .select($"vec_id", $"s", $"cid", $"recon_err")
          .orderBy($"vec_id", $"s")
      },
      Some(s"""WITH $pqCtes,
              |re AS (SELECT vec_id, list_reduce(list(d2 ORDER BY s), (a,b) -> a+b) AS recon_err
              |       FROM best GROUP BY vec_id)
              |SELECT b.vec_id, CAST(b.s AS INTEGER) AS s, b.cid, re.recon_err
              |FROM best b JOIN re USING (vec_id) ORDER BY vec_id, s""".stripMargin)),

    // ─── PQ asymmetric-distance (ADC) top-k search ──────────────────────
    // The payoff of q112: score = Σ_s T[s][code_s] over the query's
    // per-subspace distance tables — the scan reads codes, not vectors.
    // Same codebook chain as q112's oracle (shared pqCtes).
    "q114_pq_adc" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val cb = emb.orderBy($"vec_id").limit(16)
          .select($"embedding").collect()
          .zipWithIndex.map { case (r, i) => i -> r.getSeq[Float](0).toArray }.toSeq
        val qvec = emb.filter($"vec_id" === 0)
          .select($"embedding").head().getSeq[Float](0).toArray
        Similarity.pqAdcTopK(emb, "vec_id", "embedding", cb, subspaces = 8,
          query = qvec, k = 10)
      },
      Some(s"""WITH $pqCtes,
              |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
              |qd AS (SELECT t.s, cb.cid,
              |         list_reduce(list_transform(list_zip(
              |             list_slice(q.qvec, t.s*8 + 1, t.s*8 + 8),
              |             list_slice(cb.cvec, t.s*8 + 1, t.s*8 + 8)),
              |           x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)),
              |           (a,b) -> a+b) AS qd2
              |       FROM q CROSS JOIN range(8) t(s) CROSS JOIN cb),
              |sc AS (SELECT b.vec_id, list_reduce(list(qd.qd2 ORDER BY b.s), (a,b2) -> a+b2) AS adc
              |       FROM best b JOIN qd ON b.s = qd.s AND b.cid = qd.cid
              |       GROUP BY b.vec_id)
              |SELECT vec_id, adc FROM sc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin)),

    // ─── PCA top component: power iteration on the gated covariance ─────
    // Distributed matrix build (q110's exact chain), driver-side dim²
    // iteration; the oracle unrolls 5 power steps with ORDER-BY'd list
    // folds matching the driver's ascending loops bit for bit.
    "q113_pca_power" -> Q(
      (s, dir) => {
        import s.implicits._
        Linalg.pcaTopComponent(Tables.embeddings(s, dir), "embedding",
            dim = 64, iters = 5)
          .orderBy($"i")
      },
      Some(pcaPowerSql(iters = 5))),

    // ─── token co-occurrence lift (association mining) ──────────────────
    "q115_cooccur_lift" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.cooccurrenceLift(Tables.documents(s, dir), "doc_id", "text",
          minSupport = 5L, topN = 25)
      },
      Some("""WITH tk AS (SELECT doc_id, list_sort(list_distinct(string_split(lower(text), ' '))) AS ts
             |            FROM documents),
             |t AS (SELECT doc_id, unnest(ts) AS tt FROM tk),
             |dft AS (SELECT tt, count(*) AS df FROM t GROUP BY tt),
             |pr AS (SELECT x.doc_id, x.tt AS a, y.tt AS b
             |       FROM t x JOIN t y ON x.doc_id = y.doc_id AND x.tt < y.tt),
             |pc AS (SELECT a, b, count(*) AS n_ab FROM pr GROUP BY a, b),
             |nn AS (SELECT count(*) AS n FROM documents)
             |SELECT a, b, n_ab,
             |  CAST(n_ab * n AS DOUBLE) / CAST(da.df * db.df AS DOUBLE) AS lift
             |FROM pc JOIN dft da ON pc.a = da.tt JOIN dft db ON pc.b = db.tt CROSS JOIN nn
             |WHERE n_ab >= 5
             |ORDER BY lift DESC, a, b LIMIT 25""".stripMargin)),

    // ─── ordered multi-stage funnel (first-touch conversions) ───────────
    "q116_funnel" -> Q(
      (s, dir) => {
        import s.implicits._
        Funnel.funnel(Tables.events(s, dir), "user_id", "ts", "event_type",
            stages = Seq("view", "click", "purchase"))
          .orderBy($"stage_idx")
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
             |s0 AS (SELECT user_id, min(ts) AS t FROM ev WHERE event_type = 'view' GROUP BY user_id),
             |s1 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e
             |       JOIN s0 p ON e.user_id = p.user_id AND e.ts > p.t
             |       WHERE e.event_type = 'click' GROUP BY e.user_id),
             |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM ev e
             |       JOIN s1 p ON e.user_id = p.user_id AND e.ts > p.t
             |       WHERE e.event_type = 'purchase' GROUP BY e.user_id),
             |c AS (SELECT 0 AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s0
             |      UNION ALL SELECT 1, 'click', count(*) FROM s1
             |      UNION ALL SELECT 2, 'purchase', count(*) FROM s2)
             |SELECT stage_idx, stage, n_users,
             |  CAST(n_users AS DOUBLE) /
             |    (SELECT CAST(n_users AS DOUBLE) FROM c WHERE stage_idx = 0) AS conversion
             |FROM c ORDER BY stage_idx""".stripMargin)),

    // ─── best-quality cluster representative (keep longest, ties min-id) ─
    // The production alternative to q70's min-id canonical: within each
    // near-dup cluster keep the highest-scoring copy. Same cluster chain
    // as q70/q93/q101 (shared CTEs), arg-max aggregation, no window.
    "q117_keep_best" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        val clusters = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
          pairs.select($"id_a", $"id_b"))
        Dedup.keepBest(docs, "doc_id", clusters,
            TextStats.wsTokenCount($"text"))
          .select($"doc_id", TextStats.wsTokenCount($"text").as("n_tokens"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
              |sc AS (SELECT d.doc_id, cl.cluster_id,
              |         CAST(len(regexp_split_to_array(d.text, '\\s+')) AS INTEGER) AS score
              |       FROM documents d JOIN cl ON d.doc_id = cl.doc_id),
              |keep AS (SELECT doc_id, score FROM (
              |           SELECT *, row_number() OVER (PARTITION BY cluster_id
              |             ORDER BY score DESC, doc_id ASC) AS rn FROM sc) WHERE rn = 1)
              |SELECT doc_id, score AS n_tokens FROM keep ORDER BY doc_id""".stripMargin)),

    // ─── exact-proportion per-stratum split (8/1/1, rank-based) ─────────
    // The exact-quota twin of q83's hash-threshold split: per-lang counts
    // land within 1 row of the 80/10/10 targets by integer rank cuts.
    "q118_exact_split" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.exactSplit(Tables.documents(s, dir), "doc_id", "lang",
            splits = Seq("train" -> 8, "val" -> 1, "test" -> 1), den = 10)
          .select($"doc_id", $"lang", $"split")
          .orderBy($"doc_id")
      },
      Some("""WITH u AS (SELECT doc_id, lang,
             |            ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE
             |              / 1152921504606846976.0 AS d
             |          FROM documents),
             |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY d, doc_id) AS rn,
             |        count(*) OVER (PARTITION BY lang) AS n FROM u)
             |SELECT doc_id, lang,
             |  CASE WHEN rn <= (n * 8) // 10 THEN 'train'
             |       WHEN rn <= (n * 9) // 10 THEN 'val' ELSE 'test' END AS split
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ─── per-source quantile calibration of a quality score ─────────────
    "q119_score_calibrate" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.quantileCalibrate(
            Tables.documents(s, dir).withColumn("sc", length($"text")),
            "doc_id", "source", "sc")
          .select($"doc_id", $"source", $"calibrated")
          .orderBy($"doc_id")
      },
      Some("""WITH r AS (SELECT doc_id, source,
             |        row_number() OVER (PARTITION BY source
             |          ORDER BY length(text) ASC, doc_id ASC) AS rn,
             |        count(*) OVER (PARTITION BY source) AS n FROM documents)
             |SELECT doc_id, source,
             |  CASE WHEN n = 1 THEN 0.0::DOUBLE
             |       ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS calibrated
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ─── contamination matrix: train source × eval suite ────────────────
    "q120_contamination_matrix" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val train = docs.filter($"doc_id" % 10 =!= 7 && $"doc_id" % 10 =!= 3)
        Dedup.contaminationMatrix(train,
            Seq("evalA" -> docs.filter($"doc_id" % 10 === 7),
              "evalB" -> docs.filter($"doc_id" % 10 === 3)),
            "doc_id", "text", "source")
          .orderBy($"source", $"eval_set")
      },
      Some(s"""WITH $sqlShingles,
              |g AS (SELECT doc_id,
              |        unnest(list_transform(sh, x -> ('0x'||substr(md5(x),1,15))::BIGINT)) AS hs
              |      FROM sh),
              |ev AS (SELECT DISTINCT hs, 'evalA' AS eval_set FROM g WHERE doc_id % 10 = 7
              |       UNION ALL
              |       SELECT DISTINCT hs, 'evalB' AS eval_set FROM g WHERE doc_id % 10 = 3),
              |tr AS (SELECT g.doc_id, d.source, g.hs FROM g
              |       JOIN documents d USING (doc_id)
              |       WHERE g.doc_id % 10 <> 7 AND g.doc_id % 10 <> 3)
              |SELECT tr.source, ev.eval_set,
              |  count(DISTINCT tr.doc_id) AS n_docs, count(DISTINCT tr.hs) AS n_shingles
              |FROM tr JOIN ev USING (hs)
              |GROUP BY tr.source, ev.eval_set
              |ORDER BY tr.source, ev.eval_set""".stripMargin)),

    // ─── single-pass column profiler (Deequ-style ingest audit) ─────────
    "q121_profile" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.profile(Tables.lineitem(s, dir),
            Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
              "l_quantity", "l_extendedprice", "l_discount", "l_tax",
              "l_returnflag", "l_linestatus", "l_shipdate"))
          .orderBy($"column")
      },
      Some {
        val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val strCols = Seq("l_returnflag", "l_linestatus")
        val num = numCols.map(c =>
          s"""SELECT '$c' AS "column", count(*)::BIGINT AS n,
             |  (count(*) - count($c))::BIGINT AS n_null,
             |  count(DISTINCT $c)::BIGINT AS n_distinct,
             |  min($c)::DOUBLE AS min_num, max($c)::DOUBLE AS max_num,
             |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str,
             |  NULL::DOUBLE AS avg_len FROM lineitem""".stripMargin)
        val str = strCols.map(c =>
          s"""SELECT '$c', count(*)::BIGINT, (count(*) - count($c))::BIGINT,
             |  count(DISTINCT $c)::BIGINT, NULL::DOUBLE, NULL::DOUBLE,
             |  min($c), max($c), avg(length($c))::DOUBLE FROM lineitem""".stripMargin)
        val ts =
          s"""SELECT 'l_shipdate', count(*)::BIGINT,
             |  (count(*) - count(l_shipdate))::BIGINT,
             |  count(DISTINCT l_shipdate)::BIGINT,
             |  epoch_ms(min(l_shipdate))::DOUBLE, epoch_ms(max(l_shipdate))::DOUBLE,
             |  NULL::VARCHAR, NULL::VARCHAR, NULL::DOUBLE FROM lineitem""".stripMargin
        (num ++ str :+ ts).mkString("", "\nUNION ALL\n",
          "\nORDER BY \"column\"")
      }),

    // ─── declarative expectation audit (uniqueness / completeness / FK /
    //     range / domain), one violation-count row per check ─────────────
    "q122_expectations" -> Q(
      (s, dir) => {
        import s.implicits._
        val orders = Tables.orders(s, dir)
        val lineitem = Tables.lineitem(s, dir)
        val customer = Tables.customer(s, dir)
        Profile.audit(Seq(
          Profile.Unique("orders_pk_unique", orders, Seq("o_orderkey")),
          Profile.Unique("lineitem_line_unique", lineitem,
            Seq("l_orderkey", "l_linenumber")),
          Profile.Complete("orders_custkey_complete", orders, "o_custkey"),
          Profile.SubsetOf("orders_fk_customer", orders, "o_custkey",
            customer, "c_custkey"),
          Profile.SubsetOf("lineitem_fk_orders", lineitem, "l_orderkey",
            orders, "o_orderkey"),
          Profile.Satisfies("lineitem_qty_range", lineitem,
            col("l_quantity") >= 1 && col("l_quantity") <= 50),
          Profile.Satisfies("orders_status_domain", orders,
            col("o_orderstatus").isin("O", "F", "P"))))
      },
      Some("""WITH c AS (
             |  SELECT 'orders_pk_unique' AS check_name,
             |    (count(*) - count(DISTINCT o_orderkey))::BIGINT AS violations FROM orders
             |  UNION ALL
             |  SELECT 'lineitem_line_unique',
             |    (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT FROM lineitem
             |  UNION ALL
             |  SELECT 'orders_custkey_complete',
             |    (count(*) - count(o_custkey))::BIGINT FROM orders
             |  UNION ALL
             |  SELECT 'orders_fk_customer', count(*)::BIGINT FROM orders o
             |  WHERE o.o_custkey IS NOT NULL
             |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
             |  UNION ALL
             |  SELECT 'lineitem_fk_orders', count(*)::BIGINT FROM lineitem l
             |  WHERE l.l_orderkey IS NOT NULL
             |    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
             |  UNION ALL
             |  SELECT 'lineitem_qty_range', count(*)::BIGINT FROM lineitem
             |  WHERE NOT coalesce(l_quantity >= 1 AND l_quantity <= 50, FALSE)
             |  UNION ALL
             |  SELECT 'orders_status_domain', count(*)::BIGINT FROM orders
             |  WHERE NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE))
             |SELECT check_name, violations, violations = 0 AS passed
             |FROM c ORDER BY check_name""".stripMargin)),

    // ─── per-user trailing 1-hour window features over events ───────────
    "q123_trailing_window" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.trailing(Tables.events(s, dir), "user_id", "ts",
            "value", windowMicros = 3600L * 1000000L)
          .select($"event_id", $"user_id", $"n_win", $"sum_win")
          .orderBy($"event_id")
      },
      Some("""SELECT event_id, user_id,
             |  count(*) OVER w::BIGINT AS n_win,
             |  sum((value)::DECIMAL(18,6)) OVER w::DOUBLE AS sum_win
             |FROM (SELECT event_id, user_id, value,
             |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
             |WINDOW w AS (PARTITION BY user_id ORDER BY us
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ─── BPE merge learning (distributed tokenizer training) ────────────
    // 3 learned merges over the whitespace-word corpus; the oracle
    // replays the greedy non-overlapping fuse relationally (islands +
    // parity), so the MERGE SEMANTICS are gated, not just the counts.
    "q124_bpe_merges" -> Q(
      (s, dir) => {
        import s.implicits._
        Bpe.learnMerges(Tables.documents(s, dir), "doc_id", "text",
            iters = 3)
          .orderBy($"iter")
      },
      Some(BpeOracle.sql(iters = 3))),

    // ─── measured recall@10 of single-probe IVF vs brute-force truth ────
    "q125_ann_recall" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter($"vec_id" < 16)
          .select($"vec_id", $"embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .sortBy(_._1).toSeq
        val queries = emb.filter($"vec_id" < 20)
          .select($"vec_id".as("qid"), $"embedding".as("qvec"))
        Similarity.recallAtK(emb, "vec_id", "embedding",
            queries, "qid", "qvec", centroids, k = 10)
          .orderBy($"qid")
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
             |  (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)) *
             |   sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)))""".stripMargin
        s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
           |cs AS (SELECT e.vec_id, e.embedding, c.cid, ${cos("e.embedding", "c.cv")} AS csim
           |       FROM embeddings e CROSS JOIN c),
           |assign AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
           |           FROM cs),
           |cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
           |tq AS (SELECT vec_id AS qid, embedding AS qv, cid AS qcid FROM cells WHERE vec_id < 20),
           |sc AS (SELECT tq.qid, cells.vec_id AS id, cells.cid, tq.qcid,
           |         ${cos("cells.embedding", "tq.qv")} AS sim
           |       FROM cells CROSS JOIN tq),
           |bt AS (SELECT qid, id FROM (SELECT qid, id,
           |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn FROM sc)
           |       WHERE rn <= 10),
           |ap AS (SELECT qid, id FROM (SELECT qid, id,
           |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rn
           |         FROM sc WHERE cid = qcid)
           |       WHERE rn <= 10)
           |SELECT bt.qid, count(ap.id)::BIGINT AS n_hits,
           |  count(ap.id)::DOUBLE / 10.0 AS recall
           |FROM bt LEFT JOIN ap ON bt.qid = ap.qid AND bt.id = ap.id
           |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin
      }),

    // ─── equi-width histogram with outlier-clamping edge bins ───────────
    "q126_histogram" -> Q(
      (s, dir) => {
        import s.implicits._
        Drift.histogram(Tables.lineitem(s, dir), "l_quantity",
            lo = 1.0, hi = 50.0, nbins = 10)
          .orderBy($"bin")
      },
      Some("""WITH c AS (SELECT least(9, greatest(0,
             |          floor((l_quantity - 1.0) / 49.0::DOUBLE * 10)::INTEGER)) AS bin,
             |          count(*) AS n
             |        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
             |g AS (SELECT unnest(range(10))::INTEGER AS bin)
             |SELECT g.bin, 1.0::DOUBLE + g.bin * 4.9::DOUBLE AS lo_edge,
             |  1.0::DOUBLE + (g.bin + 1) * 4.9::DOUBLE AS hi_edge,
             |  coalesce(c.n, 0)::BIGINT AS n
             |FROM g LEFT JOIN c USING (bin) ORDER BY bin""".stripMargin)),

    // ─── chi-square drift between two corpus snapshots ──────────────────
    // Per-language distribution shift between the even-id snapshot (ref)
    // and the odd-id snapshot (cur); chi2 total = fold over the
    // category-SORTED contribution list (order-independent by construction)
    "q127_drift_chi2" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        Drift.chiSquareDrift(docs.filter($"doc_id" % 2 === 0),
            docs.filter($"doc_id" % 2 === 1), "lang")
          .orderBy($"category")
      },
      Some("""WITH r AS (SELECT lang AS category, count(*) AS n_ref
             |           FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
             |c AS (SELECT lang AS category, count(*) AS n_cur
             |      FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
             |j AS (SELECT coalesce(r.category, c.category) AS category,
             |        coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
             |      FROM r FULL OUTER JOIN c ON r.category = c.category),
             |t AS (SELECT *,
             |        n_ref::DOUBLE / (SELECT sum(n_ref) FROM j)::DOUBLE AS p_ref,
             |        n_cur::DOUBLE / (SELECT sum(n_cur) FROM j)::DOUBLE AS p_cur
             |      FROM j),
             |x AS (SELECT *, CASE WHEN n_ref > 0 THEN
             |          (p_cur - p_ref) * (p_cur - p_ref) / p_ref END AS contrib
             |      FROM t),
             |tot AS (SELECT list_reduce(
             |          list_transform(
             |            list_sort(list(struct_pack(category := category,
             |                contrib := contrib)) FILTER (WHERE contrib IS NOT NULL)),
             |            s2 -> s2.contrib),
             |          (a, b) -> a + b) AS chi2 FROM x)
             |SELECT x.category, x.n_ref::BIGINT AS n_ref, x.n_cur::BIGINT AS n_cur,
             |  x.p_ref, x.p_cur, x.contrib, tot.chi2
             |FROM x CROSS JOIN tot ORDER BY x.category""".stripMargin)),

    // ─── join-key skew profile (the salting-decision evidence) ──────────
    "q128_key_skew" -> Q(
      (s, dir) => {
        import s.implicits._
        Drift.keySkew(Tables.events(s, dir), "event_type", topK = 3)
      },
      Some("""WITH c AS (SELECT event_type AS key, count(*) AS cnt
             |           FROM events GROUP BY 1),
             |t AS (SELECT sum(cnt) AS n, count(*) AS d FROM c)
             |SELECT key, cnt::BIGINT AS cnt,
             |  cnt::DOUBLE / n::DOUBLE AS share,
             |  cnt::DOUBLE * d::DOUBLE / n::DOUBLE AS load_ratio
             |FROM c CROSS JOIN t ORDER BY cnt DESC, key LIMIT 3""".stripMargin)),

    // ─── per-stage attrition accounting of the corpus pipeline ──────────
    // Where did the corpus go: input → quality → exact dedup → near-dup
    // canonical, each stage's survivor count/drop/rate. The oracle reuses
    // the q81 stage CTEs verbatim, so the accounting is gated against the
    // SAME stage definitions the pipeline itself is gated under.
    "q129_attrition" -> Q(
      (s, dir) => {
        import s.implicits._
        CorpusPipeline.attrition(Tables.documents(s, dir))
          .orderBy($"stage_idx")
      },
      Some(s"""WITH RECURSIVE
              |$corpusStageCtes,
              |st AS (SELECT 0 AS stage_idx, 'input' AS stage,
              |         (SELECT count(*) FROM documents) AS n_docs
              |       UNION ALL SELECT 1, 'quality', (SELECT count(*) FROM qd)
              |       UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM exd)
              |       UNION ALL SELECT 3, 'near_dedup', (SELECT count(*) FROM kept))
              |SELECT stage_idx, stage, n_docs::BIGINT AS n_docs,
              |  coalesce(lag(n_docs) OVER (ORDER BY stage_idx) - n_docs, 0)::BIGINT AS n_dropped,
              |  coalesce((lag(n_docs) OVER (ORDER BY stage_idx) - n_docs)::DOUBLE
              |    / lag(n_docs) OVER (ORDER BY stage_idx)::DOUBLE, 0.0::DOUBLE) AS drop_rate
              |FROM st ORDER BY stage_idx""".stripMargin)),

    // ─── cross-source shingle-overlap matrix (mixture-design evidence) ──
    "q130_source_overlap" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.sourceOverlap(Tables.documents(s, dir), "source", "text")
          .orderBy($"src_a", $"src_b")
      },
      Some(s"""WITH $sqlShingles,
              |g AS (SELECT d.source,
              |        unnest(list_transform(sh.sh, x -> ('0x'||substr(md5(x),1,15))::BIGINT)) AS hs
              |      FROM sh JOIN documents d USING (doc_id)),
              |ds AS (SELECT DISTINCT source, hs FROM g),
              |sz AS (SELECT source, count(*) AS n FROM ds GROUP BY source),
              |iv AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
              |       FROM ds a JOIN ds b ON a.hs = b.hs AND a.source < b.source
              |       GROUP BY 1, 2),
              |p AS (SELECT x.source AS src_a, y.source AS src_b, x.n AS n_a, y.n AS n_b
              |      FROM sz x JOIN sz y ON x.source < y.source)
              |SELECT p.src_a, p.src_b, p.n_a::BIGINT AS n_a, p.n_b::BIGINT AS n_b,
              |  coalesce(iv.n_common, 0)::BIGINT AS n_common,
              |  coalesce(iv.n_common, 0)::DOUBLE
              |    / (p.n_a + p.n_b - coalesce(iv.n_common, 0))::DOUBLE AS jaccard
              |FROM p LEFT JOIN iv ON p.src_a = iv.src_a AND p.src_b = iv.src_b
              |ORDER BY p.src_a, p.src_b""".stripMargin)),

    // ─── one-row corpus card (the dataset release summary) ──────────────
    "q131_corpus_card" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.corpusCard(Tables.documents(s, dir), "text", "lang", "source")
      },
      Some("""WITH m AS (SELECT text, lang, source,
             |  len(regexp_split_to_array(text, '\s+')) AS nt,
             |  list_sum(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t)))::DOUBLE
             |    / len(regexp_split_to_array(text, '\s+')) AS mtl,
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['the','a'], t)))::DOUBLE
             |    / len(regexp_split_to_array(lower(text), '\s+')) AS swr,
             |  CASE WHEN len(string_split(lower(text), ' ')) > 0
             |       THEN 1.0::DOUBLE - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
             |            / len(string_split(lower(text), ' '))
             |       ELSE 0.0::DOUBLE END AS wr
             |FROM documents),
             |a AS (SELECT count(*) AS n_docs, sum(nt) AS n_tokens,
             |        count(DISTINCT lang) AS n_langs,
             |        count(DISTINCT source) AS n_sources,
             |        count(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS n_unique,
             |        sum(CASE WHEN (nt BETWEEN 20 AND 100000) AND (mtl BETWEEN 3.0 AND 10.0)
             |              AND swr >= 0.01 AND wr <= 0.6 THEN 1 ELSE 0 END) AS n_quality
             |      FROM m)
             |SELECT n_docs::BIGINT AS n_docs, n_tokens::BIGINT AS n_tokens,
             |  n_langs::BIGINT AS n_langs, n_sources::BIGINT AS n_sources,
             |  n_unique::BIGINT AS n_unique, n_quality::BIGINT AS n_quality,
             |  (n_docs - n_unique)::DOUBLE / n_docs::DOUBLE AS dup_rate,
             |  n_quality::DOUBLE / n_docs::DOUBLE AS quality_rate
             |FROM a""".stripMargin)),

    // ─── NEAREST as-of join with tolerance (both directions, tie → past) ─
    "q132_asof_nearest" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("purchase_id"), $"user_id", $"ts")
        val clicks = ev.filter($"event_type" === "click")
          .select($"event_id".as("click_id"), $"user_id".as("cuid"),
            $"ts".as("cts"))
        AsOf.asofNearest(purchases, "user_id", "ts",
            clicks, "cuid", "cts", carry = Seq("click_id"),
            toleranceMicros = 3600L * 1000000L)
          .select($"purchase_id", $"asof_click_id",
            unix_micros($"asof_cts").as("asof_us"))
          .orderBy($"purchase_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id,
             |            epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |p AS (SELECT e.event_id AS purchase_id, e.user_id, e.us FROM e
             |      JOIN (SELECT event_id FROM events WHERE event_type = 'purchase') t
             |        USING (event_id)),
             |c AS (SELECT e.event_id AS click_id, e.user_id, e.us FROM e
             |      JOIN (SELECT event_id FROM events WHERE event_type = 'click') t
             |        USING (event_id)),
             |b AS (SELECT p.purchase_id, max(c.us) AS ts FROM p
             |      JOIN c ON p.user_id = c.user_id AND c.us <= p.us
             |        AND p.us - c.us <= 3600000000 GROUP BY 1),
             |f AS (SELECT p.purchase_id, min(c.us) AS ts FROM p
             |      JOIN c ON p.user_id = c.user_id AND c.us >= p.us
             |        AND c.us - p.us <= 3600000000 GROUP BY 1),
             |pick AS (SELECT p.purchase_id, p.user_id, p.us,
             |           CASE WHEN b.ts IS NOT NULL AND
             |                  (f.ts IS NULL OR p.us - b.ts <= f.ts - p.us)
             |                THEN b.ts ELSE f.ts END AS mts,
             |           CASE WHEN b.ts IS NOT NULL AND
             |                  (f.ts IS NULL OR p.us - b.ts <= f.ts - p.us)
             |                THEN 'b' ELSE 'f' END AS dirn
             |         FROM p LEFT JOIN b USING (purchase_id)
             |                LEFT JOIN f USING (purchase_id))
             |SELECT pick.purchase_id,
             |  CASE WHEN pick.dirn = 'b' THEN max(c.click_id)
             |       ELSE min(c.click_id) END AS asof_click_id,
             |  pick.mts AS asof_us
             |FROM pick LEFT JOIN c ON pick.user_id = c.user_id AND c.us = pick.mts
             |GROUP BY pick.purchase_id, pick.dirn, pick.mts
             |ORDER BY pick.purchase_id""".stripMargin)),

    // ─── bucketed point-in-interval range join ──────────────────────────
    // Clicks joined to each same-user purchase's trailing 1-hour window;
    // the bucket trick turns the BETWEEN theta join into a hash equi-join
    // (PlanAuditSpec pins no-nested-loop), output identical to the theta
    // join the oracle runs.
    "q133_range_join" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .withColumn("us", unix_micros($"ts"))
        val clicks = ev.filter($"event_type" === "click")
          .select($"event_id".as("click_id"), $"user_id", $"us")
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("purchase_id"), $"user_id",
            ($"us" - 3600L * 1000000L).as("lo"), $"us".as("hi"))
        IntervalJoin.rangeJoin(clicks, "us", purchases, "lo", "hi",
            bucketWidth = 3600L * 1000000L, keys = Seq("user_id"))
          .select($"click_id", $"purchase_id")
          .orderBy($"click_id", $"purchase_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, event_type,
             |            epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |c AS (SELECT event_id AS click_id, user_id, us FROM e
             |      WHERE event_type = 'click'),
             |p AS (SELECT event_id AS purchase_id, user_id,
             |        us - 3600000000 AS lo, us AS hi FROM e
             |      WHERE event_type = 'purchase')
             |SELECT c.click_id, p.purchase_id
             |FROM c JOIN p ON c.user_id = p.user_id
             |  AND c.us BETWEEN p.lo AND p.hi
             |ORDER BY c.click_id, p.purchase_id""".stripMargin)),

    // ─── triangle count of the near-dup graph (cluster cohesion) ────────
    // Triangles distinguish a tight dup clique from a star of pairwise
    // borderline matches — the structural signal behind trusting a
    // cluster's single canonical representative.
    "q134_triangles" -> Q(
      (s, dir) => {
        import s.implicits._
        val pairs = Dedup.minhashPairs(Tables.documents(s, dir),
          "doc_id", "text", numHashes = 16, bands = 8, shingleK = 3,
          threshold = 0.5)
        Graph.triangleCount(pairs.select($"id_a", $"id_b"))
      },
      Some(s"""WITH $minhashCtes,
              |ed AS (SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= 0.5),
              |w AS (SELECT e1.a, e1.b, e2.b AS c FROM ed e1 JOIN ed e2 ON e1.b = e2.a)
              |SELECT count(*)::BIGINT AS n_triangles
              |FROM w JOIN ed e3 ON w.a = e3.a AND w.c = e3.b""".stripMargin)),

    // ─── corpus snapshot diff (added / removed / changed / unchanged) ───
    "q135_snapshot_diff" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val oldV = docs.filter($"doc_id" % 10 =!= 8)
        val newV = docs.filter($"doc_id" % 10 =!= 9)
          .withColumn("text", when($"doc_id" % 10 === 5,
            concat($"text", lit(" v2"))).otherwise($"text"))
        Cdc.snapshotDiff(oldV, newV, "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some("""WITH o AS (SELECT doc_id, md5(text) AS h FROM documents
             |           WHERE doc_id % 10 <> 8),
             |n AS (SELECT doc_id,
             |        md5(CASE WHEN doc_id % 10 = 5 THEN text || ' v2'
             |                 ELSE text END) AS h
             |      FROM documents WHERE doc_id % 10 <> 9)
             |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             |  CASE WHEN o.h IS NULL THEN 'added'
             |       WHEN n.h IS NULL THEN 'removed'
             |       WHEN o.h = n.h THEN 'unchanged'
             |       ELSE 'changed' END AS status
             |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
             |ORDER BY doc_id""".stripMargin)),

    // ─── measured MinHash-LSH recall vs exact all-pairs ground truth ────
    "q136_lsh_recall" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.lshRecallAudit(Tables.documents(s, dir), "doc_id", "text")
      },
      Some(s"""WITH $minhashCtes,
              |truth AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b
              |          FROM sh a JOIN sh b2 ON a.doc_id < b2.doc_id
              |          WHERE len(list_intersect(a.sh, b2.sh))
              |            / len(list_distinct(list_concat(a.sh, b2.sh))) >= 0.5),
              |found AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
              |hit AS (SELECT count(*) AS n FROM truth JOIN found USING (id_a, id_b))
              |SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
              |  (SELECT count(*) FROM found)::BIGINT AS n_found,
              |  (SELECT n FROM hit)::BIGINT AS n_hit,
              |  (SELECT n FROM hit)::DOUBLE
              |    / (SELECT count(*) FROM truth)::DOUBLE AS recall""".stripMargin)),

    // ─── KL / PSI drift (log-scaled complement of q127's chi2) ──────────
    // Same snapshot split as q127 so the two metrics are directly
    // comparable on the same drift; contributions round to 9 decimals
    // BEFORE the fold (ln() is 1-ulp engine-dependent — q42 discipline).
    "q137_drift_kl" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        Drift.klDrift(docs.filter($"doc_id" % 2 === 0),
            docs.filter($"doc_id" % 2 === 1), "lang")
          .orderBy($"category")
      },
      Some("""WITH r AS (SELECT lang AS category, count(*) AS n_ref
             |           FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
             |c AS (SELECT lang AS category, count(*) AS n_cur
             |      FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
             |j AS (SELECT coalesce(r.category, c.category) AS category,
             |        coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
             |      FROM r FULL OUTER JOIN c ON r.category = c.category),
             |t AS (SELECT *,
             |        n_ref::DOUBLE / (SELECT sum(n_ref) FROM j)::DOUBLE AS p_ref,
             |        n_cur::DOUBLE / (SELECT sum(n_cur) FROM j)::DOUBLE AS p_cur
             |      FROM j),
             |x AS (SELECT *,
             |        CASE WHEN n_ref > 0 AND n_cur > 0
             |             THEN round(p_cur * ln(p_cur / p_ref), 9) END AS kl_contrib,
             |        CASE WHEN n_ref > 0 AND n_cur > 0
             |             THEN round((p_cur - p_ref) * ln(p_cur / p_ref), 9) END AS psi_contrib
             |      FROM t),
             |tk AS (SELECT list_reduce(
             |          list_transform(
             |            list_sort(list(struct_pack(category := category,
             |                contrib := kl_contrib)) FILTER (WHERE kl_contrib IS NOT NULL)),
             |            s2 -> s2.contrib),
             |          (a, b) -> a + b) AS kl FROM x),
             |tp AS (SELECT list_reduce(
             |          list_transform(
             |            list_sort(list(struct_pack(category := category,
             |                contrib := psi_contrib)) FILTER (WHERE psi_contrib IS NOT NULL)),
             |            s2 -> s2.contrib),
             |          (a, b) -> a + b) AS psi FROM x)
             |SELECT x.category, x.n_ref::BIGINT AS n_ref, x.n_cur::BIGINT AS n_cur,
             |  x.p_ref, x.p_cur, x.kl_contrib, x.psi_contrib, tk.kl, tp.psi
             |FROM x CROSS JOIN tk CROSS JOIN tp ORDER BY x.category""".stripMargin)),

    // ─── Efraimidis–Spirakis weighted sample without replacement ────────
    // Weight = document length: inclusion ∝ length in the A-ES
    // without-replacement sense; the md5 draw makes the sample an engine-
    // independent pure function of the corpus.
    "q138_weighted_sample" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.weightedSampleTopK(
            Tables.documents(s, dir).select($"doc_id", $"text"),
            "doc_id", length($"text"), k = 50)
          .select($"doc_id", $"weight", $"es_key")
          .orderBy($"es_key".desc, $"doc_id".asc)
      },
      Some("""WITH w AS (SELECT doc_id, length(text)::DOUBLE AS weight,
             |    round(ln(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE
             |             / 1152921504606846976.0) / length(text)::DOUBLE, 9) AS es_key
             |  FROM documents WHERE length(text) > 0)
             |SELECT doc_id, weight, es_key FROM w
             |ORDER BY es_key DESC, doc_id ASC LIMIT 50""".stripMargin)),

    // ─── robust (median/MAD) per-group standardization ──────────────────
    "q139_robust_z" -> Q(
      (s, dir) => {
        import s.implicits._
        Drift.robustZ(
            Tables.lineitem(s, dir)
              .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
                $"l_extendedprice".cast("double").as("price")),
            "price", Seq("l_returnflag"))
          .select($"l_orderkey", $"l_linenumber", $"l_returnflag",
            round($"m", 9).as("m"), round($"mad", 9).as("mad"),
            round($"robust_z", 9).as("robust_z"), $"is_outlier")
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""WITH li AS (SELECT l_orderkey, l_linenumber, l_returnflag,
             |              l_extendedprice::DOUBLE AS price FROM lineitem),
             |med AS (SELECT l_returnflag, quantile_cont(price, 0.5) AS m
             |        FROM li GROUP BY 1),
             |mad AS (SELECT li.l_returnflag, quantile_cont(abs(price - m), 0.5) AS mad
             |        FROM li JOIN med USING (l_returnflag) GROUP BY 1)
             |SELECT l_orderkey, l_linenumber, li.l_returnflag,
             |  round(m, 9) AS m, round(mad.mad, 9) AS mad,
             |  round(CASE WHEN mad.mad > 0
             |        THEN (price - m) / (mad.mad * 1.4826::DOUBLE) END, 9) AS robust_z,
             |  CASE WHEN mad.mad > 0
             |       THEN abs((price - m) / (mad.mad * 1.4826::DOUBLE)) > 3.0::DOUBLE
             |       END AS is_outlier
             |FROM li JOIN med USING (l_returnflag) JOIN mad USING (l_returnflag)
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ─── per-dimension embedding standardization (ANN preprocessing) ────
    // Gated per (vec_id, dim) row — the checker's value hashing is
    // row-scalar, so the vector op explodes its output for the gate.
    "q140_standardize_dims" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.standardizeDims(Tables.embeddings(s, dir), "vec_id", "embedding")
          .select($"vec_id", posexplode($"norm_vec").as(Seq("pos", "nv")))
          .orderBy($"vec_id", $"pos")
      },
      Some("""WITH x AS (SELECT CAST(i AS INTEGER) AS pos, embedding[i+1]::DOUBLE AS v
             |        FROM embeddings CROSS JOIN range(64) t(i)),
             |st AS (SELECT pos,
             |        CAST(sum(CAST(round(v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) / count(*) AS mean,
             |        CAST(sum(CAST(round(v * v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) / count(*) AS m2
             |      FROM x GROUP BY 1),
             |s2 AS (SELECT pos, mean, sqrt(m2 - mean * mean) AS sd FROM st)
             |SELECT vec_id, pos,
             |  CASE WHEN sd > 0 THEN (embedding[pos+1]::DOUBLE - mean) / sd
             |       ELSE 0.0::DOUBLE END AS nv
             |FROM embeddings CROSS JOIN range(64) t(i)
             |JOIN s2 ON s2.pos = CAST(i AS INTEGER)
             |ORDER BY vec_id, pos""".stripMargin)),

    // ─── stride-1 repeated-window stats (exact-substring-dedup signal) ──
    "q141_repeated_windows" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.repeatedWindowStats(Tables.documents(s, dir), "doc_id", "text", L = 8)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |w AS (SELECT doc_id,
             |        ('0x'||substr(md5(array_to_string(list_slice(tk, i+1, i+8), ' ')),1,15))::BIGINT AS h
             |      FROM (SELECT doc_id, tk, unnest(range(len(tk) - 7)) AS i
             |            FROM d WHERE len(tk) >= 8)),
             |c AS (SELECT h, count(*) AS n FROM w GROUP BY 1),
             |p AS (SELECT doc_id, count(*) AS n_windows,
             |        count(*) FILTER (WHERE n > 1) AS n_repeated
             |      FROM w JOIN c USING (h) GROUP BY 1)
             |SELECT d.doc_id, coalesce(n_windows, 0)::BIGINT AS n_windows,
             |  coalesce(n_repeated, 0)::BIGINT AS n_repeated,
             |  CASE WHEN coalesce(n_windows, 0) > 0
             |       THEN n_repeated::DOUBLE / n_windows::DOUBLE
             |       ELSE 0.0::DOUBLE END AS repeat_frac
             |FROM d LEFT JOIN p USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // ─── Luhn mod-10 audit (PII: card-shaped vs checksum-valid) ─────────
    // Candidates derive deterministically from doc_id so the gate
    // exercises both outcomes of the checksum on table data.
    "q142_luhn_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            lpad(($"doc_id" * 48271L % 10000000000L).cast("string"), 16, "0")
              .as("cand"))
          .withColumn("luhn_valid", TextStats.luhnValid($"cand", 16))
          .orderBy($"doc_id")
      },
      Some("""WITH cand AS (SELECT doc_id,
             |    lpad(CAST(doc_id * 48271 % 10000000000 AS VARCHAR), 16, '0') AS cand
             |  FROM documents)
             |SELECT doc_id, cand,
             |  list_sum(list_transform(range(0, 16), i ->
             |    CASE WHEN i % 2 = 0
             |         THEN CASE WHEN CAST(substr(cand, i+1, 1) AS INTEGER) * 2 > 9
             |                   THEN CAST(substr(cand, i+1, 1) AS INTEGER) * 2 - 9
             |                   ELSE CAST(substr(cand, i+1, 1) AS INTEGER) * 2 END
             |         ELSE CAST(substr(cand, i+1, 1) AS INTEGER) END)) % 10 = 0
             |    AS luhn_valid
             |FROM cand ORDER BY doc_id""".stripMargin)),

    // ─── content-defined chunking (rolling-hash boundaries) ─────────────
    // Boundary after token p iff hash(k-gram ending at p) % m == 0 — the
    // rsync/LBFS chunking idea on token streams: edit-local re-alignment
    // that keeps chunk-level dedup effective under insertions, where
    // fixed windows (q73) re-chunk the whole suffix.
    "q143_cdc_chunks" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.contentDefinedChunks(Tables.documents(s, dir),
            "doc_id", "text", k = 3, m = 8)
          .orderBy($"doc_id", $"chunk_idx")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |c AS (SELECT doc_id, tk,
             |        list_filter(range(3, len(tk)), p ->
             |          ('0x'||substr(md5(array_to_string(list_slice(tk, p-2, p), ' ')),1,15))::BIGINT % 8 = 0)
             |          AS cuts
             |      FROM d),
             |sx AS (SELECT doc_id, tk,
             |         list_prepend(1, list_transform(cuts, x -> x + 1)) AS starts,
             |         list_append(cuts, len(tk)) AS ends
             |       FROM c),
             |x AS (SELECT doc_id, tk, starts, ends,
             |        unnest(range(len(starts))) AS ci FROM sx)
             |SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx,
             |  array_to_string(list_slice(tk, starts[ci+1], ends[ci+1]), ' ') AS chunk_text,
             |  (ends[ci+1] - starts[ci+1] + 1)::BIGINT AS n_toks
             |FROM x ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ─── sampled quantile calibration (q119's big-stratum escape hatch) ─
    // Same cross-source score-comparability goal as q119, but against a
    // deterministic md5-sample instead of a full per-stratum rank sort —
    // the path a stratum takes when it outgrows executor sort memory.
    // Score = length(text), chosen BECAUSE it ties heavily: the gate then
    // pins the lexicographic (score, id) tie-break exactly.
    "q144_calibrate_sampled" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.quantileCalibrateSampled(
            Tables.documents(s, dir)
              .select($"doc_id", $"lang", length($"text").as("score")),
            "doc_id", "lang", "score", fraction = 0.3)
          .select($"doc_id", $"lang", $"score".cast("double").as("score"),
            $"calibrated")
          .orderBy($"doc_id")
      },
      Some("""WITH smp AS (SELECT lang,
             |    list_sort(list(struct_pack(s := length(text)::DOUBLE, i := doc_id))) AS sm
             |  FROM documents
             |  WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE
             |        / 1152921504606846976.0 < 0.3
             |  GROUP BY lang)
             |SELECT doc_id, lang, length(text)::DOUBLE AS score,
             |  CASE WHEN sm IS NOT NULL THEN
             |    len(list_filter(sm, e -> e.s < length(text)::DOUBLE
             |      OR (e.s = length(text)::DOUBLE AND e.i < doc_id)))::DOUBLE
             |    / len(sm)::DOUBLE END AS calibrated
             |FROM documents LEFT JOIN smp USING (lang)
             |ORDER BY doc_id""".stripMargin)),

    // ─── BPE ENCODE: apply a fixed merge list (q124's inference half) ───
    // The rules exercise all three replay paths: a plain pair, the a==b
    // run-parity case, and a CHAINED rule whose left side is a previously
    // fused token. Oracle shares the learner oracle's replay CTEs.
    "q145_bpe_encode" -> Q(
      (s, dir) => {
        import s.implicits._
        Bpe.applyMerges(Tables.documents(s, dir), "doc_id", "text",
            Seq(("order", "fast"), ("order", "order"),
              ("order\u0001fast", "order")))
          .select($"doc_id", posexplode($"tokens").as(Seq("pos", "token")))
          .orderBy($"doc_id", $"pos")
      },
      Some(BpeOracle.encodeSql(
        Seq(("order", "fast"), ("order", "order"),
          ("order\u0001fast", "order"))))),

    // ─── weekly cohort retention matrix ─────────────────────────────────
    // Cohort = ISO week of the user's first event; offsets anchored on
    // that first event (epoch-µs integer DIV — engine-exact).
    "q146_retention" -> Q(
      (s, dir) => {
        import s.implicits._
        Cohort.retention(Tables.events(s, dir), "user_id", "ts")
          .orderBy($"cohort", $"week_offset")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
             |f AS (SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS first_ts FROM e),
             |a AS (SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort,
             |        ((epoch_us(ts) - epoch_us(first_ts)) // 604800000000) AS week_offset,
             |        user_id
             |      FROM f),
             |c AS (SELECT cohort, week_offset::BIGINT AS week_offset,
             |        count(DISTINCT user_id)::BIGINT AS active FROM a GROUP BY 1, 2),
             |b AS (SELECT cohort, active AS cohort_size FROM c WHERE week_offset = 0)
             |SELECT c.cohort, c.week_offset, c.active, b.cohort_size,
             |  c.active::DOUBLE / b.cohort_size::DOUBLE AS retention
             |FROM c JOIN b USING (cohort) ORDER BY cohort, week_offset""".stripMargin)),

    // ─── first-order Markov transition matrix over event sequences ──────
    "q147_transitions" -> Q(
      (s, dir) => {
        import s.implicits._
        Cohort.transitions(Tables.events(s, dir), "user_id", "ts",
            "event_type", "event_id")
          .orderBy($"src", $"dst")
      },
      Some("""WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type FROM events),
             |p0 AS (SELECT event_type AS src,
             |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
             |       FROM t),
             |c AS (SELECT src, dst, count(*)::BIGINT AS n FROM p0 WHERE dst IS NOT NULL GROUP BY 1, 2),
             |s AS (SELECT src, sum(n)::BIGINT AS tot FROM c GROUP BY 1)
             |SELECT c.src, c.dst, c.n, c.n::DOUBLE / s.tot::DOUBLE AS p
             |FROM c JOIN s USING (src) ORDER BY src, dst""".stripMargin)),

    // ─── SimHash Hamming near-dup pairs (Manku bit-block blocking) ──────
    // The oracle is the BRUTE-FORCE truth (all pairs, xor popcount), so a
    // green row proves the pigeonhole blocking loses no pairs.
    "q148_simhash_pairs" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.simhashDupPairs(Tables.documents(s, dir), "doc_id", "text",
            bits = 48, maxHamming = 3)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH $simhashCtes,
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |        bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
              |      FROM sg a JOIN sg b ON a.doc_id < b.doc_id)
              |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
              |ORDER BY id_a, id_b""".stripMargin)),

    // ─── ROLLUP report (multi-level OLAP subtotals in one pass) ─────────
    "q149_rollup" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir)
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(grouping_id().as("gid"),
            count(lit(1)).as("n"),
            sum($"l_quantity").as("sum_qty"), // integral doubles: exact
            EtlQueries.exactSumD($"l_extendedprice").as("sum_price"))
          .orderBy($"gid", $"l_returnflag", $"l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
             |  count(*)::BIGINT AS n,
             |  sum(l_quantity) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
             |FROM lineitem
             |GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // ─── vocabulary coverage / OOV rate against a learned top-K vocab ───
    "q150_oov_rate" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.oovRate(Tables.documents(s, dir), "doc_id", "text",
            vocabSize = 100)
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t != '')) AS token
             |              FROM documents),
             |cnt AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
             |voc AS (SELECT token FROM cnt ORDER BY n DESC, token LIMIT 100),
             |d AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
             |        count(*) FILTER (WHERE v.token IS NULL)::BIGINT AS n_oov
             |      FROM toks LEFT JOIN voc v USING (token) GROUP BY 1)
             |SELECT doc_id, n_tokens, n_oov,
             |  n_oov::DOUBLE / n_tokens::DOUBLE AS oov_rate
             |FROM d ORDER BY doc_id""".stripMargin)),

    // ─── per-document character-entropy quality score ───────────────────
    // Contributions rounded to 9 decimals then folded in character-sorted
    // order (the q127/q137 determinism discipline for log()).
    "q151_char_entropy" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.charEntropy(Tables.documents(s, dir), "doc_id", "text")
          .orderBy($"doc_id")
      },
      Some("""WITH ch AS (SELECT doc_id, unnest(list_transform(range(1, length(text) + 1), i -> text[i])) AS c
             |            FROM documents WHERE length(text) > 0),
             |cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
             |t AS (SELECT doc_id, sum(n) AS total, count(*)::BIGINT AS distinct_chars FROM cc GROUP BY 1),
             |x AS (SELECT cc.doc_id, cc.c,
             |        round(-(cc.n::DOUBLE / t.total::DOUBLE) * log2(cc.n::DOUBLE / t.total::DOUBLE), 9) AS contrib,
             |        t.total, t.distinct_chars
             |      FROM cc JOIN t USING (doc_id))
             |SELECT doc_id, max(total)::BIGINT AS n_chars, max(distinct_chars) AS distinct_chars,
             |  list_reduce(list_prepend(0.0::DOUBLE,
             |    list_transform(list_sort(list(struct_pack(c := c, contrib := contrib))), s2 -> s2.contrib)),
             |    (a, b) -> a + b) AS entropy
             |FROM x GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── BPE round-trip losslessness (decode ∘ encode == normalize) ─────
    // n_tokens pins that the encode actually ran (the oracle replays it
    // via the shared encodeSql CTEs); decoded is compared against
    // lower(text) ITSELF, so a hash match proves the round trip loses
    // nothing on the full corpus — the tokenizer-training contract.
    // Rules cover a plain pair, the a==b run-parity case, and a chained
    // fused-left-side rule (the q145 set).
    "q152_bpe_roundtrip" -> Q(
      (s, dir) => {
        import s.implicits._
        Bpe.applyMerges(Tables.documents(s, dir), "doc_id", "text",
            Seq(("order", "fast"), ("order", "order"),
              ("order\u0001fast", "order")))
          .select($"doc_id", size($"tokens").as("n_tokens"),
            Bpe.decode($"tokens").as("decoded"))
          .orderBy($"doc_id")
      },
      Some(BpeOracle.roundtripSql(
        Seq(("order", "fast"), ("order", "order"),
          ("order\u0001fast", "order"))))),

    // ─── DSIR importance weights (Xie et al. 2023) ──────────────────────
    // Hashed-bigram log-likelihood ratio of target (lang='en') vs raw
    // corpus, 64 buckets, add-one smoothing. Per-doc weights are INTEGER
    // sums of per-bucket nano-nat log-ratios (9-decimal ln discipline) —
    // order-independent, so the hash gate is exact.
    "q153_dsir_weights" -> Q(
      (s, dir) => {
        import s.implicits._
        Dsir.importanceWeights(Tables.documents(s, dir), "doc_id", "text",
            $"lang" === "en", buckets = 64)
          .orderBy($"doc_id")
      },
      Some(s"""WITH $dsirCtes
              |SELECT doc_id, n_bigrams, weight FROM dweights
              |ORDER BY doc_id""".stripMargin)),

    // ─── DSIR Gumbel-top-k resample (log-space, no exp overflow) ────────
    // key = weight + Gumbel(0,1) from a strictly-interior md5 uniform;
    // top-100 == sampling 100 docs without replacement with probability
    // ∝ exp(weight). Shares the weight CTEs with q153 so the two gates
    // can't drift.
    "q154_dsir_resample" -> Q(
      (s, dir) => {
        import s.implicits._
        val w = Dsir.importanceWeights(Tables.documents(s, dir), "doc_id",
          "text", $"lang" === "en", buckets = 64)
        Dsir.resampleTopK(w, "doc_id", $"weight", k = 100)
          .select($"doc_id", $"weight", $"g_key")
      },
      Some(s"""WITH $dsirCtes,
              |dg AS (SELECT doc_id, weight,
              |         weight + round(-ln(-ln(
              |           ((('0x'||substr(md5(doc_id::VARCHAR),1,15))::BIGINT)::DOUBLE + 0.5::DOUBLE)
              |             / 1152921504606846976::DOUBLE)), 9) AS g_key
              |       FROM dweights)
              |SELECT doc_id, weight, g_key FROM dg
              |ORDER BY g_key DESC, doc_id ASC LIMIT 100""".stripMargin)),

    // ─── PQ codebook Lloyd refinement (the training half of q112) ───────
    // Proves the q112 scaladoc claim that a Lloyd-refined codebook slots
    // into pqEncode unchanged: 2 per-subspace k-means iterations from the
    // same deterministic init, then encode with the refined codebook.
    // The oracle replays every iteration (assignment argmin + fixed-point
    // means + Float cast + empty-cell carryover) as generated CTEs.
    "q155_pq_lloyd" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val cb = Similarity.pqLloydCodebook(emb, "vec_id", "embedding",
          k = 16, subspaces = 8, iters = 2)
        Similarity.pqEncode(emb, "vec_id", "embedding", cb, subspaces = 8)
          .select($"vec_id", $"recon_err", posexplode($"codes").as(Seq("s", "cid")))
          .select($"vec_id", $"s", $"cid", $"recon_err")
          .orderBy($"vec_id", $"s")
      },
      Some(PqLloydOracle.sql(k = 16, subspaces = 8, dim = 64, iters = 2))),

    // ─── on-engine quality-classifier training (fastText/CCNet-style) ───
    // Full-batch logistic regression on the q153 hashed-bigram feature
    // space, label = lang='en'; 3 GD iterations replayed by the oracle
    // (ordered margin folds, integer nano-unit gradients, identical IEEE
    // weight updates). Output: 64 feature weights + the bias. The
    // calibration/causal family (q157 q216 q236 q356 q370 q382 q389 q391
    // q448 q460 q462 q463) replays the same deterministic fit — 3
    // iterations × (map pass + ≤65-row collect), a pure function of (data,
    // label, buckets, iters, rate) — before its own scoring pass. Each
    // query runs its own fit: none reuses another query's or run's result.
    "q156_logreg_fit" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.logregFit(Tables.documents(s, dir), "doc_id", "text",
          $"lang" === "en").toDF("b", "w").orderBy($"b")
      },
      Some(LogregOracle.fitSql("lang = 'en'", buckets = 64, iters = 3,
        rate = "0.02::DOUBLE"))),

    // ─── classifier scoring pass (the filter a corpus pipeline applies) ─
    // Same replayed fit (shared CTEs), then per-doc margin (engine-exact
    // ordered fold), 9-decimal sigmoid, thresholded prediction.
    "q157_logreg_score" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val w = Classifier.logregFit(docs, "doc_id", "text", $"lang" === "en")
        Classifier.logregScore(docs, "doc_id", "text", $"lang" === "en", w)
          .orderBy($"doc_id")
      },
      Some(LogregOracle.scoreSql("lang = 'en'", buckets = 64, iters = 3,
        rate = "0.02::DOUBLE"))),

    // ─── per-language tokenizer compression (fertility) after BPE ───────
    // The tokenizer-eval stat: post-merge tokens per whitespace word by
    // language — a merge list learned on one language compresses it more
    // than the others. Integer sums + one final division; the oracle
    // replays the encode via the shared BpeOracle CTEs (q145/q152's).
    "q158_bpe_fertility" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val enc = Bpe.applyMerges(docs, "doc_id", "text",
          Seq(("order", "fast"), ("order", "order"),
            ("order\u0001fast", "order")))
        docs.select($"doc_id", $"lang",
            size(split(lower($"text"), " ")).cast("long").as("__w"))
          .join(enc.select($"doc_id", size($"tokens").cast("long").as("__t")),
            Seq("doc_id"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"__w").as("n_words"), sum($"__t").as("n_tokens"),
            (sum($"__t").cast("double") / sum($"__w").cast("double"))
              .as("compression"))
          .orderBy($"lang")
      },
      Some(BpeOracle.fertilitySql(
        Seq(("order", "fast"), ("order", "order"),
          ("order\u0001fast", "order"))))),

    // ─── winnowing fingerprints (Schleimer-Wilkerson-Aiken 2003) ────────
    // Rightmost-min-per-window k-gram fingerprints — the LOCAL
    // fingerprinting scheme: any shared run of >= k+w-1 tokens is
    // guaranteed a shared fingerprint (the winnowing theorem).
    "q159_winnow_fingerprints" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
            k = 4, w = 4)
          .orderBy($"doc_id", $"pos")
      },
      Some(s"""WITH $winnowCtes
              |SELECT doc_id, pos, fp FROM wf ORDER BY doc_id, pos""".stripMargin)),

    // ─── winnowing-overlap pairs (copied-passage detector) ──────────────
    "q160_winnow_pairs" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
            k = 4, w = 4, minShared = 2)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH $winnowCtes,
              |wd AS (SELECT DISTINCT doc_id, fp FROM wf)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
              |FROM wd a JOIN wd b ON a.fp = b.fp AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING count(*) >= 2
              |ORDER BY id_a, id_b""".stripMargin)),

    // ─── stupid-backoff LM scoring over a pruned model (Brants 2007) ────
    // topK=2 continuations per history survive the model; every other
    // bigram instance backs off to backoff·c2/N. Both branches exercised
    // corpus-wide; q84's fixed-point mean discipline.
    "q161_lm_backoff" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.lmScoreBackoff(Tables.documents(s, dir), "doc_id", "text",
            backoff = 0.4, topK = 2)
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
             |uni AS (SELECT unnest(tk) AS w FROM toks),
             |uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
             |nt AS (SELECT count(*)::BIGINT AS n FROM uni),
             |bgx AS (SELECT doc_id, tk, CAST(unnest(range(len(tk) - 1)) AS INTEGER) AS pos
             |        FROM toks WHERE len(tk) >= 2),
             |bg AS (SELECT doc_id, pos, tk[pos+1] AS w1, tk[pos+2] AS w2,
             |         tk[pos+1] || ' ' || tk[pos+2] AS pair
             |       FROM bgx),
             |bc AS (SELECT w1, pair, count(*) AS c12 FROM bg GROUP BY w1, pair),
             |bcp AS (SELECT pair, c12 FROM (
             |          SELECT *, row_number() OVER (PARTITION BY w1
             |            ORDER BY c12 DESC, pair ASC) AS rk FROM bc) WHERE rk <= 2),
             |sc AS (SELECT doc_id,
             |         CAST(round(CASE WHEN bcp.c12 IS NOT NULL
             |                    THEN bcp.c12::DOUBLE / u1.c1::DOUBLE
             |                    ELSE 0.4::DOUBLE * u2.c1::DOUBLE / nt.n::DOUBLE END
             |                    * (1099511627776::DOUBLE)) AS BIGINT) AS sfix
             |       FROM bg LEFT JOIN bcp USING (pair)
             |       JOIN uc u1 ON bg.w1 = u1.w
             |       JOIN uc u2 ON bg.w2 = u2.w
             |       CROSS JOIN nt)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(sfix) AS DOUBLE) / (1099511627776::DOUBLE) / count(*) AS mean_s
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── blocklist screening (C4-style banned-wordlist filter) ──────────
    // First blocklisted term in LIST order via the ETL tier's
    // Aho-Corasick expression; the oracle is a generated CASE chain in
    // the same order so the two definitions can't drift.
    "q162_blocklist" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            TextStats.blocklistHit($"text", blocklistTerms).as("hit"))
          .withColumn("keep", $"hit".isNull)
          .orderBy($"doc_id")
      },
      Some {
        val cases = blocklistTerms
          .map(t => s"WHEN contains(lower(text), '$t') THEN '$t'")
          .mkString("\n             ")
        s"""SELECT doc_id,
           |  CASE $cases ELSE NULL END AS hit,
           |  CASE $cases ELSE NULL END IS NULL AS keep
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // ─── packed-sequence token offsets (the dataloader contract) ────────
    // q79's next-fit bins + each doc's [off_start, off_end) within its
    // training sequence — what cross-document attention masks and
    // position ids are built from. Oracle extends the q79 recursive
    // replay with the same id-ascending running sum.
    "q163_pack_offsets" -> Q(
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir).select($"doc_id", $"lang",
          size(split($"text", " ")).cast("long").as("n_tokens"))
        Packing.packWithOffsets(d, "doc_id", "lang", "n_tokens", capacity = 256L)
          .orderBy($"lang", $"doc_id")
      },
      Some("""WITH RECURSIVE d AS (
             |  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             |  FROM documents),
             |rec AS (
             |  SELECT lang, rn, doc_id, n_tokens, n_tokens AS fill, 1::BIGINT AS bin
             |  FROM d WHERE rn = 1
             |  UNION ALL
             |  SELECT d.lang, d.rn, d.doc_id, d.n_tokens,
             |         CASE WHEN rec.fill + d.n_tokens <= 256 THEN rec.fill + d.n_tokens
             |              ELSE d.n_tokens END,
             |         CASE WHEN rec.fill + d.n_tokens <= 256 THEN rec.bin ELSE rec.bin + 1 END
             |  FROM rec JOIN d ON d.lang = rec.lang AND d.rn = rec.rn + 1)
             |SELECT lang, doc_id, n_tokens, bin,
             |  COALESCE(sum(n_tokens) OVER (PARTITION BY lang, bin ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off_start,
             |  (COALESCE(sum(n_tokens) OVER (PARTITION BY lang, bin ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n_tokens)::BIGINT AS off_end
             |FROM rec ORDER BY lang, doc_id""".stripMargin)),

    // ─── language-ID confidence margin (keep-only-confident filter) ─────
    // q32's integer marker argmax + the runner-up gap a CCNet-class
    // pipeline thresholds on; ties and zero-hit docs pin margin to 0.
    "q164_langid_margin" -> Q(
      (s, dir) => {
        import s.implicits._
        val markers = Map(
          "de" -> Seq("der", "und"), "en" -> Seq("the", "a"),
          "es" -> Seq("el", "y"), "fr" -> Seq("le", "et"))
        Tables.documents(s, dir).select($"doc_id",
            TextStats.langGuessMargin($"text", markers).as("g"))
          .select($"doc_id", $"g.lang_guess".as("lang_guess"),
            $"g.hits".as("hits"), $"g.margin".as("margin"))
          .withColumn("confident", $"margin" >= 2)
          .orderBy($"doc_id")
      },
      Some("""WITH sc AS (SELECT doc_id,
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['der','und'], t))) AS s_de,
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['the','a'], t))) AS s_en,
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['el','y'], t))) AS s_es,
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['le','et'], t))) AS s_fr
             |FROM documents),
             |g AS (SELECT doc_id, s_de, s_en, s_es, s_fr,
             |  greatest(s_de, s_en, s_es, s_fr) AS best,
             |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
             |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
             |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
             |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
             |       ELSE 'fr' END AS lang_guess
             |FROM sc),
             |m AS (SELECT doc_id, lang_guess, best,
             |  CASE lang_guess
             |    WHEN 'de' THEN greatest(s_en, s_es, s_fr)
             |    WHEN 'en' THEN greatest(s_de, s_es, s_fr)
             |    WHEN 'es' THEN greatest(s_de, s_en, s_fr)
             |    WHEN 'fr' THEN greatest(s_de, s_en, s_es)
             |    ELSE best END AS second
             |FROM g)
             |SELECT doc_id, lang_guess, CAST(best AS INTEGER) AS hits,
             |  CAST(CASE WHEN best > 0 THEN best - greatest(second, 0) ELSE 0 END AS INTEGER) AS margin,
             |  CASE WHEN best > 0 THEN best - greatest(second, 0) ELSE 0 END >= 2 AS confident
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ─── exact duplicated-substring extents (Lee et al. 2022, half 1) ───
    // A k-gram duplicated anywhere in the corpus (≥ 2 occurrences, cross-
    // or intra-doc) marks its position; consecutive marked positions
    // merge into maximal spans. The relational re-expression of the
    // suffix-array dup-range scan: one gram-hash-keyed count window +
    // one doc-keyed gaps-and-islands window (no join, one gram pass).
    "q165_dup_spans" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.dupSpans(Tables.documents(s, dir), "doc_id", "text", k = 5, minTokens = 5)
          .orderBy($"doc_id", $"span_start")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents),
              |g AS (SELECT doc_id, CAST(i AS INT) AS pos,
              |        ${sqlGramHash("toks", "i", 5)} AS h
              |      FROM t CROSS JOIN LATERAL unnest(range(greatest(len(toks)-4, 0))) r(i)),
              |d AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
              |o AS (SELECT g.doc_id, g.pos FROM g JOIN d ON g.h = d.h),
              |isl AS (SELECT doc_id, pos,
              |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
              |        FROM o)
              |SELECT doc_id, min(pos)::BIGINT AS span_start,
              |  (max(pos)+5)::BIGINT AS span_end, count(*)::BIGINT AS n_grams
              |FROM isl GROUP BY doc_id, island
              |HAVING max(pos)+5-min(pos) >= 5
              |ORDER BY doc_id, span_start""".stripMargin)),

    // ─── exact-substring dedup, keep-first removal (Lee et al., half 2) ─
    // Canonical occurrence of each duplicated gram = lexicographically
    // smallest (doc_id, pos); every other occurrence's k covered token
    // offsets are removed. Exact copies collapse to the first doc;
    // later copies lose the duplicated region. Gate carries the cleaned
    // text as an md5 so the whole reconstruction is hash-checked.
    "q166_dedup_spans" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.dedupSpans(Tables.documents(s, dir), "doc_id", "text", k = 5)
          .orderBy($"doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(lower(text),' ') AS toks FROM documents),
              |g AS (SELECT doc_id, CAST(i AS INT) AS pos,
              |        ${sqlGramHash("toks", "i", 5)} AS h
              |      FROM t CROSS JOIN LATERAL unnest(range(greatest(len(toks)-4, 0))) r(i)),
              |r AS (SELECT doc_id, pos,
              |        count(*) OVER (PARTITION BY h) AS cnt,
              |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
              |      FROM g),
              |cov AS (SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS tpos
              |        FROM r CROSS JOIN LATERAL unnest(range(5)) u(j)
              |        WHERE cnt >= 2 AND rn > 1),
              |tk AS (SELECT doc_id, CAST(i AS INT) AS tpos, toks[CAST(i AS INT)+1] AS tok
              |       FROM t CROSS JOIN LATERAL unnest(range(len(toks))) v(i)),
              |kept AS (SELECT tk.doc_id, count(*) AS n_kept,
              |           string_agg(tk.tok, ' ' ORDER BY tk.tpos) AS cleaned
              |         FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
              |         WHERE cov.doc_id IS NULL
              |         GROUP BY tk.doc_id)
              |SELECT d.doc_id, len(string_split(lower(d.text),' '))::BIGINT AS n_tokens,
              |  (len(string_split(lower(d.text),' ')) - COALESCE(k.n_kept,0))::BIGINT AS n_removed,
              |  md5(COALESCE(k.cleaned,'')) AS cleaned_hash
              |FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
              |ORDER BY d.doc_id""".stripMargin)),

    // ─── daily gap-fill + forward-fill resample (asfreq('D').ffill) ─────
    // Per-user dense daily spine between first and last event day; days
    // with no events carry the most recent observed daily sum forward.
    // Day is emitted as an ISO string so both engines hash the same
    // value (date dtypes diverge in the pandas comparator).
    "q167_resample_ffill" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.resampleDailyFfill(Tables.events(s, dir), "user_id", "ts", "value")
          .select($"user_id", date_format($"day", "yyyy-MM-dd").as("day"),
            $"v_sum", $"v_filled", $"observed")
          .orderBy($"user_id", $"day")
      },
      Some("""WITH daily AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v_sum
             |  FROM events GROUP BY 1, 2),
             |spine AS (
             |  SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
             |  FROM (SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
             |        FROM events GROUP BY 1)),
             |j AS (SELECT s.user_id, s.day, d.v_sum
             |      FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
             |SELECT user_id, strftime(day, '%Y-%m-%d') AS day, v_sum,
             |  last_value(v_sum IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled,
             |  v_sum IS NOT NULL AS observed
             |FROM j ORDER BY user_id, day""".stripMargin)),

    // ─── bucketed interval-OVERLAP join (== theta output, equi plan) ────
    // Per customer, pairs of their orders whose fulfillment windows
    // [orderdate, orderdate + okey%14 + 1 days] overlap. The reference-
    // bucket trick (emit only from max(start_a, start_b)'s bucket) makes
    // the bucketed equi-join duplicate-free without a distinct.
    "q168_overlap_join" -> Q(
      (s, dir) => {
        import s.implicits._
        val base = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey",
            datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date"))
              .cast("long").as("s"))
          .withColumn("e", $"s" + pmod($"o_orderkey", lit(14L)) + 1L)
        val a = base.select($"o_custkey".as("custkey"), $"o_orderkey".as("okey_a"),
          $"s".as("s_a"), $"e".as("e_a"))
        val b = base.select($"o_custkey".as("custkey"), $"o_orderkey".as("okey_b"),
          $"s".as("s_b"), $"e".as("e_b"))
        IntervalJoin.overlapJoin(a, "s_a", "e_a", b, "s_b", "e_b",
            bucketWidth = 7L, keys = Seq("custkey"))
          .filter($"okey_a" < $"okey_b")
          .select($"custkey", $"okey_a", $"okey_b",
            greatest($"s_a", $"s_b").as("ov_start"),
            least($"e_a", $"e_b").as("ov_end"))
          .orderBy($"custkey", $"okey_a", $"okey_b")
      },
      Some("""WITH iv AS (SELECT o_orderkey, o_custkey,
             |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s,
             |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             |      + o_orderkey % 14 + 1 AS e
             |  FROM orders)
             |SELECT a.o_custkey AS custkey, a.o_orderkey AS okey_a, b.o_orderkey AS okey_b,
             |  greatest(a.s, b.s)::BIGINT AS ov_start, least(a.e, b.e)::BIGINT AS ov_end
             |FROM iv a JOIN iv b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
             |  AND a.s <= b.e AND b.s <= a.e
             |ORDER BY custkey, okey_a, okey_b""".stripMargin)),

    // ─── deterministic shard assignment + release manifest ──────────────
    // Order-independent per-shard content fingerprint (decimal sum of
    // 60-bit doc hashes mod 2^60): two independently produced copies of
    // the shard layout verify shard-by-shard with no sorting.
    "q169_shard_manifest" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.shardManifest(Tables.documents(s, dir), "doc_id", "text", nShards = 8)
          .orderBy($"shard")
      },
      Some(s"""SELECT ${sqlHash(97, "CAST(doc_id AS VARCHAR)")} % 8 AS shard,
              |  count(*) AS n_docs,
              |  sum(len(regexp_split_to_array(text, '\\s+')))::BIGINT AS n_tokens,
              |  (sum(('0x'||substr(md5(text),1,15))::BIGINT) % 1152921504606846976)::BIGINT AS content_fp
              |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── per-doc drop-reason audit (first failing rule + bitmask) ───────
    // The explainability twin of q75's boolean gate: same rules, same
    // thresholds, but the REJECT side becomes accountable per rule.
    "q170_filter_reasons" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir).select($"doc_id",
            TextStats.filterReasons($"text", Seq("the", "a")).as("fr"))
          .select($"doc_id", $"fr.reason".as("reason"), $"fr.fail_mask".as("fail_mask"))
          .orderBy($"doc_id")
      },
      Some("""WITH m AS (SELECT doc_id,
             |  CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS nt,
             |  list_sum(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t)))::DOUBLE
             |    / len(regexp_split_to_array(text, '\s+')) AS mlen,
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['the','a'], t)))::DOUBLE
             |    / len(regexp_split_to_array(lower(text), '\s+')) AS sw,
             |  CASE WHEN len(string_split(lower(text), ' ')) > 0
             |       THEN 1.0::DOUBLE - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
             |            / len(string_split(lower(text), ' '))
             |       ELSE 0.0::DOUBLE END AS wr
             |FROM documents)
             |SELECT doc_id,
             |  CASE WHEN NOT (nt BETWEEN 20 AND 100000) THEN 'n_tokens'
             |       WHEN NOT (mlen BETWEEN 3.0 AND 10.0) THEN 'mean_token_len'
             |       WHEN sw < 0.01 THEN 'stopword_ratio'
             |       WHEN wr > 0.6 THEN 'word_repetition'
             |       ELSE 'pass' END AS reason,
             |  (CASE WHEN NOT (nt BETWEEN 20 AND 100000) THEN 1 ELSE 0 END
             |   + CASE WHEN NOT (mlen BETWEEN 3.0 AND 10.0) THEN 2 ELSE 0 END
             |   + CASE WHEN sw < 0.01 THEN 4 ELSE 0 END
             |   + CASE WHEN wr > 0.6 THEN 8 ELSE 0 END)::INTEGER AS fail_mask
             |FROM m ORDER BY doc_id""".stripMargin)),

    // ─── PII detect + redact (emails / IPv4 / long digit runs) ──────────
    // The testdata is synthetic and PII-free, so the query INJECTS
    // deterministic PII derived from doc_id (the synthCustomsFact
    // pattern) before scanning — the oracle injects identically; the
    // redacted text round-trips as an md5.
    "q171_pii_redact" -> Q(
      (s, dir) => {
        import s.implicits._
        val injected = Tables.documents(s, dir).withColumn("t2", concat($"text",
          when(pmod($"doc_id", lit(5L)) === 0L,
            concat(lit(" contact user"), $"doc_id", lit("@example.com now")))
            .otherwise(lit("")),
          when(pmod($"doc_id", lit(7L)) === 0L,
            concat(lit(" from 10.0."), pmod($"doc_id", lit(256L)), lit(".25")))
            .otherwise(lit("")),
          when(pmod($"doc_id", lit(11L)) === 0L,
            concat(lit(" ref 4415"), lpad(pmod($"doc_id", lit(1000000L)), 6, "0")))
            .otherwise(lit(""))))
        injected.select($"doc_id", TextStats.piiCounts($"t2").as("pc"),
            md5(TextStats.redactPiiTyped($"t2")).as("redacted_hash"))
          .select($"doc_id", $"pc.n_email".as("n_email"), $"pc.n_ip".as("n_ip"),
            $"pc.n_num".as("n_num"), $"redacted_hash")
          .orderBy($"doc_id")
      },
      Some("""WITH inj AS (SELECT doc_id, text
             |    || CASE WHEN doc_id % 5 = 0
             |            THEN ' contact user'||doc_id||'@example.com now' ELSE '' END
             |    || CASE WHEN doc_id % 7 = 0
             |            THEN ' from 10.0.'||(doc_id % 256)||'.25' ELSE '' END
             |    || CASE WHEN doc_id % 11 = 0
             |            THEN ' ref 4415'||lpad((doc_id % 1000000)::VARCHAR, 6, '0') ELSE '' END
             |    AS t2 FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INTEGER AS n_email,
             |  len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::INTEGER AS n_ip,
             |  len(regexp_extract_all(t2, '\b\d{10,15}\b'))::INTEGER AS n_num,
             |  md5(regexp_replace(regexp_replace(regexp_replace(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |    '\b\d{10,15}\b', '<NUM>', 'g')) AS redacted_hash
             |FROM inj ORDER BY doc_id""".stripMargin)),

    // ─── interpolated Kneser-Ney bigram scoring (D = 3/4, topK-pruned) ──
    // The q84 plan family with KN's continuation counts; pruning only
    // hides c12 lookups — N1+/B always come from the full type
    // inventory, so the smoothing distribution is pruning-invariant.
    "q172_lm_kneser_ney" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.lmScoreKneserNey(Tables.documents(s, dir), "doc_id", "text",
            topK = 3)
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
             |bgx AS (SELECT doc_id, tk, CAST(unnest(range(len(tk) - 1)) AS INTEGER) AS pos
             |        FROM toks WHERE len(tk) >= 2),
             |bg AS (SELECT doc_id, pos, tk[pos+1] AS w1, tk[pos+2] AS w2,
             |         tk[pos+1] || ' ' || tk[pos+2] AS pair FROM bgx),
             |bcf AS (SELECT w1, w2, pair, count(*) AS c12 FROM bg GROUP BY w1, w2, pair),
             |cont AS (SELECT w1, count(*) AS n1plus, sum(c12)::BIGINT AS c1 FROM bcf GROUP BY w1),
             |ctx AS (SELECT w2, count(*) AS n2plus FROM bcf GROUP BY w2),
             |bt AS (SELECT count(*) AS bn FROM bcf),
             |bc AS (SELECT pair, c12 FROM
             |         (SELECT pair, c12, row_number() OVER (PARTITION BY w1
             |            ORDER BY c12 DESC, pair ASC) AS rk FROM bcf)
             |       WHERE rk <= 3),
             |sc AS (SELECT bg.doc_id,
             |    CAST(round((greatest(COALESCE(bc.c12, 0)*4 - 3, 0)::DOUBLE / (cont.c1::DOUBLE * 4)
             |      + (cont.n1plus::DOUBLE * 3 * ctx.n2plus::DOUBLE)
             |        / (cont.c1::DOUBLE * 4 * bt.bn::DOUBLE))
             |      * 1099511627776::DOUBLE) AS BIGINT) AS pfix
             |  FROM bg LEFT JOIN bc USING (pair)
             |    JOIN cont ON bg.w1 = cont.w1
             |    JOIN ctx ON bg.w2 = ctx.w2
             |    CROSS JOIN bt)
             |SELECT doc_id, count(*) AS n_bigrams,
             |  CAST(sum(pfix) AS DOUBLE) / 1099511627776::DOUBLE / count(*) AS mean_p
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── per-stratum winsorization (robust feature clipping) ────────────
    // Exact-percentile [p05, p95] bounds rounded to 6 decimals (the one
    // interpolation step engines can disagree on), then clip; gate
    // aggregates per stratum so the check is corpus-wide.
    "q173_winsorize" -> Q(
      (s, dir) => {
        import s.implicits._
        val w = Profile.winsorize(
          Tables.lineitem(s, dir).select($"l_returnflag", $"l_extendedprice"),
          "l_extendedprice", "l_returnflag")
        w.groupBy($"l_returnflag").agg(
            count(lit(1)).as("n"),
            sum($"clipped_lo".cast("long")).as("n_lo"),
            sum($"clipped_hi".cast("long")).as("n_hi"),
            sum($"l_extendedprice_wins".cast("decimal(18,6)")).cast("double")
              .as("sum_wins"))
          .orderBy($"l_returnflag")
      },
      Some("""WITH b AS (SELECT l_returnflag,
             |    round(quantile_cont(l_extendedprice, 0.05), 6) AS lo,
             |    round(quantile_cont(l_extendedprice, 0.95), 6) AS hi
             |  FROM lineitem GROUP BY 1),
             |j AS (SELECT l.l_returnflag, l_extendedprice, lo, hi
             |      FROM lineitem l JOIN b USING (l_returnflag))
             |SELECT l_returnflag, count(*) AS n,
             |  sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END)::BIGINT AS n_lo,
             |  sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END)::BIGINT AS n_hi,
             |  CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi) AS DECIMAL(18,6))) AS DOUBLE) AS sum_wins
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── per-entity OLS trend (closed-form, exact-decimal sums) ─────────
    "q174_trend_ols" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.trendPerKey(Tables.events(s, dir), "user_id", "ts", "value")
          .orderBy($"user_id")
      },
      Some("""WITH e AS (SELECT user_id,
             |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
             |    CAST(value AS DECIMAL(18,6)) AS y
             |  FROM events),
             |a AS (SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |        sum(CAST(x AS DECIMAL(12,0)) * y) AS sxy,
             |        sum(x*x) AS sxx
             |      FROM e GROUP BY 1)
             |SELECT user_id, n,
             |  CASE WHEN n >= 2 AND (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <> 0
             |       THEN round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |                  / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 9) END AS slope,
             |  CASE WHEN n >= 2 AND (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) <> 0
             |       THEN round((sy::DOUBLE
             |                   - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             |                      / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
             |                  / n::DOUBLE, 9) END AS intercept
             |FROM a ORDER BY user_id""".stripMargin)),

    // ─── aspect-ratio bucket batching (multimodal trainer prep) ─────────
    // Stub image dims derive from md5(doc_id) (the q34 discipline);
    // bucket assignment minimizes |w·rh − h·rw| over the 5-entry ladder
    // (integer cross-multiplication, ties → earlier entry).
    "q175_aspect_buckets" -> Q(
      (s, dir) => {
        import s.implicits._
        val imgs = Tables.documents(s, dir).select($"doc_id",
          (lit(16) + pmod(Dedup.seededHash(1, $"doc_id".cast("string")), lit(64L)))
            .cast("int").as("width"),
          (lit(16) + pmod(Dedup.seededHash(2, $"doc_id".cast("string")), lit(64L)))
            .cast("int").as("height"))
        Multimodal.aspectBuckets(imgs, "doc_id", "width", "height",
            ladder = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16)), batchSize = 8)
          .select($"doc_id", $"width", $"height", $"bucket", $"bucket_ratio",
            $"batch_idx")
          .orderBy($"doc_id")
      },
      Some {
        val ladder = Seq((1, 1), (4, 3), (3, 4), (16, 9), (9, 16))
        val ds = ladder.zipWithIndex.map { case ((rw, rh), i) =>
          s"abs(width*$rh - height*$rw) AS d$i"
        }.mkString(", ")
        val pick = (0 until 4).map { i =>
          val conds = ((i + 1) until 5).map(j => s"d$i <= d$j").mkString(" AND ")
          s"WHEN $conds THEN $i"
        }.mkString("\n             |       ")
        val names = ladder.zipWithIndex
          .map { case ((rw, rh), i) => s"WHEN $i THEN '$rw:$rh'" }.mkString(" ")
        s"""WITH img AS (SELECT doc_id,
           |    (16 + ${sqlHash(1, "CAST(doc_id AS VARCHAR)")} % 64)::INTEGER AS width,
           |    (16 + ${sqlHash(2, "CAST(doc_id AS VARCHAR)")} % 64)::INTEGER AS height
           |  FROM documents),
           |d AS (SELECT doc_id, width, height, $ds FROM img),
           |bkt AS (SELECT doc_id, width, height,
           |  (CASE $pick
           |       ELSE 4 END)::INTEGER AS bucket FROM d)
           |SELECT doc_id, width, height, bucket,
           |  CASE bucket $names END AS bucket_ratio,
           |  ((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8)::BIGINT AS batch_idx
           |FROM bkt ORDER BY doc_id""".stripMargin
      }),

    // ─── TRIGRAM stupid backoff (the production Brants et al. shape) ────
    // Both model tables topK-pruned; every denominator full-corpus.
    "q176_lm_trigram_backoff" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.lmScoreBackoffTrigram(Tables.documents(s, dir), "doc_id", "text",
            backoff = 0.4, topK = 2)
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
             |uni AS (SELECT unnest(tk) AS w FROM toks),
             |uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY w),
             |nt AS (SELECT count(*)::BIGINT AS n FROM uni),
             |bgx AS (SELECT doc_id, tk, CAST(unnest(range(len(tk) - 1)) AS INTEGER) AS pos
             |        FROM toks WHERE len(tk) >= 2),
             |bg AS (SELECT doc_id, pos, tk[pos+1] AS w1, tk[pos+1] || ' ' || tk[pos+2] AS pair
             |       FROM bgx),
             |bcf AS (SELECT w1, pair, count(*) AS cb FROM bg GROUP BY w1, pair),
             |bcp AS (SELECT pair AS bi23, cb AS c23 FROM (
             |          SELECT *, row_number() OVER (PARTITION BY w1
             |            ORDER BY cb DESC, pair ASC) AS rk FROM bcf) WHERE rk <= 2),
             |tgx AS (SELECT doc_id, tk, CAST(unnest(range(len(tk) - 2)) AS INTEGER) AS pos
             |        FROM toks WHERE len(tk) >= 3),
             |tg AS (SELECT doc_id, pos,
             |         tk[pos+1] || ' ' || tk[pos+2] AS bi12,
             |         tk[pos+2] || ' ' || tk[pos+3] AS bi23,
             |         tk[pos+1] || ' ' || tk[pos+2] || ' ' || tk[pos+3] AS tri,
             |         tk[pos+2] AS w2, tk[pos+3] AS w3
             |       FROM tgx),
             |tcf AS (SELECT bi12, tri, count(*) AS c123 FROM tg GROUP BY bi12, tri),
             |tcp AS (SELECT tri, c123 FROM (
             |          SELECT *, row_number() OVER (PARTITION BY bi12
             |            ORDER BY c123 DESC, tri ASC) AS rk FROM tcf) WHERE rk <= 2),
             |sc AS (SELECT tg.doc_id,
             |    CAST(round(CASE WHEN tcp.c123 IS NOT NULL
             |               THEN tcp.c123::DOUBLE / h.cb::DOUBLE
             |               ELSE 0.4::DOUBLE * (CASE WHEN bcp.c23 IS NOT NULL
             |                    THEN bcp.c23::DOUBLE / u2.c1::DOUBLE
             |                    ELSE 0.4::DOUBLE * u3.c1::DOUBLE / nt.n::DOUBLE END) END
             |               * 1099511627776::DOUBLE) AS BIGINT) AS sfix
             |  FROM tg LEFT JOIN tcp USING (tri)
             |    JOIN bcf h ON tg.bi12 = h.pair
             |    LEFT JOIN bcp ON tg.bi23 = bcp.bi23
             |    JOIN uc u2 ON tg.w2 = u2.w
             |    JOIN uc u3 ON tg.w3 = u3.w
             |    CROSS JOIN nt)
             |SELECT doc_id, count(*) AS n_trigrams,
             |  CAST(sum(sfix) AS DOUBLE) / 1099511627776::DOUBLE / count(*) AS mean_s
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── scalable containment join (q82's quadratic audit, de-bruted) ───
    // Asymmetric prefix scheme: only the smaller set needs a prefix
    // (required overlap = ⌈τ·min⌉), probed against the larger side's
    // full token index; same output contract as the brute q82 join.
    "q177_containment_join" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.prefixContainmentPairs(Tables.documents(s, dir), "doc_id", "text",
            shingleK = 3, tNum = 1, tDen = 2)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH $sqlShingles,
              |nz AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
              |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
              |        len(list_intersect(a.sh, b2.sh)) / least(len(a.sh), len(b2.sh)) AS containment
              |      FROM nz a JOIN nz b2 ON a.doc_id < b2.doc_id)
              |SELECT id_a, id_b, containment FROM p WHERE containment >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // ─── token-budget curriculum phases (easy→hard by token mass) ───────
    // Integer score (n_chars) on purpose: a float score differing by
    // 1 ulp across engines would reorder the cumulative sum.
    "q178_curriculum_phases" -> Q(
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars",
          TextStats.wsTokenCount($"text").cast("long").as("n_tokens"))
        Mixing.curriculumPhases(d, "doc_id", "lang", "n_chars", "n_tokens",
            phases = 4)
          .select($"doc_id", $"lang", $"n_chars", $"n_tokens", $"phase")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, lang, n_chars,
             |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (SELECT doc_id, lang, n_chars, n_tokens,
             |    COALESCE(sum(n_tokens) OVER (PARTITION BY lang
             |      ORDER BY n_chars DESC, doc_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cumb,
             |    sum(n_tokens) OVER (PARTITION BY lang)::BIGINT AS tot
             |  FROM d)
             |SELECT doc_id, lang, n_chars, n_tokens,
             |  least(3, (cumb * 4) // tot)::INTEGER AS phase
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ─── binary (sign) quantization: packed 32-bit words, exploded ──────
    "q179_sign_pack" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.embeddings(s, dir).select($"vec_id",
            posexplode(Similarity.signPack32($"embedding", 64))
              .as(Seq("word_idx", "bits")))
          .orderBy($"vec_id", $"word_idx")
      },
      Some("""SELECT vec_id, CAST(w AS INTEGER) AS word_idx,
             |  list_sum(list_transform(range(32), j ->
             |    CASE WHEN embedding[CAST(w AS INTEGER)*32 + CAST(j AS INTEGER) + 1] > 0
             |         THEN (1::BIGINT << CAST(j AS INTEGER)) ELSE 0 END))::BIGINT AS bits
             |FROM embeddings CROSS JOIN LATERAL unnest(range(2)) r(w)
             |ORDER BY vec_id, word_idx""".stripMargin)),

    // ─── Hamming top-k retrieval over the packed signs ──────────────────
    // The query vector's packed words fold in as literals (model-sized
    // driver collect, the IVF-centroid discipline).
    "q180_hamming_topk" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val q0 = emb.filter($"vec_id" === 0L).select($"embedding")
          .head().getSeq[Float](0)
        val words = (0 until 2).map { w =>
          (0 until 32).map(j => if (q0(32 * w + j) > 0) 1L << j else 0L).sum
        }
        Similarity.hammingTopK(emb, "vec_id", "embedding", words, dim = 64, k = 20)
      },
      Some("""WITH p AS (SELECT vec_id, CAST(w AS INTEGER) AS word_idx,
             |    list_sum(list_transform(range(32), j ->
             |      CASE WHEN embedding[CAST(w AS INTEGER)*32 + CAST(j AS INTEGER) + 1] > 0
             |           THEN (1::BIGINT << CAST(j AS INTEGER)) ELSE 0 END))::BIGINT AS bits
             |  FROM embeddings CROSS JOIN LATERAL unnest(range(2)) r(w)),
             |q AS (SELECT word_idx, bits AS qbits FROM p WHERE vec_id = 0),
             |d AS (SELECT p.vec_id, sum(bit_count(xor(p.bits, q.qbits)))::INTEGER AS hamming
             |      FROM p JOIN q USING (word_idx) GROUP BY p.vec_id)
             |SELECT vec_id, hamming FROM d ORDER BY hamming, vec_id LIMIT 20""".stripMargin)),

    // ─── rolling HyperLogLog cardinality (7-day active users) ───────────
    // Custom engine-exact HLL registers (integer rho via binary-string
    // length, exact decimal harmonic sum); rolling union = register-wise
    // max over a RANGE window on the epoch day.
    "q185_rolling_hll" -> Q(
      (s, dir) => {
        import s.implicits._
        Sketches.rollingHll(Tables.events(s, dir), "ts", "user_id",
            windowDays = 7)
          .orderBy($"day")
      },
      Some {
        val numer = Sketches.rollingHllNumerator(64, 0.709)
        s"""WITH e AS (SELECT CAST(ts AS DATE) AS day,
           |    ${sqlHash(7, "CAST(user_id AS VARCHAR)")} AS h
           |  FROM events),
           |r AS (SELECT day, (h % 64)::INTEGER AS reg, (h // 64) AS p FROM e),
           |rr AS (SELECT day, reg,
           |         CASE WHEN p = 0 THEN 55 ELSE 55 - length(bin(p)) END AS rho
           |       FROM r),
           |daily AS (SELECT day, reg, max(rho) AS m FROM rr GROUP BY 1, 2),
           |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
           |dense AS (SELECT days.day, CAST(g.r AS INTEGER) AS reg, COALESCE(daily.m, 0) AS m
           |          FROM days CROSS JOIN range(64) g(r)
           |          LEFT JOIN daily ON days.day = daily.day AND g.r = daily.reg),
           |rolled AS (SELECT day, reg,
           |             max(m) OVER (PARTITION BY reg
           |               ORDER BY date_diff('day', DATE '1970-01-01', day)
           |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mw
           |           FROM dense),
           |agg AS (SELECT day,
           |    sum(CASE WHEN mw = 0 THEN 1 ELSE 0 END)::BIGINT AS zero_regs,
           |    sum((1::BIGINT << (60 - mw))::HUGEINT) AS s
           |  FROM rolled GROUP BY day)
           |SELECT strftime(day, '%Y-%m-%d') AS day, zero_regs,
           |  round($numer / s::DOUBLE, 6) AS est
           |FROM agg ORDER BY day""".stripMargin
      }),

    // ─── near-dup threshold calibration curve ───────────────────────────
    // One LSH candidate pass (the gated q25 pairs at the 0.5 floor),
    // then pair/doc counts per calibration threshold — the table a
    // dedup-threshold decision is actually made from. Thresholds below
    // the candidate floor are out of the contract by construction.
    "q186_dedup_calibration" -> Q(
      (s, dir) => {
        import s.implicits._
        val ths = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
        val pairs = Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text")
          .select($"id_a", $"id_b", $"jaccard")
          .localCheckpoint(false)
        val byTh = pairs.select(explode(typedlit(ths)).as("threshold"),
            $"id_a", $"id_b", $"jaccard")
          .filter($"jaccard" >= $"threshold")
        val nPairs = byTh.groupBy($"threshold").agg(count(lit(1)).as("n_pairs"))
        val nDocs = byTh
          .select($"threshold", explode(array($"id_a", $"id_b")).as("id"))
          .groupBy($"threshold").agg(countDistinct($"id").as("n_docs"))
        nPairs.join(nDocs, Seq("threshold"), "left")
          .withColumn("n_docs", coalesce($"n_docs", lit(0L)))
          .orderBy($"threshold")
      },
      Some(s"""WITH $minhashCtes,
              |th(threshold) AS (VALUES (0.5), (0.6), (0.7), (0.8), (0.9)),
              |p2 AS (SELECT th.threshold, p.id_a, p.id_b
              |       FROM pairs p JOIN th ON p.jaccard >= th.threshold
              |       WHERE p.jaccard >= 0.5),
              |np AS (SELECT threshold, count(*) AS n_pairs FROM p2 GROUP BY 1),
              |ndoc AS (SELECT threshold, count(DISTINCT id) AS n_docs FROM
              |           (SELECT threshold, id_a AS id FROM p2
              |            UNION ALL SELECT threshold, id_b FROM p2)
              |         GROUP BY 1)
              |SELECT np.threshold, np.n_pairs, COALESCE(ndoc.n_docs, 0) AS n_docs
              |FROM np LEFT JOIN ndoc ON np.threshold = ndoc.threshold
              |ORDER BY np.threshold""".stripMargin)),

    // ─── mixed-language (code-switching) detector ───────────────────────
    "q187_lang_consistency" -> Q(
      (s, dir) => {
        import s.implicits._
        val markers = Map(
          "de" -> Seq("der", "und"), "en" -> Seq("the", "a"),
          "es" -> Seq("el", "y"), "fr" -> Seq("le", "et"))
        Tables.documents(s, dir).select($"doc_id",
            TextStats.langConsistency($"text", markers).as("lc"))
          .select($"doc_id", $"lc.lang_head".as("lang_head"),
            $"lc.lang_tail".as("lang_tail"), $"lc.mixed".as("mixed"))
          .orderBy($"doc_id")
      },
      Some {
        def guess(sliceExpr: String) = {
          val langs = Seq("de" -> "['der','und']", "en" -> "['the','a']",
            "es" -> "['el','y']", "fr" -> "['le','et']")
          val scores = langs.map { case (l, m) =>
            s"len(list_filter($sliceExpr, t -> list_contains($m, t)))"
          }
          val g = scores.mkString("greatest(", ", ", ")")
          val arms = langs.zip(scores).map { case ((l, _), sc) =>
            s"WHEN $sc = $g THEN '$l'"
          }.mkString(" ")
          s"CASE WHEN $g = 0 THEN 'und' $arms END"
        }
        s"""WITH tkx AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk
           |  FROM documents),
           |h AS (SELECT doc_id,
           |    ${guess("list_slice(tk, 1, len(tk)//2)")} AS lang_head,
           |    ${guess("list_slice(tk, len(tk)//2 + 1, len(tk))")} AS lang_tail
           |  FROM tkx)
           |SELECT doc_id, lang_head, lang_tail,
           |  lang_head <> lang_tail AND lang_head <> 'und' AND lang_tail <> 'und' AS mixed
           |FROM h ORDER BY doc_id""".stripMargin
      }),

    // ─── unpivot / melt via stack (wide metrics → long rows) ────────────
    "q188_unpivot" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.lineitem(s, dir).groupBy($"l_returnflag")
          .agg(sum($"l_quantity".cast("decimal(18,6)")).cast("double").as("sum_qty"),
            sum($"l_extendedprice".cast("decimal(18,6)")).cast("double").as("sum_price"))
          .select($"l_returnflag",
            expr("stack(2, 'sum_qty', sum_qty, 'sum_price', sum_price) AS (metric, value)"))
          .orderBy($"l_returnflag", $"metric")
      },
      Some("""WITH a AS (SELECT l_returnflag,
             |    CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
             |UNION ALL
             |SELECT l_returnflag, 'sum_price', sum_price FROM a
             |ORDER BY l_returnflag, metric""".stripMargin)),

    // ─── daily percentile bands (ops-monitoring P50/P95) ────────────────
    "q189_percentile_bands" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.events(s, dir)
          .groupBy(date_format(to_date($"ts"), "yyyy-MM-dd").as("day"))
          .agg(count(lit(1)).as("n"),
            round(percentile($"value", lit(0.5)), 6).as("p50"),
            round(percentile($"value", lit(0.95)), 6).as("p95"))
          .orderBy($"day")
      },
      Some("""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             |  count(*) AS n,
             |  round(quantile_cont(value, 0.5), 6) AS p50,
             |  round(quantile_cont(value, 0.95), 6) AS p95
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── vocabulary growth curve (Heaps-law audit per language) ─────────
    "q183_vocab_growth" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.vocabGrowth(Tables.documents(s, dir), "doc_id", "text", "lang")
          .orderBy($"lang", $"doc_id")
      },
      Some("""WITH t AS (SELECT lang, doc_id,
             |    unnest(list_distinct(string_split(lower(text), ' '))) AS w
             |  FROM documents),
             |f AS (SELECT lang, w, min(doc_id) AS d0 FROM t GROUP BY 1, 2),
             |nd AS (SELECT lang, d0 AS doc_id, count(*) AS n_new FROM f GROUP BY 1, 2),
             |j AS (SELECT d.lang, d.doc_id, COALESCE(nd.n_new, 0)::BIGINT AS n_new
             |      FROM documents d LEFT JOIN nd ON d.lang = nd.lang AND d.doc_id = nd.doc_id)
             |SELECT lang, doc_id, n_new,
             |  sum(n_new) OVER (PARTITION BY lang ORDER BY doc_id)::BIGINT AS vocab_so_far
             |FROM j ORDER BY lang, doc_id""".stripMargin)),

    // ─── nucleus (top-p) vocabulary cutoff — all-integer coverage test ──
    "q184_nucleus_vocab" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.nucleusVocab(Tables.documents(s, dir), "text",
            covNum = 95, covDen = 100)
          .orderBy($"rank")
      },
      Some("""WITH c AS (SELECT w, count(*) AS cnt FROM
             |            (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
             |          GROUP BY w),
             |r AS (SELECT w, cnt,
             |        row_number() OVER (ORDER BY cnt DESC, w ASC) AS rank,
             |        COALESCE(sum(cnt) OVER (ORDER BY cnt DESC, w ASC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb,
             |        sum(cnt) OVER () AS tot
             |      FROM c)
             |SELECT rank::BIGINT AS rank, w AS token, cnt,
             |  cumb * 100 < tot * 95 AS keep
             |FROM r ORDER BY rank""".stripMargin)),

    // ─── IVF-PQ: probe nprobe cells, rank by ADC over the codes ─────────
    // The FAISS IVFPQ composition from the gated q39/q71 cell machinery
    // and the gated q114 ADC arithmetic; vectors are never read at
    // search time.
    "q182_ivf_pq" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter($"vec_id" < 16)
          .select($"vec_id", $"embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .sortBy(_._1).toSeq
        val cb = emb.orderBy($"vec_id").limit(16)
          .select($"embedding").collect()
          .zipWithIndex.map { case (r, i) => i -> r.getSeq[Float](0).toArray }.toSeq
        val qvec = emb.filter($"vec_id" === 0)
          .select($"embedding").head().getSeq[Float](0).toArray
        Similarity.ivfPqTopK(emb, "vec_id", "embedding", centroids, cb,
          subspaces = 8, query = qvec, k = 10, nprobe = 2)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
             |  (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)) *
             |   sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)))""".stripMargin
        s"""WITH $pqCtes,
           |c AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 16),
           |scored AS (SELECT e.vec_id, e.embedding, c.ccid, ${cos("e.embedding", "c.cv")} AS csim
           |           FROM embeddings e CROSS JOIN c),
           |assign AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid ASC) AS rn
           |           FROM scored),
           |cells AS (SELECT vec_id, ccid FROM assign WHERE rn = 1),
           |qcells AS (SELECT ccid FROM assign WHERE vec_id = 0 AND rn <= 2),
           |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |qd AS (SELECT t.s, cb.cid,
           |         list_reduce(list_transform(list_zip(
           |             list_slice(q.qvec, t.s*8 + 1, t.s*8 + 8),
           |             list_slice(cb.cvec, t.s*8 + 1, t.s*8 + 8)),
           |           x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE)),
           |           (a,b) -> a+b) AS qd2
           |       FROM q CROSS JOIN range(8) t(s) CROSS JOIN cb),
           |sc AS (SELECT b.vec_id, list_reduce(list(qd.qd2 ORDER BY b.s), (a,b2) -> a+b2) AS adc
           |       FROM best b
           |         JOIN cells ON b.vec_id = cells.vec_id
           |         JOIN qcells ON cells.ccid = qcells.ccid
           |         JOIN qd ON b.s = qd.s AND b.cid = qd.cid
           |       GROUP BY b.vec_id)
           |SELECT vec_id, adc FROM sc ORDER BY adc ASC, vec_id LIMIT 10""".stripMargin
      }),

    // ─── corpus pipeline V2: blocklist → quality → exact dedup → exact
    // substring dedup → pack with offsets — the round-7-continuation
    // stages composed end to end, every piece its own gated operator
    // (q162/q75/q24/q166/q163); the oracle assembles from the same CTE
    // fragments so a stage fix cannot desynchronize the composition.
    "q181_corpus_pipeline_v2" -> Q(
      (s, dir) => {
        import s.implicits._
        // milder list than q162's: 'scan'/'merge' hit most synthetic
        // docs and would starve stages 2-5 of coverage
        CorpusPipeline.runV2(Tables.documents(s, dir),
            blocklist = Seq("order fast", "slow slow"), spanK = 5, capacity = 256L)
          .orderBy($"lang", $"doc_id")
      },
      Some {
        val screen = Seq("order fast", "slow slow")
          .map(t => s"contains(lower(text), '$t')").mkString(" OR ")
        s"""WITH RECURSIVE scr AS (SELECT doc_id, lang, text FROM documents
           |  WHERE NOT ($screen)),
           |m AS (SELECT doc_id, lang, text,
           |  CAST(len(regexp_split_to_array(text, '\\s+')) AS INTEGER) AS n_tokens,
           |  list_sum(list_transform(regexp_split_to_array(text, '\\s+'), t -> length(t)))::DOUBLE
           |    / len(regexp_split_to_array(text, '\\s+')) AS mean_token_len,
           |  len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> list_contains(['the','a'], t)))::DOUBLE
           |    / len(regexp_split_to_array(lower(text), '\\s+')) AS stopword_ratio,
           |  CASE WHEN len(string_split(lower(text), ' ')) > 0
           |       THEN 1.0::DOUBLE - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
           |            / len(string_split(lower(text), ' '))
           |       ELSE 0.0::DOUBLE END AS word_rep
           |FROM scr),
           |qd AS (SELECT doc_id, lang, text FROM m
           |       WHERE (n_tokens BETWEEN 20 AND 100000) AND (mean_token_len BETWEEN 3.0 AND 10.0)
           |         AND stopword_ratio >= 0.01 AND word_rep <= 0.6),
           |hx AS (SELECT doc_id, lang, text,
           |         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h FROM qd),
           |exd AS (SELECT doc_id, lang, text FROM
           |          (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS xrn FROM hx)
           |        WHERE xrn = 1),
           |t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM exd),
           |g AS (SELECT doc_id, CAST(i AS INT) AS pos,
           |        ${sqlGramHash("toks", "i", 5)} AS h
           |      FROM t CROSS JOIN LATERAL unnest(range(greatest(len(toks)-4, 0))) r(i)),
           |rr AS (SELECT doc_id, pos,
           |        count(*) OVER (PARTITION BY h) AS cnt,
           |        row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
           |      FROM g),
           |cov AS (SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS tpos
           |        FROM rr CROSS JOIN LATERAL unnest(range(5)) u(j)
           |        WHERE cnt >= 2 AND rn > 1),
           |tk AS (SELECT doc_id, CAST(i AS INT) AS tpos, toks[CAST(i AS INT)+1] AS tok
           |       FROM t CROSS JOIN LATERAL unnest(range(len(toks))) v(i)),
           |kept AS (SELECT tk.doc_id, count(*)::BIGINT AS n_clean,
           |           md5(string_agg(tk.tok, ' ' ORDER BY tk.tpos)) AS cleaned_hash
           |         FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.tpos = cov.tpos
           |         WHERE cov.doc_id IS NULL
           |         GROUP BY tk.doc_id),
           |dn AS (SELECT e.lang, e.doc_id, k.n_clean, k.cleaned_hash,
           |         row_number() OVER (PARTITION BY e.lang ORDER BY e.doc_id) AS rn
           |       FROM exd e JOIN kept k ON e.doc_id = k.doc_id),
           |rec AS (
           |  SELECT lang, rn, doc_id, n_clean, cleaned_hash, n_clean AS fill, 1::BIGINT AS bin
           |  FROM dn WHERE rn = 1
           |  UNION ALL
           |  SELECT d.lang, d.rn, d.doc_id, d.n_clean, d.cleaned_hash,
           |         CASE WHEN rec.fill + d.n_clean <= 256 THEN rec.fill + d.n_clean
           |              ELSE d.n_clean END,
           |         CASE WHEN rec.fill + d.n_clean <= 256 THEN rec.bin ELSE rec.bin + 1 END
           |  FROM rec JOIN dn d ON d.lang = rec.lang AND d.rn = rec.rn + 1)
           |SELECT lang, doc_id, n_clean, bin,
           |  COALESCE(sum(n_clean) OVER (PARTITION BY lang, bin ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off_start,
           |  (COALESCE(sum(n_clean) OVER (PARTITION BY lang, bin ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n_clean)::BIGINT AS off_end,
           |  cleaned_hash
           |FROM rec ORDER BY lang, doc_id""".stripMargin
      }),

    // ─── edit-distance≤1 join via deletion-neighborhood blocking ────────
    // FastSS/symmetric-delete: L+1 md5 keys per distinct string, ONE
    // equi-join, exact levenshtein verify — no cross join (the oracle
    // brute-forces with a length filter; the Spark plan must not).
    "q190_edit_join" -> Q(
      (s, dir) => {
        import s.implicits._
        StringSim.editPairsD1(Tables.supplier(s, dir), "s_name")
          .orderBy($"name_a", $"name_b")
      },
      Some("""WITH n AS (SELECT DISTINCT s_name AS name FROM supplier WHERE s_name IS NOT NULL)
             |SELECT a.name AS name_a, b.name AS name_b,
             |  CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist
             |FROM n a JOIN n b ON a.name < b.name
             |  AND abs(length(a.name) - length(b.name)) <= 1
             |WHERE levenshtein(a.name, b.name) <= 1
             |ORDER BY name_a, name_b""".stripMargin)),

    // ─── TF-IDF sparse cosine pairs (df-capped vocabulary) ──────────────
    // One token-keyed postings join; maxDf is the stopword guard that
    // bounds the worst bucket at maxDf². Fixed-point weights make the
    // dot product an exact DECIMAL sum — engine- and order-stable.
    "q191_sparse_cosine" -> Q(
      (s, dir) => {
        import s.implicits._
        StringSim.tfidfCosinePairs(Tables.documents(s, dir), "doc_id", "text",
          maxDf = 300L, minCos = 0.3, topN = 25)
      },
      Some("""WITH tf AS (SELECT id, w, count(*) AS tf FROM
             |        (SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
             |      WHERE w <> '' GROUP BY 1, 2),
             |dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) <= 300),
             |nn AS (SELECT count(*) AS n FROM documents),
             |post AS (SELECT tf.w, tf.id,
             |           CAST(round(tf.tf * ln(CAST(nn.n AS DOUBLE) / dfq.df), 9) AS DECIMAL(14,9)) AS wt
             |         FROM tf JOIN dfq USING (w) CROSS JOIN nn),
             |nrm AS (SELECT id, sqrt(CAST(sum(wt*wt) AS DOUBLE)) AS nrm FROM post GROUP BY 1),
             |dots AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.wt*b.wt) AS dot
             |         FROM post a JOIN post b ON a.w = b.w AND a.id < b.id GROUP BY 1, 2),
             |sc AS (SELECT id_a, id_b,
             |         round(CAST(dot AS DOUBLE) / (na.nrm * nb.nrm), 6) AS cos
             |       FROM dots JOIN nrm na ON dots.id_a = na.id JOIN nrm nb ON dots.id_b = nb.id)
             |SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.3
             |ORDER BY cos DESC, id_a, id_b LIMIT 25""".stripMargin)),

    // ─── per-entity exponential smoothing (FIR form) ────────────────────
    // The truncated-EWMA contract: `taps` lag() columns over one
    // entity-keyed sort window, literal coefficients, no serial scan.
    // Oracle coefficients are the Scala doubles' shortest round-trip
    // rendering, so both engines fold bit-identical weights in the same
    // ascending-k order.
    "q192_ewma" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.ewmaFir(Tables.events(s, dir), "user_id", "ts", "event_id",
            "value", alpha = 0.3, taps = 8)
          .select($"event_id", $"user_id", $"ewma")
          .orderBy($"event_id")
      },
      Some {
        val coefs = (0 until 8).map(k => 0.3 * math.pow(0.7, k))
        def cases(sel: Int => String) = coefs.zipWithIndex.map { case (c, k) =>
          s"CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN ${sel(k)} ELSE 0.0 END"
        }
        val num = cases(k => s"lag(value, $k) OVER w * ${coefs(k)}").mkString("(", " + ", ")")
        val den = cases(k => coefs(k).toString).mkString("(", " + ", ")")
        s"""SELECT event_id, user_id, round($num / $den, 6) AS ewma
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |ORDER BY event_id""".stripMargin
      }),

    // ─── market concentration: HHI + CR4 per segment ────────────────────
    // The reference's key-player analysis quantified (report tables,
    // SURVEY §2.7): one fact aggregate to (market, firm), everything
    // else on firm-level rows; exact-decimal share arithmetic.
    "q193_hhi" -> Q(
      (s, dir) => {
        import s.implicits._
        val df = Tables.orders(s, dir).join(Tables.customer(s, dir),
          $"o_custkey" === $"c_custkey")
        Market.concentration(df, "c_mktsegment", "o_custkey", "o_totalprice", k = 4)
          .orderBy($"market")
      },
      Some("""WITH f AS (SELECT c.c_mktsegment AS market, o.o_custkey AS firm,
             |        sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
             |      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |      GROUP BY 1, 2),
             |r AS (SELECT *, row_number() OVER (PARTITION BY market ORDER BY rev DESC, firm) AS rk
             |      FROM f),
             |a AS (SELECT market, count(*) AS n_firms, sum(rev*rev) AS ss, sum(rev) AS tot,
             |        sum(CASE WHEN rk <= 4 THEN rev ELSE 0 END) AS topk
             |      FROM r GROUP BY 1)
             |SELECT market, n_firms,
             |  round(CAST(ss AS DOUBLE) / CAST(tot*tot AS DOUBLE), 6) AS hhi,
             |  round(CAST(topk AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS crk
             |FROM a ORDER BY market""".stripMargin)),

    // ─── Benford first-digit audit (declared-amount screening) ──────────
    "q194_benford" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.benford(Tables.orders(s, dir), "o_totalprice")
      },
      Some("""WITH d AS (SELECT CAST(regexp_extract(
             |          CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS VARCHAR), '[1-9]') AS INTEGER) AS digit
             |        FROM orders
             |        WHERE o_totalprice > 0
             |          AND regexp_extract(CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS VARCHAR), '[1-9]') <> ''),
             |nn AS (SELECT count(*) AS n FROM d),
             |g AS (SELECT digit, count(*) AS n_obs FROM d GROUP BY 1),
             |e AS (SELECT digit, n_obs, round(log10(1 + 1.0/digit), 6) AS expected FROM g)
             |SELECT digit, n_obs,
             |  round(n_obs / CAST(nn.n AS DOUBLE), 6) AS share, expected,
             |  round(pow(n_obs - expected * nn.n, 2) / (expected * nn.n), 6) AS chi2_term
             |FROM e CROSS JOIN nn ORDER BY digit""".stripMargin)),

    // ─── Laspeyres price index vs the base month ────────────────────────
    "q195_price_index" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.laspeyresIndex(
            Tables.lineitem(s, dir)
              .withColumn("period", date_format($"l_shipdate", "yyyy-MM")),
            "l_partkey", "period", "l_quantity", "l_extendedprice")
          .orderBy($"period")
      },
      Some("""WITH ip0 AS (SELECT l_partkey AS item, strftime(l_shipdate, '%Y-%m') AS period,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS v,
             |        sum(CAST(l_quantity AS DECIMAL(18,6))) AS q
             |      FROM lineitem GROUP BY 1, 2),
             |ip AS (SELECT item, period,
             |         CAST(round(CAST(v AS DOUBLE) / CAST(q AS DOUBLE), 9) AS DECIMAL(15,9)) AS p, q
             |       FROM ip0 WHERE q > 0),
             |b AS (SELECT item, p AS p0, q AS q0 FROM ip
             |      WHERE period = (SELECT min(period) FROM ip)),
             |j AS (SELECT ip.period, count(*) AS n_items,
             |        sum(ip.p * b.q0) AS num, sum(b.p0 * b.q0) AS den
             |      FROM ip JOIN b USING (item) GROUP BY 1)
             |SELECT period, n_items,
             |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS price_index
             |FROM j ORDER BY period""".stripMargin)),

    // ─── MMR diversity re-rank over the retrieved candidates ────────────
    // Distributed top-candK retrieval (the q28 scan/TakeOrdered shape),
    // then the greedy λ·rel − (1−λ)·redundancy selection on the DRIVER
    // over the candK-bounded set (a contract bound like k-means' k).
    // The oracle unrolls all k selection steps; driver cosine is the
    // same ascending-index fold as the SQL list_reduce.
    "q196_mmr_rerank" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        Similarity.mmrRerank(emb, "vec_id", "embedding", q,
          candK = 20, k = 5, lambda = 0.7)
      },
      Some {
        def cos(a: String, b: String) =
          s"""(list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s1,t1) -> s1+t1) /
             | (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1)) *
             |  sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1))))""".stripMargin
        val lam = 0.7
        val oneMinus = 1.0 - lam
        val steps = (1 until 5).map { t =>
          val prev = (0 until t).map(i => s"s$i")
          val mx = prev.map(p => cos("c.embedding", s"$p.embedding"))
            .mkString("greatest(", ",\n    ", ")")
          val notIn = prev.map(p => s"SELECT vec_id FROM $p").mkString(" UNION ALL ")
          s"""r$t AS (SELECT c.vec_id, c.embedding, c.simq, $mx AS mx
             |  FROM cand c, ${prev.mkString(", ")}
             |  WHERE c.vec_id NOT IN ($notIn)),
             |s$t AS (SELECT vec_id, embedding, simq,
             |    CAST($lam AS DOUBLE) * simq - CAST($oneMinus AS DOUBLE) * mx AS score
             |  FROM r$t ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val sel = (0 until 5).map { t =>
          s"SELECT CAST($t AS INTEGER) AS rank, vec_id, round(score, 6) AS score FROM s$t"
        }.mkString("\nUNION ALL ")
        s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |cand AS (SELECT vec_id, embedding, ${cos("embedding", "q.qvec")} AS simq
           |         FROM embeddings CROSS JOIN q
           |         ORDER BY simq DESC, vec_id LIMIT 20),
           |s0 AS (SELECT vec_id, embedding, simq, CAST($lam AS DOUBLE) * simq AS score
           |       FROM cand ORDER BY simq DESC, vec_id LIMIT 1),
           |$steps
           |SELECT * FROM ($sel) ORDER BY rank""".stripMargin
      }),

    // ─── temperature-scaled language mixing shares (p ∝ c^α) ───────────
    "q197_temperature_mix" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.temperatureShares(Tables.documents(s, dir), "lang", alpha = 0.5)
          .orderBy($"stratum")
      },
      Some("""WITH c AS (SELECT lang AS stratum, count(*) AS n FROM documents GROUP BY 1),
             |w AS (SELECT stratum, n,
             |        CAST(round(pow(CAST(n AS DOUBLE), 0.5), 9) AS DECIMAL(28,9)) AS w
             |      FROM c),
             |t AS (SELECT sum(n) AS tn, sum(w) AS tw FROM w),
             |sh AS (SELECT stratum, n,
             |         round(CAST(n AS DOUBLE) / CAST(t.tn AS DOUBLE), 6) AS share_orig,
             |         round(CAST(w AS DOUBLE) / CAST(t.tw AS DOUBLE), 6) AS share_temp
             |       FROM w CROSS JOIN t)
             |SELECT stratum, n, share_orig, share_temp,
             |  round(share_temp / share_orig, 6) AS boost
             |FROM sh ORDER BY stratum""".stripMargin)),

    // ─── held-out n-gram coverage per language (train/eval by id parity) ─
    "q198_ngram_coverage" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.ngramCoverage(Tables.documents(s, dir), "text", "lang",
            $"doc_id" % 2 === 0, n = 2)
          .orderBy($"grp")
      },
      Some("""WITH b AS (SELECT lang AS grp, doc_id % 2 = 0 AS train,
             |        string_split(lower(text), ' ') AS tk FROM documents),
             |g AS (SELECT grp, train, unnest(CASE WHEN len(tk) >= 2
             |          THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
             |          ELSE []::VARCHAR[] END) AS gram
             |      FROM b),
             |tr AS (SELECT DISTINCT grp, gram FROM g WHERE train),
             |ev AS (SELECT DISTINCT grp, gram FROM g WHERE NOT train),
             |j AS (SELECT ev.grp, count(*) AS n_eval_grams,
             |        CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
             |      FROM ev LEFT JOIN tr ON ev.grp = tr.grp AND ev.gram = tr.gram
             |      GROUP BY 1)
             |SELECT grp, n_eval_grams, n_covered,
             |  round(CAST(n_covered AS DOUBLE) / CAST(n_eval_grams AS DOUBLE), 6) AS coverage
             |FROM j ORDER BY grp""".stripMargin)),

    // ─── freshness-decay source weights (e^{−λ·age} mixing table) ───────
    "q199_freshness_decay" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.freshnessWeights(Tables.events(s, dir), "event_type", "ts",
            lambdaPerDay = 0.01)
          .orderBy($"source")
      },
      Some("""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d1 FROM events),
             |w AS (SELECT event_type AS source,
             |        CAST(round(exp(-0.01 * date_diff('day', CAST(ts AS DATE), mx.d1)), 9)
             |          AS DECIMAL(19,9)) AS w
             |      FROM events CROSS JOIN mx),
             |a AS (SELECT source, count(*) AS n, sum(w) AS ws FROM w GROUP BY 1),
             |t AS (SELECT sum(ws) AS tot FROM a)
             |SELECT source, n, round(CAST(ws AS DOUBLE), 6) AS weight_sum,
             |  round(CAST(ws AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS share
             |FROM a CROSS JOIN t ORDER BY source""".stripMargin)),

    // ─── retrieval-index pipeline: quality → embed-dedup → IVF cells ────
    // The RAG-indexing composition: gated quality rules (q75) pick the
    // docs, their embeddings near-dedup via the gated LSH-bucket cosine
    // pass (q45's op, greedy min-id keep), survivors assign to IVF cells
    // around the 8 lowest surviving ids (q39/q182's literal argmax), and
    // each cell reports size, min-id rep, and its best hit for query 0.
    "q200_retrieval_pipeline" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val kept = docs.filter(TextStats.qualityKeep($"text", Seq("the", "a")))
          .select($"doc_id")
        val emb = Tables.embeddings(s, dir)
        val e = emb.join(kept, emb("vec_id") === kept("doc_id")).select($"vec_id", $"embedding")
          .localCheckpoint(false)
        val pairs = Dedup.embedDupPairs(e, "vec_id", "embedding",
          dim = lshDim, planes = 4, threshold = 0.45)
        val dropIds = pairs.select($"id_b".as("vec_id")).distinct()
        val surv = e.join(dropIds, Seq("vec_id"), "left_anti").localCheckpoint(false)
        val centroids = surv.orderBy($"vec_id").limit(8)
          .select($"vec_id", $"embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray)).toSeq
        val qvec = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        val cells = surv.withColumn("cell",
          Similarity.ivfCell($"embedding", centroids))
        val scored = cells.crossJoin(broadcast(qvec))
          .withColumn("qsim", Similarity.cosine($"embedding", $"qvec"))
        val w = Window.partitionBy($"cell").orderBy($"qsim".desc, $"vec_id")
        scored.withColumn("__rn", row_number().over(w))
          .groupBy($"cell")
          .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("rep_id"),
            max(when($"__rn" === 1, $"vec_id")).as("top_id"),
            round(max(when($"__rn" === 1, $"qsim")), 6).as("top_sim"))
          .orderBy($"cell")
      },
      Some {
        def cos(a: String, b: String) =
          s"""(list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s1,t1) -> s1+t1) /
             | (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1)) *
             |  sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1))))""".stripMargin
        s"""WITH m AS (SELECT doc_id,
           |  CAST(len(regexp_split_to_array(text, '\\s+')) AS INTEGER) AS n_tokens,
           |  list_sum(list_transform(regexp_split_to_array(text, '\\s+'), t -> length(t)))::DOUBLE
           |    / len(regexp_split_to_array(text, '\\s+')) AS mean_token_len,
           |  len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> list_contains(['the','a'], t)))::DOUBLE
           |    / len(regexp_split_to_array(lower(text), '\\s+')) AS stopword_ratio,
           |  CASE WHEN len(string_split(lower(text), ' ')) > 0
           |       THEN 1.0::DOUBLE - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
           |            / len(string_split(lower(text), ' '))
           |       ELSE 0.0::DOUBLE END AS word_rep
           |FROM documents),
           |qd AS (SELECT doc_id FROM m
           |       WHERE (n_tokens BETWEEN 20 AND 100000) AND (mean_token_len BETWEEN 3.0 AND 10.0)
           |         AND stopword_ratio >= 0.01 AND word_rep <= 0.6),
           |e AS (SELECT emb.vec_id, emb.embedding FROM embeddings emb
           |      JOIN qd ON emb.vec_id = qd.doc_id),
           |b AS (SELECT vec_id, embedding, ${sqlBucket("embedding", 4)} AS bkt FROM e),
           |p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, ${cos("a.embedding", "c.embedding")} AS sim
           |      FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id),
           |dr AS (SELECT DISTINCT id_b FROM p WHERE sim >= 0.45),
           |k AS (SELECT vec_id, embedding FROM e
           |      WHERE vec_id NOT IN (SELECT id_b FROM dr)),
           |cent AS (SELECT vec_id AS ccid, embedding AS cv FROM k ORDER BY vec_id LIMIT 8),
           |sc AS (SELECT k.vec_id, k.embedding, cent.ccid, ${cos("k.embedding", "cent.cv")} AS cs
           |       FROM k CROSS JOIN cent),
           |asg AS (SELECT vec_id, embedding, ccid,
           |          row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, ccid ASC) AS rn
           |        FROM sc),
           |cells AS (SELECT vec_id, embedding, ccid AS cell FROM asg WHERE rn = 1),
           |q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |qs AS (SELECT c.cell, c.vec_id, ${cos("c.embedding", "q.qvec")} AS qsim
           |       FROM cells c CROSS JOIN q),
           |tp AS (SELECT cell, vec_id AS top_id, qsim,
           |         row_number() OVER (PARTITION BY cell ORDER BY qsim DESC, vec_id) AS rn
           |       FROM qs),
           |ag AS (SELECT cell, count(*) AS n_vecs, min(vec_id) AS rep_id FROM cells GROUP BY 1)
           |SELECT CAST(ag.cell AS INTEGER) AS cell, ag.n_vecs, ag.rep_id,
           |  tp.top_id, round(tp.qsim, 6) AS top_sim
           |FROM ag JOIN tp ON ag.cell = tp.cell AND tp.rn = 1
           |ORDER BY ag.cell""".stripMargin
      }),

    // ─── reciprocal-rank fusion of BM25 and embedding retrieval ─────────
    // Hybrid search: the gated q107 lexical list and the gated q28-shape
    // dense list fuse by Σ 1/(60+rank). The fusion join is list-sized
    // (topN-bounded), never corpus-sized; the heavy work is the two
    // already-audited retrievals.
    "q201_rrf_fusion" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val bm = TextStats.bm25(Tables.documents(s, dir), "doc_id", "text",
            terms = Seq("vector", "stream", "hash"), topN = 20)
          .withColumn("rank", row_number().over(
            Window.orderBy($"score".desc, $"doc_id")))
          .select($"doc_id", $"rank")
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        val cs = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20)
          .withColumn("rank", row_number().over(
            Window.orderBy($"sim".desc, $"vec_id")))
          .select($"vec_id".as("doc_id"), $"rank")
        Similarity.rrfFuse(Seq(bm, cs), "doc_id", kConst = 60, topN = 10)
      },
      Some {
        val cos =
          """(list_reduce(list_transform(list_zip(embedding, q2.qvec), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s1,t1) -> s1+t1) /
            | (sqrt(list_reduce(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1)) *
            |  sqrt(list_reduce(list_transform(q2.qvec, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1))))""".stripMargin
        s"""WITH $bm25OracleCtes,
           |bm AS (SELECT doc_id, $bm25OracleScore AS score FROM p),
           |bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r
           |        FROM bm ORDER BY score DESC, doc_id LIMIT 20),
           |q2 AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |cs AS (SELECT vec_id, $cos AS sim FROM embeddings CROSS JOIN q2),
           |csr AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r
           |        FROM cs ORDER BY sim DESC, vec_id LIMIT 20),
           |f AS (SELECT doc_id,
           |        round(COALESCE(CAST(1.0 AS DOUBLE) / (60 + bmr.r), CAST(0.0 AS DOUBLE)) +
           |              COALESCE(CAST(1.0 AS DOUBLE) / (60 + csr.r), CAST(0.0 AS DOUBLE)), 6) AS rrf
           |      FROM bmr FULL OUTER JOIN csr USING (doc_id))
           |SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
      }),

    // ─── T5 span-corruption plan (deterministic mask spans) ─────────────
    "q202_span_corruption" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.spanCorruption(Tables.documents(s, dir), "doc_id", "text",
            modulus = 5, seed = 5)
          .orderBy($"doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
              |pos AS (SELECT doc_id, CAST(unnest(range(len(tk))) AS BIGINT) AS p FROM tk),
              |mk AS (SELECT doc_id, p FROM pos
              |       WHERE ${sqlHash(5, "doc_id::VARCHAR || ':' || p::VARCHAR")} % 5 = 0),
              |il AS (SELECT doc_id, p,
              |         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
              |       FROM mk),
              |sp AS (SELECT doc_id, grp, count(*) AS len FROM il GROUP BY 1, 2),
              |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
              |          CAST(sum(len) AS BIGINT) AS n_masked
              |        FROM sp GROUP BY 1),
              |nt AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens FROM tk)
              |SELECT nt.doc_id, nt.n_tokens,
              |  COALESCE(per.n_spans, 0) AS n_spans,
              |  COALESCE(per.n_masked, 0) AS n_masked,
              |  round(COALESCE(per.n_masked, 0) / CAST(nt.n_tokens AS DOUBLE), 6) AS mask_ratio
              |FROM nt LEFT JOIN per USING (doc_id) ORDER BY nt.doc_id""".stripMargin)),

    // ─── exact per-language Pearson correlation (length vs chars) ───────
    "q203_length_corr" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.corrPerKey(
            Tables.documents(s, dir)
              .withColumn("n_tokens", size(split(lower($"text"), " "))),
            "lang", "n_tokens", "n_chars")
          .orderBy($"lang")
      },
      Some("""WITH d AS (SELECT lang,
             |        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x,
             |        n_chars AS y
             |      FROM documents),
             |a AS (SELECT lang, count(*) AS n,
             |        sum(CAST(x AS DECIMAL(38,0))) AS sx, sum(CAST(y AS DECIMAL(38,0))) AS sy,
             |        sum(CAST(x*y AS DECIMAL(38,0))) AS sxy,
             |        sum(CAST(x*x AS DECIMAL(38,0))) AS sxx,
             |        sum(CAST(y*y AS DECIMAL(38,0))) AS syy
             |      FROM d GROUP BY 1)
             |SELECT lang, n,
             |  CASE WHEN n >= 2
             |      AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             |      AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
             |    THEN round(
             |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |      (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |       sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |  END AS corr
             |FROM a ORDER BY lang""".stripMargin)),

    // ─── Gini revenue-inequality coefficient per segment ────────────────
    "q204_gini" -> Q(
      (s, dir) => {
        import s.implicits._
        val df = Tables.orders(s, dir).join(Tables.customer(s, dir),
          $"o_custkey" === $"c_custkey")
        Market.gini(df, "c_mktsegment", "o_custkey", "o_totalprice")
          .orderBy($"market")
      },
      Some("""WITH f AS (SELECT c.c_mktsegment AS market, o.o_custkey AS firm,
             |        sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
             |      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |      GROUP BY 1, 2),
             |r AS (SELECT market, rev,
             |        CAST(row_number() OVER (PARTITION BY market ORDER BY rev ASC, firm) AS BIGINT) AS i
             |      FROM f),
             |a AS (SELECT market, count(*) AS n_firms, sum(rev) AS s,
             |        sum(CAST(i AS DECIMAL(12,0)) * rev) AS si
             |      FROM r GROUP BY 1)
             |SELECT market, n_firms,
             |  CASE WHEN s > 0 THEN round(
             |    (CAST(2.0 AS DOUBLE) * CAST(si AS DOUBLE) -
             |       CAST(n_firms + 1 AS DOUBLE) * CAST(s AS DOUBLE)) /
             |    (CAST(n_firms AS DOUBLE) * CAST(s AS DOUBLE)), 6)
             |  END AS gini
             |FROM a ORDER BY market""".stripMargin)),

    // ─── monthly supplier churn (active / new / churned accounting) ─────
    "q205_supplier_churn" -> Q(
      (s, dir) => {
        import s.implicits._
        Cohort.activeChurn(Tables.lineitem(s, dir), "l_suppkey", "l_shipdate")
          .orderBy($"month")
      },
      Some("""WITH em AS (SELECT DISTINCT l_suppkey AS e,
             |        date_trunc('month', l_shipdate)::DATE AS m
             |      FROM lineitem),
             |act AS (SELECT m, count(*) AS n_active FROM em GROUP BY 1),
             |nw AS (SELECT m, count(*) AS n_new FROM
             |         (SELECT e, min(m) AS m FROM em GROUP BY 1)
             |       GROUP BY 1),
             |pv AS (SELECT e, (m + INTERVAL 1 MONTH)::DATE AS m FROM em),
             |ch AS (SELECT m, count(*) AS n_churned FROM pv
             |       ANTI JOIN em USING (e, m) GROUP BY 1)
             |SELECT strftime(act.m, '%Y-%m') AS month, act.n_active,
             |  COALESCE(nw.n_new, 0) AS n_new,
             |  COALESCE(ch.n_churned, 0) AS n_churned
             |FROM act LEFT JOIN nw USING (m) LEFT JOIN ch USING (m)
             |ORDER BY month""".stripMargin)),

    // ─── monthly revenue trend via centered MA(3) + residual ────────────
    "q206_seasonal_ma" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.monthlyMaDecompose(Tables.lineitem(s, dir), "l_shipdate",
            "l_extendedprice")
          .orderBy($"month")
      },
      Some("""WITH mth AS (SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS v
             |      FROM lineitem GROUP BY 1),
             |w AS (SELECT month, v,
             |        count(*) OVER win AS n3,
             |        sum(v) OVER win AS s3
             |      FROM mth
             |      WINDOW win AS (ORDER BY month ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING))
             |SELECT month, round(CAST(v AS DOUBLE), 6) AS value,
             |  round(CASE WHEN n3 = 3 THEN CAST(s3 AS DOUBLE) / 3.0 END, 6) AS trend,
             |  round(CAST(v AS DOUBLE) - CASE WHEN n3 = 3 THEN CAST(s3 AS DOUBLE) / 3.0 END, 6) AS resid
             |FROM w ORDER BY month""".stripMargin)),

    // ─── referential-integrity audit across the star schema ─────────────
    "q207_ri_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.refIntegrity(Seq(
            ("customer.nation", Tables.customer(s, dir), "c_nationkey",
              Tables.nation(s, dir), "n_nationkey"),
            ("lineitem.order", Tables.lineitem(s, dir), "l_orderkey",
              Tables.orders(s, dir), "o_orderkey"),
            ("lineitem.part", Tables.lineitem(s, dir), "l_partkey",
              Tables.part(s, dir), "p_partkey"),
            ("lineitem.supplier", Tables.lineitem(s, dir), "l_suppkey",
              Tables.supplier(s, dir), "s_suppkey"),
            ("nation.region", Tables.nation(s, dir), "n_regionkey",
              Tables.region(s, dir), "r_regionkey"),
            ("orders.customer", Tables.orders(s, dir), "o_custkey",
              Tables.customer(s, dir), "c_custkey")))
          .orderBy($"relation")
      },
      Some {
        val rels = Seq(
          ("customer.nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          ("lineitem.order", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          ("lineitem.part", "lineitem", "l_partkey", "part", "p_partkey"),
          ("lineitem.supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          ("nation.region", "nation", "n_regionkey", "region", "r_regionkey"),
          ("orders.customer", "orders", "o_custkey", "customer", "c_custkey"))
        rels.map { case (name, c, ck, p, pk) =>
          s"""SELECT '$name' AS relation,
             |  (SELECT count(*) FROM $c) AS n_child,
             |  (SELECT count(*) FROM $c ANTI JOIN $p ON $c.$ck = $p.$pk) AS n_orphans,
             |  round((SELECT count(*) FROM $c ANTI JOIN $p ON $c.$ck = $p.$pk)
             |    / CAST((SELECT count(*) FROM $c) AS DOUBLE), 6) AS orphan_rate""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY relation")
      }),

    // ─── per-vector outlier energy Σ z² over the gated standardization ──
    // Diagonal-Mahalanobis: the q140 per-dim z-scores folded per vector
    // in ascending-dimension order (an ARRAY fold — no shuffle-order
    // float sum), top-20 energies. The embedding-space outlier screen.
    "q208_outlier_energy" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.standardizeDims(Tables.embeddings(s, dir), "vec_id", "embedding")
          .withColumn("energy", round(
            aggregate($"norm_vec", lit(0.0), (acc, z) => acc + z * z), 6))
          .select($"vec_id", $"energy")
          .orderBy($"energy".desc, $"vec_id")
          .limit(20)
      },
      Some("""WITH x AS (SELECT CAST(i AS INTEGER) AS pos, embedding[i+1]::DOUBLE AS v
             |        FROM embeddings CROSS JOIN range(64) t(i)),
             |st AS (SELECT pos,
             |        CAST(sum(CAST(round(v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) / count(*) AS mean,
             |        CAST(sum(CAST(round(v * v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) / count(*) AS m2
             |      FROM x GROUP BY 1),
             |s2 AS (SELECT pos, mean, sqrt(m2 - mean * mean) AS sd FROM st),
             |z AS (SELECT vec_id, CAST(i AS INTEGER) AS pos,
             |        CASE WHEN sd > 0 THEN (embedding[i+1]::DOUBLE - mean) / sd
             |             ELSE 0.0::DOUBLE END AS nv
             |      FROM embeddings CROSS JOIN range(64) t(i)
             |      JOIN s2 ON s2.pos = CAST(i AS INTEGER)),
             |e AS (SELECT vec_id,
             |        round(list_reduce(list(nv * nv ORDER BY pos), (a, b) -> a + b), 6) AS energy
             |      FROM z GROUP BY vec_id)
             |SELECT vec_id, energy FROM e ORDER BY energy DESC, vec_id LIMIT 20""".stripMargin)),

    // ─── perplexity-ladder buckets over the gated LM score ──────────────
    // The perplexity-filtering decision table: ntile(10) over the q84
    // doc scores (deterministic (score, id) total order), per-bucket
    // count and score range. The one global sort runs on DOC-level rows.
    "q209_perplexity_buckets" -> Q(
      (s, dir) => {
        import s.implicits._
        val sc = TextStats.lmScore(Tables.documents(s, dir), "doc_id", "text")
        // doc-level deciling scales with the corpus: distributed ntile
        Ranks.withNtile(sc, "bucket", 10, $"mean_p", $"doc_id")
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n_docs"),
            round(min($"mean_p"), 6).as("min_p"),
            round(max($"mean_p"), 6).as("max_p"))
          .orderBy($"bucket")
      },
      Some(s"""WITH $lmScoreOracleCtes,
              |b AS (SELECT doc_id, mean_p,
              |        CAST(ntile(10) OVER (ORDER BY mean_p, doc_id) AS BIGINT) AS bucket
              |      FROM lmd)
              |SELECT bucket, count(*) AS n_docs,
              |  round(min(mean_p), 6) AS min_p, round(max(mean_p), 6) AS max_p
              |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── EM-fitted Jelinek-Mercer interpolation weight (on-engine fit) ──
    // Unigram/bigram MLEs on the even-doc train half, λ fit on the odd
    // half by 3 EM steps; every λ_t is bit-exact (9-dp fixed-point
    // posterior sums). The oracle chains the three steps as scalar CTEs.
    "q210_lm_interp_em" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.lmInterpEm(Tables.documents(s, dir), "doc_id", "text",
            $"doc_id" % 2 === 0, iters = 3, lambda0 = 0.5)
          .orderBy($"iter")
      },
      Some("""WITH tk AS (SELECT doc_id, doc_id % 2 = 0 AS train,
             |        string_split(lower(text), ' ') AS tk FROM documents),
             |trt AS (SELECT unnest(tk) AS w FROM tk WHERE train),
             |uc AS (SELECT w, count(*) AS c1 FROM trt GROUP BY 1),
             |tt AS (SELECT count(*) AS t FROM trt),
             |bgx AS (SELECT doc_id, train, tk, CAST(unnest(range(len(tk) - 1)) AS INTEGER) AS pos
             |        FROM tk WHERE len(tk) >= 2),
             |bg AS (SELECT doc_id, train, tk[pos+1] AS w1, tk[pos+2] AS w2 FROM bgx),
             |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE train GROUP BY 1, 2),
             |hb AS (SELECT w1, w2 FROM bg WHERE NOT train),
             |sc AS (SELECT
             |         COALESCE(u2.c1, 0) / CAST(tt.t AS DOUBLE) AS p1,
             |         CASE WHEN u1.c1 IS NOT NULL AND bc.c12 IS NOT NULL
             |              THEN CAST(bc.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
             |              ELSE 0.0::DOUBLE END AS p2
             |       FROM hb LEFT JOIN uc u2 ON hb.w2 = u2.w
             |               LEFT JOIN uc u1 ON hb.w1 = u1.w
             |               LEFT JOIN bc ON hb.w1 = bc.w1 AND hb.w2 = bc.w2
             |               CROSS JOIN tt),
             |scf AS (SELECT p1, p2 FROM sc WHERE p1 + p2 > 0.0),
             |l1 AS (SELECT CAST(sum(CAST(round(0.5 * p2 / (0.5 * p2 + 0.5 * p1), 9)
             |          AS DECIMAL(10,9))) AS DOUBLE) / count(*) AS lam FROM scf),
             |l2 AS (SELECT CAST(sum(CAST(round(l1.lam * p2 / (l1.lam * p2 + (1.0 - l1.lam) * p1), 9)
             |          AS DECIMAL(10,9))) AS DOUBLE) / count(*) AS lam FROM scf CROSS JOIN l1),
             |l3 AS (SELECT CAST(sum(CAST(round(l2.lam * p2 / (l2.lam * p2 + (1.0 - l2.lam) * p1), 9)
             |          AS DECIMAL(10,9))) AS DOUBLE) / count(*) AS lam FROM scf CROSS JOIN l2)
             |SELECT * FROM (
             |  SELECT CAST(1 AS INTEGER) AS iter, round(lam, 9) AS lambda FROM l1
             |  UNION ALL SELECT 2, round(lam, 9) FROM l2
             |  UNION ALL SELECT 3, round(lam, 9) FROM l3)
             |ORDER BY iter""".stripMargin)),

    // ─── train/val/test near-dup leakage audit ──────────────────────────
    // The gated q25 LSH pairs × the gated q83 split rule: counts of
    // near-dup pairs within and ACROSS splits — cross-split rows are
    // eval-contamination leaks the split design must answer for.
    "q211_split_leakage" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
          .filter($"jaccard" >= 0.5)
        val sp = docs.select($"doc_id", TextStats.assignSplit($"doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
        pairs
          .join(sp.select($"doc_id".as("id_a"), $"split".as("__sa")), "id_a")
          .join(sp.select($"doc_id".as("id_b"), $"split".as("__sb")), "id_b")
          .groupBy(least($"__sa", $"__sb").as("split_lo"),
            greatest($"__sa", $"__sb").as("split_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("cross_split", $"split_lo" =!= $"split_hi")
          .orderBy($"split_lo", $"split_hi")
      },
      Some(s"""WITH $minhashCtes,
              |sp AS (SELECT doc_id,
              |  CASE WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE / 1152921504606846976.0 < 0.8 THEN 'train'
              |       WHEN ('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15))::BIGINT::DOUBLE / 1152921504606846976.0 < 0.9 THEN 'val'
              |       ELSE 'test' END AS split
              |  FROM documents),
              |pe AS (SELECT least(sa.split, sb.split) AS split_lo,
              |         greatest(sa.split, sb.split) AS split_hi
              |       FROM pairs p
              |       JOIN sp sa ON p.id_a = sa.doc_id
              |       JOIN sp sb ON p.id_b = sb.doc_id
              |       WHERE p.jaccard >= 0.5)
              |SELECT split_lo, split_hi, count(*) AS n_pairs,
              |  split_lo <> split_hi AS cross_split
              |FROM pe GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ─── label balance χ² across IVF cells ──────────────────────────────
    // Does the cell partitioning skew the label distribution? Exact
    // integer contingency table + χ² terms from the literal-assignment
    // cells (q39/q182 machinery, zero shuffle for the assignment).
    "q212_label_balance_chi2" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter($"vec_id" < 8)
          .select($"vec_id", $"embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .sortBy(_._1).toSeq
        val n = emb.count()
        val cells = emb.withColumn("cell",
          Similarity.ivfCell($"embedding", centroids))
        val ct = cells.groupBy($"cell", $"label").agg(count(lit(1)).as("n_obs"))
          .localCheckpoint(false)
        val rt = ct.groupBy($"cell").agg(sum($"n_obs").as("__rt"))
        val lt = ct.groupBy($"label").agg(sum($"n_obs").as("__lt"))
        ct.join(rt, "cell").join(lt, "label")
          .withColumn("__e",
            $"__rt".cast("double") * $"__lt".cast("double") / lit(n.toDouble))
          .select($"cell", $"label", $"n_obs",
            round($"__e", 6).as("expected"),
            round(pow($"n_obs".cast("double") - $"__e", 2) / $"__e", 6).as("chi2_term"))
          .orderBy($"cell", $"label")
      },
      Some {
        def cos(a: String, b: String) =
          s"""(list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s1,t1) -> s1+t1) /
             | (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1)) *
             |  sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1))))""".stripMargin
        s"""WITH c AS (SELECT vec_id AS ccid, embedding AS cv FROM embeddings WHERE vec_id < 8),
           |scored AS (SELECT e.vec_id, e.label, c.ccid, ${cos("e.embedding", "c.cv")} AS csim
           |           FROM embeddings e CROSS JOIN c),
           |asg AS (SELECT vec_id, label, ccid,
           |          row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid ASC) AS rn
           |        FROM scored),
           |cells AS (SELECT vec_id, label, CAST(ccid AS INTEGER) AS cell FROM asg WHERE rn = 1),
           |nn AS (SELECT count(*) AS n FROM embeddings),
           |ct AS (SELECT cell, label, count(*) AS n_obs FROM cells GROUP BY 1, 2),
           |rt AS (SELECT cell, sum(n_obs) AS rt FROM ct GROUP BY 1),
           |lt AS (SELECT label, sum(n_obs) AS lt FROM ct GROUP BY 1),
           |ex AS (SELECT ct.cell, ct.label, ct.n_obs,
           |         CAST(rt.rt AS DOUBLE) * CAST(lt.lt AS DOUBLE) / CAST(nn.n AS DOUBLE) AS e
           |       FROM ct JOIN rt USING (cell) JOIN lt USING (label) CROSS JOIN nn)
           |SELECT cell, label, n_obs, round(e, 6) AS expected,
           |  round(pow(n_obs - e, 2) / e, 6) AS chi2_term
           |FROM ex ORDER BY cell, label""".stripMargin
      }),

    // ─── greedy k-center coreset (Gonzalez) over cosine distance ────────
    "q213_kcenter_coreset" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.kcenterCoreset(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 8, seedId = 0L)
      },
      Some {
        def cos(a: String, b: String) =
          s"""(list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s1,t1) -> s1+t1) /
             | (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1)) *
             |  sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1))))""".stripMargin
        val steps = (1 until 8).map { t =>
          val cs = Seq("c0.cv") ++ (1 until t).map(i => s"s$i.embedding")
          val dists = cs.map(c => s"(1.0 - ${cos("e.embedding", c)})")
          val mind = if (dists.size == 1) dists.head
            else dists.mkString("least(", ",\n    ", ")")
          val froms = Seq("embeddings e", "c0") ++ (1 until t).map(i => s"s$i")
          val notIn = if (t == 1) ""
            else s"AND e.vec_id NOT IN (${(1 until t).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ALL ")})"
          s"""m$t AS (SELECT e.vec_id, e.embedding, $mind AS mind
             |  FROM ${froms.mkString(", ")}
             |  WHERE e.vec_id <> 0 $notIn),
             |s$t AS (SELECT vec_id, embedding, mind FROM m$t
             |  ORDER BY mind DESC, vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val sel = Seq(
          "SELECT CAST(0 AS INTEGER) AS rank, CAST(0 AS BIGINT) AS vec_id, CAST(0.0 AS DOUBLE) AS dist") ++
          (1 until 8).map(t => s"SELECT CAST($t AS INTEGER), vec_id, round(mind, 6) FROM s$t")
        s"""WITH c0 AS (SELECT embedding AS cv FROM embeddings WHERE vec_id = 0),
           |$steps
           |SELECT * FROM (${sel.mkString("\nUNION ALL ")}) ORDER BY rank""".stripMargin
      }),

    // ─── per-part price volatility (coefficient of variation) ───────────
    "q214_price_volatility" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.priceVolatility(
          Tables.lineitem(s, dir)
            .withColumn("period", date_format($"l_shipdate", "yyyy-MM")),
          "l_partkey", "period", "l_quantity", "l_extendedprice",
          minPeriods = 6, topN = 20)
      },
      Some("""WITH ip0 AS (SELECT l_partkey AS item, strftime(l_shipdate, '%Y-%m') AS period,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS v,
             |        sum(CAST(l_quantity AS DECIMAL(18,6))) AS q
             |      FROM lineitem GROUP BY 1, 2),
             |ip AS (SELECT item,
             |         CAST(round(CAST(v AS DOUBLE) / CAST(q AS DOUBLE), 9) AS DECIMAL(15,9)) AS p
             |       FROM ip0 WHERE q > 0),
             |a AS (SELECT item, count(*) AS n_periods, sum(p) AS sp, sum(p*p) AS spp
             |      FROM ip GROUP BY 1)
             |SELECT item, n_periods,
             |  round(CAST(sp AS DOUBLE) / n_periods, 6) AS mean_price,
             |  round(sqrt(greatest(n_periods * CAST(spp AS DOUBLE)
             |      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE), CAST(0.0 AS DOUBLE)))
             |    / CAST(sp AS DOUBLE), 6) AS cv
             |FROM a WHERE n_periods >= 6 AND sp > 0
             |ORDER BY cv DESC, item LIMIT 20""".stripMargin)),

    // ─── market-share trend per brand (who is gaining share) ────────────
    "q215_share_trend" -> Q(
      (s, dir) => {
        import s.implicits._
        val df = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
          .withColumn("period", date_format($"l_shipdate", "yyyy-MM"))
        Market.shareTrend(df, "p_brand", "period", "l_extendedprice")
          .orderBy($"grp")
      },
      Some("""WITH gm AS (SELECT p.p_brand AS grp,
             |        strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS period,
             |        sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev
             |      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |      GROUP BY 1, 2),
             |tot AS (SELECT period, sum(rev) AS tot,
             |          CAST(row_number() OVER (ORDER BY period) - 1 AS BIGINT) AS idx
             |        FROM gm GROUP BY period),
             |sh AS (SELECT grp, idx,
             |         CAST(round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 9) AS DECIMAL(12,9)) AS share
             |       FROM gm JOIN tot USING (period)),
             |a AS (SELECT grp, count(*) AS n_months, sum(idx) AS sx, sum(share) AS sy,
             |        sum(CAST(idx AS DECIMAL(12,0)) * share) AS sxy,
             |        sum(CAST(idx*idx AS DECIMAL(38,0))) AS sxx
             |      FROM sh GROUP BY 1)
             |SELECT grp, n_months,
             |  round(CAST(sy AS DOUBLE) / n_months, 6) AS mean_share,
             |  CASE WHEN n_months >= 2
             |      AND (n_months * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <> 0
             |    THEN round((n_months * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (n_months * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
             |  END AS slope
             |FROM a ORDER BY grp""".stripMargin)),

    // ─── classifier reliability diagram (calibration curve) ─────────────
    // The gated q156/q157 logreg scores binned into ten fixed-width
    // probability bins: is the quality filter over- or under-confident?
    "q216_calibration_curve" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val w = Classifier.logregFit(docs, "doc_id", "text", $"lang" === "en")
        val scored = Classifier.logregScore(docs, "doc_id", "text",
          $"lang" === "en", w)
        Classifier.calibrationCurve(scored, "p", "is_target")
          .orderBy($"bin")
      },
      Some(LogregOracle.calibrationSql("lang = 'en'", buckets = 64, iters = 3,
        rate = "0.02::DOUBLE"))),

    // ─── language-ID confusion matrix (truth column vs q32 guess) ───────
    "q217_langid_confusion" -> Q(
      (s, dir) => {
        import s.implicits._
        val markers = Map(
          "de" -> Seq("der", "und"), "en" -> Seq("the", "a"),
          "es" -> Seq("el", "y"), "fr" -> Seq("le", "et"))
        val pred = Tables.documents(s, dir).select($"lang",
          TextStats.langGuess($"text", markers).as("lang_guess"))
        Classifier.confusion(pred, "lang", "lang_guess")
          .orderBy($"truth", $"pred")
      },
      Some(s"""WITH $langIdOracleCtes
              |SELECT lang AS truth, lang_guess AS pred, count(*) AS n
              |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ─── Cohen's kappa for the language-ID guess ────────────────────────
    "q218_langid_kappa" -> Q(
      (s, dir) => {
        import s.implicits._
        val markers = Map(
          "de" -> Seq("der", "und"), "en" -> Seq("the", "a"),
          "es" -> Seq("el", "y"), "fr" -> Seq("le", "et"))
        val pred = Tables.documents(s, dir).select($"lang",
          TextStats.langGuess($"text", markers).as("lang_guess"))
        Classifier.cohenKappa(pred, "lang", "lang_guess")
      },
      Some(s"""WITH $langIdOracleCtes,
              |ct AS (SELECT lang AS truth, lang_guess AS pred, count(*) AS n
              |       FROM g GROUP BY 1, 2),
              |rt AS (SELECT truth AS c, sum(n) AS rt FROM ct GROUP BY 1),
              |cmt AS (SELECT pred AS c, sum(n) AS ct2 FROM ct GROUP BY 1),
              |pe AS (SELECT COALESCE(sum(CAST(rt * ct2 AS DECIMAL(38,0))),
              |                 CAST(0 AS DECIMAL(38,0))) AS spe
              |       FROM rt JOIN cmt USING (c)),
              |tr AS (SELECT COALESCE(sum(n), 0)::BIGINT AS tr FROM ct WHERE truth = pred),
              |tot AS (SELECT sum(n)::BIGINT AS n FROM ct)
              |SELECT tot.n,
              |  round(CAST(tr.tr AS DOUBLE) / CAST(tot.n AS DOUBLE), 6) AS po,
              |  round(CAST(pe.spe AS DOUBLE) / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)), 6) AS pe,
              |  round((CAST(tr.tr AS DOUBLE) / CAST(tot.n AS DOUBLE)
              |      - CAST(pe.spe AS DOUBLE) / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE)))
              |    / (1.0 - CAST(pe.spe AS DOUBLE) / (CAST(tot.n AS DOUBLE) * CAST(tot.n AS DOUBLE))), 6) AS kappa
              |FROM tot CROSS JOIN tr CROSS JOIN pe""".stripMargin)),

    // ─── Pareto ABC revenue classes (exact-decimal share cuts) ──────────
    "q219_pareto_abc" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.paretoAbc(Tables.lineitem(s, dir), "l_partkey", "l_extendedprice")
          .orderBy($"clazz")
      },
      Some("""WITH item AS (SELECT l_partkey AS item,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
             |      FROM lineitem GROUP BY 1),
             |c AS (SELECT item, rev,
             |        CAST(sum(rev) OVER (ORDER BY rev DESC, item
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,6)) AS cum,
             |        CAST(sum(rev) OVER () AS DECIMAL(28,6)) AS tot
             |      FROM item),
             |k AS (SELECT item, rev, tot,
             |        CASE WHEN cum * 5 <= tot * 4 THEN 'A'
             |             WHEN cum * 20 <= tot * 19 THEN 'B'
             |             ELSE 'C' END AS clazz
             |      FROM c)
             |SELECT clazz, count(*) AS n_items,
             |  round(CAST(sum(rev) AS DOUBLE) / CAST(max(tot) AS DOUBLE), 6) AS rev_share
             |FROM k GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── signup→purchase time-to-convert percentiles per cohort ─────────
    "q220_time_to_convert" -> Q(
      (s, dir) => {
        import s.implicits._
        Funnel.timeToConvert(Tables.events(s, dir), "user_id", "ts",
            "event_type", fromType = "signup", toType = "purchase")
          .orderBy($"cohort")
      },
      Some("""WITH s AS (SELECT user_id AS u, min(CAST(ts AS TIMESTAMP)) AS s_ts
             |      FROM events WHERE event_type = 'signup' GROUP BY 1),
             |p AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS p_ts
             |      FROM events WHERE event_type = 'purchase'),
             |c AS (SELECT s.u, s.s_ts,
             |        min(CASE WHEN p.p_ts >= s.s_ts THEN epoch_us(p.p_ts) END) AS p_us
             |      FROM s LEFT JOIN p USING (u) GROUP BY 1, 2),
             |l AS (SELECT strftime(s_ts, '%Y-%m') AS cohort,
             |        p_us - epoch_us(s_ts) AS lat_us FROM c)
             |SELECT cohort, count(*) AS n_signups, count(lat_us) AS n_converted,
             |  round(quantile_cont(lat_us, 0.5), 6) AS p50_us,
             |  round(quantile_cont(lat_us, 0.9), 6) AS p90_us
             |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── Hill tail-index of the document-length distribution ────────────
    "q221_hill_tail" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.hillTail(Tables.documents(s, dir), "doc_id", "n_chars", k = 100)
      },
      Some("""WITH t AS (SELECT doc_id, n_chars FROM documents WHERE n_chars > 0
             |        ORDER BY n_chars DESC, doc_id LIMIT 101),
             |r AS (SELECT doc_id, n_chars,
             |        row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn FROM t),
             |xk AS (SELECT n_chars AS xk FROM r WHERE rn = 101),
             |sm AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
             |          list(ln(CAST(r.n_chars AS DOUBLE) / CAST(xk.xk AS DOUBLE)) ORDER BY r.rn)),
             |          (a, b) -> a + b) AS sm
             |       FROM r CROSS JOIN xk WHERE rn <= 100)
             |SELECT CAST(100 AS INTEGER) AS k, xk.xk AS x_k,
             |  CASE WHEN sm.sm > 0 THEN round(100 / sm.sm, 6) END AS alpha
             |FROM sm CROSS JOIN xk""".stripMargin)),

    // ─── entropy rate of the corpus bigram model ────────────────────────
    "q222_lm_entropy_rate" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.lmEntropyRate(Tables.documents(s, dir), "text")
      },
      Some("""WITH tk AS (SELECT string_split(lower(text), ' ') AS tk FROM documents),
             |uni AS (SELECT unnest(tk) AS w FROM tk),
             |uc AS (SELECT w, count(*) AS c1 FROM uni GROUP BY 1),
             |bgx AS (SELECT tk, CAST(unnest(range(len(tk) - 1)) AS INTEGER) AS pos
             |        FROM tk WHERE len(tk) >= 2),
             |bg AS (SELECT tk[pos+1] AS w1, tk[pos+2] AS w2 FROM bgx),
             |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
             |t2 AS (SELECT sum(c12)::BIGINT AS t2 FROM bc),
             |tm AS (SELECT CAST(round((CAST(c12 AS DOUBLE) / CAST(t2.t2 AS DOUBLE))
             |          * ln(CAST(c12 AS DOUBLE) / CAST(uc.c1 AS DOUBLE)), 9) AS DECIMAL(18,9)) AS term,
             |         t2.t2
             |       FROM bc JOIN uc ON bc.w1 = uc.w CROSS JOIN t2)
             |SELECT max(t2)::BIGINT AS n_bigrams, count(*) AS n_pairs,
             |  round(-CAST(sum(term) AS DOUBLE), 6) AS entropy_rate
             |FROM tm""".stripMargin)),

    // ─── Zipf's-law fit over the vocabulary (log-log OLS) ───────────────
    "q223_zipf_fit" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.zipfFit(Tables.documents(s, dir), "text", topN = 1000)
      },
      Some("""WITH c AS (SELECT w, count(*) AS cnt FROM
             |        (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
             |      WHERE w <> '' GROUP BY 1),
             |r AS (SELECT w, cnt, row_number() OVER (ORDER BY cnt DESC, w) AS rn FROM c),
             |p AS (SELECT CAST(round(ln(CAST(rn AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
             |        CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
             |      FROM r WHERE rn <= 1000),
             |a AS (SELECT count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
             |        sum(x*y) AS sxy, sum(x*x) AS sxx FROM p)
             |SELECT n_terms,
             |  round((n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |    / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
             |  round((CAST(sy AS DOUBLE)
             |      - (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |        / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |        * CAST(sx AS DOUBLE)) / n_terms, 6) AS intercept
             |FROM a""".stripMargin)),

    // ─── term burstiness (variance-to-mean dispersion) ──────────────────
    "q224_burstiness" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.burstiness(Tables.documents(s, dir), "doc_id", "text", topN = 20)
      },
      Some("""WITH nd AS (SELECT count(*) AS n FROM documents),
             |dt AS (SELECT doc_id, w, count(*) AS c FROM
             |        (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
             |      WHERE w <> '' GROUP BY 1, 2),
             |tm AS (SELECT w AS term, sum(c)::BIGINT AS total,
             |         sum(CAST(c*c AS DECIMAL(38,0))) AS ss
             |       FROM dt GROUP BY 1),
             |r AS (SELECT *, row_number() OVER (ORDER BY total DESC, term) AS rn FROM tm)
             |SELECT term, total,
             |  round((CAST(ss AS DOUBLE) / CAST(nd.n AS DOUBLE)
             |      - (CAST(total AS DOUBLE) / CAST(nd.n AS DOUBLE))
             |        * (CAST(total AS DOUBLE) / CAST(nd.n AS DOUBLE)))
             |    / (CAST(total AS DOUBLE) / CAST(nd.n AS DOUBLE)), 6) AS vmr
             |FROM r CROSS JOIN nd WHERE rn <= 20 ORDER BY total DESC, term""".stripMargin)),

    // ─── template/boilerplate detection by shape fingerprint ────────────
    "q225_template_shapes" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.templateFingerprints(Tables.documents(s, dir), "doc_id", "text",
          minDocs = 2L)
      },
      Some("""WITH s AS (SELECT doc_id,
             |  ('0x'||substr(md5(array_to_string(list_transform(string_split(lower(text), ' '),
             |      t -> CASE WHEN length(t) <= 2 THEN 's'
             |                WHEN length(t) <= 5 THEN 'm' ELSE 'l' END), '')),1,15))::BIGINT AS shape_fp
             |  FROM documents)
             |SELECT shape_fp, count(*) AS n_docs, min(doc_id) AS min_doc_id
             |FROM s GROUP BY 1 HAVING count(*) >= 2
             |ORDER BY n_docs DESC, shape_fp""".stripMargin)),

    // ─── PII density rollup per source (release-gating table) ───────────
    // The q171 injection + typed counters aggregated per source: which
    // slice of the corpus carries the PII burden before a release.
    "q226_pii_by_source" -> Q(
      (s, dir) => {
        import s.implicits._
        val injected = Tables.documents(s, dir).withColumn("t2", concat($"text",
          when(pmod($"doc_id", lit(5L)) === 0L,
            concat(lit(" contact user"), $"doc_id", lit("@example.com now")))
            .otherwise(lit("")),
          when(pmod($"doc_id", lit(7L)) === 0L,
            concat(lit(" from 10.0."), pmod($"doc_id", lit(256L)), lit(".25")))
            .otherwise(lit("")),
          when(pmod($"doc_id", lit(11L)) === 0L,
            concat(lit(" ref 4415"), lpad(pmod($"doc_id", lit(1000000L)), 6, "0")))
            .otherwise(lit(""))))
        injected.select($"source", TextStats.piiCounts($"t2").as("pc"))
          .select($"source",
            ($"pc.n_email" + $"pc.n_ip" + $"pc.n_num" > 0).as("__has"),
            $"pc.n_email".as("__e"), $"pc.n_ip".as("__i"), $"pc.n_num".as("__n"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"__has", 1L).otherwise(0L)).as("n_pii_docs"),
            sum($"__e").cast("long").as("emails"),
            sum($"__i").cast("long").as("ips"),
            sum($"__n").cast("long").as("nums"))
          .withColumn("pii_rate",
            round($"n_pii_docs".cast("double") / $"n_docs".cast("double"), 6))
          .orderBy($"source")
      },
      Some("""WITH inj AS (SELECT source, doc_id, text
             |    || CASE WHEN doc_id % 5 = 0
             |            THEN ' contact user'||doc_id||'@example.com now' ELSE '' END
             |    || CASE WHEN doc_id % 7 = 0
             |            THEN ' from 10.0.'||(doc_id % 256)||'.25' ELSE '' END
             |    || CASE WHEN doc_id % 11 = 0
             |            THEN ' ref 4415'||lpad((doc_id % 1000000)::VARCHAR, 6, '0') ELSE '' END
             |    AS t2 FROM documents),
             |c AS (SELECT source,
             |    len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
             |    len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS i,
             |    len(regexp_extract_all(t2, '\b\d{10,15}\b')) AS n
             |  FROM inj)
             |SELECT source, count(*) AS n_docs,
             |  sum(CASE WHEN e + i + n > 0 THEN 1 ELSE 0 END)::BIGINT AS n_pii_docs,
             |  sum(e)::BIGINT AS emails, sum(i)::BIGINT AS ips, sum(n)::BIGINT AS nums,
             |  round(sum(CASE WHEN e + i + n > 0 THEN 1 ELSE 0 END)
             |    / CAST(count(*) AS DOUBLE), 6) AS pii_rate
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── per-class precision/recall/F1 for the language-ID guess ────────
    "q227_langid_f1" -> Q(
      (s, dir) => {
        import s.implicits._
        val markers = Map(
          "de" -> Seq("der", "und"), "en" -> Seq("the", "a"),
          "es" -> Seq("el", "y"), "fr" -> Seq("le", "et"))
        val pred = Tables.documents(s, dir).select($"lang",
          TextStats.langGuess($"text", markers).as("lang_guess"))
        Classifier.perClassF1(pred, "lang", "lang_guess")
          .orderBy($"clazz")
      },
      Some(s"""WITH $langIdOracleCtes,
              |ct AS (SELECT lang AS truth, lang_guess AS pred, count(*) AS n
              |       FROM g GROUP BY 1, 2),
              |rt AS (SELECT truth AS clazz, sum(n)::BIGINT AS n_true FROM ct GROUP BY 1),
              |pt AS (SELECT pred AS clazz, sum(n)::BIGINT AS n_pred FROM ct GROUP BY 1),
              |tp AS (SELECT truth AS clazz, n::BIGINT AS tp FROM ct WHERE truth = pred),
              |j AS (SELECT COALESCE(rt.clazz, pt.clazz) AS clazz,
              |        COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred
              |      FROM rt FULL OUTER JOIN pt ON rt.clazz = pt.clazz)
              |SELECT j.clazz, j.n_true, j.n_pred, COALESCE(tp.tp, 0) AS tp,
              |  CASE WHEN j.n_pred > 0
              |    THEN round(COALESCE(tp.tp, 0) / CAST(j.n_pred AS DOUBLE), 6) END AS precision,
              |  CASE WHEN j.n_true > 0
              |    THEN round(COALESCE(tp.tp, 0) / CAST(j.n_true AS DOUBLE), 6) END AS recall,
              |  CASE WHEN j.n_pred + j.n_true > 0
              |    THEN round(2.0 * COALESCE(tp.tp, 0) / CAST(j.n_pred + j.n_true AS DOUBLE), 6) END AS f1
              |FROM j LEFT JOIN tp ON j.clazz = tp.clazz ORDER BY j.clazz""".stripMargin)),

    // ─── RFM customer segmentation (recency / frequency / monetary) ─────
    "q228_rfm_segments" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val cust = Tables.orders(s, dir).groupBy($"o_custkey")
          .agg(max(to_date($"o_orderdate")).as("__last"),
            count(lit(1)).as("__freq"),
            sum($"o_totalprice".cast("decimal(18,6)")).as("__mon"))
        val mx = cust.agg(max($"__last").as("__gmax"))
        // customers scale with the data: each RFM quintile runs as a
        // distributed ntile (range exchange + rank arithmetic), not a
        // single-partition window
        val rec = Ranks.withNtile(
          cust.crossJoin(broadcast(mx))
            .withColumn("__rec", datediff($"__gmax", $"__last")),
          "__r", 5, $"__rec".desc, $"o_custkey")
        val scored = Ranks.withNtile(
          Ranks.withNtile(rec, "__f", 5, $"__freq".asc, $"o_custkey"),
          "__m", 5, $"__mon".asc, $"o_custkey")
        scored
          .withColumn("segment", $"__r" * 100 + $"__f" * 10 + $"__m")
          .groupBy($"segment")
          .agg(count(lit(1)).as("n_customers"),
            round(sum($"__mon").cast("double") / count(lit(1)), 6).as("avg_monetary"))
          .orderBy($"segment")
      },
      Some("""WITH cust AS (SELECT o_custkey,
             |        max(CAST(o_orderdate AS DATE)) AS last_d,
             |        count(*) AS freq,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS mon
             |      FROM orders GROUP BY 1),
             |mx AS (SELECT max(last_d) AS gmax FROM cust),
             |sc AS (SELECT o_custkey, mon,
             |         CAST(ntile(5) OVER (ORDER BY date_diff('day', last_d, mx.gmax) DESC, o_custkey) AS BIGINT) AS r,
             |         CAST(ntile(5) OVER (ORDER BY freq ASC, o_custkey) AS BIGINT) AS f,
             |         CAST(ntile(5) OVER (ORDER BY mon ASC, o_custkey) AS BIGINT) AS m
             |       FROM cust CROSS JOIN mx)
             |SELECT r * 100 + f * 10 + m AS segment, count(*) AS n_customers,
             |  round(CAST(sum(mon) AS DOUBLE) / count(*), 6) AS avg_monetary
             |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── near-dup cluster-size histogram ────────────────────────────────
    "q229_cluster_sizes" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
            pairs.select($"id_a", $"id_b"))
          .groupBy($"label").agg(count(lit(1)).as("cluster_size"))
          .groupBy($"cluster_size").agg(count(lit(1)).as("n_clusters"))
          .orderBy($"cluster_size")
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
              |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
              |SELECT cluster_size, count(*) AS n_clusters
              |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── feature-hashed sparse doc embedding (hashing trick) ────────────
    "q230_hashed_embedding" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.hashedDocEmbedding(Tables.documents(s, dir), "doc_id", "text",
            buckets = 16)
          .orderBy($"doc_id", $"bucket")
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |        (${sqlHash(31, "w")} % 16) AS bucket
              |      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
              |      WHERE w <> ''),
              |bc AS (SELECT doc_id, bucket, count(*) AS c FROM t GROUP BY 1, 2),
              |tt AS (SELECT doc_id, sum(c) AS tot FROM bc GROUP BY 1)
              |SELECT bc.doc_id, bc.bucket, round(bc.c / CAST(tt.tot AS DOUBLE), 6) AS wt
              |FROM bc JOIN tt USING (doc_id) ORDER BY bc.doc_id, bc.bucket""".stripMargin)),

    // ─── Wilson score lower bound per event type (ranking-safe rates) ───
    "q231_wilson_bound" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.wilsonLowerBound(Tables.events(s, dir), "event_type",
            $"value" >= 100.0, z = 1.96)
          .orderBy($"grp")
      },
      Some {
        val z = 1.96; val z2 = z * z
        s"""WITH a AS (SELECT event_type AS grp, count(*) AS n,
           |        sum(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)::BIGINT AS k
           |      FROM events GROUP BY 1),
           |e AS (SELECT grp, n, k, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM a)
           |SELECT grp, n, k, round(p, 6) AS p_hat,
           |  round((p + CAST($z2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))
           |      - CAST($z AS DOUBLE) * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
           |          + CAST($z2 AS DOUBLE) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
           |    / (1.0 + CAST($z2 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS wilson_lb
           |FROM e ORDER BY grp""".stripMargin
      }),

    // ─── two-proportion z-test between user-parity arms ─────────────────
    "q232_ab_ztest" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.twoProportionZ(
          Tables.events(s, dir).withColumn("arm",
            when(pmod($"user_id", lit(2L)) === 0L, "A").otherwise("B")),
          "arm", $"event_type" === "purchase")
      },
      Some("""WITH a AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             |        count(*) AS n,
             |        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS k
             |      FROM events GROUP BY 1),
             |w AS (SELECT
             |        max(CASE WHEN arm = 'A' THEN arm END) AS arm_a,
             |        max(CASE WHEN arm = 'B' THEN arm END) AS arm_b,
             |        max(CASE WHEN arm = 'A' THEN n END)::BIGINT AS n_a,
             |        max(CASE WHEN arm = 'A' THEN k END)::BIGINT AS k_a,
             |        max(CASE WHEN arm = 'B' THEN n END)::BIGINT AS n_b,
             |        max(CASE WHEN arm = 'B' THEN k END)::BIGINT AS k_b
             |      FROM a)
             |SELECT arm_a, arm_b, n_a, k_a, n_b, k_b,
             |  round((CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             |      - CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             |    / sqrt((CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
             |        * (1.0 - CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
             |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) AS z
             |FROM w""".stripMargin)),

    // ─── CUSUM level-shift scan over monthly revenue ────────────────────
    "q233_cusum_changepoint" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.cusumChangepoint(Tables.lineitem(s, dir), "l_shipdate",
            "l_extendedprice")
          .orderBy($"month")
      },
      Some("""WITH mth AS (SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS v
             |      FROM lineitem GROUP BY 1),
             |c AS (SELECT month, v,
             |        CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS rn,
             |        CAST(sum(v) OVER (ORDER BY month
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,6)) AS cumv,
             |        CAST(sum(v) OVER () AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE) AS mean
             |      FROM mth),
             |d AS (SELECT month, v,
             |        round(CAST(cumv AS DOUBLE) - CAST(rn AS DOUBLE) * mean, 6) AS cusum
             |      FROM c),
             |e AS (SELECT *, max(abs(cusum)) OVER () AS mx FROM d),
             |f AS (SELECT *, min(CASE WHEN abs(cusum) = mx THEN month END) OVER () AS pk FROM e)
             |SELECT month, round(CAST(v AS DOUBLE), 6) AS value, cusum,
             |  abs(cusum) = mx AND month = pk AS is_peak
             |FROM f ORDER BY month""".stripMargin)),

    // ─── weighted median unit price per return flag ─────────────────────
    "q234_weighted_median" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.weightedMedian(
          Tables.lineitem(s, dir).where($"l_quantity" > 0),
          "l_returnflag",
          $"l_extendedprice" / $"l_quantity",
          $"l_quantity",
          concat($"l_orderkey", lit("-"), $"l_linenumber"))
          .orderBy($"grp")
      },
      Some("""WITH b AS (SELECT l_returnflag AS grp,
             |        CAST(round(l_extendedprice / l_quantity, 9) AS DECIMAL(15,9)) AS v,
             |        CAST(l_quantity AS DECIMAL(18,6)) AS w,
             |        l_orderkey || '-' || l_linenumber AS tb
             |      FROM lineitem WHERE l_quantity > 0),
             |c AS (SELECT grp, v, w,
             |        CAST(sum(w) OVER (PARTITION BY grp ORDER BY v, tb
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(28,6)) AS cum,
             |        CAST(sum(w) OVER (PARTITION BY grp) AS DECIMAL(28,6)) AS tot
             |      FROM b)
             |SELECT grp, CAST(max(tot) AS DOUBLE) AS total_weight,
             |  CAST(min(CASE WHEN cum * 2 >= tot THEN v END) AS DOUBLE) AS w_median
             |FROM c GROUP BY grp ORDER BY grp""".stripMargin)),

    // ─── trend strength of monthly revenue (FPP F_T) ────────────────────
    "q235_trend_strength" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.trendStrength(Tables.lineitem(s, dir), "l_shipdate",
          "l_extendedprice")
      },
      Some("""WITH mth AS (SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS v
             |      FROM lineitem GROUP BY 1),
             |w AS (SELECT month, v,
             |        count(*) OVER win AS n3, sum(v) OVER win AS s3
             |      FROM mth
             |      WINDOW win AS (ORDER BY month ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)),
             |d AS (SELECT round(CAST(v AS DOUBLE), 6) AS value,
             |        round(CAST(s3 AS DOUBLE) / 3.0, 6) AS trend,
             |        round(CAST(v AS DOUBLE) - CAST(s3 AS DOUBLE) / 3.0, 6) AS resid
             |      FROM w WHERE n3 = 3),
             |mn AS (SELECT CAST(sum(CAST(value AS DECIMAL(24,6))) AS DOUBLE)
             |          / CAST(count(*) AS DOUBLE) AS mean FROM d),
             |p AS (SELECT round(value / mn.mean, 9) AS nv, round(resid / mn.mean, 9) AS nr
             |      FROM d CROSS JOIN mn),
             |a AS (SELECT count(*) AS n_months,
             |        sum(CAST(nv AS DECIMAL(18,9))) AS sv,
             |        sum(CAST(round(nv*nv, 9) AS DECIMAL(18,9))) AS svv,
             |        sum(CAST(nr AS DECIMAL(18,9))) AS sr,
             |        sum(CAST(round(nr*nr, 9) AS DECIMAL(18,9))) AS srr
             |      FROM p)
             |SELECT n_months,
             |  round(CAST(svv AS DOUBLE) / n_months
             |    - (CAST(sv AS DOUBLE) / n_months) * (CAST(sv AS DOUBLE) / n_months), 9) AS var_value_norm,
             |  round(CAST(srr AS DOUBLE) / n_months
             |    - (CAST(sr AS DOUBLE) / n_months) * (CAST(sr AS DOUBLE) / n_months), 9) AS var_resid_norm,
             |  round(greatest(0.0,
             |    1.0 - (CAST(srr AS DOUBLE) / n_months
             |        - (CAST(sr AS DOUBLE) / n_months) * (CAST(sr AS DOUBLE) / n_months))
             |      / (CAST(svv AS DOUBLE) / n_months
             |        - (CAST(sv AS DOUBLE) / n_months) * (CAST(sv AS DOUBLE) / n_months))), 6) AS trend_strength
             |FROM a""".stripMargin)),

    // ─── per-language Brier score of the quality classifier ─────────────
    "q236_brier_score" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val w = Classifier.logregFit(docs, "doc_id", "text", $"lang" === "en")
        val scored = Classifier.logregScore(docs, "doc_id", "text",
          $"lang" === "en", w)
        scored.join(docs.select($"doc_id", $"lang"), "doc_id")
          .select($"lang", $"p", $"is_target".cast("double").as("y"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"),
            round(sum(round(($"p" - $"y") * ($"p" - $"y"), 9)
              .cast("decimal(12,9)")).cast("double") / count(lit(1)), 6).as("brier"))
          .orderBy($"lang")
      },
      Some(LogregOracle.brierSql("lang = 'en'", buckets = 64, iters = 3,
        rate = "0.02::DOUBLE"))),

    // ─── lexical-vs-dense retrieval agreement (overlap@k) ───────────────
    "q237_rank_overlap" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val bm = TextStats.bm25(Tables.documents(s, dir), "doc_id", "text",
            terms = Seq("vector", "stream", "hash"), topN = 20)
          .withColumn("r_bm", row_number().over(
            Window.orderBy($"score".desc, $"doc_id")))
          .select($"doc_id", $"r_bm")
        val emb = Tables.embeddings(s, dir)
        val q = emb.filter($"vec_id" === 0).select($"embedding".as("qvec"))
        val cs = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 20)
          .withColumn("r_cs", row_number().over(
            Window.orderBy($"sim".desc, $"vec_id")))
          .select($"vec_id".as("doc_id"), $"r_cs")
        val joined = bm.join(cs, Seq("doc_id")).localCheckpoint(false)
        val ks = Seq(5, 10, 20)
        ks.map { k =>
          joined.agg(
            lit(k).as("k"),
            coalesce(sum(when($"r_bm" <= k && $"r_cs" <= k, 1L).otherwise(0L)),
              lit(0L)).as("n_overlap"))
        }.reduce(_ unionByName _)
          .withColumn("overlap_at_k",
            round($"n_overlap".cast("double") / $"k".cast("double"), 6))
          .orderBy($"k")
      },
      Some {
        val cos =
          """(list_reduce(list_transform(list_zip(embedding, q2.qvec), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s1,t1) -> s1+t1) /
            | (sqrt(list_reduce(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1)) *
            |  sqrt(list_reduce(list_transform(q2.qvec, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1))))""".stripMargin
        s"""WITH $bm25OracleCtes,
           |bm AS (SELECT doc_id, $bm25OracleScore AS score FROM p),
           |bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_bm
           |        FROM bm ORDER BY score DESC, doc_id LIMIT 20),
           |q2 AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |cs AS (SELECT vec_id, $cos AS sim FROM embeddings CROSS JOIN q2),
           |csr AS (SELECT vec_id AS doc_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r_cs
           |        FROM cs ORDER BY sim DESC, vec_id LIMIT 20),
           |j AS (SELECT bmr.doc_id, r_bm, r_cs FROM bmr JOIN csr USING (doc_id)),
           |ks(k) AS (VALUES (5), (10), (20))
           |SELECT CAST(ks.k AS INTEGER) AS k,
           |  sum(CASE WHEN r_bm <= ks.k AND r_cs <= ks.k THEN 1 ELSE 0 END)::BIGINT AS n_overlap,
           |  round(sum(CASE WHEN r_bm <= ks.k AND r_cs <= ks.k THEN 1 ELSE 0 END)
           |    / CAST(ks.k AS DOUBLE), 6) AS overlap_at_k
           |FROM ks LEFT JOIN j ON true
           |GROUP BY ks.k ORDER BY ks.k""".stripMargin
      }),

    // ─── label-relevance retrieval eval: first-rel rank, RR, NDCG@10 ────
    "q238_retrieval_eval" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.labelRetrievalEval(Tables.embeddings(s, dir), "vec_id",
            "embedding", "label", nQueries = 5, k = 10)
          .select($"query_id", $"first_rel_rank", $"rr", $"ndcg")
          .orderBy($"query_id")
      },
      Some {
        val ln2 = math.log(2.0)
        val idealDen = (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / ln2)).sum
        def cos(a: String, b: String) =
          s"""(list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s1,t1) -> s1+t1) /
             | (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1)) *
             |  sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1))))""".stripMargin
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
           |           FROM embeddings WHERE vec_id < 5),
           |sc AS (SELECT q.qid, q.ql, e.vec_id AS id, e.label AS l,
           |         ${cos("e.embedding", "q.qv")} AS sim
           |       FROM embeddings e JOIN q ON e.vec_id <> q.qid),
           |r AS (SELECT qid, ql, id, l,
           |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
           |      FROM sc),
           |a AS (SELECT qid AS query_id,
           |        CAST(min(CASE WHEN l = ql THEN rk END) AS INTEGER) AS first_rel_rank,
           |        sum(CASE WHEN rk <= 10 AND l = ql
           |            THEN CAST(round(1.0 / (ln(rk + 1) / CAST($ln2 AS DOUBLE)), 9) AS DECIMAL(12,9))
           |            ELSE CAST(0.0 AS DECIMAL(12,9)) END) AS dcg
           |      FROM r GROUP BY 1)
           |SELECT query_id, first_rel_rank,
           |  round(CAST(1.0 AS DOUBLE) / first_rel_rank, 6) AS rr,
           |  round(CAST(dcg AS DOUBLE) / CAST($idealDen AS DOUBLE), 6) AS ndcg
           |FROM a ORDER BY query_id""".stripMargin
      }),

    // ─── label-relevance recall@10 (the retrieval-eval completeness leg) ─
    "q239_recall_at_k" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.labelRetrievalEval(Tables.embeddings(s, dir), "vec_id",
            "embedding", "label", nQueries = 5, k = 10)
          .select($"query_id", $"n_rel", $"n_rel_topk", $"recall_at_k")
          .orderBy($"query_id")
      },
      Some {
        def cos(a: String, b: String) =
          s"""(list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (s1,t1) -> s1+t1) /
             | (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1)) *
             |  sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (s1,t1) -> s1+t1))))""".stripMargin
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS ql
           |           FROM embeddings WHERE vec_id < 5),
           |sc AS (SELECT q.qid, q.ql, e.vec_id AS id, e.label AS l,
           |         ${cos("e.embedding", "q.qv")} AS sim
           |       FROM embeddings e JOIN q ON e.vec_id <> q.qid),
           |r AS (SELECT qid, ql, l,
           |        row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
           |      FROM sc),
           |a AS (SELECT qid AS query_id,
           |        sum(CASE WHEN l = ql THEN 1 ELSE 0 END)::BIGINT AS n_rel,
           |        sum(CASE WHEN rk <= 10 AND l = ql THEN 1 ELSE 0 END)::BIGINT AS n_rel_topk
           |      FROM r GROUP BY 1)
           |SELECT query_id, n_rel, n_rel_topk,
           |  CASE WHEN n_rel > 0 THEN
           |    round(CAST(n_rel_topk AS DOUBLE) / CAST(least(10, n_rel) AS DOUBLE), 6)
           |  END AS recall_at_k
           |FROM a ORDER BY query_id""".stripMargin
      }),

    // ─── embedding-space isotropy audit (mean pairwise cosine, no pairs) ─
    "q240_isotropy" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.isotropyAudit(Tables.embeddings(s, dir), "vec_id", "embedding")
      },
      Some("""WITH u AS (SELECT vec_id,
             |        list_transform(embedding, v -> v::DOUBLE /
             |          sqrt(list_reduce(list_transform(embedding, w -> w::DOUBLE * w::DOUBLE), (a,b) -> a+b))) AS u
             |      FROM embeddings),
             |x AS (SELECT CAST(i AS INTEGER) AS pos, u[i+1] AS v
             |      FROM u CROSS JOIN range(64) t(i)),
             |s AS (SELECT pos,
             |        CAST(sum(CAST(round(v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) AS sv
             |      FROM x GROUP BY 1),
             |n2 AS (SELECT sum(CAST(round(sv * sv, 9) AS DECIMAL(28,9))) AS nn FROM s),
             |cnt AS (SELECT count(*) AS n FROM embeddings)
             |SELECT cnt.n AS n_vectors,
             |  round((CAST(n2.nn AS DOUBLE) - CAST(cnt.n AS DOUBLE))
             |    / (CAST(cnt.n AS DOUBLE) * (CAST(cnt.n AS DOUBLE) - 1.0)), 6) AS mean_pair_cos
             |FROM n2 CROSS JOIN cnt""".stripMargin)),

    // ─── per-term blocklist incidence (which rules actually fire) ───────
    "q241_blocklist_hits" -> Q(
      (s, dir) => {
        import s.implicits._
        val n = Tables.documents(s, dir).count()
        Tables.documents(s, dir)
          .select(explode(array(blocklistTerms.map(t =>
            struct(lit(t).as("term"),
              lower($"text").contains(t).cast("int").as("hit"))): _*)).as("x"))
          .groupBy($"x.term".as("term"))
          .agg(sum($"x.hit").cast("long").as("n_docs"))
          .withColumn("rate", round($"n_docs".cast("double") / lit(n.toDouble), 6))
          .orderBy($"term")
      },
      Some {
        val arms = blocklistTerms.map(t =>
          s"SELECT '$t' AS term, sum(CASE WHEN contains(lower(text), '$t') THEN 1 ELSE 0 END)::BIGINT AS n_docs FROM documents")
          .mkString("\nUNION ALL ")
        s"""WITH a AS ($arms), nn AS (SELECT count(*) AS n FROM documents)
           |SELECT term, n_docs,
           |  round(n_docs / CAST(nn.n AS DOUBLE), 6) AS rate
           |FROM a CROSS JOIN nn ORDER BY term""".stripMargin
      }),

    // ─── day-of-week activity profile (engine-portable integer dow) ─────
    "q242_dow_profile" -> Q(
      (s, dir) => {
        import s.implicits._
        val n = Tables.events(s, dir).count()
        // (epoch-days + 4) % 7: 0=Sunday — pure integer arithmetic, no
        // engine dow-numbering convention in sight
        Tables.events(s, dir)
          .select(pmod(datediff(to_date($"ts"),
            lit("1970-01-01").cast("date")) + 4, lit(7)).as("dow"))
          .groupBy($"dow").agg(count(lit(1)).as("n_events"))
          .withColumn("share", round($"n_events".cast("double") / lit(n.toDouble), 6))
          .orderBy($"dow")
      },
      Some("""WITH d AS (SELECT (date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 AS dow
             |      FROM events),
             |nn AS (SELECT count(*) AS n FROM events)
             |SELECT CAST(dow AS INTEGER) AS dow, count(*) AS n_events,
             |  round(count(*) / CAST(nn.n AS DOUBLE), 6) AS share
             |FROM d CROSS JOIN nn GROUP BY dow, nn.n ORDER BY dow""".stripMargin)),

    // ─── forward as-of join: next purchase at-or-after each event ───────
    "q243_asof_forward" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"event_id", $"value")
        val nonPurchase = ev.filter($"event_type" =!= "purchase")
        AsOf.asofForward(nonPurchase, "user_id", "ts", purchases, "user_id", "ts",
            carry = Seq("event_id", "value"), outPrefix = "np_")
          .select($"event_id", $"user_id", $"event_type",
            $"np_event_id".as("next_purchase_id"),
            $"np_value".as("next_purchase_value"))
          .orderBy($"event_id")
      },
      Some("""WITH np AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
             |      FROM events WHERE event_type <> 'purchase'),
             |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
             |      FROM events WHERE event_type = 'purchase'),
             |m AS (SELECT np.event_id AS eid, p.event_id AS pid, p.value AS pv,
             |        row_number() OVER (PARTITION BY np.event_id
             |          ORDER BY p.ts ASC, p.event_id DESC, p.value DESC) AS rn
             |      FROM np JOIN p ON np.user_id = p.user_id AND p.ts >= np.ts),
             |best AS (SELECT eid, pid, pv FROM m WHERE rn = 1)
             |SELECT np.event_id, np.user_id, np.event_type,
             |  best.pid AS next_purchase_id, best.pv AS next_purchase_value
             |FROM np LEFT JOIN best ON np.event_id = best.eid
             |ORDER BY np.event_id""".stripMargin)),

    // ─── burstiest users: min 5-event window duration ───────────────────
    "q244_burst_window" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables.events(s, dir)
          .withColumn("__win",
            lead(unix_micros($"ts"), 4).over(w) - unix_micros($"ts"))
          .groupBy($"user_id")
          .agg(min($"__win").as("min_window_us"))
          .where($"min_window_us".isNotNull)
          .orderBy($"min_window_us".asc, $"user_id")
          .limit(20)
      },
      Some("""WITH d AS (SELECT user_id,
             |        lead(epoch_us(CAST(ts AS TIMESTAMP)), 4) OVER
             |          (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
             |          - epoch_us(CAST(ts AS TIMESTAMP)) AS win
             |      FROM events),
             |a AS (SELECT user_id, min(win) AS min_window_us FROM d GROUP BY 1)
             |SELECT user_id, min_window_us FROM a WHERE min_window_us IS NOT NULL
             |ORDER BY min_window_us ASC, user_id LIMIT 20""".stripMargin)),

    // ─── 2-D decile histogram: doc length × mean token length ───────────
    "q245_hist2d" -> Q(
      (s, dir) => {
        import s.implicits._
        // doc-level deciling scales with the corpus: distributed ntiles
        val m = Tables.documents(s, dir)
          .select($"doc_id", $"n_chars",
            TextStats.meanTokenLen($"text").as("__mtl"))
        Ranks.withNtile(
            Ranks.withNtile(m, "len_decile", 10, $"n_chars", $"doc_id"),
            "mtl_decile", 10, $"__mtl", $"doc_id")
          .groupBy($"len_decile", $"mtl_decile")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy($"len_decile", $"mtl_decile")
      },
      Some("""WITH m AS (SELECT doc_id, n_chars,
             |        list_sum(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t)))::DOUBLE
             |          / len(regexp_split_to_array(text, '\s+')) AS mtl
             |      FROM documents),
             |d AS (SELECT CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS len_decile,
             |        CAST(ntile(10) OVER (ORDER BY mtl, doc_id) AS BIGINT) AS mtl_decile
             |      FROM m)
             |SELECT len_decile, mtl_decile, count(*) AS n_docs
             |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ─── 2-D skyline: cheapest-per-size Pareto frontier of parts ────────
    // The classic skyline operator in one sorted pass (running maxima
    // over integer-scaled price RANGE frames) — no self-join, no
    // quadratic dominance check.
    "q246_skyline" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.skyline2d(Tables.part(s, dir), "p_partkey",
            $"p_retailprice", $"p_size", xScale = 100L)
          .select($"p_partkey", $"__x".as("price_cents"), $"__y".as("size"))
          .orderBy($"p_partkey")
      },
      Some("""WITH b AS (SELECT p_partkey,
             |        CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
             |        CAST(p_size AS BIGINT) AS size
             |      FROM part),
             |w AS (SELECT p_partkey, price_cents, size,
             |        max(size) OVER (ORDER BY price_cents
             |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mlt,
             |        max(size) OVER (ORDER BY price_cents
             |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mle
             |      FROM b)
             |SELECT p_partkey, price_cents, size FROM w
             |WHERE NOT (COALESCE(mlt, -9223372036854775808) >= size)
             |  AND NOT (mle > size)
             |ORDER BY p_partkey""".stripMargin)),

    // ─── one-way ANOVA F: does document length differ by language? ──────
    "q247_anova_f" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.anovaF(Tables.documents(s, dir), "lang", "n_chars")
      },
      Some("""WITH g AS (SELECT lang, count(*) AS n,
             |        sum(CAST(n_chars AS DECIMAL(38,0))) AS sx,
             |        sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS sxx
             |      FROM documents GROUP BY 1),
             |t AS (SELECT sum(n)::BIGINT AS N, sum(sx) AS tsx, sum(sxx) AS tsxx FROM g),
             |a AS (SELECT count(*) AS k_groups, max(t.N) AS n_total,
             |        max(CAST(t.tsx AS DOUBLE)) AS tsxD,
             |        max(CAST(t.tsxx AS DOUBLE)) AS tsxxD,
             |        sum(CAST(round(
             |          (CAST(g.sx AS DOUBLE) / (CAST(t.tsx AS DOUBLE) / CAST(t.N AS DOUBLE)))
             |          * (CAST(g.sx AS DOUBLE) / (CAST(t.tsx AS DOUBLE) / CAST(t.N AS DOUBLE)))
             |          / CAST(g.n AS DOUBLE), 9) AS DECIMAL(28,9))) AS ssq
             |      FROM g CROSS JOIN t)
             |SELECT k_groups, n_total,
             |  CASE WHEN k_groups >= 2 AND n_total > k_groups
             |      AND (tsxxD / ((tsxD / CAST(n_total AS DOUBLE)) * (tsxD / CAST(n_total AS DOUBLE)))
             |           - CAST(ssq AS DOUBLE)) > 0.0
             |    THEN round(
             |      ((CAST(ssq AS DOUBLE)
             |          - (tsxD / (tsxD / CAST(n_total AS DOUBLE)))
             |            * (tsxD / (tsxD / CAST(n_total AS DOUBLE))) / CAST(n_total AS DOUBLE))
             |        / (CAST(k_groups AS DOUBLE) - 1.0))
             |      / ((tsxxD / ((tsxD / CAST(n_total AS DOUBLE)) * (tsxD / CAST(n_total AS DOUBLE)))
             |          - CAST(ssq AS DOUBLE))
             |        / (CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE))), 6)
             |  END AS f_stat
             |FROM a""".stripMargin)),

    // ─── k-anonymity audit over (lang, length-decile) quasi-identifiers ─
    "q248_kanonymity" -> Q(
      (s, dir) => {
        import s.implicits._
        // doc-level decile QI: distributed ntile over the corpus
        val qi = Ranks.withNtile(Tables.documents(s, dir),
          "len_decile", 10, $"n_chars", $"doc_id")
        Profile.kAnonymity(qi, Seq("lang", "len_decile"), k = 5L)
      },
      Some("""WITH qi AS (SELECT lang,
             |        CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS len_decile
             |      FROM documents),
             |g AS (SELECT lang, len_decile, count(*) AS n FROM qi GROUP BY 1, 2)
             |SELECT count(*) AS n_groups,
             |  sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)::BIGINT AS n_below_k,
             |  sum(CASE WHEN n < 5 THEN n ELSE 0 END)::BIGINT AS n_rows_below_k,
             |  min(n) AS min_group_size
             |FROM g""".stripMargin)),

    // ─── join-fanout profile (join-explosion risk audit) ────────────────
    "q249_fanout_profile" -> Q(
      (s, dir) => {
        import s.implicits._
        def prof(name: String, df: org.apache.spark.sql.DataFrame, key: String) =
          df.groupBy(col(key)).agg(count(lit(1)).as("__n"))
            .agg(lit(name).as("relation"),
              count(lit(1)).as("n_keys"), max($"__n").as("max_fanout"),
              round(sum($"__n").cast("double") / count(lit(1)).cast("double"), 6)
                .as("avg_fanout"))
        prof("lineitem.orderkey", Tables.lineitem(s, dir), "l_orderkey")
          .unionByName(prof("lineitem.partkey", Tables.lineitem(s, dir), "l_partkey"))
          .unionByName(prof("lineitem.suppkey", Tables.lineitem(s, dir), "l_suppkey"))
          .unionByName(prof("orders.custkey", Tables.orders(s, dir), "o_custkey"))
          .orderBy($"relation")
      },
      Some {
        val rels = Seq(("lineitem.orderkey", "lineitem", "l_orderkey"),
          ("lineitem.partkey", "lineitem", "l_partkey"),
          ("lineitem.suppkey", "lineitem", "l_suppkey"),
          ("orders.custkey", "orders", "o_custkey"))
        rels.map { case (name, t, k) =>
          s"""SELECT '$name' AS relation, count(*) AS n_keys,
             |  max(n) AS max_fanout,
             |  round(sum(n) / CAST(count(*) AS DOUBLE), 6) AS avg_fanout
             |FROM (SELECT $k, count(*) AS n FROM $t GROUP BY 1)""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY relation")
      }),

    // ─── corpus release gate: five gated metrics, one pass/fail table ───
    // The report a 100 TB release reads before shipping: each metric is
    // the literal expression of its own gated query (q24 dup rule, q171
    // PII counters, lang entropy, q75 quality rules, q225 shapes) with
    // a literal threshold.
    "q250_release_gate" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).localCheckpoint(false)
        val n = docs.count()
        val nD = lit(n.toDouble)
        val dup = docs.agg((lit(1.0) -
          countDistinct(md5(regexp_replace(trim(lower($"text")), "\\s+", " ")))
            .cast("double") / nD).as("value"))
          .select(lit("exact_dup_rate").as("check"), round($"value", 6).as("value"))
          .withColumn("pass", $"value" <= 0.05)
        val pii = docs.select(TextStats.piiCounts($"text").as("pc"))
          .agg((sum(when($"pc.n_email" + $"pc.n_ip" + $"pc.n_num" > 0, 1L)
            .otherwise(0L)).cast("double") / nD).as("value"))
          .select(lit("pii_doc_rate").as("check"), round($"value", 6).as("value"))
          .withColumn("pass", $"value" <= 0.01)
        val ent = docs.groupBy($"lang").agg(count(lit(1)).as("__c"))
          .agg(sum(round(($"__c".cast("double") / nD) *
            log($"__c".cast("double") / nD), 9).cast("decimal(12,9)")).as("__s"))
          .select(lit("lang_entropy").as("check"),
            round(-$"__s".cast("double"), 6).as("value"))
          .withColumn("pass", $"value" >= 1.0)
        val qual = docs.agg((sum(when(
            TextStats.qualityKeep($"text", Seq("the", "a")), 1L).otherwise(0L))
            .cast("double") / nD).as("value"))
          .select(lit("quality_keep_rate").as("check"), round($"value", 6).as("value"))
          .withColumn("pass", $"value" >= 0.5)
        val shape = array_join(transform(split(lower($"text"), " "),
          t => when(length(t) <= 2, lit("s"))
            .when(length(t) <= 5, lit("m")).otherwise(lit("l"))), "")
        val tmpl = docs.select(Dedup.baseHash(shape).as("__fp"))
          .groupBy($"__fp").agg(count(lit(1)).as("__n"))
          .agg((sum(when($"__n" >= 2, $"__n").otherwise(lit(0L))).cast("double") / nD)
            .as("value"))
          .select(lit("template_rate").as("check"), round($"value", 6).as("value"))
          .withColumn("pass", $"value" <= 0.05)
        dup.unionByName(pii).unionByName(ent).unionByName(qual).unionByName(tmpl)
          .orderBy($"check")
      },
      Some("""WITH nn AS (SELECT count(*) AS n FROM documents),
             |dup AS (SELECT 'exact_dup_rate' AS check,
             |    round(1.0 - count(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
             |      / CAST(nn.n AS DOUBLE), 6) AS value
             |  FROM documents CROSS JOIN nn GROUP BY nn.n),
             |pii AS (SELECT 'pii_doc_rate' AS check,
             |    round(sum(CASE WHEN
             |        len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             |        + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             |        + len(regexp_extract_all(text, '\b\d{10,15}\b')) > 0
             |      THEN 1 ELSE 0 END) / CAST(nn.n AS DOUBLE), 6) AS value
             |  FROM documents CROSS JOIN nn GROUP BY nn.n),
             |ent AS (SELECT 'lang_entropy' AS check,
             |    round(-CAST(sum(CAST(round((c / CAST(nn.n AS DOUBLE))
             |        * ln(c / CAST(nn.n AS DOUBLE)), 9) AS DECIMAL(12,9))) AS DOUBLE), 6) AS value
             |  FROM (SELECT lang, CAST(count(*) AS DOUBLE) AS c FROM documents GROUP BY 1)
             |  CROSS JOIN nn GROUP BY nn.n),
             |m AS (SELECT
             |    CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS n_tokens,
             |    list_sum(list_transform(regexp_split_to_array(text, '\s+'), t -> length(t)))::DOUBLE
             |      / len(regexp_split_to_array(text, '\s+')) AS mean_token_len,
             |    len(list_filter(regexp_split_to_array(lower(text), '\s+'), t -> list_contains(['the','a'], t)))::DOUBLE
             |      / len(regexp_split_to_array(lower(text), '\s+')) AS stopword_ratio,
             |    CASE WHEN len(string_split(lower(text), ' ')) > 0
             |         THEN 1.0::DOUBLE - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
             |              / len(string_split(lower(text), ' '))
             |         ELSE 0.0::DOUBLE END AS word_rep
             |  FROM documents),
             |qual AS (SELECT 'quality_keep_rate' AS check,
             |    round(sum(CASE WHEN (n_tokens BETWEEN 20 AND 100000)
             |        AND (mean_token_len BETWEEN 3.0 AND 10.0)
             |        AND stopword_ratio >= 0.01 AND word_rep <= 0.6
             |      THEN 1 ELSE 0 END) / CAST(nn.n AS DOUBLE), 6) AS value
             |  FROM m CROSS JOIN nn GROUP BY nn.n),
             |tm AS (SELECT ('0x'||substr(md5(array_to_string(list_transform(string_split(lower(text), ' '),
             |      t -> CASE WHEN length(t) <= 2 THEN 's'
             |                WHEN length(t) <= 5 THEN 'm' ELSE 'l' END), '')),1,15))::BIGINT AS fp
             |  FROM documents),
             |tmpl AS (SELECT 'template_rate' AS check,
             |    round(sum(CASE WHEN gn >= 2 THEN gn ELSE 0 END) / CAST(nn.n AS DOUBLE), 6) AS value
             |  FROM (SELECT fp, count(*) AS gn FROM tm GROUP BY 1) CROSS JOIN nn GROUP BY nn.n),
             |u AS (SELECT * FROM dup UNION ALL SELECT * FROM pii UNION ALL SELECT * FROM ent
             |      UNION ALL SELECT * FROM qual UNION ALL SELECT * FROM tmpl)
             |SELECT u.check, u.value,
             |  CASE u.check
             |    WHEN 'exact_dup_rate' THEN u.value <= 0.05
             |    WHEN 'pii_doc_rate' THEN u.value <= 0.01
             |    WHEN 'lang_entropy' THEN u.value >= 1.0
             |    WHEN 'quality_keep_rate' THEN u.value >= 0.5
             |    ELSE u.value <= 0.05
             |  END AS pass
             |FROM u ORDER BY u.check""".stripMargin)),

    // ─── held-out smoothing shoot-out: add-0.5 vs Jelinek-Mercer ────────
    "q251_smoothing_compare" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.lmCompareHoldout(Tables.documents(s, dir), "doc_id", "text",
            $"doc_id" % 2 === 0, lambda = 0.7)
          .orderBy($"model")
      },
      Some("""WITH tk AS (SELECT doc_id, doc_id % 2 = 0 AS train,
             |        string_split(lower(text), ' ') AS tk FROM documents),
             |trt AS (SELECT unnest(tk) AS w FROM tk WHERE train),
             |uc AS (SELECT w, count(*) AS c1 FROM trt GROUP BY 1),
             |tt AS (SELECT count(*) AS t FROM trt),
             |vv AS (SELECT count(*) AS v FROM uc),
             |bgx AS (SELECT doc_id, train, tk, CAST(unnest(range(len(tk) - 1)) AS INTEGER) AS pos
             |        FROM tk WHERE len(tk) >= 2),
             |bg AS (SELECT doc_id, train, tk[pos+1] AS w1, tk[pos+2] AS w2 FROM bgx),
             |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg WHERE train GROUP BY 1, 2),
             |hb AS (SELECT w1, w2 FROM bg WHERE NOT train),
             |sc AS (SELECT
             |         COALESCE(u2.c1, 0) / CAST(tt.t AS DOUBLE) AS p1,
             |         CASE WHEN u1.c1 IS NOT NULL AND bc.c12 IS NOT NULL
             |              THEN CAST(bc.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
             |              ELSE 0.0::DOUBLE END AS p2,
             |         CAST(COALESCE(bc.c12, 0) AS DOUBLE) AS c12d,
             |         CAST(COALESCE(u1.c1, 0) AS DOUBLE) AS c1d,
             |         vv.v
             |       FROM hb LEFT JOIN uc u2 ON hb.w2 = u2.w
             |               LEFT JOIN uc u1 ON hb.w1 = u1.w
             |               LEFT JOIN bc ON hb.w1 = bc.w1 AND hb.w2 = bc.w2
             |               CROSS JOIN tt CROSS JOIN vv),
             |scf AS (SELECT * FROM sc WHERE p1 + p2 > 0.0),
             |a AS (SELECT count(*) AS n_bigrams,
             |        sum(CAST(round(ln((c12d + 0.5) / (c1d + 0.5 * CAST(v AS DOUBLE))), 9)
             |          AS DECIMAL(18,9))) AS sa,
             |        sum(CAST(round(ln(CAST(0.7 AS DOUBLE) * p2 + CAST(0.3 AS DOUBLE) * p1), 9)
             |          AS DECIMAL(18,9))) AS sj
             |      FROM scf)
             |SELECT * FROM (
             |  SELECT 'add_0.5' AS model, n_bigrams,
             |    round(CAST(sa AS DOUBLE) / n_bigrams, 6) AS mean_logprob FROM a
             |  UNION ALL
             |  SELECT 'jm_interp', n_bigrams,
             |    round(CAST(sj AS DOUBLE) / n_bigrams, 6) FROM a)
             |ORDER BY model""".stripMargin)),

    // ─── near-dup graph degree histogram ────────────────────────────────
    "q252_degree_histogram" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val n = docs.count()
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
          .filter($"jaccard" >= 0.5)
          .localCheckpoint(false)
        val deg = pairs.select(explode(array($"id_a", $"id_b")).as("doc_id"))
          .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
        val hist = deg.groupBy($"degree").agg(count(lit(1)).as("n_docs"))
        val nWith = deg.count()
        hist.unionByName(
            Seq((0L, n - nWith)).toDF("degree", "n_docs"))
          .where($"n_docs" > 0)
          .orderBy($"degree")
      },
      Some(s"""WITH $minhashCtes,
              |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
              |deg AS (SELECT doc_id, count(*) AS degree FROM
              |          (SELECT id_a AS doc_id FROM e UNION ALL SELECT id_b FROM e)
              |        GROUP BY 1),
              |h AS (SELECT degree, count(*) AS n_docs FROM deg GROUP BY 1
              |      UNION ALL
              |      SELECT 0, (SELECT count(*) FROM documents) - (SELECT count(*) FROM deg))
              |SELECT degree, n_docs FROM h WHERE n_docs > 0 ORDER BY degree""".stripMargin)),

    // ─── per-user event-type entropy (behavioral diversity) ─────────────
    "q253_session_entropy" -> Q(
      (s, dir) => {
        import s.implicits._
        val ut = Tables.events(s, dir)
          .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("__c"))
        val tot = ut.groupBy($"user_id").agg(sum($"__c").as("__n"))
        ut.join(tot, Seq("user_id"))
          .select($"user_id",
            round(($"__c".cast("double") / $"__n".cast("double")) *
              log($"__c".cast("double") / $"__n".cast("double")), 9)
              .cast("decimal(12,9)").as("__t"))
          .groupBy($"user_id")
          .agg(round(-sum($"__t").cast("double"), 6).as("entropy"))
          .orderBy($"entropy".desc, $"user_id")
          .limit(25)
      },
      Some("""WITH ut AS (SELECT user_id, event_type, count(*) AS c
             |      FROM events GROUP BY 1, 2),
             |tot AS (SELECT user_id, sum(c)::BIGINT AS n FROM ut GROUP BY 1),
             |t AS (SELECT ut.user_id,
             |        CAST(round((CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             |          * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9) AS DECIMAL(12,9)) AS term
             |      FROM ut JOIN tot USING (user_id)),
             |a AS (SELECT user_id, round(-CAST(sum(term) AS DOUBLE), 6) AS entropy
             |      FROM t GROUP BY 1)
             |SELECT user_id, entropy FROM a
             |ORDER BY entropy DESC, user_id LIMIT 25""".stripMargin)),

    // ─── mutual information lang × source ───────────────────────────────
    "q254_mutual_info" -> Q(
      (s, dir) => Profile.mutualInformation(
        Tables.documents(s, dir), "lang", "source"),
      Some("""WITH cells AS (SELECT lang AS a, source AS b, count(*) AS cab
             |      FROM documents GROUP BY 1, 2),
             |ma AS (SELECT a, sum(cab) AS ca FROM cells GROUP BY 1),
             |mb AS (SELECT b, sum(cab) AS cb FROM cells GROUP BY 1),
             |tot AS (SELECT sum(cab) AS n FROM cells),
             |t AS (SELECT n, CAST(round(
             |        (CAST(cab AS DOUBLE) / CAST(n AS DOUBLE)) *
             |        ln(CAST(cab AS DOUBLE) * CAST(n AS DOUBLE) /
             |           (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))), 9)
             |        AS DECIMAL(18,9)) AS term
             |      FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot)
             |SELECT CAST(n AS BIGINT) AS n, count(*) AS n_cells,
             |  round(CAST(sum(term) AS DOUBLE), 6) AS mi_nats
             |FROM t GROUP BY 1""".stripMargin)),

    // ─── brand co-purchase lift within orders ───────────────────────────
    "q255_copurchase_lift" -> Q(
      (s, dir) => {
        import s.implicits._
        val baskets = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
        Market.copurchaseLift(baskets, "l_orderkey", "p_brand", minPairs = 50L)
          .orderBy($"lift".desc, $"item_a", $"item_b")
          .limit(15)
      },
      Some("""WITH bi AS (SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS it
             |      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
             |nb AS (SELECT count(DISTINCT bk) AS n FROM bi),
             |ic AS (SELECT it, count(*) AS ci FROM bi GROUP BY 1),
             |pr AS (SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_ab
             |       FROM bi a JOIN bi b ON a.bk = b.bk AND a.it < b.it
             |       GROUP BY 1, 2 HAVING count(*) >= 50),
             |j AS (SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
             |        round(CAST(n AS DOUBLE) * CAST(n_ab AS DOUBLE) /
             |              (CAST(ca.ci AS DOUBLE) * CAST(cb.ci AS DOUBLE)), 6) AS lift
             |      FROM pr JOIN ic ca ON pr.item_a = ca.it
             |              JOIN ic cb ON pr.item_b = cb.it CROSS JOIN nb)
             |SELECT item_a, item_b, n_ab, lift FROM j
             |ORDER BY lift DESC, item_a, item_b LIMIT 15""".stripMargin)),

    // ─── daily-revenue autocorrelation, lags 1..7 ───────────────────────
    "q256_acf" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.acf(Tables.orders(s, dir), "o_orderdate", "o_totalprice",
            maxLag = 7)
          .orderBy($"lag")
      },
      Some("""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS v
             |      FROM orders GROUP BY 1),
             |st AS (SELECT sum(v) AS s, count(*) AS n FROM daily),
             |dev AS (SELECT d, CAST(round(CAST(v AS DOUBLE) -
             |          CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
             |          AS DECIMAL(19,6)) AS e
             |        FROM daily CROSS JOIN st),
             |r AS (SELECT e, CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i
             |      FROM dev),
             |ks AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS lag),
             |p AS (SELECT ks.lag, a.e * b.e AS t
             |      FROM r a CROSS JOIN ks JOIN r b ON b.i = a.i - ks.lag),
             |ag AS (SELECT lag, count(*) AS n_terms, sum(t) AS sk FROM p GROUP BY 1),
             |d0 AS (SELECT sk AS s0 FROM ag WHERE lag = 0)
             |SELECT lag, n_terms, round(CAST(sk AS DOUBLE) / CAST(s0 AS DOUBLE), 6) AS acf
             |FROM ag CROSS JOIN d0 WHERE lag >= 1 ORDER BY lag""".stripMargin)),

    // ─── degree assortativity of the near-dup graph ─────────────────────
    "q257_assortativity" -> Q(
      (s, dir) => {
        import s.implicits._
        Graph.degreeAssortativity(
          Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text")
            .filter($"jaccard" >= 0.5))
      },
      Some(s"""WITH $minhashCtes,
              |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
              |deg AS (SELECT v, count(*) AS d FROM
              |          (SELECT id_a AS v FROM e UNION ALL SELECT id_b FROM e)
              |        GROUP BY 1),
              |sym AS (SELECT id_a AS a, id_b AS b FROM e
              |        UNION ALL SELECT id_b, id_a FROM e),
              |jj AS (SELECT da.d AS x, db.d AS y
              |       FROM sym JOIN deg da ON sym.a = da.v JOIN deg db ON sym.b = db.v),
              |ag AS (SELECT count(*) AS m,
              |         sum(CAST(x AS DECIMAL(38,0))) AS sx,
              |         sum(CAST(y AS DECIMAL(38,0))) AS sy,
              |         sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
              |         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
              |         sum(CAST(y * y AS DECIMAL(38,0))) AS syy
              |       FROM jj)
              |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
              |  CASE WHEN m >= 2
              |      AND (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
              |           CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
              |      AND (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) -
              |           CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
              |    THEN round(
              |      (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE) -
              |       CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
              |      (sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE) -
              |            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
              |       sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE) -
              |            CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
              |  END AS assortativity
              |FROM ag""".stripMargin)),

    // ─── cross-source vocabulary Jaccard ────────────────────────────────
    "q258_vocab_jaccard" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.vocabJaccard(Tables.documents(s, dir), "source", "text")
          .orderBy($"jaccard".desc, $"group_a", $"group_b")
          .limit(15)
      },
      Some("""WITH tok AS (SELECT source AS g,
             |        unnest(string_split(lower(text), ' ')) AS t FROM documents),
             |vt AS (SELECT DISTINCT g, t FROM tok WHERE t <> ''),
             |sz AS (SELECT g, count(*) AS vs FROM vt GROUP BY 1),
             |inter AS (SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_inter
             |          FROM vt a JOIN vt b ON a.t = b.t AND a.g < b.g
             |          GROUP BY 1, 2),
             |j AS (SELECT group_a, group_b, n_inter,
             |        round(CAST(n_inter AS DOUBLE) /
             |              CAST(sa.vs + sb.vs - n_inter AS DOUBLE), 6) AS jaccard
             |      FROM inter JOIN sz sa ON inter.group_a = sa.g
             |                 JOIN sz sb ON inter.group_b = sb.g)
             |SELECT group_a, group_b, n_inter, jaccard FROM j
             |ORDER BY jaccard DESC, group_a, group_b LIMIT 15""".stripMargin)),

    // ─── click→purchase daily cross-correlation, lags −5..5 ─────────────
    "q259_xcorr" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        TimeSeries.crossCorrelation(
            ev.filter($"event_type" === "click"), "ts", "value",
            ev.filter($"event_type" === "purchase"), "ts", "value",
            maxLag = 5)
          .orderBy($"lag")
      },
      Some("""WITH ex AS (SELECT d, CAST(round(CAST(v AS DOUBLE) -
             |          (SELECT CAST(sum(v2.v) AS DOUBLE) / count(*) FROM
             |            (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             |               sum(CAST(value AS DECIMAL(18,6))) AS v
             |             FROM events WHERE event_type = 'click' GROUP BY 1) v2), 6)
             |          AS DECIMAL(19,6)) AS e
             |        FROM (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             |                sum(CAST(value AS DECIMAL(18,6))) AS v
             |              FROM events WHERE event_type = 'click' GROUP BY 1)),
             |ey AS (SELECT d, CAST(round(CAST(v AS DOUBLE) -
             |          (SELECT CAST(sum(v2.v) AS DOUBLE) / count(*) FROM
             |            (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             |               sum(CAST(value AS DECIMAL(18,6))) AS v
             |             FROM events WHERE event_type = 'purchase' GROUP BY 1) v2), 6)
             |          AS DECIMAL(19,6)) AS e
             |        FROM (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             |                sum(CAST(value AS DECIMAL(18,6))) AS v
             |              FROM events WHERE event_type = 'purchase' GROUP BY 1)),
             |den AS (SELECT (SELECT sum(e * e) FROM ex) AS dx,
             |               (SELECT sum(e * e) FROM ey) AS dy),
             |ks AS (SELECT CAST(unnest(range(-5, 6)) AS INTEGER) AS lag),
             |t AS (SELECT ks.lag, ex.e * ey.e AS p
             |      FROM ey CROSS JOIN ks JOIN ex ON ex.d = ey.d - ks.lag),
             |ag AS (SELECT lag, count(*) AS n_days, sum(p) AS sk FROM t GROUP BY 1)
             |SELECT lag, n_days,
             |  round(CAST(sk AS DOUBLE) /
             |        sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) AS xcorr
             |FROM ag CROSS JOIN den ORDER BY lag""".stripMargin)),

    // ─── exponential-fit KS distance of inter-arrival gaps per type ─────
    "q260_interarrival_ks" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.interArrivalKs(Tables.events(s, dir), "event_type", "ts")
          .orderBy($"event_type")
      },
      Some("""WITH e AS (SELECT event_type AS ty,
             |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |g AS (SELECT ty, us - lag(us) OVER (PARTITION BY ty ORDER BY us) AS g
             |      FROM e),
             |gg AS (SELECT ty, g FROM g WHERE g IS NOT NULL),
             |st AS (SELECT ty, count(*) AS n, sum(CAST(g AS DECIMAL(38,0))) AS s
             |       FROM gg GROUP BY 1),
             |gc AS (SELECT ty, g, count(*) AS c FROM gg GROUP BY 1, 2),
             |ec AS (SELECT ty, g, c,
             |         sum(c) OVER (PARTITION BY ty ORDER BY g) AS cle FROM gc),
             |d AS (SELECT ec.ty, st.n, st.s,
             |        greatest(
             |          abs(CAST(cle AS DOUBLE) / CAST(n AS DOUBLE) -
             |            (1.0 - exp(-(CAST(n AS DOUBLE) / (CAST(s AS DOUBLE) / 1e6))
             |                       * (CAST(g AS DOUBLE) / 1e6)))),
             |          abs(CAST(cle - c AS DOUBLE) / CAST(n AS DOUBLE) -
             |            (1.0 - exp(-(CAST(n AS DOUBLE) / (CAST(s AS DOUBLE) / 1e6))
             |                       * (CAST(g AS DOUBLE) / 1e6))))) AS dev
             |      FROM ec JOIN st USING (ty))
             |SELECT ty AS event_type, CAST(max(n) AS BIGINT) AS n_gaps,
             |  round(max(3600.0 * CAST(n AS DOUBLE) / (CAST(s AS DOUBLE) / 1e6)), 6)
             |    AS lambda_per_hour,
             |  round(max(dev), 6) AS ks_d
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── empirical-Bayes shrunk per-user purchase rates ─────────────────
    "q261_eb_shrink" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.ebShrinkRates(Tables.events(s, dir), "user_id",
            ($"event_type" === "purchase").cast("int"))
          .orderBy($"n", $"key")
          .limit(25)
      },
      Some("""WITH pk AS (SELECT user_id AS key, count(*) AS n,
             |        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x
             |      FROM events GROUP BY 1),
             |mo AS (SELECT count(*) AS k,
             |        sum(CAST(round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 9)
             |          AS DECIMAL(18,9))) AS s1,
             |        sum(CAST(round((CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) *
             |          (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |          AS DECIMAL(18,9))) AS s2
             |      FROM pk),
             |pr AS (SELECT k,
             |        CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS m,
             |        CAST(s2 AS DOUBLE) / CAST(k AS DOUBLE) -
             |          (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)) *
             |          (CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)) AS v
             |      FROM mo),
             |sh AS (SELECT key, n, x,
             |        round(CAST(x AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate,
             |        round(CASE WHEN k >= 2 AND v > 0.0
             |            AND (m * (1.0 - m) / v - 1.0) > 0.0
             |          THEN (CAST(x AS DOUBLE) + m * (m * (1.0 - m) / v - 1.0)) /
             |               (CAST(n AS DOUBLE) + (m * (1.0 - m) / v - 1.0))
             |          ELSE CAST(x AS DOUBLE) / CAST(n AS DOUBLE) END, 6) AS shrunk
             |      FROM pk CROSS JOIN pr)
             |SELECT key, n, x, rate, shrunk FROM sh
             |ORDER BY n, key LIMIT 25""".stripMargin)),

    // ─── mix-shift decomposition: 1995 → 2000 mean order value ──────────
    "q262_mix_shift" -> Q(
      (s, dir) => {
        import s.implicits._
        val df = Tables.orders(s, dir).join(Tables.customer(s, dir),
          $"o_custkey" === $"c_custkey")
        Market.mixShift(df, "c_mktsegment",
            year($"o_orderdate").cast("string"), "o_totalprice",
            "1995", "2000")
          .orderBy($"grp")
      },
      Some("""WITH f AS (SELECT c.c_mktsegment AS grp,
             |        CAST(year(o.o_orderdate) AS VARCHAR) AS p,
             |        CAST(o.o_totalprice AS DECIMAL(18,6)) AS v
             |      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |      WHERE year(o.o_orderdate) IN (1995, 2000)),
             |pg AS (SELECT p, grp, count(*) AS n, sum(v) AS s FROM f GROUP BY 1, 2),
             |tt AS (SELECT p, sum(n)::BIGINT AS tot FROM pg GROUP BY 1),
             |dec AS (SELECT pg.p, grp,
             |          CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS w,
             |          CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m
             |        FROM pg JOIN tt USING (p)),
             |a AS (SELECT grp, w AS wa, m AS ma FROM dec WHERE p = '1995'),
             |b AS (SELECT grp, w AS wb, m AS mb FROM dec WHERE p = '2000')
             |SELECT a.grp, round(wa, 6) AS w_a, round(wb, 6) AS w_b,
             |  round(ma, 6) AS m_a, round(mb, 6) AS m_b,
             |  round((wb - wa) * ma, 6) AS mix_contrib,
             |  round(wb * (mb - ma), 6) AS within_contrib
             |FROM a JOIN b USING (grp) ORDER BY grp""".stripMargin)),

    // ─── event-type Markov stationary distribution (25 fixed-point iters)
    "q263_markov_stationary" -> Q(
      (s, dir) => Cohort.markovStationary(Tables.events(s, dir),
        "user_id", "ts", "event_type", "event_id"),
      Some {
        val S = "1000000000000"
        // MATERIALIZED on tr + every iteration: without it DuckDB's
        // optimizer re-inlines the single-reference CTE chain and plan
        // construction goes exponential past ~12 iterations (measured:
        // 25 inlined iters never finish; materialized, 0.06 s).
        val iters = (1 to 25).map { k =>
          s"""it$k AS MATERIALIZED (SELECT t.dst AS state,
             |  sum(it${k - 1}.p * t.pfp // $S) AS p
             |  FROM it${k - 1} JOIN tr t ON it${k - 1}.state = t.src GROUP BY 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
           |        event_type FROM events),
           |p0 AS (SELECT event_type AS src,
           |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
           |       FROM t),
           |c AS (SELECT src, dst, count(*)::BIGINT AS n FROM p0
           |      WHERE dst IS NOT NULL GROUP BY 1, 2),
           |tt AS (SELECT src, sum(n)::BIGINT AS tot FROM c GROUP BY 1),
           |tr AS MATERIALIZED (SELECT c.src, c.dst,
           |       CAST(c.n AS HUGEINT) * $S // tt.tot AS pfp
           |       FROM c JOIN tt USING (src)),
           |st AS (SELECT DISTINCT src FROM tr),
           |it0 AS (SELECT src AS state,
           |          CAST($S AS HUGEINT) // (SELECT count(*) FROM st) AS p FROM st),
           |$iters
           |SELECT state, round(CAST(p AS DOUBLE) / $S, 6) AS pi
           |FROM it25 ORDER BY state""".stripMargin
      }),

    // ─── sketch-path vocab overlap + accuracy audit vs exact (q258) ─────
    "q264_vocab_sketch" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.vocabJaccardSketch(Tables.documents(s, dir), "source",
            "text", numHashes = 64)
          .orderBy($"group_a", $"group_b")
      },
      Some {
        val seeds = (0 until 64).map { j =>
          val r = Dedup.mixRot(j); val c = Dedup.mixConst(j)
          val lm = (1L << (60 - r)) - 1
          s"($j, $r, CAST($lm AS BIGINT), CAST($c AS BIGINT))"
        }.mkString(",\n    ")
        s"""WITH tok AS (SELECT source AS g,
           |        unnest(string_split(lower(text), ' ')) AS t FROM documents),
           |hx AS (SELECT g, ('0x'||substr(md5(t),1,15))::BIGINT AS h FROM tok),
           |sd AS (SELECT * FROM (VALUES
           |    $seeds) v(j, rt, lm, ct)),
           |mins AS (SELECT g, j,
           |           min(xor(((h & lm) << rt) | (h >> (60 - rt)), ct)) AS mn
           |         FROM hx CROSS JOIN sd GROUP BY 1, 2),
           |est AS (SELECT a.g AS group_a, b.g AS group_b,
           |          sum(CASE WHEN a.mn = b.mn THEN 1 ELSE 0 END) / 64.0 AS je
           |        FROM mins a JOIN mins b ON a.j = b.j AND a.g < b.g
           |        GROUP BY 1, 2),
           |vt AS (SELECT DISTINCT g, t FROM tok WHERE t <> ''),
           |sz AS (SELECT g, count(*) AS vs FROM vt GROUP BY 1),
           |inter AS (SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_inter
           |          FROM vt a JOIN vt b ON a.t = b.t AND a.g < b.g
           |          GROUP BY 1, 2),
           |ex AS (SELECT group_a, group_b,
           |        round(CAST(n_inter AS DOUBLE) /
           |              CAST(sa.vs + sb.vs - n_inter AS DOUBLE), 6) AS jaccard
           |      FROM inter JOIN sz sa ON inter.group_a = sa.g
           |                 JOIN sz sb ON inter.group_b = sb.g)
           |SELECT ex.group_a, ex.group_b, jaccard, je AS jac_est,
           |  round(abs(je - jaccard), 6) AS abs_err
           |FROM ex JOIN est USING (group_a, group_b)
           |ORDER BY group_a, group_b""".stripMargin
      }),

    // ─── exact midrank ROC-AUC: does length predict English? ────────────
    "q265_roc_auc" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.rocAuc(Tables.documents(s, dir), $"n_chars",
          ($"lang" === "en").cast("int"))
      },
      Some("""WITH sv AS (SELECT n_chars AS s,
             |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
             |g AS (SELECT s, count(*) AS n, sum(y)::BIGINT AS np FROM sv GROUP BY 1),
             |c AS (SELECT s, n, np, sum(n) OVER (ORDER BY s) AS cle FROM g),
             |a AS (SELECT sum(np)::BIGINT AS p, sum(n)::BIGINT AS t,
             |        sum(CAST(np * (2 * (cle - n) + n + 1) AS DECIMAL(38,0))) AS s2
             |      FROM c)
             |SELECT p AS n_pos, t - p AS n_neg,
             |  CASE WHEN p > 0 AND t - p > 0 THEN
             |    round((CAST(s2 AS DOUBLE) - CAST(p AS DOUBLE) * (CAST(p AS DOUBLE) + 1.0)) /
             |          (2.0 * CAST(p AS DOUBLE) * CAST(t - p AS DOUBLE)), 6)
             |  END AS auc
             |FROM a""".stripMargin)),

    // ─── Spearman rank correlation: tokens vs chars ─────────────────────
    "q266_spearman" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.spearman(
          Tables.documents(s, dir).withColumn("n_tokens",
            size(split(lower($"text"), " ")).cast("long")),
          "n_tokens", "n_chars")
      },
      Some("""WITH d AS (SELECT CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS x,
             |        n_chars AS y FROM documents),
             |vx AS (SELECT x AS v, count(*) AS n FROM d GROUP BY 1),
             |rx AS (SELECT v, 2 * (sum(n) OVER (ORDER BY v) - n) + n + 1 AS r2 FROM vx),
             |vy AS (SELECT y AS v, count(*) AS n FROM d GROUP BY 1),
             |ry AS (SELECT v, 2 * (sum(n) OVER (ORDER BY v) - n) + n + 1 AS r2 FROM vy),
             |j AS (SELECT CAST(rx.r2 AS DECIMAL(18,0)) AS a,
             |        CAST(ry.r2 AS DECIMAL(18,0)) AS b
             |      FROM d JOIN rx ON d.x = rx.v JOIN ry ON d.y = ry.v),
             |ag AS (SELECT count(*) AS n, sum(a) AS sx, sum(b) AS sy,
             |         sum(a * b) AS sxy, sum(a * a) AS sxx, sum(b * b) AS syy
             |       FROM j)
             |SELECT n,
             |  CASE WHEN n >= 2
             |      AND (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |           CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
             |      AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
             |           CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
             |    THEN round(
             |      (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |       CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |      (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |            CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |       sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
             |            CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |  END AS spearman
             |FROM ag""".stripMargin)),

    // ─── 10 %-trimmed mean price per return flag ────────────────────────
    "q267_trimmed_mean" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.trimmedMean(Tables.lineitem(s, dir), "l_returnflag",
            "l_extendedprice", trimFrac = 0.1)
          .orderBy($"key")
      },
      Some("""WITH b AS (SELECT l_returnflag AS key,
             |        CAST(l_extendedprice AS DECIMAL(18,6)) AS v FROM lineitem),
             |t AS (SELECT key, v,
             |        CAST(row_number() OVER (PARTITION BY key ORDER BY v) AS BIGINT) AS rn,
             |        count(*) OVER (PARTITION BY key) AS cnt FROM b),
             |f AS (SELECT key, v, cnt FROM t
             |      WHERE rn > CAST(floor(CAST(cnt AS DOUBLE) * 0.1) AS BIGINT)
             |        AND rn <= cnt - CAST(floor(CAST(cnt AS DOUBLE) * 0.1) AS BIGINT))
             |SELECT key, CAST(max(cnt) AS BIGINT) AS n, count(*) AS n_kept,
             |  round(CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS trimmed_mean
             |FROM f GROUP BY key ORDER BY key""".stripMargin)),

    // ─── percentile normalization: global vs within-source rank ─────────
    "q268_percentile_norm" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
          .select($"doc_id", $"source", $"n_chars")
        // BOTH percent_ranks run over corpus-scaled frames: the global
        // one via the value-domain ECDF (tie-sharing rank(v) = cum(≤v) −
        // c(v) + 1) on the distributed prefix-sum hatch; the per-source
        // one the same way PER GROUP via runningSumsBy — a
        // Window.partitionBy(source) would put each source (≈ corpus/20
        // rows at 100 TB) on ONE task
        val vc = docs.groupBy($"n_chars").agg(count(lit(1)).as("__c"))
        val run = Ranks.runningSums(vc, Seq("__c" -> "__cum"), None,
          $"n_chars")
        val ranks = run.df.select($"n_chars",
          ($"__cum" - $"__c" + 1L).as("__rk"))
        val svc = docs.groupBy($"source", $"n_chars")
          .agg(count(lit(1)).as("__sc"))
        val sranks = Ranks.runningSumsBy(svc, Seq("source"),
            Seq("__sc" -> "__scum"), $"n_chars")
          .withColumn("__srk", $"__scum" - $"__sc" + 1L)
        val stot = svc.groupBy($"source").agg(sum($"__sc").as("__sn"))
        docs.join(ranks, "n_chars")
          .join(sranks.select($"source", $"n_chars", $"__srk"),
            Seq("source", "n_chars"))
          .join(stot, "source")
          .withColumn("pct_global",
            round(($"__rk" - 1L).cast("double") /
              lit((run.totals("__c") - 1).toDouble), 6))
          .withColumn("pct_source",
            // singleton source: SQL percent_rank is 0, not 0/0
            when($"__sn" > 1, round(($"__srk" - 1L).cast("double") /
              ($"__sn" - 1L).cast("double"), 6)).otherwise(lit(0.0)))
          .select($"doc_id", $"pct_global", $"pct_source")
          .orderBy($"doc_id").limit(25)
      },
      Some("""SELECT doc_id,
             |  round(percent_rank() OVER (ORDER BY n_chars), 6) AS pct_global,
             |  round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars), 6)
             |    AS pct_source
             |FROM documents ORDER BY doc_id LIMIT 25""".stripMargin)),

    // ─── Theil–Sen robust slope of monthly revenue ──────────────────────
    "q269_theil_sen" -> Q(
      (s, dir) => TimeSeries.theilSen(Tables.orders(s, dir),
        "o_orderdate", "o_totalprice"),
      Some("""WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS v
             |      FROM orders GROUP BY 1),
             |s AS (SELECT mi - (SELECT min(mi) FROM m) AS i, v FROM m),
             |p AS (SELECT CAST((b.v - a.v) AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS sl
             |      FROM s a JOIN s b ON a.i < b.i),
             |r AS (SELECT sl, CAST(row_number() OVER (ORDER BY sl) AS BIGINT) AS rn,
             |        count(*) OVER () AS n FROM p),
             |mid AS (SELECT sl, n FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1)
             |SELECT (SELECT count(*) FROM s) AS n_months,
             |  CAST(max(n) AS BIGINT) AS n_pairs,
             |  round(avg(sl), 6) AS slope_per_month
             |FROM mid""".stripMargin)),

    // ─── Mann–Kendall monotone-trend statistic ──────────────────────────
    "q270_mann_kendall" -> Q(
      (s, dir) => TimeSeries.mannKendall(Tables.orders(s, dir),
        "o_orderdate", "o_totalprice"),
      Some("""WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS v
             |      FROM orders GROUP BY 1),
             |s AS (SELECT mi - (SELECT min(mi) FROM m) AS i, v FROM m),
             |p AS (SELECT CASE WHEN b.v > a.v THEN 1
             |             WHEN b.v < a.v THEN -1 ELSE 0 END AS sg
             |      FROM s a JOIN s b ON a.i < b.i)
             |SELECT (SELECT count(*) FROM s) AS n_months,
             |  sum(sg)::BIGINT AS s_stat,
             |  round(CAST(sum(sg) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS tau
             |FROM p""".stripMargin)),

    // ─── two-sample KS + earth-mover distance: 1995 vs 2000 prices ──────
    "q271_two_sample_dist" -> Q(
      (s, dir) => {
        import s.implicits._
        Drift.twoSampleDist(
          Tables.orders(s, dir).filter(year($"o_orderdate").isin(1995, 2000)),
          "o_totalprice", year($"o_orderdate") === 1995)
      },
      Some("""WITH b0 AS (SELECT CAST(o_totalprice AS DECIMAL(18,6)) AS v,
             |        year(o_orderdate) = 1995 AS a
             |      FROM orders WHERE year(o_orderdate) IN (1995, 2000)),
             |v AS (SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS na,
             |        sum(CASE WHEN a THEN 0 ELSE 1 END)::BIGINT AS nb
             |      FROM b0 GROUP BY 1),
             |c AS (SELECT v, sum(na) OVER (ORDER BY v) AS ca,
             |        sum(nb) OVER (ORDER BY v) AS cb,
             |        lead(v) OVER (ORDER BY v) AS vn FROM v),
             |t AS (SELECT max(ca) AS na2, max(cb) AS nb2 FROM c),
             |d AS (SELECT c.v, c.vn, t.na2, t.nb2,
             |        abs(CAST(ca AS DOUBLE) / CAST(na2 AS DOUBLE) -
             |            CAST(cb AS DOUBLE) / CAST(nb2 AS DOUBLE)) AS df
             |      FROM c CROSS JOIN t)
             |SELECT CAST(max(na2) AS BIGINT) AS n_a, CAST(max(nb2) AS BIGINT) AS n_b,
             |  round(max(df), 6) AS ks_d,
             |  round(CAST(sum(CASE WHEN vn IS NOT NULL THEN
             |      CAST(round(df * CAST((vn - v) AS DOUBLE), 9) AS DECIMAL(28,9))
             |    END) AS DOUBLE), 6) AS emd
             |FROM d""".stripMargin)),

    // ─── SCD type-2 dimension build from the event change log ───────────
    "q272_scd2_build" -> Q(
      (s, dir) => {
        import s.implicits._
        Cdc.scd2Build(Tables.events(s, dir), "user_id", "ts", "event_type",
            "event_id")
          .orderBy($"user_id", $"version")
          .limit(50)
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |        event_type FROM events),
             |c AS (SELECT *, lag(event_type) OVER
             |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
             |k AS (SELECT user_id, ts, event_id, event_type FROM c
             |      WHERE prev IS NULL OR prev <> event_type),
             |s AS (SELECT user_id, ts AS valid_from,
             |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |        event_type,
             |        CAST(row_number() OVER
             |          (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
             |      FROM k)
             |SELECT user_id, valid_from, valid_to, event_type, version,
             |  valid_to IS NULL AS is_current
             |FROM s ORDER BY user_id, version LIMIT 50""".stripMargin)),

    // ─── first-touch vs last-touch purchase attribution ─────────────────
    "q273_attribution" -> Q(
      (s, dir) => {
        import s.implicits._
        Cohort.touchAttribution(Tables.events(s, dir), "user_id", "ts",
            "event_type", "value", "event_id", convType = "purchase")
          .orderBy($"model", $"touch_type")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |        event_type AS ty, CAST(value AS DECIMAL(18,6)) AS v FROM events),
             |d AS (SELECT *,
             |        first_value(ty) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f,
             |        last_value(CASE WHEN ty <> 'purchase' THEN ty END IGNORE NULLS)
             |          OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS l
             |      FROM e),
             |p AS (SELECT * FROM d WHERE ty = 'purchase'),
             |ft AS (SELECT 'first_touch' AS model, COALESCE(f, 'none') AS touch_type,
             |         count(*) AS n_conversions,
             |         round(CAST(sum(v) AS DOUBLE), 6) AS revenue
             |       FROM p GROUP BY 2),
             |lt AS (SELECT 'last_touch' AS model, COALESCE(l, 'none') AS touch_type,
             |         count(*) AS n_conversions,
             |         round(CAST(sum(v) AS DOUBLE), 6) AS revenue
             |       FROM p GROUP BY 2)
             |SELECT * FROM ft UNION ALL SELECT * FROM lt
             |ORDER BY model, touch_type""".stripMargin)),

    // ─── deterministic Poisson-bootstrap CI for the mean order value ────
    "q274_bootstrap_ci" -> Q(
      (s, dir) => Profile.bootstrapMeanCI(Tables.orders(s, dir),
        "o_orderkey", "o_totalprice", b = 40, seed = 77),
      Some {
        val seeds = (0 until 40).map { j =>
          val r = Dedup.mixRot(j); val c = Dedup.mixConst(j)
          val lm = (1L << (60 - r)) - 1
          s"($j, $r, CAST($lm AS BIGINT), CAST($c AS BIGINT))"
        }.mkString(",\n    ")
        s"""WITH base AS (SELECT
           |    ('0x'||substr(md5('77|'||CAST(o_orderkey AS VARCHAR)),1,15))::BIGINT AS h0,
           |    CAST(o_totalprice AS DECIMAL(18,6)) AS v FROM orders),
           |sd AS (SELECT * FROM (VALUES
           |    $seeds) v(b, rt, lm, ct)),
           |drawn AS (SELECT v, b,
           |    xor(((h0 & lm) << rt) | (h0 >> (60 - rt)), ct)
           |      / 1152921504606846976.0 AS u
           |  FROM base CROSS JOIN sd),""".stripMargin + """
             |kk AS (SELECT v, b, CASE
             |    WHEN u < 0.367879441171 THEN 0 WHEN u < 0.735758882343 THEN 1
             |    WHEN u < 0.919698602929 THEN 2 WHEN u < 0.980981203313 THEN 3
             |    WHEN u < 0.996302853448 THEN 4 WHEN u < 0.999359183497 THEN 5
             |    WHEN u < 0.999868571922 THEN 6 WHEN u < 0.999941340150 THEN 7
             |    ELSE 8 END AS k FROM drawn),
             |means AS (SELECT b, sum(v * k) AS s, sum(k)::BIGINT AS n
             |          FROM kk GROUP BY 1),
             |mm AS (SELECT CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m
             |       FROM means WHERE n > 0),
             |r AS (SELECT m, CAST(row_number() OVER (ORDER BY m) AS BIGINT) AS rn,
             |        count(*) OVER () AS nb FROM mm),
             |fl AS (SELECT count(*) AS n,
             |        round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) /
             |          CAST(count(*) AS DOUBLE), 6) AS mean_full FROM orders)
             |SELECT n, CAST(max(nb) AS BIGINT) AS b, mean_full,
             |  round(max(CASE WHEN rn = 2 THEN m END), 6) AS ci_lo,
             |  round(max(CASE WHEN rn = nb - 1 THEN m END), 6) AS ci_hi
             |FROM r CROSS JOIN fl GROUP BY n, mean_full""".stripMargin
      }),

    // ─── orders ↔ lineitem money reconciliation audit ───────────────────
    "q275_reconcile" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.reconcileTotals(Tables.orders(s, dir), "o_orderkey",
          "o_totalprice", Tables.lineitem(s, dir), "l_orderkey",
          $"l_extendedprice".cast("double") *
            (lit(1.0) - $"l_discount".cast("double")) *
            (lit(1.0) + $"l_tax".cast("double")),
          tolerance = 0.01)
      },
      Some("""WITH per AS (SELECT l_orderkey AS k,
             |    sum(CAST(round(CAST(l_extendedprice AS DOUBLE) *
             |        (1.0 - CAST(l_discount AS DOUBLE)) *
             |        (1.0 + CAST(l_tax AS DOUBLE)), 9) AS DECIMAL(28,9))) AS recon
             |  FROM lineitem GROUP BY 1),
             |j AS (SELECT CAST(o_totalprice AS DECIMAL(18,6)) AS tot, per.recon
             |      FROM orders LEFT JOIN per ON o_orderkey = per.k),
             |d AS (SELECT abs(CAST(tot AS DOUBLE) -
             |        COALESCE(CAST(recon AS DOUBLE), 0.0)) AS df FROM j)
             |SELECT count(*) AS n_orders,
             |  sum(CASE WHEN df <= 0.01 THEN 1 ELSE 0 END)::BIGINT AS n_ok,
             |  sum(CASE WHEN df > 0.01 THEN 1 ELSE 0 END)::BIGINT AS n_mismatch,
             |  round(max(df), 6) AS max_abs_diff
             |FROM d""".stripMargin)),

    // ─── state dwell-time profile over the SCD2 intervals ───────────────
    "q276_dwell_profile" -> Q(
      (s, dir) => {
        import s.implicits._
        Cdc.dwellProfile(Tables.events(s, dir), "user_id", "ts",
            "event_type", "event_id")
          .orderBy($"state")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |        event_type FROM events),
             |c AS (SELECT *, lag(event_type) OVER
             |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
             |k AS (SELECT user_id, ts, event_id, event_type FROM c
             |      WHERE prev IS NULL OR prev <> event_type),
             |s AS (SELECT user_id, ts AS valid_from,
             |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             |        event_type FROM k)
             |SELECT event_type AS state, count(*) AS n_intervals,
             |  sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_open,
             |  round((CAST(sum(CASE WHEN valid_to IS NOT NULL THEN
             |      CAST(epoch_us(valid_to) - epoch_us(valid_from) AS DECIMAL(38,0))
             |    END) AS DOUBLE) / 1e6) /
             |    CAST(sum(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE), 6) AS mean_dwell_sec
             |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── point-in-time state join (SCD2 + as-of), the feature-store shape
    "q277_pit_state_join" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        val scd = Cdc.scd2Build(ev.filter($"event_type" =!= "purchase"),
            "user_id", "ts", "event_type", "event_id")
          .select($"user_id".as("u2"), $"valid_from",
            $"event_type".as("state"))
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"user_id", $"ts", $"value")
        AsOf.asofBackward(purchases, "user_id", "ts",
            scd, "u2", "valid_from", Seq("state"), "pit_")
          .groupBy(coalesce($"pit_state", lit("none")).as("touch_type"))
          .agg(count(lit(1)).as("n_conversions"),
            round(sum($"value".cast("decimal(18,6)")).cast("double"), 6)
              .as("revenue"))
          .orderBy($"touch_type")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |        event_type, CAST(value AS DECIMAL(18,6)) AS v FROM events),
             |np AS (SELECT user_id, ts, event_id, event_type FROM e
             |       WHERE event_type <> 'purchase'),
             |p AS (SELECT user_id, ts, v FROM e WHERE event_type = 'purchase'),
             |j AS (SELECT p.user_id, p.ts, p.v,
             |        (SELECT np.event_type FROM np
             |         WHERE np.user_id = p.user_id AND np.ts <= p.ts
             |         ORDER BY np.ts DESC, np.event_id DESC LIMIT 1) AS state
             |      FROM p)
             |SELECT COALESCE(state, 'none') AS touch_type,
             |  count(*) AS n_conversions,
             |  round(CAST(sum(v) AS DOUBLE), 6) AS revenue
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── log-log price elasticity per brand ─────────────────────────────
    "q278_price_elasticity" -> Q(
      (s, dir) => {
        import s.implicits._
        val df = Tables.lineitem(s, dir).join(Tables.part(s, dir),
          $"l_partkey" === $"p_partkey")
        Market.priceElasticity(df, "p_brand",
            date_format(date_trunc("month", $"l_shipdate"), "yyyy-MM"),
            "l_quantity", "l_extendedprice")
          .orderBy($"grp")
      },
      Some("""WITH gp AS (SELECT p.p_brand AS grp,
             |        strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS pd,
             |        sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS q,
             |        sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS r
             |      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |      GROUP BY 1, 2),
             |t AS (SELECT grp,
             |        CAST(round(ln(CAST(r AS DOUBLE) / CAST(q AS DOUBLE)), 9)
             |          AS DECIMAL(12,9)) AS x,
             |        CAST(round(ln(CAST(q AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
             |      FROM gp WHERE q > 0 AND r > 0),
             |t2 AS (SELECT *, CAST(CAST(x AS DECIMAL(19,9)) * 1000000000
             |         AS BIGINT) AS x9 FROM t),
             |a AS (SELECT grp, count(*) AS n_periods, sum(x) AS sx, sum(y) AS sy,
             |        sum(x * y) AS sxy, sum(x * x) AS sxx,
             |        sum(CAST(x9 AS HUGEINT)) AS sx9,
             |        sum(CAST(x9 AS HUGEINT) * CAST(x9 AS HUGEINT)) AS sxx9
             |      FROM t2 GROUP BY 1)
             |SELECT grp, n_periods,
             |  CASE WHEN n_periods >= 2 AND
             |      (CAST(n_periods AS HUGEINT) * sxx9 - sx9 * sx9) > 0
             |    THEN round(
             |      (CAST(n_periods AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |       CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |      (CAST(n_periods AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             |  END AS elasticity
             |FROM a ORDER BY grp""".stripMargin)),

    // ─── 2-core of the near-dup graph (15 peeling rounds) ───────────────
    "q279_kcore" -> Q(
      (s, dir) => {
        import s.implicits._
        Graph.kCore(
            Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text")
              .filter($"jaccard" >= 0.5), k = 2)
          .orderBy($"node")
      },
      Some {
        val rounds = (1 to 15).map { r =>
          s"""d$r AS MATERIALIZED (SELECT v, count(*) AS d FROM
             |  (SELECT a AS v FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
             |  GROUP BY 1),
             |k$r AS MATERIALIZED (SELECT v FROM d$r WHERE d >= 2),
             |e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
             |  WHERE a IN (SELECT v FROM k$r) AND b IN (SELECT v FROM k$r))"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $minhashCtes,
           |e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
           |  WHERE jaccard >= 0.5),
           |$rounds
           |SELECT node, count(*) AS core_degree FROM
           |  (SELECT a AS node FROM e15 UNION ALL SELECT b FROM e15)
           |GROUP BY 1 ORDER BY node""".stripMargin
      }),

    // ─── functional-dependency audit across candidate dimensions ────────
    "q280_fd_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.functionalDependency(Seq(
            ("cust_to_nation", Tables.customer(s, dir),
              Seq("c_custkey"), "c_nationkey"),
            ("part_brand_to_type", Tables.part(s, dir),
              Seq("p_brand"), "p_type"),
            ("part_type_to_brand", Tables.part(s, dir),
              Seq("p_type"), "p_brand"),
            ("supplier_to_nation", Tables.supplier(s, dir),
              Seq("s_suppkey"), "s_nationkey")))
          .orderBy($"dependency")
      },
      Some {
        def dep(name: String, table: String, l: String, r: String) =
          s"""SELECT '$name' AS dependency, count(*) AS n_lhs,
             |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
             |  round(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) /
             |        CAST(count(*) AS DOUBLE), 6) AS violation_rate,
             |  max(nd) AS max_fanout
             |FROM (SELECT l, count(*) AS nd FROM
             |        (SELECT $l AS l, $r AS r FROM $table GROUP BY 1, 2)
             |      GROUP BY 1)""".stripMargin
        Seq(dep("cust_to_nation", "customer", "c_custkey", "c_nationkey"),
          dep("part_brand_to_type", "part", "p_brand", "p_type"),
          dep("part_type_to_brand", "part", "p_type", "p_brand"),
          dep("supplier_to_nation", "supplier", "s_suppkey", "s_nationkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY dependency")
      }),

    // ─── candidate-key uniqueness audit ─────────────────────────────────
    "q281_key_uniqueness" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.keyUniqueness(Seq(
            ("documents.doc_id", Tables.documents(s, dir), Seq("doc_id")),
            ("events.event_id", Tables.events(s, dir), Seq("event_id")),
            ("lineitem.l_orderkey", Tables.lineitem(s, dir), Seq("l_orderkey")),
            ("lineitem.pk", Tables.lineitem(s, dir),
              Seq("l_orderkey", "l_linenumber")),
            ("orders.o_orderkey", Tables.orders(s, dir), Seq("o_orderkey"))))
          .orderBy($"candidate")
      },
      Some {
        def cand(name: String, table: String, cols: String) =
          s"""SELECT '$name' AS candidate, sum(c)::BIGINT AS n_rows,
             |  count(*) AS n_keys, (sum(c) - count(*))::BIGINT AS n_dup_rows,
             |  sum(c) = count(*) AS is_unique
             |FROM (SELECT count(*) AS c FROM $table GROUP BY $cols)""".stripMargin
        Seq(cand("documents.doc_id", "documents", "doc_id"),
          cand("events.event_id", "events", "event_id"),
          cand("lineitem.l_orderkey", "lineitem", "l_orderkey"),
          cand("lineitem.pk", "lineitem", "l_orderkey, l_linenumber"),
          cand("orders.o_orderkey", "orders", "o_orderkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY candidate")
      }),

    // ─── top event-type path trigrams ───────────────────────────────────
    "q282_path_trigrams" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        Tables.events(s, dir)
          .select($"user_id", $"event_type".as("t1"),
            lead($"event_type", 1).over(w).as("t2"),
            lead($"event_type", 2).over(w).as("t3"))
          .where($"t2".isNotNull && $"t3".isNotNull)
          .groupBy($"t1", $"t2", $"t3").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"t1", $"t2", $"t3")
          .limit(15)
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |        event_type FROM events),
             |t AS (SELECT event_type AS t1,
             |        lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
             |        lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
             |      FROM e)
             |SELECT t1, t2, t3, count(*) AS n FROM t
             |WHERE t2 IS NOT NULL AND t3 IS NOT NULL
             |GROUP BY 1, 2, 3 ORDER BY n DESC, t1, t2, t3 LIMIT 15""".stripMargin)),

    // ─── per-source vocabulary health (hapax, TTR) ──────────────────────
    "q283_vocab_health" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.vocabHealth(Tables.documents(s, dir), "source", "text")
          .orderBy($"group")
      },
      Some("""WITH tok AS (SELECT source AS g,
             |        unnest(string_split(lower(text), ' ')) AS t FROM documents),
             |tc AS (SELECT g, t, count(*) AS c FROM tok WHERE t <> ''
             |       GROUP BY 1, 2)
             |SELECT g AS "group", sum(c)::BIGINT AS n_tokens,
             |  count(*) AS vocab_size,
             |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
             |  sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n_dis,
             |  round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
             |        CAST(count(*) AS DOUBLE), 6) AS hapax_frac,
             |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr
             |FROM tc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── Kaplan–Meier survival of customer order-lifetimes ──────────────
    // (365-day censor edge: a customer whose LAST order is within a year
    // of the observation boundary is still-active, not churned — the
    // events table is the wrong domain here: every user is active at the
    // 30-day window edge, so everyone censors and the curve is empty)
    "q284_kaplan_meier" -> Q(
      (s, dir) => {
        import s.implicits._
        Cohort.kaplanMeier(Tables.orders(s, dir), "o_custkey", "o_orderdate",
            censorDays = 365)
          .orderBy($"t_days")
      },
      Some("""WITH per AS (SELECT o_custkey,
             |        min(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS f,
             |        max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS l
             |      FROM orders GROUP BY 1),
             |hz AS (SELECT max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS h
             |       FROM orders),
             |lab AS (SELECT (l - f) // 86400000000 AS t,
             |        l > h - 31536000000000 AS cens FROM per CROSS JOIN hz),
             |byt AS (SELECT t, count(*) AS n_at,
             |        sum(CASE WHEN NOT cens THEN 1 ELSE 0 END)::BIGINT AS d
             |      FROM lab GROUP BY 1),
             |tt AS (SELECT count(*) AS nn FROM lab),
             |c AS (SELECT t, n_at, d,
             |        COALESCE(sum(n_at) OVER (ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt
             |      FROM byt),
             |r AS (SELECT t, d, nn - cum_lt AS n_risk FROM c CROSS JOIN tt
             |      WHERE d > 0),
             |sres AS (SELECT t, n_risk, d,
             |        CASE WHEN d < n_risk THEN
             |          CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)), 9)
             |            AS DECIMAL(18,9)) END AS lnt
             |      FROM r),
             |s2 AS (SELECT t, n_risk, d, lnt,
             |        max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
             |        sum(lnt) OVER (ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lns
             |      FROM sres)
             |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk, d AS n_deaths,
             |  CASE WHEN dead = 1 THEN 0.0
             |    ELSE round(exp(CAST(lns AS DOUBLE)), 6) END AS survival
             |FROM s2 ORDER BY t_days""".stripMargin)),

    // ─── diff-in-diff: signup users' purchases, first vs second half ────
    "q285_diff_in_diff" -> Q(
      (s, dir) => {
        import s.implicits._
        // user-PARITY arms (the q232 precedent — the signup flag covers
        // virtually every user, leaving an empty control cell)
        val df = Tables.events(s, dir).filter($"event_type" === "purchase")
          .select(($"user_id" % 2 === 0).as("treated"),
            (dayofmonth($"ts".cast("timestamp")) > 15).as("post"), $"value")
        Market.diffInDiff(df, $"treated", $"post", "value")
      },
      Some("""WITH p AS (SELECT user_id % 2 = 0 AS tr,
             |        day(CAST(ts AS TIMESTAMP)) > 15 AS po,
             |        CAST(value AS DECIMAL(18,6)) AS v
             |      FROM events WHERE event_type = 'purchase'),
             |a AS (SELECT count(*) AS n,
             |        sum(CASE WHEN tr AND NOT po THEN v END) AS stp0,
             |        sum(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END)::BIGINT AS ntp0,
             |        sum(CASE WHEN tr AND po THEN v END) AS stp1,
             |        sum(CASE WHEN tr AND po THEN 1 ELSE 0 END)::BIGINT AS ntp1,
             |        sum(CASE WHEN NOT tr AND NOT po THEN v END) AS scp0,
             |        sum(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END)::BIGINT AS ncp0,
             |        sum(CASE WHEN NOT tr AND po THEN v END) AS scp1,
             |        sum(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END)::BIGINT AS ncp1
             |      FROM p)
             |SELECT n,
             |  round(CAST(stp0 AS DOUBLE) / CAST(ntp0 AS DOUBLE), 6) AS mean_treat_pre,
             |  round(CAST(stp1 AS DOUBLE) / CAST(ntp1 AS DOUBLE), 6) AS mean_treat_post,
             |  round(CAST(scp0 AS DOUBLE) / CAST(ncp0 AS DOUBLE), 6) AS mean_ctrl_pre,
             |  round(CAST(scp1 AS DOUBLE) / CAST(ncp1 AS DOUBLE), 6) AS mean_ctrl_post,
             |  CASE WHEN ntp0 > 0 AND ntp1 > 0 AND ncp0 > 0 AND ncp1 > 0 THEN
             |    round((CAST(stp1 AS DOUBLE) / CAST(ntp1 AS DOUBLE) -
             |           CAST(stp0 AS DOUBLE) / CAST(ntp0 AS DOUBLE)) -
             |          (CAST(scp1 AS DOUBLE) / CAST(ncp1 AS DOUBLE) -
             |           CAST(scp0 AS DOUBLE) / CAST(ncp0 AS DOUBLE)), 6) END AS did
             |FROM a""".stripMargin)),

    // ─── join-free deterministic negative sampling ──────────────────────
    "q286_negative_sample" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.negativeSample(Tables.documents(s, dir), "doc_id",
            k = 4, seed = 11)
          .where($"doc_id" < 40)
          .orderBy($"doc_id", $"j")
      },
      Some {
        val seeds = (0 until 4).map { j =>
          val r = Dedup.mixRot(j); val c = Dedup.mixConst(j)
          val lm = (1L << (60 - r)) - 1
          s"($j, $r, CAST($lm AS BIGINT), CAST($c AS BIGINT))"
        }.mkString(",\n    ")
        s"""WITH nn AS (SELECT count(*) AS n FROM documents),
           |base AS (SELECT doc_id,
           |    ('0x'||substr(md5('11|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h0
           |  FROM documents WHERE doc_id < 40),
           |sd AS (SELECT * FROM (VALUES
           |    $seeds) v(j, rt, lm, ct)),
           |s AS (SELECT doc_id, j,
           |    xor(((h0 & lm) << rt) | (h0 >> (60 - rt)), ct) % n AS neg_id
           |  FROM base CROSS JOIN sd CROSS JOIN nn)
           |SELECT doc_id, j, neg_id, neg_id = doc_id AS is_self
           |FROM s ORDER BY doc_id, j""".stripMargin
      }),

    // ─── exact rolling 7-day active users (the sketch-free q185 twin) ───
    "q287_rolling_dau_exact" -> Q(
      (s, dir) => {
        import s.implicits._
        val du = Tables.events(s, dir)
          .select(to_date($"ts".cast("timestamp")).as("d"), $"user_id")
          .distinct()
          .localCheckpoint(false) // dau + coverage explode share it
        val dau = du.groupBy($"d").agg(count(lit(1)).as("dau"))
        val wau = du
          .select(explode(sequence($"d", date_add($"d", 6))).as("cd"),
            $"user_id")
          .distinct()
          .groupBy($"cd").agg(count(lit(1)).as("wau"))
        dau.join(wau, $"d" === $"cd")
          .select(date_format($"d", "yyyy-MM-dd").as("day"), $"dau", $"wau")
          .orderBy($"day")
      },
      Some("""WITH du AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             |        user_id FROM events),
             |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY 1),
             |cov0 AS (SELECT d + CAST(unnest(range(0, 7)) AS INTEGER) AS cd,
             |        user_id FROM du),
             |wau AS (SELECT cd, count(*) AS wau FROM
             |          (SELECT DISTINCT cd, user_id FROM cov0) GROUP BY 1)
             |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau
             |FROM dau JOIN wau ON dau.d = wau.cd ORDER BY day""".stripMargin)),

    // ─── Lorenz curve: cumulative revenue share by customer decile ──────
    "q288_lorenz_curve" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val cr = Tables.orders(s, dir).groupBy($"o_custkey")
          .agg(sum($"o_totalprice".cast("decimal(18,6)")).as("__rev"))
        // customer-level deciling scales with the data: distributed
        // ntile; the cumulative/total windows below run over 10 decile
        // rows — bounded, fine as windows
        val dec = Ranks.withNtile(cr, "decile", 10, $"__rev", $"o_custkey")
          .groupBy($"decile")
          .agg(count(lit(1)).as("n_customers"), sum($"__rev").as("__s"))
        dec
          .withColumn("__cum", sum($"__s").over(Window.orderBy($"decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("__tot", sum($"__s").over(Window.partitionBy()))
          .select($"decile".cast("long").as("decile"), $"n_customers",
            round($"__cum".cast("double") / $"__tot".cast("double"), 6)
              .as("cum_share"))
          .orderBy($"decile")
      },
      Some("""WITH cr AS (SELECT o_custkey,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
             |      FROM orders GROUP BY 1),
             |d AS (SELECT rev, ntile(10) OVER (ORDER BY rev, o_custkey) AS decile
             |      FROM cr),
             |g AS (SELECT decile, count(*) AS n_customers, sum(rev) AS s
             |      FROM d GROUP BY 1),
             |c AS (SELECT decile, n_customers,
             |        sum(s) OVER (ORDER BY decile
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |        sum(s) OVER () AS tot FROM g)
             |SELECT decile, n_customers,
             |  round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share
             |FROM c ORDER BY decile""".stripMargin)),

    // ─── activity-stratified treatment effect (blocked ATE) ─────────────
    "q289_stratified_effect" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        // user-level strata scale with the data: distributed ntile
        val strat = Ranks.withNtile(
            ev.groupBy($"user_id").agg(count(lit(1)).as("__na")),
            "stratum", 5, $"__na", $"user_id")
          .select($"user_id", $"stratum")
        // user-PARITY arms (see q285): signup covers ~every user
        val df = ev.filter($"event_type" === "purchase")
          .join(strat, Seq("user_id"))
          .select($"stratum", ($"user_id" % 2 === 0).as("treated"),
            $"value")
        Market.stratifiedEffect(df, $"stratum", $"treated", "value")
          .orderBy($"stratum")
      },
      Some("""WITH act AS (SELECT user_id, count(*) AS na FROM events GROUP BY 1),
             |st AS (SELECT user_id,
             |        CAST(ntile(5) OVER (ORDER BY na, user_id) AS BIGINT) AS stratum
             |      FROM act),
             |p AS (SELECT st.stratum, e.user_id % 2 = 0 AS tr,
             |        CAST(e.value AS DECIMAL(18,6)) AS v
             |      FROM events e JOIN st ON e.user_id = st.user_id
             |      WHERE e.event_type = 'purchase'),
             |cells AS (SELECT stratum,
             |    sum(CASE WHEN tr THEN 1 ELSE 0 END)::BIGINT AS n_treat,
             |    sum(CASE WHEN tr THEN v END) AS s_t,
             |    sum(CASE WHEN NOT tr THEN 1 ELSE 0 END)::BIGINT AS n_ctrl,
             |    sum(CASE WHEN NOT tr THEN v END) AS s_c
             |  FROM p GROUP BY 1),
             |we AS (SELECT
             |    CASE WHEN n_treat > 0 AND n_ctrl > 0
             |      THEN CAST(n_treat + n_ctrl AS DECIMAL(13,0)) END AS w,
             |    CASE WHEN n_treat > 0 AND n_ctrl > 0
             |      THEN CAST(round(CAST(s_t AS DOUBLE) / CAST(n_treat AS DOUBLE) -
             |                CAST(s_c AS DOUBLE) / CAST(n_ctrl AS DOUBLE), 9)
             |           AS DECIMAL(18,9)) END AS e
             |  FROM cells),
             |ate AS (SELECT CAST(sum(w * e) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS a
             |        FROM we)
             |SELECT stratum, n_treat, n_ctrl,
             |  CASE WHEN n_treat > 0 AND n_ctrl > 0
             |    THEN round(CAST(s_t AS DOUBLE) / CAST(n_treat AS DOUBLE) -
             |               CAST(s_c AS DOUBLE) / CAST(n_ctrl AS DOUBLE), 6)
             |  END AS effect,
             |  round(a, 6) AS ate
             |FROM cells CROSS JOIN ate ORDER BY stratum""".stripMargin)),

    // ─── external clustering validation: dup clusters vs source ─────────
    "q290_cluster_purity" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        val cl = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
            pairs.select($"id_a", $"id_b"))
          .select($"id".as("doc_id"), $"label".as("cluster_id"))
        val cells = cl.join(docs.select($"doc_id", $"source"), "doc_id")
          .groupBy($"cluster_id", $"source").agg(count(lit(1)).as("__n"))
          .localCheckpoint(false) // purity, marginals, MI terms share it
        val n = cells.agg(sum($"__n").as("__nt"))
        val purity = cells.groupBy($"cluster_id").agg(max($"__n").as("__mx"))
          .agg(sum($"__mx").as("__pu"), count(lit(1)).as("n_clusters"))
        val mc = cells.groupBy($"cluster_id").agg(sum($"__n").as("__nc"))
        val ms = cells.groupBy($"source").agg(sum($"__n").as("__ns"))
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        def entTerms(m: org.apache.spark.sql.DataFrame, cnt: String) =
          m.crossJoin(n).select(
            round((d(col(cnt)) / d($"__nt")) * log(d(col(cnt)) / d($"__nt")), 9)
              .cast("decimal(18,9)").as("__t"))
            .agg((-sum($"__t").cast("double")).as("__h"))
        val hc = entTerms(mc, "__nc").select($"__h".as("__hc"))
        val hs = entTerms(ms, "__ns").select($"__h".as("__hs"))
        val mi = cells.join(mc, "cluster_id").join(ms, "source").crossJoin(n)
          .select(round((d($"__n") / d($"__nt")) *
              log(d($"__n") * d($"__nt") / (d($"__nc") * d($"__ns"))), 9)
            .cast("decimal(18,9)").as("__t"))
          .agg(sum($"__t").cast("double").as("__mi"))
        n.crossJoin(purity).crossJoin(hc).crossJoin(hs).crossJoin(mi)
          .select($"__nt".cast("long").as("n_docs"), $"n_clusters",
            round(d($"__pu") / d($"__nt"), 6).as("purity"),
            round($"__mi" / sqrt($"__hc" * $"__hs"), 6).as("nmi"))
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
              |cells AS (SELECT cl.cluster_id, d.source, count(*) AS n
              |          FROM cl JOIN documents d USING (doc_id) GROUP BY 1, 2),
              |nn AS (SELECT sum(n)::BIGINT AS nt FROM cells),
              |pu AS (SELECT sum(mx)::BIGINT AS pu, count(*) AS n_clusters FROM
              |         (SELECT cluster_id, max(n) AS mx FROM cells GROUP BY 1)),
              |mc AS (SELECT cluster_id, sum(n)::BIGINT AS nc FROM cells GROUP BY 1),
              |ms AS (SELECT source, sum(n)::BIGINT AS ns FROM cells GROUP BY 1),
              |hc AS (SELECT -CAST(sum(CAST(round(
              |         (CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE)) *
              |         ln(CAST(nc AS DOUBLE) / CAST(nt AS DOUBLE)), 9)
              |         AS DECIMAL(18,9))) AS DOUBLE) AS h
              |       FROM mc CROSS JOIN nn),
              |hs AS (SELECT -CAST(sum(CAST(round(
              |         (CAST(ns AS DOUBLE) / CAST(nt AS DOUBLE)) *
              |         ln(CAST(ns AS DOUBLE) / CAST(nt AS DOUBLE)), 9)
              |         AS DECIMAL(18,9))) AS DOUBLE) AS h
              |       FROM ms CROSS JOIN nn),
              |mi AS (SELECT CAST(sum(CAST(round(
              |         (CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) *
              |         ln(CAST(n AS DOUBLE) * CAST(nt AS DOUBLE) /
              |            (CAST(nc AS DOUBLE) * CAST(ns AS DOUBLE))), 9)
              |         AS DECIMAL(18,9))) AS DOUBLE) AS m
              |       FROM cells JOIN mc USING (cluster_id) JOIN ms USING (source)
              |            CROSS JOIN nn)
              |SELECT nt AS n_docs, n_clusters,
              |  round(CAST(pu AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS purity,
              |  round(m / sqrt(hc.h * hs.h), 6) AS nmi
              |FROM nn CROSS JOIN pu CROSS JOIN hc CROSS JOIN hs CROSS JOIN mi"""
        .stripMargin)),

    // ─── Freedman–Diaconis auto-binned price histogram ──────────────────
    "q291_fd_histogram" -> Q(
      (s, dir) => {
        import s.implicits._
        Drift.fdHistogram(Tables.orders(s, dir), "o_totalprice", maxBins = 50)
          .orderBy($"bin")
      },
      Some("""WITH v AS (SELECT CAST(o_totalprice AS DECIMAL(18,6)) AS v FROM orders),
             |vc AS (SELECT v, count(*) AS c FROM v GROUP BY 1),
             |cum AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM vc),
             |st AS (SELECT max(cum) AS n, min(v) AS mn, max(v) AS mx FROM cum),
             |qs AS (SELECT
             |    min(CASE WHEN cum >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.25) AS BIGINT) + 1
             |        THEN v END) AS q1,
             |    min(CASE WHEN cum >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.75) AS BIGINT) + 1
             |        THEN v END) AS q3
             |  FROM cum CROSS JOIN st),
             |par AS (SELECT n, mn, mx,
             |    2.0 * CAST(q3 - q1 AS DOUBLE) / cbrt(CAST(n AS DOUBLE)) AS h,
             |    CASE WHEN 2.0 * CAST(q3 - q1 AS DOUBLE) / cbrt(CAST(n AS DOUBLE)) > 0.0
             |      THEN least(50, greatest(1, CAST(ceil(CAST(mx - mn AS DOUBLE) /
             |        (2.0 * CAST(q3 - q1 AS DOUBLE) / cbrt(CAST(n AS DOUBLE)))) AS BIGINT)))
             |      ELSE 1 END AS nb
             |  FROM st CROSS JOIN qs),
             |b AS (SELECT CASE WHEN nb = 1 THEN 0
             |        ELSE least(nb - 1, CAST(floor(CAST(v.v - mn AS DOUBLE) / h) AS BIGINT))
             |      END AS bin
             |      FROM v CROSS JOIN par),
             |g AS (SELECT bin, count(*) AS n FROM b GROUP BY 1)
             |SELECT bin, round(CAST(mn AS DOUBLE) + CAST(bin AS DOUBLE) * h, 6) AS lo,
             |  round(CAST(mn AS DOUBLE) + CAST(bin + 1 AS DOUBLE) * h, 6) AS hi, g.n
             |FROM g CROSS JOIN par ORDER BY bin""".stripMargin)),

    // ─── reshard movement: mod vs rendezvous hashing, 8 → 10 shards ─────
    "q292_reshard_plan" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.reshardPlan(Tables.documents(s, dir), "doc_id",
            kOld = 8, kNew = 10)
          .orderBy($"strategy")
      },
      Some {
        val seeds = (0 until 10).map { j =>
          val r = Dedup.mixRot(j); val c = Dedup.mixConst(j)
          val lm = (1L << (60 - r)) - 1
          s"($j, $r, CAST($lm AS BIGINT), CAST($c AS BIGINT))"
        }.mkString(",\n    ")
        s"""WITH hx AS (SELECT
           |    ('0x'||substr(md5('0|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT AS h
           |  FROM documents),
           |sd AS (SELECT * FROM (VALUES
           |    $seeds) v(j, rt, lm, ct)),
           |mv AS (SELECT h, j, xor(((h & lm) << rt) | (h >> (60 - rt)), ct) AS m
           |       FROM hx CROSS JOIN sd),
           |oo AS (SELECT h, arg_max(j, m) AS so FROM mv WHERE j < 8 GROUP BY 1),
           |nn2 AS (SELECT h, arg_max(j, m) AS sn FROM mv GROUP BY 1),
           |lab AS (SELECT oo.h, oo.so <> nn2.sn AS mv_hrw,
           |          oo.h % 8 <> oo.h % 10 AS mv_mod
           |        FROM oo JOIN nn2 ON oo.h = nn2.h),
           |a AS (SELECT count(*) AS n,
           |        sum(CASE WHEN mv_mod THEN 1 ELSE 0 END)::BIGINT AS m1,
           |        sum(CASE WHEN mv_hrw THEN 1 ELSE 0 END)::BIGINT AS m2
           |      FROM lab)
           |SELECT 'mod' AS strategy, n AS n_docs, m1 AS n_moved,
           |  round(CAST(m1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS moved_frac FROM a
           |UNION ALL
           |SELECT 'rendezvous', n, m2,
           |  round(CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM a
           |ORDER BY strategy""".stripMargin
      }),

    // ─── persistent heavy hitters: brands in the daily top-5 ────────────
    "q293_persistent_hitters" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val daily = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
          .groupBy($"l_shipdate".as("d"), $"p_brand")
          .agg(sum($"l_extendedprice".cast("decimal(18,6)")).as("__rev"))
          .localCheckpoint(false) // rank pass + day-count share it
        val top = daily
          .withColumn("__rk", row_number().over(
            Window.partitionBy($"d").orderBy($"__rev".desc, $"p_brand")))
          .where($"__rk" <= 5)
        val nDays = daily.select($"d").distinct()
          .agg(count(lit(1)).as("__nd"))
        top.groupBy($"p_brand").agg(count(lit(1)).as("n_days_top"))
          .crossJoin(nDays)
          .select($"p_brand", $"n_days_top",
            round($"n_days_top".cast("double") / $"__nd".cast("double"), 6)
              .as("top_frac"))
          .orderBy($"top_frac".desc, $"p_brand")
          .limit(15)
      },
      Some("""WITH daily AS (SELECT l.l_shipdate AS d, p.p_brand,
             |        sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev
             |      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |      GROUP BY 1, 2),
             |top AS (SELECT p_brand FROM (SELECT p_brand,
             |          row_number() OVER (PARTITION BY d ORDER BY rev DESC, p_brand) AS rk
             |        FROM daily) WHERE rk <= 5),
             |nd AS (SELECT count(DISTINCT d) AS ndays FROM daily)
             |SELECT p_brand, count(*) AS n_days_top,
             |  round(CAST(count(*) AS DOUBLE) / CAST(ndays AS DOUBLE), 6) AS top_frac
             |FROM top CROSS JOIN nd GROUP BY p_brand, ndays
             |ORDER BY top_frac DESC, p_brand LIMIT 15""".stripMargin)),

    // ─── Jensen–Shannon divergence: en vs non-en token distributions ────
    "q294_js_divergence" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        def tok(f: org.apache.spark.sql.Column) = docs.filter(f)
          .select(explode(split(lower($"text"), " ")).as("t"))
          .where($"t" =!= "")
        Drift.jsDivergence(tok($"lang" === "en"), tok($"lang" =!= "en"), "t")
      },
      Some("""WITH rt AS (SELECT unnest(string_split(lower(text), ' ')) AS t
             |      FROM documents WHERE lang = 'en'),
             |r AS (SELECT t AS category, count(*) AS n_ref FROM rt
             |      WHERE t <> '' GROUP BY 1),
             |ct AS (SELECT unnest(string_split(lower(text), ' ')) AS t
             |      FROM documents WHERE lang <> 'en'),
             |c AS (SELECT t AS category, count(*) AS n_cur FROM ct
             |      WHERE t <> '' GROUP BY 1),
             |j AS (SELECT COALESCE(n_ref, 0)::BIGINT AS n_ref,
             |        COALESCE(n_cur, 0)::BIGINT AS n_cur
             |      FROM r FULL OUTER JOIN c ON r.category = c.category),
             |tt AS (SELECT sum(n_ref)::BIGINT AS tr, sum(n_cur)::BIGINT AS tc
             |       FROM j),
             |t AS (SELECT tr, tc, CAST(round(
             |    COALESCE(CASE WHEN n_ref > 0 THEN
             |      (CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE)) *
             |      ln((CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE)) /
             |         ((CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE) +
             |           CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE)) / 2.0)) / 2.0
             |      END, 0.0) +
             |    COALESCE(CASE WHEN n_cur > 0 THEN
             |      (CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE)) *
             |      ln((CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE)) /
             |         ((CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE) +
             |           CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE)) / 2.0)) / 2.0
             |      END, 0.0), 9) AS DECIMAL(18,9)) AS term
             |  FROM j CROSS JOIN tt)
             |SELECT tr AS n_ref, tc AS n_cur, count(*) AS n_cats,
             |  round(CAST(sum(term) AS DOUBLE), 6) AS jsd_nats,
             |  round(CAST(sum(term) AS DOUBLE) / 0.6931471805599453, 6) AS jsd_norm
             |FROM t GROUP BY 1, 2""".stripMargin)),

    // ─── Simpson's-paradox check: naive vs stratified effect signs ──────
    "q295_simpson_check" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        // user-level strata scale with the data: distributed ntile
        val strat = Ranks.withNtile(
            ev.groupBy($"user_id").agg(count(lit(1)).as("__na")),
            "stratum", 5, $"__na", $"user_id")
          .select($"user_id", $"stratum")
        // user-PARITY arms (see q285): signup covers ~every user
        val df = ev.filter($"event_type" === "purchase")
          .join(strat, Seq("user_id"))
          .select($"stratum", ($"user_id" % 2 === 0).as("treated"),
            $"value")
          .localCheckpoint(false) // stratified rows + the naive 1-row
        val rows = Market.stratifiedEffect(df, $"stratum", $"treated", "value")
        val v = $"value".cast("decimal(18,6)")
        val naive = df.agg(round(
          sum(when($"treated", v)).cast("double") /
            sum(when($"treated", 1L).otherwise(0L)).cast("double") -
            sum(when(!$"treated", v)).cast("double") /
              sum(when(!$"treated", 1L).otherwise(0L)).cast("double"), 6)
          .as("naive_effect"))
        rows.crossJoin(naive)
          .select($"stratum", $"effect", $"naive_effect",
            ($"effect".isNotNull &&
              (($"effect" > 0) =!= ($"naive_effect" > 0))).as("reversed"))
          .orderBy($"stratum")
      },
      Some("""WITH act AS (SELECT user_id, count(*) AS na FROM events GROUP BY 1),
             |st AS (SELECT user_id,
             |        CAST(ntile(5) OVER (ORDER BY na, user_id) AS BIGINT) AS stratum
             |      FROM act),
             |p AS (SELECT st.stratum, e.user_id % 2 = 0 AS tr,
             |        CAST(e.value AS DECIMAL(18,6)) AS v
             |      FROM events e JOIN st ON e.user_id = st.user_id
             |      WHERE e.event_type = 'purchase'),
             |cells AS (SELECT stratum,
             |    sum(CASE WHEN tr THEN 1 ELSE 0 END)::BIGINT AS n_treat,
             |    sum(CASE WHEN tr THEN v END) AS s_t,
             |    sum(CASE WHEN NOT tr THEN 1 ELSE 0 END)::BIGINT AS n_ctrl,
             |    sum(CASE WHEN NOT tr THEN v END) AS s_c
             |  FROM p GROUP BY 1),
             |nv AS (SELECT round(
             |    CAST(sum(CASE WHEN tr THEN v END) AS DOUBLE) /
             |    CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS DOUBLE) -
             |    CAST(sum(CASE WHEN NOT tr THEN v END) AS DOUBLE) /
             |    CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS DOUBLE), 6)
             |    AS naive_effect FROM p)
             |SELECT stratum,
             |  CASE WHEN n_treat > 0 AND n_ctrl > 0
             |    THEN round(CAST(s_t AS DOUBLE) / CAST(n_treat AS DOUBLE) -
             |               CAST(s_c AS DOUBLE) / CAST(n_ctrl AS DOUBLE), 6)
             |  END AS effect,
             |  naive_effect,
             |  (CASE WHEN n_treat > 0 AND n_ctrl > 0
             |    THEN round(CAST(s_t AS DOUBLE) / CAST(n_treat AS DOUBLE) -
             |               CAST(s_c AS DOUBLE) / CAST(n_ctrl AS DOUBLE), 6)
             |  END IS NOT NULL) AND
             |  ((CASE WHEN n_treat > 0 AND n_ctrl > 0
             |    THEN round(CAST(s_t AS DOUBLE) / CAST(n_treat AS DOUBLE) -
             |               CAST(s_c AS DOUBLE) / CAST(n_ctrl AS DOUBLE), 6)
             |  END > 0) <> (naive_effect > 0)) AS reversed
             |FROM cells CROSS JOIN nv ORDER BY stratum""".stripMargin)),

    // ─── overdispersion: variance-to-mean of per-user activity ──────────
    "q296_dispersion" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.dispersionIndex(Tables.events(s, dir), "event_type", "user_id")
          .orderBy($"class")
      },
      Some("""WITH cu AS (SELECT event_type AS class, user_id, count(*) AS c
             |      FROM events GROUP BY 1, 2),
             |a AS (SELECT class, count(*) AS n_units,
             |        sum(CAST(c AS DECIMAL(38,0))) AS s,
             |        sum(CAST(c * c AS DECIMAL(38,0))) AS s2
             |      FROM cu GROUP BY 1)
             |SELECT class, n_units,
             |  round(CAST(s AS DOUBLE) / CAST(n_units AS DOUBLE), 6) AS mean_count,
             |  CASE WHEN s > 0 THEN round(
             |    (CAST(s2 AS DOUBLE) / CAST(n_units AS DOUBLE) -
             |     (CAST(s AS DOUBLE) / CAST(n_units AS DOUBLE)) *
             |     (CAST(s AS DOUBLE) / CAST(n_units AS DOUBLE))) /
             |    (CAST(s AS DOUBLE) / CAST(n_units AS DOUBLE)), 6) END AS dispersion,
             |  CASE WHEN s > 0 THEN
             |    (CAST(s2 AS DOUBLE) / CAST(n_units AS DOUBLE) -
             |     (CAST(s AS DOUBLE) / CAST(n_units AS DOUBLE)) *
             |     (CAST(s AS DOUBLE) / CAST(n_units AS DOUBLE))) /
             |    (CAST(s AS DOUBLE) / CAST(n_units AS DOUBLE)) > 1.5
             |  END AS overdispersed
             |FROM a ORDER BY class""".stripMargin)),

    // ─── Cramér's V association: lang × source ──────────────────────────
    "q297_cramers_v" -> Q(
      (s, dir) => Profile.cramersV(Tables.documents(s, dir), "lang", "source"),
      Some("""WITH cells AS (SELECT lang AS a, source AS b, count(*) AS cab
             |      FROM documents GROUP BY 1, 2),
             |ma AS (SELECT a, sum(cab)::BIGINT AS ca FROM cells GROUP BY 1),
             |mb AS (SELECT b, sum(cab)::BIGINT AS cb FROM cells GROUP BY 1),
             |tot AS (SELECT sum(cab)::BIGINT AS n FROM cells),
             |lv AS (SELECT (SELECT count(*) FROM ma) AS r,
             |              (SELECT count(*) FROM mb) AS c),
             |grid AS (SELECT ma.a, mb.b, ma.ca, mb.cb,
             |           COALESCE(cells.cab, 0)::BIGINT AS cab
             |         FROM ma CROSS JOIN mb
             |         LEFT JOIN cells ON ma.a = cells.a AND mb.b = cells.b),
             |t AS (SELECT n, CAST(round(
             |        (CAST(cab AS DOUBLE) -
             |         CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) *
             |        (CAST(cab AS DOUBLE) -
             |         CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) /
             |        (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)),
             |        9) AS DECIMAL(18,9)) AS term
             |      FROM grid CROSS JOIN tot)
             |SELECT n, r AS r_levels, c AS c_levels,
             |  round(CAST(sum(term) AS DOUBLE), 6) AS chi2,
             |  round(sqrt(CAST(sum(term) AS DOUBLE) /
             |    (CAST(n AS DOUBLE) * CAST(least(r, c) - 1 AS DOUBLE))), 6)
             |    AS cramers_v
             |FROM t CROSS JOIN lv GROUP BY n, r, c""".stripMargin)),

    // ─── data-freshness audit per event type ────────────────────────────
    "q298_freshness_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
          .select($"event_type", unix_micros($"ts".cast("timestamp")).as("__us"))
          .localCheckpoint(false) // global max + per-type aggregate
        val mx = ev.agg(max($"__us").as("__gmax"))
        ev.groupBy($"event_type")
          .agg(max($"__us").as("__smax"), count(lit(1)).as("n_events"))
          .crossJoin(mx)
          .select($"event_type", $"n_events",
            round(($"__gmax" - $"__smax").cast("double") / lit(6e7), 6)
              .as("staleness_min"),
            (($"__gmax" - $"__smax") > lit(3600000000L)).as("stale_over_1h"))
          .orderBy($"event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
             |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |mx AS (SELECT max(us) AS gmax FROM ev),
             |a AS (SELECT event_type, max(us) AS smax, count(*) AS n_events
             |      FROM ev GROUP BY 1)
             |SELECT event_type, n_events,
             |  round(CAST(gmax - smax AS DOUBLE) / 6e7, 6) AS staleness_min,
             |  gmax - smax > 3600000000 AS stale_over_1h
             |FROM a CROSS JOIN mx ORDER BY event_type""".stripMargin)),

    // ─── tf-weighted Jaccard re-score of the minhash candidates ─────────
    "q299_weighted_jaccard" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
          .filter($"jaccard" >= 0.5)
        Dedup.weightedJaccardDecorate(docs, "doc_id", "text", pairs)
          .orderBy($"id_a", $"id_b")
      },
      Some(s"""WITH $minhashCtes,
              |e AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
              |tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
              |        FROM documents),
              |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok
              |       WHERE t <> '' GROUP BY 1, 2),
              |asd AS (SELECT e.id_a, e.id_b, tf.t, tf.tf AS tfa
              |        FROM e JOIN tf ON e.id_a = tf.doc_id),
              |bsd AS (SELECT e.id_a, e.id_b, tf.t, tf.tf AS tfb
              |        FROM e JOIN tf ON e.id_b = tf.doc_id),
              |u AS (SELECT COALESCE(asd.id_a, bsd.id_a) AS id_a,
              |        COALESCE(asd.id_b, bsd.id_b) AS id_b,
              |        COALESCE(tfa, 0) AS tfa, COALESCE(tfb, 0) AS tfb
              |      FROM asd FULL OUTER JOIN bsd
              |        ON asd.id_a = bsd.id_a AND asd.id_b = bsd.id_b
              |       AND asd.t = bsd.t)
              |SELECT id_a, id_b,
              |  round(CAST(sum(least(tfa, tfb)) AS DOUBLE) /
              |        CAST(sum(greatest(tfa, tfb)) AS DOUBLE), 6) AS w_jaccard
              |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ─── distribution-shape moments per market segment ──────────────────
    "q300_moments" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.momentsProfile(
            Tables.orders(s, dir).join(Tables.customer(s, dir),
              $"o_custkey" === $"c_custkey"),
            "c_mktsegment", "o_totalprice")
          .orderBy($"key")
      },
      Some("""WITH f AS (SELECT c.c_mktsegment AS key,
             |        CAST(o.o_totalprice AS DECIMAL(18,6)) AS v
             |      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
             |m1 AS (SELECT key, count(*) AS n,
             |        CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean
             |      FROM f GROUP BY 1),
             |dv AS (SELECT f.key, CAST(v AS DOUBLE) - mean AS dd, n, mean
             |       FROM f JOIN m1 USING (key)),
             |t AS (SELECT key, max(n) AS n, max(mean) AS mean,
             |        sum(CAST(round(dd * dd, 9) AS DECIMAL(28,9))) AS s2,
             |        sum(CAST(round(dd * dd * dd, 9) AS DECIMAL(38,9))) AS s3,
             |        sum(CAST(round(dd * dd * dd * dd, 9) AS DECIMAL(38,9))) AS s4
             |      FROM dv GROUP BY key)
             |SELECT key, n, round(mean, 6) AS mean,
             |  CASE WHEN CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) > 0.0 THEN
             |    round(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)), 6) END AS std,
             |  CASE WHEN CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) > 0.0 THEN
             |    round((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) /
             |          pow(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE), 1.5), 6)
             |  END AS skewness,
             |  CASE WHEN CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) > 0.0 THEN
             |    round((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)) /
             |          ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) *
             |           (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0, 6)
             |  END AS kurtosis
             |FROM t ORDER BY key""".stripMargin)),

    // ─── longest consecutive-day activity streaks (gaps & islands) ──────
    "q301_activity_streaks" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val du = Tables.events(s, dir)
          .select($"user_id", to_date($"ts".cast("timestamp")).as("d"))
          .distinct()
        val w = Window.partitionBy($"user_id").orderBy($"d")
        val isl = du
          .withColumn("__rn", row_number().over(w))
          .withColumn("__g",
            datediff($"d", lit("1970-01-01").cast("date")) - $"__rn")
        isl.groupBy($"user_id", $"__g").agg(count(lit(1)).as("__len"))
          .groupBy($"user_id")
          .agg(max($"__len").as("longest_streak"),
            count(lit(1)).as("n_streaks"))
          .orderBy($"longest_streak".desc, $"user_id")
          .limit(20)
      },
      Some("""WITH du AS (SELECT DISTINCT user_id,
             |        CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
             |i AS (SELECT user_id,
             |        CAST(d - DATE '1970-01-01' AS BIGINT) -
             |          row_number() OVER (PARTITION BY user_id ORDER BY d) AS g
             |      FROM du),
             |st AS (SELECT user_id, g, count(*) AS len FROM i GROUP BY 1, 2)
             |SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks
             |FROM st GROUP BY 1
             |ORDER BY longest_streak DESC, user_id LIMIT 20""".stripMargin)),

    // ─── ABC (revenue share) × XYZ (demand variability) matrix ──────────
    "q302_abc_xyz" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val li = Tables.lineitem(s, dir)
        val rev = li.groupBy($"l_partkey")
          .agg(sum($"l_extendedprice".cast("decimal(18,6)")).as("__rev"))
        // parts scale with the catalog: the revenue-ordered cumulative
        // runs through the distributed decimal prefix-sum hatch, and the
        // grand total rides out of its partials collect
        val runAbc = Ranks.runningDecimalSums(rev, Seq("__rev" -> "__cum"),
          None, $"__rev".desc, $"l_partkey")
        val totAbc = lit(runAbc.totals("__rev")).cast("double")
        val abc = runAbc.df
          .withColumn("abc",
            when($"__cum".cast("double") / totAbc <= 0.8, "A")
              .when($"__cum".cast("double") / totAbc <= 0.95, "B")
              .otherwise("C"))
          .select($"l_partkey", $"abc")
        val pm = li.groupBy($"l_partkey",
            date_format(date_trunc("month", $"l_shipdate"), "yyyy-MM").as("__m"))
          .agg(sum($"l_quantity".cast("decimal(18,6)")).as("__q"))
        val cv = $"__sq2".cast("double") / $"__nm".cast("double") -
          ($"__sq".cast("double") / $"__nm".cast("double")) *
            ($"__sq".cast("double") / $"__nm".cast("double"))
        val xyz = pm.groupBy($"l_partkey")
          .agg(count(lit(1)).as("__nm"), sum($"__q").as("__sq"),
            sum($"__q" * $"__q").as("__sq2"))
          .withColumn("xyz", when(
              sqrt(cv) / ($"__sq".cast("double") / $"__nm".cast("double")) <= 0.5,
              "X")
            .when(
              sqrt(cv) / ($"__sq".cast("double") / $"__nm".cast("double")) <= 1.0,
              "Y")
            .otherwise("Z"))
          .select($"l_partkey", $"xyz")
        abc.join(xyz, "l_partkey")
          .groupBy($"abc", $"xyz").agg(count(lit(1)).as("n_parts"))
          .orderBy($"abc", $"xyz")
      },
      Some("""WITH rev AS (SELECT l_partkey,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS r
             |      FROM lineitem GROUP BY 1),
             |abc AS (SELECT l_partkey, CASE
             |    WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8 THEN 'A'
             |    WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95 THEN 'B'
             |    ELSE 'C' END AS abc
             |  FROM (SELECT l_partkey,
             |          sum(r) OVER (ORDER BY r DESC, l_partkey
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |          sum(r) OVER () AS tot FROM rev)),
             |pm AS (SELECT l_partkey,
             |        strftime(date_trunc('month', l_shipdate), '%Y-%m') AS m,
             |        sum(CAST(l_quantity AS DECIMAL(18,6))) AS q
             |      FROM lineitem GROUP BY 1, 2),
             |xy AS (SELECT l_partkey, count(*) AS nm, sum(q) AS sq,
             |        sum(q * q) AS sq2 FROM pm GROUP BY 1),
             |xyz AS (SELECT l_partkey, CASE
             |    WHEN sqrt(CAST(sq2 AS DOUBLE) / CAST(nm AS DOUBLE) -
             |         (CAST(sq AS DOUBLE) / CAST(nm AS DOUBLE)) *
             |         (CAST(sq AS DOUBLE) / CAST(nm AS DOUBLE))) /
             |         (CAST(sq AS DOUBLE) / CAST(nm AS DOUBLE)) <= 0.5 THEN 'X'
             |    WHEN sqrt(CAST(sq2 AS DOUBLE) / CAST(nm AS DOUBLE) -
             |         (CAST(sq AS DOUBLE) / CAST(nm AS DOUBLE)) *
             |         (CAST(sq AS DOUBLE) / CAST(nm AS DOUBLE))) /
             |         (CAST(sq AS DOUBLE) / CAST(nm AS DOUBLE)) <= 1.0 THEN 'Y'
             |    ELSE 'Z' END AS xyz
             |  FROM xy)
             |SELECT abc.abc, xyz.xyz, count(*) AS n_parts
             |FROM abc JOIN xyz USING (l_partkey)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ─── gains chart: cumulative positive capture by score decile ───────
    "q303_gains_chart" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
          .select($"doc_id", $"n_chars", ($"lang" === "en").cast("int").as("__y"))
        // doc-level deciling scales with the corpus: distributed ntile;
        // the windows below run over 10 decile rows — bounded
        val dec = Ranks.withNtile(docs, "decile", 10,
          $"n_chars".desc, $"doc_id")
        val g = dec.groupBy($"decile")
          .agg(count(lit(1)).as("n"), sum($"__y").as("n_pos"))
        g.withColumn("__cum", sum($"n_pos").over(Window.orderBy($"decile")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("__p", sum($"n_pos").over(Window.partitionBy()))
          .withColumn("__t", sum($"n").over(Window.partitionBy()))
          .select($"decile", $"n", $"n_pos",
            round($"__cum".cast("double") / $"__p".cast("double"), 6)
              .as("cum_capture"),
            round(($"n_pos".cast("double") / $"n".cast("double")) /
              ($"__p".cast("double") / $"__t".cast("double")), 6).as("lift"))
          .orderBy($"decile")
      },
      Some("""WITH d AS (SELECT doc_id, n_chars,
             |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             |        CAST(ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
             |          AS decile
             |      FROM documents),
             |g AS (SELECT decile, count(*) AS n, sum(y)::BIGINT AS n_pos
             |      FROM d GROUP BY 1),
             |c AS (SELECT decile, n, n_pos,
             |        sum(n_pos) OVER (ORDER BY decile
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |        sum(n_pos) OVER () AS p, sum(n) OVER () AS t FROM g)
             |SELECT decile, n, n_pos,
             |  round(CAST(cum AS DOUBLE) / CAST(p AS DOUBLE), 6) AS cum_capture,
             |  round((CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)) /
             |        (CAST(p AS DOUBLE) / CAST(t AS DOUBLE)), 6) AS lift
             |FROM c ORDER BY decile""".stripMargin)),

    // ─── Fightin'-Words distinctive terms per source ────────────────────
    "q304_distinctive_terms" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.distinctiveTerms(Tables.documents(s, dir), "source",
            "text", topK = 3)
          .orderBy($"group", $"z_score".desc, $"term")
      },
      Some("""WITH st AS (SELECT g, t AS term, count(*) AS y FROM
             |      (SELECT source AS g,
             |         unnest(string_split(lower(text), ' ')) AS t FROM documents)
             |    WHERE t <> '' GROUP BY 1, 2),
             |ns AS (SELECT g, sum(y)::BIGINT AS ns FROM st GROUP BY 1),
             |ctt AS (SELECT term, sum(y)::BIGINT AS yt FROM st GROUP BY 1),
             |vv AS (SELECT count(*) AS v, sum(yt)::BIGINT AS n FROM ctt),
             |sc AS (SELECT g, term, round(
             |    (ln((CAST(y AS DOUBLE) + 0.5) /
             |        (CAST(ns AS DOUBLE) + 0.5 * CAST(v AS DOUBLE) -
             |         CAST(y AS DOUBLE) - 0.5)) -
             |     ln((CAST(yt AS DOUBLE) + 0.5) /
             |        (CAST(n AS DOUBLE) + 0.5 * CAST(v AS DOUBLE) -
             |         CAST(yt AS DOUBLE) - 0.5))) /
             |    sqrt(1.0 / (CAST(y AS DOUBLE) + 0.5) +
             |         1.0 / (CAST(yt AS DOUBLE) + 0.5)), 6) AS z_score
             |  FROM st JOIN ns USING (g) JOIN ctt USING (term) CROSS JOIN vv),
             |r AS (SELECT g, term, z_score,
             |        row_number() OVER (PARTITION BY g
             |          ORDER BY z_score DESC, term) AS rk FROM sc)
             |SELECT g AS "group", term, z_score FROM r WHERE rk <= 3
             |ORDER BY "group", z_score DESC, term""".stripMargin)),

    // ─── forecast backtest: naive vs seasonal-naive on monthly revenue ──
    "q305_forecast_backtest" -> Q(
      (s, dir) => {
        import s.implicits._
        val m = Tables.orders(s, dir)
          .groupBy((year($"o_orderdate") * 12 + month($"o_orderdate"))
            .cast("long").as("mi"))
          .agg(sum($"o_totalprice".cast("decimal(18,6)")).as("v"))
          .localCheckpoint(false) // current + two lag joins
        val j = m
          .join(m.select(($"mi" + 1).as("mi"), $"v".as("v1")), "mi")
          .join(m.select(($"mi" + 12).as("mi"), $"v".as("v12")), "mi")
          .localCheckpoint(false) // both model rows read it
        def side(model: String, pred: org.apache.spark.sql.Column) = j
          .select(abs($"v" - pred).as("__ae"),
            round(abs($"v" - pred).cast("double") / $"v".cast("double"), 9)
              .cast("decimal(18,9)").as("__ape"))
          .agg(count(lit(1)).as("n_months"),
            round(sum($"__ae").cast("double") / count(lit(1)).cast("double"), 6)
              .as("mae"),
            round(sum($"__ape").cast("double") / count(lit(1)).cast("double"), 6)
              .as("mape"))
          .select(lit(model).as("model"), $"n_months", $"mae", $"mape")
        side("naive", $"v1").unionByName(side("seasonal_naive", $"v12"))
          .orderBy($"model")
      },
      Some("""WITH m AS (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS v
             |      FROM orders GROUP BY 1),
             |j AS (SELECT m.mi, m.v, a.v AS v1, b.v AS v12
             |      FROM m JOIN m a ON m.mi = a.mi + 1
             |             JOIN m b ON m.mi = b.mi + 12),
             |n AS (SELECT 'naive' AS model, count(*) AS n_months,
             |        round(CAST(sum(abs(v - v1)) AS DOUBLE) /
             |          CAST(count(*) AS DOUBLE), 6) AS mae,
             |        round(CAST(sum(CAST(round(CAST(abs(v - v1) AS DOUBLE) /
             |            CAST(v AS DOUBLE), 9) AS DECIMAL(18,9))) AS DOUBLE) /
             |          CAST(count(*) AS DOUBLE), 6) AS mape
             |      FROM j),
             |sn AS (SELECT 'seasonal_naive' AS model, count(*) AS n_months,
             |        round(CAST(sum(abs(v - v12)) AS DOUBLE) /
             |          CAST(count(*) AS DOUBLE), 6) AS mae,
             |        round(CAST(sum(CAST(round(CAST(abs(v - v12) AS DOUBLE) /
             |            CAST(v AS DOUBLE), 9) AS DECIMAL(18,9))) AS DOUBLE) /
             |          CAST(count(*) AS DOUBLE), 6) AS mape
             |      FROM j)
             |SELECT * FROM n UNION ALL SELECT * FROM sn ORDER BY model"""
        .stripMargin)),

    // ─── supplier service coverage: union of 7-day ship intervals ───────
    "q306_interval_union" -> Q(
      (s, dir) => {
        import s.implicits._
        val base = Tables.lineitem(s, dir).select($"l_suppkey",
            datediff($"l_shipdate", lit("1970-01-01").cast("date"))
              .cast("long").as("s"))
          .withColumn("e", $"s" + 7)
        IntervalJoin.unionCoverage(base, "l_suppkey", "s", "e")
          .orderBy($"covered".desc, $"key")
          .limit(20)
      },
      Some("""WITH b AS (SELECT l_suppkey AS key,
             |        CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS s,
             |        CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) + 7 AS e
             |      FROM lineitem),
             |w1 AS (SELECT key, s, e,
             |        max(e) OVER (PARTITION BY key ORDER BY s, e
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
             |      FROM b),
             |w2 AS (SELECT key, s, e,
             |        CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END AS nw FROM w1),
             |w3 AS (SELECT key, s, e, sum(nw) OVER (PARTITION BY key ORDER BY s, e
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
             |       FROM w2),
             |g1 AS (SELECT key, isl, count(*) AS cnt, min(s) AS is_, max(e) AS ie
             |       FROM w3 GROUP BY 1, 2)
             |SELECT key, sum(cnt)::BIGINT AS n_intervals, count(*) AS n_islands,
             |  sum(ie - is_)::BIGINT AS covered
             |FROM g1 GROUP BY 1 ORDER BY covered DESC, key LIMIT 20"""
        .stripMargin)),

    // ─── revenue-decile mobility matrix: 1995 → 2000 ────────────────────
    "q307_rank_mobility" -> Q(
      (s, dir) => {
        import s.implicits._
        // customer-level deciles scale with the data: distributed ntile
        def decile(yr: Int, alias: String) = Ranks.withNtile(
            Tables.orders(s, dir)
              .filter(year($"o_orderdate") === yr)
              .groupBy($"o_custkey")
              .agg(sum($"o_totalprice".cast("decimal(18,6)")).as("__r")),
            alias, 10, $"__r", $"o_custkey")
          .select($"o_custkey", col(alias))
        decile(1995, "d_from").join(decile(2000, "d_to"), "o_custkey")
          .groupBy($"d_from", $"d_to").agg(count(lit(1)).as("n_customers"))
          .orderBy($"d_from", $"d_to")
      },
      Some("""WITH a AS (SELECT o_custkey,
             |        CAST(ntile(10) OVER (ORDER BY r, o_custkey) AS BIGINT) AS d_from
             |      FROM (SELECT o_custkey,
             |              sum(CAST(o_totalprice AS DECIMAL(18,6))) AS r
             |            FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1)),
             |b AS (SELECT o_custkey,
             |        CAST(ntile(10) OVER (ORDER BY r, o_custkey) AS BIGINT) AS d_to
             |      FROM (SELECT o_custkey,
             |              sum(CAST(o_totalprice AS DECIMAL(18,6))) AS r
             |            FROM orders WHERE year(o_orderdate) = 2000 GROUP BY 1))
             |SELECT d_from, d_to, count(*) AS n_customers
             |FROM a JOIN b USING (o_custkey)
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ─── Dirichlet-smoothed query-likelihood retrieval ──────────────────
    "q308_ql_retrieval" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val qterms = Seq("spark", "join", "scan")
        val tok = docs
          .select($"doc_id", explode(split(lower($"text"), " ")).as("t"))
          .where($"t" =!= "")
          .localCheckpoint(false) // corpus stats + the tf slice
        val cf = tok.groupBy($"t").agg(count(lit(1)).as("cf"))
        val qt = cf.filter($"t".isin(qterms: _*))
          .crossJoin(cf.agg(sum($"cf").as("__T")))
          .select($"t", ($"cf".cast("double") / $"__T".cast("double")).as("p"))
        val tf = tok.filter($"t".isin(qterms: _*))
          .groupBy($"doc_id", $"t").agg(count(lit(1)).as("tf"))
        docs.select($"doc_id",
            size(split(lower($"text"), " ")).cast("long").as("__len"))
          .crossJoin(qt)
          .join(tf, Seq("doc_id", "t"), "left")
          .select($"doc_id",
            round(log((coalesce($"tf", lit(0L)).cast("double") +
                lit(2000.0) * $"p") / ($"__len".cast("double") + lit(2000.0))),
              9).cast("decimal(18,9)").as("__c"))
          .groupBy($"doc_id")
          .agg(round(sum($"__c").cast("double"), 6).as("ql_score"))
          .orderBy($"ql_score".desc, $"doc_id")
          .limit(10)
      },
      Some("""WITH tok AS (SELECT doc_id,
             |        unnest(string_split(lower(text), ' ')) AS t FROM documents),
             |tk AS (SELECT doc_id, t FROM tok WHERE t <> ''),
             |cf AS (SELECT t, count(*) AS cf FROM tk GROUP BY 1),
             |tt AS (SELECT sum(cf)::BIGINT AS tot_cf FROM cf),
             |qt AS (SELECT t, CAST(cf AS DOUBLE) / CAST(tot_cf AS DOUBLE) AS p
             |       FROM cf CROSS JOIN tt WHERE t IN ('spark', 'join', 'scan')),
             |tf AS (SELECT doc_id, t, count(*) AS tf FROM tk
             |       WHERE t IN ('spark', 'join', 'scan') GROUP BY 1, 2),
             |lens AS (SELECT doc_id,
             |        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS len
             |      FROM documents),
             |sc AS (SELECT lens.doc_id, CAST(round(ln(
             |        (CAST(COALESCE(tf.tf, 0) AS DOUBLE) + 2000.0 * qt.p) /
             |        (CAST(lens.len AS DOUBLE) + 2000.0)), 9)
             |        AS DECIMAL(18,9)) AS c
             |      FROM lens CROSS JOIN qt
             |      LEFT JOIN tf ON lens.doc_id = tf.doc_id AND qt.t = tf.t)
             |SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS ql_score
             |FROM sc GROUP BY 1 ORDER BY ql_score DESC, doc_id LIMIT 10"""
        .stripMargin)),

    // ─── sequence-length bucketing: padded waste vs bucket count ────────
    "q309_length_bucketing" -> Q(
      (s, dir) => {
        import s.implicits._
        val lens = Tables.documents(s, dir)
          .select($"doc_id",
            size(split(lower($"text"), " ")).cast("long").as("len"))
          .localCheckpoint(false) // three bucketing passes share it
        Seq(1, 4, 8).map { nb =>
          // doc-level bucketing scales with the corpus: distributed ntile
          val b = Ranks.withNtile(lens, "__b", nb, $"len", $"doc_id")
          val per = b.groupBy($"__b")
            .agg(max($"len").as("__mx"), count(lit(1)).as("__n"),
              sum($"len").as("__sl"))
          per.agg(sum($"__mx" * $"__n").as("__padded"),
              sum($"__sl").as("__tok"))
            .select(lit(nb.toLong).as("n_buckets"),
              $"__padded".cast("long").as("padded_total"),
              ($"__padded" - $"__tok").cast("long").as("waste"),
              round(($"__padded" - $"__tok").cast("double") /
                $"__padded".cast("double"), 6).as("waste_frac"))
        }.reduce(_ unionByName _).orderBy($"n_buckets")
      },
      Some {
        def scheme(nb: Int) =
          s"""SELECT CAST($nb AS BIGINT) AS n_buckets,
             |  CAST(sum(mx * n) AS BIGINT) AS padded_total,
             |  CAST(sum(mx * n) - sum(sl) AS BIGINT) AS waste,
             |  round(CAST(sum(mx * n) - sum(sl) AS DOUBLE) /
             |        CAST(sum(mx * n) AS DOUBLE), 6) AS waste_frac
             |FROM (SELECT max(len) AS mx, count(*) AS n, sum(len) AS sl
             |      FROM (SELECT doc_id,
             |              CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS len,
             |              ntile($nb) OVER (ORDER BY
             |                CAST(len(string_split(lower(text), ' ')) AS BIGINT),
             |                doc_id) AS b
             |            FROM documents)
             |      GROUP BY b)""".stripMargin
        Seq(1, 4, 8).map(scheme)
          .mkString("", "\nUNION ALL\n", "\nORDER BY n_buckets")
      }),

    // ─── dup-cluster density audit (chain-merge detector) ───────────────
    "q310_cluster_density" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
            numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
          .localCheckpoint(false) // CC + the per-cluster edge count
        val cl = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
            pairs.select($"id_a", $"id_b"))
          .select($"id".as("doc_id"), $"label".as("cluster_id"))
          .localCheckpoint(false) // node counts + edge decoration
        val nodes = cl.groupBy($"cluster_id").agg(count(lit(1)).as("n_nodes"))
        val edges = pairs
          .join(cl.select($"doc_id".as("id_a"), $"cluster_id"), "id_a")
          .groupBy($"cluster_id").agg(count(lit(1)).as("n_edges"))
        nodes.join(edges, "cluster_id")
          .where($"n_nodes" >= 3)
          .select($"cluster_id", $"n_nodes", $"n_edges",
            round(lit(2.0) * $"n_edges".cast("double") /
              ($"n_nodes".cast("double") * ($"n_nodes" - 1).cast("double")), 6)
              .as("density"))
          .orderBy($"density", $"cluster_id")
          .limit(15)
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
              |nodes AS (SELECT cluster_id, count(*) AS n_nodes FROM cl GROUP BY 1),
              |ed AS (SELECT cl.cluster_id, count(*) AS n_edges
              |       FROM edges JOIN cl ON edges.id_a = cl.doc_id GROUP BY 1)
              |SELECT nodes.cluster_id, n_nodes, n_edges,
              |  round(2.0 * CAST(n_edges AS DOUBLE) /
              |    (CAST(n_nodes AS DOUBLE) * CAST(n_nodes - 1 AS DOUBLE)), 6)
              |    AS density
              |FROM nodes JOIN ed USING (cluster_id)
              |WHERE n_nodes >= 3
              |ORDER BY density, cluster_id LIMIT 15""".stripMargin)),

    // ─── windowed collocations: top token pairs by PMI ──────────────────
    "q311_collocations" -> Q(
      (s, dir) => {
        import s.implicits._
        val tok = Tables.documents(s, dir)
          .select($"doc_id", posexplode(split(lower($"text"), " "))
            .as(Seq("pos", "t")))
          .localCheckpoint(false) // marginals + both pair sides
        val n1 = tok.groupBy($"t").agg(count(lit(1)).as("c1"))
        val ntok = n1.agg(sum($"c1").as("__nt"))
        val pairs = tok.as("a").join(tok.as("b"),
            $"a.doc_id" === $"b.doc_id" &&
              ($"b.pos" - $"a.pos").isin(1, 2))
          .select(least($"a.t", $"b.t").as("t1"),
            greatest($"a.t", $"b.t").as("t2"))
        val pc = pairs.groupBy($"t1", $"t2").agg(count(lit(1)).as("n12"))
          .localCheckpoint(false) // total + the scored pass
        val np = pc.agg(sum($"n12").as("__np"))
        pc.where($"n12" >= 50)
          .join(n1.select($"t".as("t1"), $"c1".as("__ca")), "t1")
          .join(n1.select($"t".as("t2"), $"c1".as("__cb")), "t2")
          .crossJoin(np).crossJoin(ntok)
          .select($"t1", $"t2", $"n12",
            round(log(($"n12".cast("double") / $"__np".cast("double")) /
              (($"__ca".cast("double") / $"__nt".cast("double")) *
                ($"__cb".cast("double") / $"__nt".cast("double")))), 6)
              .as("pmi"))
          .orderBy($"pmi".desc, $"t1", $"t2")
          .limit(15)
      },
      Some("""WITH base AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
             |      FROM documents),
             |tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        tk[CAST(i AS INT) + 1] AS t
             |      FROM (SELECT doc_id, tk, unnest(range(len(tk))) AS i FROM base)),
             |n1 AS (SELECT t, count(*) AS c1 FROM tok GROUP BY 1),
             |nt AS (SELECT sum(c1)::BIGINT AS ntok FROM n1),
             |pr AS (SELECT least(a.t, b.t) AS t1, greatest(a.t, b.t) AS t2
             |       FROM tok a JOIN tok b ON a.doc_id = b.doc_id
             |        AND b.pos - a.pos IN (1, 2)),
             |pc AS (SELECT t1, t2, count(*) AS n12 FROM pr GROUP BY 1, 2),
             |np AS (SELECT sum(n12)::BIGINT AS npair FROM pc)
             |SELECT t1, t2, n12,
             |  round(ln((CAST(n12 AS DOUBLE) / CAST(npair AS DOUBLE)) /
             |    ((CAST(ca.c1 AS DOUBLE) / CAST(ntok AS DOUBLE)) *
             |     (CAST(cb.c1 AS DOUBLE) / CAST(ntok AS DOUBLE)))), 6) AS pmi
             |FROM pc JOIN n1 ca ON pc.t1 = ca.t JOIN n1 cb ON pc.t2 = cb.t
             |     CROSS JOIN np CROSS JOIN nt
             |WHERE n12 >= 50
             |ORDER BY pmi DESC, t1, t2 LIMIT 15""".stripMargin)),

    // ─── shard balance / straggler audit over the manifest ──────────────
    "q312_shard_balance" -> Q(
      (s, dir) => {
        import s.implicits._
        val m = Mixing.shardManifest(Tables.documents(s, dir), "doc_id",
          "text", nShards = 16)
        m.agg(count(lit(1)).as("n_shards"),
            sum($"n_tokens").as("__tot"),
            max($"n_tokens").as("__mx"), min($"n_tokens").as("__mn"))
          .select($"n_shards", $"__tot".cast("long").as("total_tokens"),
            $"__mx".as("max_shard"), $"__mn".as("min_shard"),
            round($"__mx".cast("double") /
              ($"__tot".cast("double") / $"n_shards".cast("double")), 6)
              .as("balance_ratio"))
      },
      Some("""WITH m AS (SELECT
             |    ('0x'||substr(md5('97|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 16
             |      AS shard,
             |    CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS nt
             |  FROM documents),
             |g AS (SELECT shard, sum(nt)::BIGINT AS n_tokens FROM m GROUP BY 1)
             |SELECT count(*) AS n_shards, sum(n_tokens)::BIGINT AS total_tokens,
             |  max(n_tokens) AS max_shard, min(n_tokens) AS min_shard,
             |  round(CAST(max(n_tokens) AS DOUBLE) /
             |    (CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 6)
             |    AS balance_ratio
             |FROM g""".stripMargin)),

    // ─── join-cardinality audit: actual vs independence estimate ────────
    "q313_join_card_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        def audit(name: String, df: org.apache.spark.sql.DataFrame,
            key: String) = {
          val kc = df.groupBy(col(key).as("__k")).agg(count(lit(1)).as("__c"))
          kc.agg(sum($"__c").as("__n"), count(lit(1)).as("__d"),
              sum(($"__c".cast("decimal(19,0)") * $"__c".cast("decimal(19,0)")))
                .as("__actual"))
            .select(lit(name).as("relation"), $"__n".cast("long").as("n_rows"),
              $"__d".as("d_keys"), $"__actual".cast("long").as("actual_pairs"),
              // estimate stays in DOUBLE: Spark's decimal→long cast
              // truncates while DuckDB's rounds — a BIGINT estimate
              // column could differ by 1 between engines
              round($"__n".cast("double") * $"__n".cast("double") /
                $"__d".cast("double"), 6).as("independence_est"))
            .withColumn("ratio", round($"actual_pairs".cast("double") /
              ($"n_rows".cast("double") * $"n_rows".cast("double") /
                $"d_keys".cast("double")), 6))
        }
        audit("events_by_user", Tables.events(s, dir), "user_id")
          .unionByName(audit("lineitem_by_part", Tables.lineitem(s, dir),
            "l_partkey"))
          .orderBy($"relation")
      },
      Some {
        def audit(name: String, table: String, key: String) =
          s"""SELECT '$name' AS relation, sum(c)::BIGINT AS n_rows,
             |  count(*) AS d_keys,
             |  CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
             |    AS BIGINT) AS actual_pairs,
             |  round(CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 6) AS independence_est,
             |  round(CAST(sum(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0)))
             |      AS DOUBLE) /
             |    (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE) /
             |     CAST(count(*) AS DOUBLE)), 6) AS ratio
             |FROM (SELECT count(*) AS c FROM $table GROUP BY $key)""".stripMargin
        Seq(audit("events_by_user", "events", "user_id"),
          audit("lineitem_by_part", "lineitem", "l_partkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
      }),

    // ─── Haar detail energy of the daily revenue series, levels 1..3 ────
    "q314_wavelet_energy" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val idx = Tables.orders(s, dir)
          .groupBy($"o_orderdate".cast("date").as("d"))
          .agg(sum($"o_totalprice".cast("decimal(18,6)")).as("v"))
          .withColumn("i",
            (row_number().over(Window.orderBy($"d")) - 1).cast("long"))
          .localCheckpoint(false) // three level passes share the sort
        Seq(1, 2, 3).map { l =>
          val size = 1L << l; val half = 1L << (l - 1)
          idx.select(($"i" / size).cast("long").as("b"),
              (($"i" / half).cast("long") % 2).as("h"), $"v")
            .groupBy($"b")
            .agg(count(lit(1)).as("n"),
              sum(when($"h" === 0, $"v")).as("s0"),
              sum(when($"h" === 1, $"v")).as("s1"))
            .where($"n" === size)
            // detail in MILLIONS: raw money-scale details square to ~1e14,
            // where round(x, 9) sits far below the double ulp and engine
            // round implementations diverge (the q235 scale lesson);
            // d*d, NOT pow(d, 2): pow differs by an ulp between libms
            .withColumn("__d",
              ($"s0" - $"s1").cast("double") / lit(size.toDouble) / lit(1e6))
            .select(round($"__d" * $"__d", 9).cast("decimal(28,9)").as("__e2"))
            .agg(count(lit(1)).as("n_blocks"),
              round(sum($"__e2").cast("double"), 6).as("energy"))
            .select(lit(l.toLong).as("level"), $"n_blocks", $"energy")
        }.reduce(_ unionByName _).orderBy($"level")
      },
      Some {
        def level(l: Int) = {
          val size = 1 << l; val half = 1 << (l - 1)
          s"""SELECT CAST($l AS BIGINT) AS level, count(*) AS n_blocks,
             |  round(CAST(sum(e2) AS DOUBLE), 6) AS energy
             |FROM (SELECT CAST(round(
             |        (CAST(s0 - s1 AS DOUBLE) / CAST($size AS DOUBLE) / 1e6) *
             |        (CAST(s0 - s1 AS DOUBLE) / CAST($size AS DOUBLE) / 1e6), 9)
             |        AS DECIMAL(28,9)) AS e2
             |      FROM (SELECT i // $size AS b, count(*) AS n,
             |              sum(CASE WHEN (i // $half) % 2 = 0 THEN v END) AS s0,
             |              sum(CASE WHEN (i // $half) % 2 = 1 THEN v END) AS s1
             |            FROM (SELECT CAST(row_number() OVER (ORDER BY d) - 1
             |                    AS BIGINT) AS i, v
             |                  FROM (SELECT CAST(o_orderdate AS DATE) AS d,
             |                          sum(CAST(o_totalprice AS DECIMAL(18,6))) AS v
             |                        FROM orders GROUP BY 1))
             |            GROUP BY 1)
             |      WHERE n = $size)""".stripMargin
        }
        Seq(1, 2, 3).map(level)
          .mkString("", "\nUNION ALL\n", "\nORDER BY level")
      }),

    // ─── n-gram repetitiveness spectrum per source, n = 1..4 ────────────
    "q315_ngram_spectrum" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        Seq(1, 2, 3, 4).map { n =>
          docs.select($"source", explode(Dedup.shingles($"text", n)).as("g"))
            .groupBy($"source")
            .agg(count(lit(1)).as("total_grams"),
              countDistinct($"g").as("distinct_grams"))
            .select($"source", lit(n.toLong).as("n"), $"total_grams",
              $"distinct_grams",
              round($"distinct_grams".cast("double") /
                $"total_grams".cast("double"), 6).as("distinct_frac"))
        }.reduce(_ unionByName _).orderBy($"source", $"n")
      },
      Some {
        def level(k: Int) = {
          val parts = (0 until k)
            .map(o => if (o == 0) "tk[i]" else s"tk[i+$o]").mkString("||' '||")
          s"""SELECT source, CAST($k AS BIGINT) AS n, count(g) AS total_grams,
             |  count(DISTINCT g) AS distinct_grams,
             |  round(CAST(count(DISTINCT g) AS DOUBLE) /
             |        CAST(count(g) AS DOUBLE), 6) AS distinct_frac
             |FROM (SELECT source, unnest(list_distinct(list_filter(
             |        list_transform(range(1, greatest(len(tk) - ${k - 2}, 1)),
             |          i -> $parts), x -> x IS NOT NULL))) AS g
             |      FROM (SELECT source, string_split(lower(text), ' ') AS tk
             |            FROM documents))
             |GROUP BY 1""".stripMargin
        }
        Seq(1, 2, 3, 4).map(level)
          .mkString("", "\nUNION ALL\n", "\nORDER BY source, n")
      }),

    // ─── inter-label centroid cosine matrix (class separation) ──────────
    "q316_centroid_matrix" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.centroidDistanceMatrix(Tables.embeddings(s, dir),
            "embedding", "label")
          .orderBy($"label_a", $"label_b")
      },
      Some("""WITH x AS (SELECT label, CAST(i AS INTEGER) AS pos,
             |         embedding[i+1]::DOUBLE AS v
             |       FROM embeddings CROSS JOIN range(64) t(i)),
             |c AS (SELECT label, pos,
             |        CAST(sum(CAST(round(v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) / count(*) AS cd
             |      FROM x GROUP BY 1, 2),
             |cent AS (SELECT label, list(cd ORDER BY pos) AS cvec FROM c GROUP BY label)
             |SELECT a.label AS label_a, b.label AS label_b,
             |  round(list_reduce(list_transform(list_zip(a.cvec, b.cvec),
             |      p -> p[1] * p[2]), (x, y) -> x + y) /
             |    (sqrt(list_reduce(list_transform(a.cvec, v -> v * v), (x, y) -> x + y)) *
             |     sqrt(list_reduce(list_transform(b.cvec, v -> v * v), (x, y) -> x + y))),
             |    6) AS cosine
             |FROM cent a JOIN cent b ON a.label < b.label
             |ORDER BY label_a, label_b""".stripMargin)),

    // ─── order-to-first-ship SLA percentiles by priority ────────────────
    "q317_lead_time_sla" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val fs = Tables.lineitem(s, dir).groupBy($"l_orderkey")
          .agg(min($"l_shipdate").as("__fs"))
        val lead = Tables.orders(s, dir)
          .join(fs, $"o_orderkey" === $"l_orderkey")
          .select($"o_orderpriority".as("priority"),
            datediff($"__fs", $"o_orderdate").cast("long").as("__lead"))
        val vc = lead.groupBy($"priority", $"__lead")
          .agg(count(lit(1)).as("__c"))
        val cum = vc.withColumn("__cum", sum($"__c").over(
          Window.partitionBy($"priority").orderBy($"__lead")))
        val st = lead.groupBy($"priority").agg(count(lit(1)).as("__n"))
        def rank(q: Double) =
          floor(($"__n" - 1).cast("double") * lit(q)).cast("long") + 1
        cum.join(st, "priority")
          .groupBy($"priority", $"__n")
          .agg(min(when($"__cum" >= rank(0.5), $"__lead")).as("p50"),
            min(when($"__cum" >= rank(0.9), $"__lead")).as("p90"),
            min(when($"__cum" >= rank(0.99), $"__lead")).as("p99"))
          .select($"priority", $"__n".as("n_orders"), $"p50", $"p90", $"p99")
          .orderBy($"priority")
      },
      Some("""WITH fs AS (SELECT l_orderkey, min(l_shipdate) AS f
             |      FROM lineitem GROUP BY 1),
             |lead AS (SELECT o_orderpriority AS priority,
             |        datediff('day', CAST(o_orderdate AS DATE), CAST(f AS DATE))
             |          AS ld
             |      FROM orders JOIN fs ON o_orderkey = l_orderkey),
             |vc AS (SELECT priority, ld, count(*) AS c FROM lead GROUP BY 1, 2),
             |cum AS (SELECT priority, ld, c,
             |        sum(c) OVER (PARTITION BY priority ORDER BY ld) AS cm FROM vc),
             |st AS (SELECT priority, count(*) AS n FROM lead GROUP BY 1)
             |SELECT cum.priority, CAST(max(n) AS BIGINT) AS n_orders,
             |  min(CASE WHEN cm >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1
             |      THEN ld END) AS p50,
             |  min(CASE WHEN cm >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.9) AS BIGINT) + 1
             |      THEN ld END) AS p90,
             |  min(CASE WHEN cm >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.99) AS BIGINT) + 1
             |      THEN ld END) AS p99
             |FROM cum JOIN st USING (priority)
             |GROUP BY cum.priority ORDER BY priority""".stripMargin)),

    // ─── position-based (U-shaped) multi-touch attribution ──────────────
    "q318_position_attribution" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val dec = Tables.events(s, dir)
          .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
          .withColumn("__tcum",
            sum(when($"event_type" =!= "purchase", 1L).otherwise(0L)).over(w))
          .localCheckpoint(false) // touches + purchases split it
        val touches = dec.filter($"event_type" =!= "purchase")
          .select($"user_id", $"__tcum".as("touch_rn"),
            $"event_type".as("touch"))
        val purchases = dec.filter($"event_type" === "purchase")
          .select($"user_id", $"__tcum".as("__last"),
            $"value".cast("decimal(18,6)").as("__v"))
        val j = purchases.as("p").join(touches.as("t"),
          $"p.user_id" === $"t.user_id" &&
            $"t.touch_rn" > $"p.__last" - 5 &&
            $"t.touch_rn" <= $"p.__last", "left")
        val sN = least($"__last", lit(5L))
        val pos = $"touch_rn" - ($"__last" - sN)
        val weight = when($"touch_rn".isNull, 1.0)
          .when(sN === 1, 1.0).when(sN === 2, 0.5)
          .when(pos === 1, 0.4).when(pos === sN, 0.4)
          .otherwise(lit(0.2) / (sN - 2).cast("double"))
        j.select(coalesce($"touch", lit("none")).as("touch_type"),
            round($"__v".cast("double") * weight, 9)
              .cast("decimal(18,9)").as("__credit"))
          .groupBy($"touch_type")
          .agg(count(lit(1)).as("n_credits"),
            round(sum($"__credit").cast("double"), 6).as("revenue"))
          .orderBy($"touch_type")
      },
      Some("""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |        event_type, CAST(value AS DECIMAL(18,6)) AS v FROM events),
             |d AS (SELECT *, sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
             |        OVER (PARTITION BY user_id ORDER BY ts, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tcum
             |      FROM e),
             |t AS (SELECT user_id, tcum AS touch_rn, event_type AS touch FROM d
             |      WHERE event_type <> 'purchase'),
             |p AS (SELECT user_id, tcum AS lastrn, v FROM d
             |      WHERE event_type = 'purchase'),
             |j AS (SELECT p.v, t.touch_rn, t.touch, p.lastrn,
             |        least(p.lastrn, 5) AS s
             |      FROM p LEFT JOIN t ON p.user_id = t.user_id
             |        AND t.touch_rn > p.lastrn - 5 AND t.touch_rn <= p.lastrn),
             |c AS (SELECT COALESCE(touch, 'none') AS touch_type,
             |        CAST(round(CAST(v AS DOUBLE) * (CASE
             |          WHEN touch_rn IS NULL THEN 1.0
             |          WHEN s = 1 THEN 1.0
             |          WHEN s = 2 THEN 0.5
             |          WHEN touch_rn - (lastrn - s) = 1 THEN 0.4
             |          WHEN touch_rn - (lastrn - s) = s THEN 0.4
             |          ELSE 0.2 / CAST(s - 2 AS DOUBLE) END), 9)
             |          AS DECIMAL(18,9)) AS credit
             |      FROM j)
             |SELECT touch_type, count(*) AS n_credits,
             |  round(CAST(sum(credit) AS DOUBLE), 6) AS revenue
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── session depth distribution + bounce rate (30-min gap rule) ─────
    "q319_session_depth" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"__us", $"event_id")
        val sess = Tables.events(s, dir)
          .select($"user_id", $"event_id",
            unix_micros($"ts".cast("timestamp")).as("__us"))
          .withColumn("__new",
            when(($"__us" - lag($"__us", 1).over(w)) > 1800000000L ||
              lag($"__us", 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("__sid", sum($"__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val depth = sess.groupBy($"user_id", $"__sid")
          .agg(count(lit(1)).as("__depth"))
        val g = depth
          .groupBy(least($"__depth", lit(10L)).as("depth_bucket"))
          .agg(count(lit(1)).as("n_sessions"))
        g.withColumn("__tot", sum($"n_sessions").over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
          .select($"depth_bucket", $"n_sessions",
            round($"n_sessions".cast("double") / $"__tot".cast("double"), 6)
              .as("share"))
          .orderBy($"depth_bucket")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |m AS (SELECT user_id, us,
             |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
             |            IS NULL OR us - lag(us) OVER (PARTITION BY user_id
             |              ORDER BY us, event_id) > 1800000000
             |          THEN 1 ELSE 0 END AS nw,
             |        event_id
             |      FROM e),
             |sid AS (SELECT user_id, sum(nw) OVER (PARTITION BY user_id
             |          ORDER BY us, event_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |        FROM m),
             |dep AS (SELECT user_id, sid, count(*) AS depth FROM sid GROUP BY 1, 2),
             |g AS (SELECT least(depth, 10) AS depth_bucket, count(*) AS n_sessions
             |      FROM dep GROUP BY 1),
             |t AS (SELECT sum(n_sessions) AS tot FROM g)
             |SELECT depth_bucket, n_sessions,
             |  round(CAST(n_sessions AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
             |FROM g CROSS JOIN t ORDER BY depth_bucket""".stripMargin)),

    // ─── range-partition split audit: key CDF vs uniform ────────────────
    "q320_range_split_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        def audit(name: String, c: org.apache.spark.sql.Column) = {
          val v = Tables.orders(s, dir).select(c.cast("double").as("__v"))
          val vc = v.groupBy($"__v").agg(count(lit(1)).as("__c"))
          // the value table scales with the data for continuous columns
          // (o_totalprice-class): cumulative counts via the distributed
          // prefix-sum hatch, not a value-ordered window
          val cum = Ranks.runningSums(vc, Seq("__c" -> "__cum"), None, $"__v")
            .df.localCheckpoint(false) // stats + both deviation passes
          val st = cum.agg(max($"__cum").as("__n"), min($"__v").as("__mn"),
            max($"__v").as("__mx"))
          val dec = cum.crossJoin(st)
          val u = ($"__v" - $"__mn") / ($"__mx" - $"__mn")
          val ks = dec.agg(max(col("__n")).as("__n2"),
            round(max(abs($"__cum".cast("double") / $"__n".cast("double") - u)),
              6).as("ks_uniform"))
          val skew = dec
            .select(least(lit(15L), floor(u * 16).cast("long")).as("__b"),
              $"__c", $"__n")
            .groupBy($"__b").agg(sum($"__c").as("__bc"), max($"__n").as("__n3"))
            .agg(round(max($"__bc").cast("double") /
              (max($"__n3").cast("double") / 16.0), 6).as("max_skew_16"))
          ks.crossJoin(skew)
            .select(lit(name).as("column"), $"__n2".as("n"), $"ks_uniform",
              $"max_skew_16")
        }
        audit("o_custkey", $"o_custkey")
          .unionByName(audit("o_totalprice", $"o_totalprice"))
          .orderBy($"column")
      },
      Some {
        def audit(name: String, expr: String) =
          s"""SELECT '$name' AS "column", n2 AS n, ks_uniform, max_skew_16 FROM
             |(SELECT max(n) AS n2, round(max(abs(CAST(cum AS DOUBLE) /
             |    CAST(n AS DOUBLE) - (v - mn) / (mx - mn))), 6) AS ks_uniform
             |  FROM (SELECT v, c, cum, n, mn, mx FROM
             |    (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM
             |      (SELECT CAST($expr AS DOUBLE) AS v, count(*) AS c
             |       FROM orders GROUP BY 1))
             |    CROSS JOIN (SELECT count(*) AS n, min(CAST($expr AS DOUBLE)) AS mn,
             |                  max(CAST($expr AS DOUBLE)) AS mx FROM orders))) k
             |CROSS JOIN
             |(SELECT round(CAST(max(bc) AS DOUBLE) /
             |    (CAST(max(n3) AS DOUBLE) / 16.0), 6) AS max_skew_16 FROM
             |  (SELECT least(15, CAST(floor((v - mn) / (mx - mn) * 16) AS BIGINT)) AS b,
             |     sum(c) AS bc, max(n) AS n3 FROM
             |    (SELECT v, c, n, mn, mx FROM
             |      (SELECT CAST($expr AS DOUBLE) AS v, count(*) AS c
             |       FROM orders GROUP BY 1)
             |      CROSS JOIN (SELECT count(*) AS n, min(CAST($expr AS DOUBLE)) AS mn,
             |                    max(CAST($expr AS DOUBLE)) AS mx FROM orders))
             |   GROUP BY 1)) s2""".stripMargin
        Seq(audit("o_custkey", "o_custkey"),
          audit("o_totalprice", "o_totalprice"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // ─── join-key selectivity / coverage audit ──────────────────────────
    "q321_join_selectivity" -> Q(
      (s, dir) => {
        import s.implicits._
        def audit(name: String, a: org.apache.spark.sql.DataFrame, ka: String,
            b: org.apache.spark.sql.DataFrame, kb: String) = {
          val da = a.select(col(ka).as("__k")).distinct().localCheckpoint(false)
          val db = b.select(col(kb).as("__k")).distinct().localCheckpoint(false)
          val inter = da.join(db, "__k").agg(count(lit(1)).as("__i"))
          da.agg(count(lit(1)).as("__na"))
            .crossJoin(db.agg(count(lit(1)).as("__nb")))
            .crossJoin(inter)
            .select(lit(name).as("relation"), $"__na".as("keys_left"),
              $"__nb".as("keys_right"), $"__i".as("keys_both"),
              round($"__i".cast("double") /
                ($"__na" + $"__nb" - $"__i").cast("double"), 6)
                .as("key_jaccard"),
              round($"__i".cast("double") / $"__na".cast("double"), 6)
                .as("left_containment"))
        }
        audit("orders_customer", Tables.orders(s, dir), "o_custkey",
            Tables.customer(s, dir), "c_custkey")
          .unionByName(audit("lineitem_part", Tables.lineitem(s, dir),
            "l_partkey", Tables.part(s, dir), "p_partkey"))
          .orderBy($"relation")
      },
      Some {
        def audit(name: String, ta: String, ka: String, tb: String, kb: String) =
          s"""SELECT '$name' AS relation, na AS keys_left, nb AS keys_right,
             |  i AS keys_both,
             |  round(CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE), 6)
             |    AS key_jaccard,
             |  round(CAST(i AS DOUBLE) / CAST(na AS DOUBLE), 6) AS left_containment
             |FROM (SELECT count(*) AS na FROM (SELECT DISTINCT $ka FROM $ta))
             |CROSS JOIN (SELECT count(*) AS nb FROM (SELECT DISTINCT $kb FROM $tb))
             |CROSS JOIN (SELECT count(*) AS i FROM
             |  (SELECT DISTINCT $ka FROM $ta) ja
             |  JOIN (SELECT DISTINCT $kb FROM $tb) jb ON ja.$ka = jb.$kb)"""
            .stripMargin
        Seq(audit("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
          audit("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
      }),

    // ─── behavioral predictability: conditional transition entropy ──────
    "q322_transition_entropy" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        val pairs = Tables.events(s, dir)
          .select($"event_type".as("src"),
            lead($"event_type", 1).over(w).as("dst"))
          .where($"dst".isNotNull)
          .groupBy($"src", $"dst").agg(count(lit(1)).as("__c"))
          .localCheckpoint(false) // marginals + both entropy passes
        val tot = pairs.agg(sum($"__c").as("__n"))
        val ms = pairs.groupBy($"src").agg(sum($"__c").as("__cs"))
        val md = pairs.groupBy($"dst").agg(sum($"__c").as("__cd"))
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        val hCond = pairs.join(ms, "src").crossJoin(tot)
          .select(round((d($"__c") / d($"__n")) *
              log(d($"__c") / d($"__cs")), 9).cast("decimal(18,9)").as("__t"))
          .agg((-sum($"__t").cast("double")).as("__hc"))
        val hDst = md.crossJoin(tot)
          .select(round((d($"__cd") / d($"__n")) *
              log(d($"__cd") / d($"__n")), 9).cast("decimal(18,9)").as("__t"))
          .agg((-sum($"__t").cast("double")).as("__hd"))
        tot.crossJoin(hCond).crossJoin(hDst)
          .select($"__n".cast("long").as("n_transitions"),
            round($"__hc", 6).as("h_cond_nats"),
            round($"__hd", 6).as("h_marginal_nats"),
            round($"__hd" - $"__hc", 6).as("predictability_gain"))
      },
      Some("""WITH t AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             |        event_type FROM events),
             |p0 AS (SELECT event_type AS src,
             |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
             |       FROM t),
             |c AS (SELECT src, dst, count(*) AS c FROM p0
             |      WHERE dst IS NOT NULL GROUP BY 1, 2),
             |tt AS (SELECT sum(c)::BIGINT AS n FROM c),
             |ms AS (SELECT src, sum(c)::BIGINT AS cs FROM c GROUP BY 1),
             |md AS (SELECT dst, sum(c)::BIGINT AS cd FROM c GROUP BY 1),
             |hc AS (SELECT -CAST(sum(CAST(round(
             |         (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |         ln(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE)), 9)
             |         AS DECIMAL(18,9))) AS DOUBLE) AS hc
             |       FROM c JOIN ms USING (src) CROSS JOIN tt),
             |hd AS (SELECT -CAST(sum(CAST(round(
             |         (CAST(cd AS DOUBLE) / CAST(n AS DOUBLE)) *
             |         ln(CAST(cd AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |         AS DECIMAL(18,9))) AS DOUBLE) AS hd
             |       FROM md CROSS JOIN tt)
             |SELECT n AS n_transitions, round(hc, 6) AS h_cond_nats,
             |  round(hd, 6) AS h_marginal_nats,
             |  round(hd - hc, 6) AS predictability_gain
             |FROM tt CROSS JOIN hc CROSS JOIN hd""".stripMargin)),

    // ─── key-account risk: supplier revenue share of its top customer ───
    "q323_supplier_dependency" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val sc = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
          .groupBy($"l_suppkey", $"o_custkey")
          .agg(sum($"l_extendedprice".cast("decimal(18,6)")).as("__rev"))
        val w = Window.partitionBy($"l_suppkey")
        sc.withColumn("__tot", sum($"__rev").over(w))
          .withColumn("__mx", max($"__rev").over(w))
          .groupBy($"l_suppkey")
          .agg(count(lit(1)).as("n_customers"),
            round(max($"__mx").cast("double") / max($"__tot").cast("double"), 6)
              .as("top1_share"))
          .orderBy($"top1_share".desc, $"l_suppkey")
          .limit(15)
      },
      Some("""WITH sc AS (SELECT l_suppkey, o_custkey,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
             |      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |      GROUP BY 1, 2),
             |g AS (SELECT l_suppkey, count(*) AS n_customers,
             |        round(CAST(max(rev) AS DOUBLE) /
             |              CAST(sum(rev) AS DOUBLE), 6) AS top1_share
             |      FROM sc GROUP BY 1)
             |SELECT l_suppkey, n_customers, top1_share FROM g
             |ORDER BY top1_share DESC, l_suppkey LIMIT 15""".stripMargin)),

    // ─── mean local clustering coefficient of the dup graph ─────────────
    "q324_clustering_coeff" -> Q(
      (s, dir) => {
        import s.implicits._
        val ed = Dedup.minhashPairs(Tables.documents(s, dir), "doc_id",
            "text", numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
          .select($"id_a".as("a"), $"id_b".as("b"))
          .localCheckpoint(false) // wedges, closing join, degrees
        val tris = ed
          .join(ed.select($"a".as("b"), $"b".as("c")), "b")
          .join(ed.select($"a", $"b".as("c")), Seq("a", "c"))
        val triN = tris
          .select(explode(array($"a", $"b", $"c")).as("v"))
          .groupBy($"v").agg(count(lit(1)).as("__t"))
        val deg = ed.select(explode(array($"a", $"b")).as("v"))
          .groupBy($"v").agg(count(lit(1)).as("__d"))
        deg.where($"__d" >= 2)
          .join(triN, Seq("v"), "left")
          .na.fill(0L, Seq("__t"))
          .select(round(lit(2.0) * $"__t".cast("double") /
            ($"__d".cast("double") * ($"__d" - 1).cast("double")), 9)
            .cast("decimal(18,9)").as("__cc"))
          .agg(count(lit(1)).as("n_nodes_deg2"),
            round(sum($"__cc").cast("double") / count(lit(1)).cast("double"), 6)
              .as("mean_cc"))
      },
      Some(s"""WITH $minhashCtes,
              |e AS (SELECT id_a AS a, id_b AS b FROM pairs WHERE jaccard >= 0.5),
              |tris AS (SELECT w.a, w.b, w.c FROM
              |    (SELECT e1.a, e1.b, e2.b AS c FROM e e1
              |     JOIN e e2 ON e1.b = e2.a) w
              |  JOIN e e3 ON w.a = e3.a AND w.c = e3.b),
              |tn AS (SELECT v, count(*) AS t FROM
              |         (SELECT a AS v FROM tris UNION ALL SELECT b FROM tris
              |          UNION ALL SELECT c FROM tris) GROUP BY 1),
              |deg AS (SELECT v, count(*) AS d FROM
              |          (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
              |        GROUP BY 1),
              |cc AS (SELECT CAST(round(2.0 * CAST(COALESCE(t, 0) AS DOUBLE) /
              |        (CAST(d AS DOUBLE) * CAST(d - 1 AS DOUBLE)), 9)
              |        AS DECIMAL(18,9)) AS c
              |       FROM deg LEFT JOIN tn USING (v) WHERE d >= 2)
              |SELECT count(*) AS n_nodes_deg2,
              |  round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
              |    AS mean_cc
              |FROM cc""".stripMargin)),

    // ─── return-rate Wilson lower bounds per brand ──────────────────────
    "q325_return_rates" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.wilsonLowerBound(
            Tables.lineitem(s, dir).join(Tables.part(s, dir),
              $"l_partkey" === $"p_partkey"),
            "p_brand", $"l_returnflag" === "R", z = 1.96)
          .orderBy($"wilson_lb".desc, $"grp")
          .limit(10)
      },
      Some {
        val z = 1.96; val z2 = z * z
        s"""WITH a AS (SELECT p.p_brand AS grp, count(*) AS n,
           |        sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS k
           |      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
           |      GROUP BY 1),
           |e AS (SELECT grp, n, k, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p FROM a)
           |SELECT grp, n, k, round(p, 6) AS p_hat,
           |  round((p + CAST($z2 AS DOUBLE) / (2.0 * CAST(n AS DOUBLE))
           |      - CAST($z AS DOUBLE) * sqrt(p * (1.0 - p) / CAST(n AS DOUBLE)
           |          + CAST($z2 AS DOUBLE) / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
           |    / (1.0 + CAST($z2 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS wilson_lb
           |FROM e ORDER BY wilson_lb DESC, grp LIMIT 10""".stripMargin
      }),

    // ─── demand intermittency: Syntetos–Boylan ADI × CV² quadrants ──────
    "q326_demand_classes" -> Q(
      (s, dir) => {
        import s.implicits._
        val pm = Tables.lineitem(s, dir)
          .groupBy($"l_partkey",
            date_format(date_trunc("month", $"l_shipdate"), "yyyy-MM").as("__m"))
          .agg(sum($"l_quantity".cast("decimal(18,6)")).as("__q"))
        // Global month count straight off the month-projected scan: the
        // month set of pm == the month set of lineitem (pm only groups),
        // so this is the same __P without pm needing a localCheckpoint to
        // serve two consumers — the checkpoint's O(parts×months) row
        // materialization was this query's whole cold cost (bench median
        // 8.4 s vs 1.9–2.6 s warm probe, r12 ledger).
        val months = Tables.lineitem(s, dir)
          .select(date_format(date_trunc("month", $"l_shipdate"), "yyyy-MM")
            .as("__m"))
          .distinct().agg(count(lit(1)).as("__P"))
        val pp = pm.groupBy($"l_partkey")
          .agg(count(lit(1)).as("__nd"), sum($"__q").as("__s"),
            sum($"__q" * $"__q").as("__s2"))
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        val adi = d($"__P") / d($"__nd")
        val mean = d($"__s") / d($"__nd")
        val cv2 = (d($"__s2") / d($"__nd") - mean * mean) / (mean * mean)
        pp.crossJoin(months)
          .select(when(adi < 1.32 && cv2 < 0.49, "smooth")
            .when(adi >= 1.32 && cv2 < 0.49, "intermittent")
            .when(adi < 1.32, "erratic").otherwise("lumpy")
            .as("demand_class"))
          .groupBy($"demand_class").agg(count(lit(1)).as("n_parts"))
          .orderBy($"demand_class")
      },
      Some("""WITH pm AS (SELECT l_partkey,
             |        strftime(date_trunc('month', l_shipdate), '%Y-%m') AS m,
             |        sum(CAST(l_quantity AS DECIMAL(18,6))) AS q
             |      FROM lineitem GROUP BY 1, 2),
             |mo AS (SELECT count(DISTINCT m) AS P FROM pm),
             |pp AS (SELECT l_partkey, count(*) AS nd, sum(q) AS s,
             |        sum(q * q) AS s2 FROM pm GROUP BY 1),
             |cl AS (SELECT CASE
             |    WHEN CAST(P AS DOUBLE) / CAST(nd AS DOUBLE) < 1.32 AND
             |      (CAST(s2 AS DOUBLE) / CAST(nd AS DOUBLE) -
             |       (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)) *
             |       (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))) /
             |      ((CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)) *
             |       (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))) < 0.49
             |      THEN 'smooth'
             |    WHEN CAST(P AS DOUBLE) / CAST(nd AS DOUBLE) >= 1.32 AND
             |      (CAST(s2 AS DOUBLE) / CAST(nd AS DOUBLE) -
             |       (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)) *
             |       (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))) /
             |      ((CAST(s AS DOUBLE) / CAST(nd AS DOUBLE)) *
             |       (CAST(s AS DOUBLE) / CAST(nd AS DOUBLE))) < 0.49
             |      THEN 'intermittent'
             |    WHEN CAST(P AS DOUBLE) / CAST(nd AS DOUBLE) < 1.32 THEN 'erratic'
             |    ELSE 'lumpy' END AS demand_class
             |  FROM pp CROSS JOIN mo)
             |SELECT demand_class, count(*) AS n_parts FROM cl
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── canonical-pick agreement: min-id vs PageRank winner ────────────
    "q327_canonical_agreement" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
            numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
          .localCheckpoint(false) // CC + PageRank share it
        val cl = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
            pairs.select($"id_a", $"id_b"))
          .select($"id".as("doc_id"), $"label".as("cluster_id"))
        val sym = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
          .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
        val pr = Graph.pageRank(docs.select($"doc_id"), "doc_id", sym, iters = 3)
        val cs = cl.groupBy($"cluster_id").agg(count(lit(1)).as("__sz"))
        val multi = cl.join(cs.where($"__sz" >= 2), "cluster_id")
        val rk = multi.join(pr, "doc_id")
          .withColumn("__rk", row_number().over(
            Window.partitionBy($"cluster_id")
              .orderBy($"rank_fp".desc, $"doc_id")))
        val prPick = rk.where($"__rk" === 1)
          .select($"cluster_id", $"doc_id".as("__pr_pick"))
        val minPick = multi.groupBy($"cluster_id")
          .agg(min($"doc_id").as("__min_pick"))
        prPick.join(minPick, "cluster_id")
          .agg(count(lit(1)).as("n_clusters_multi"),
            sum(when($"__pr_pick" === $"__min_pick", 1L).otherwise(0L))
              .as("n_agree"))
          .select($"n_clusters_multi", $"n_agree",
            round($"n_agree".cast("double") /
              $"n_clusters_multi".cast("double"), 6).as("agree_rate"))
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
              |${pageRankStepCtes(iters = 3)},
              |pr AS (SELECT id AS doc_id, rank AS rank_fp FROM r3),
              |cs AS (SELECT cluster_id, count(*) AS sz FROM cl GROUP BY 1),
              |mm AS (SELECT cl.doc_id, cl.cluster_id FROM cl
              |       JOIN cs USING (cluster_id) WHERE sz >= 2),
              |rk AS (SELECT mm.cluster_id, mm.doc_id,
              |         row_number() OVER (PARTITION BY cluster_id
              |           ORDER BY rank_fp DESC, doc_id) AS rk
              |       FROM mm JOIN pr USING (doc_id)),
              |prp AS (SELECT cluster_id, doc_id AS pr_pick FROM rk WHERE rk = 1),
              |mp AS (SELECT cluster_id, min(doc_id) AS min_pick FROM mm GROUP BY 1)
              |SELECT count(*) AS n_clusters_multi,
              |  sum(CASE WHEN pr_pick = min_pick THEN 1 ELSE 0 END)::BIGINT
              |    AS n_agree,
              |  round(CAST(sum(CASE WHEN pr_pick = min_pick THEN 1 ELSE 0 END)
              |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS agree_rate
              |FROM prp JOIN mp USING (cluster_id)""".stripMargin)),

    // ─── background similarity: seeded random-pair Jaccard baseline ─────
    "q328_background_similarity" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val n = docs.count()
        val ids = s.range(200).select(
            pmod(Dedup.mixHash(Dedup.seededHash(31,
              concat(lit("pair:"), $"id".cast("string"))), 0), lit(n)).as("id_a"),
            pmod(Dedup.mixHash(Dedup.seededHash(31,
              concat(lit("pair:"), $"id".cast("string"))), 1), lit(n)).as("id_b"))
          .where($"id_a" =!= $"id_b")
        val vt = docs.select($"doc_id",
            explode(split(lower($"text"), " ")).as("t"))
          .where($"t" =!= "").distinct()
          .localCheckpoint(false) // both pair sides
        val aSide = ids.join(vt.select($"doc_id".as("id_a"), $"t"), Seq("id_a"))
          .withColumn("__ma", lit(1L))
        val bSide = ids.join(vt.select($"doc_id".as("id_b"), $"t"), Seq("id_b"))
          .withColumn("__mb", lit(1L))
        aSide.join(bSide, Seq("id_a", "id_b", "t"), "full_outer")
          .groupBy($"id_a", $"id_b")
          .agg(count(lit(1)).as("__u"),
            sum(when($"__ma".isNotNull && $"__mb".isNotNull, 1L).otherwise(0L))
              .as("__x"))
          .select(round($"__x".cast("double") / $"__u".cast("double"), 9)
            .cast("decimal(18,9)").as("__j"))
          .agg(count(lit(1)).as("n_pairs"),
            round(sum($"__j").cast("double") / count(lit(1)).cast("double"), 6)
              .as("mean_jaccard"),
            round(max($"__j").cast("double"), 6).as("max_jaccard"))
      },
      Some {
        val r0 = Dedup.mixRot(0); val c0 = Dedup.mixConst(0)
        val lm0 = (1L << (60 - r0)) - 1
        val r1 = Dedup.mixRot(1); val c1 = Dedup.mixConst(1)
        val lm1 = (1L << (60 - r1)) - 1
        s"""WITH nn AS (SELECT count(*) AS n FROM documents),
           |h AS (SELECT ('0x'||substr(md5('31|pair:'||CAST(i AS VARCHAR)),1,15))::BIGINT AS h0
           |      FROM (SELECT CAST(unnest(range(200)) AS BIGINT) AS i)),
           |ids AS (SELECT
           |    xor(((h0 & $lm0) << $r0) | (h0 >> ${60 - r0}), CAST($c0 AS BIGINT)) % n AS id_a,
           |    xor(((h0 & $lm1) << $r1) | (h0 >> ${60 - r1}), CAST($c1 AS BIGINT)) % n AS id_b
           |  FROM h CROSS JOIN nn),
           |p AS (SELECT id_a, id_b FROM ids WHERE id_a <> id_b),
           |vt AS (SELECT DISTINCT doc_id, t FROM
           |    (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
           |     FROM documents) WHERE t <> ''),
           |asd AS (SELECT p.id_a, p.id_b, vt.t FROM p JOIN vt ON p.id_a = vt.doc_id),
           |bsd AS (SELECT p.id_a, p.id_b, vt.t FROM p JOIN vt ON p.id_b = vt.doc_id),
           |uni AS (SELECT COALESCE(asd.id_a, bsd.id_a) AS id_a,
           |          COALESCE(asd.id_b, bsd.id_b) AS id_b, count(*) AS u
           |        FROM asd FULL OUTER JOIN bsd
           |          ON asd.id_a = bsd.id_a AND asd.id_b = bsd.id_b AND asd.t = bsd.t
           |        GROUP BY 1, 2),
           |itr AS (SELECT asd.id_a, asd.id_b, count(*) AS x
           |        FROM asd JOIN bsd
           |          ON asd.id_a = bsd.id_a AND asd.id_b = bsd.id_b AND asd.t = bsd.t
           |        GROUP BY 1, 2),
           |jj AS (SELECT CAST(round(CAST(COALESCE(x, 0) AS DOUBLE) /
           |          CAST(u AS DOUBLE), 9) AS DECIMAL(18,9)) AS j
           |       FROM uni LEFT JOIN itr USING (id_a, id_b))
           |SELECT count(*) AS n_pairs,
           |  round(CAST(sum(j) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
           |    AS mean_jaccard,
           |  round(CAST(max(j) AS DOUBLE), 6) AS max_jaccard
           |FROM jj""".stripMargin
      }),

    // ─── ranged-GET frame-sampling fetch plan over blob metadata ────────
    "q329_byte_range_plan" -> Q(
      (s, dir) => {
        import s.implicits._
        val meta = Multimodal.ingestAsBinary(Tables.documents(s, dir),
            "text", "text/plain")
          .select($"doc_id", $"meta.n_bytes".as("n_bytes"))
        Multimodal.byteRangePlan(meta, "doc_id", "n_bytes",
            frameBytes = 40L, k = 4)
          .where($"doc_id" < 30)
          .orderBy($"doc_id", $"frame_idx")
      },
      Some("""WITH m AS (SELECT doc_id,
             |        CAST(octet_length(encode(text)) AS BIGINT) AS nb
             |      FROM documents WHERE doc_id < 30),
             |f AS (SELECT doc_id, nb, CAST(unnest(range(4)) AS BIGINT) AS frame_idx
             |      FROM m)
             |SELECT doc_id, frame_idx,
             |  CASE WHEN nb <= 40 THEN 0
             |    ELSE (frame_idx * (nb - 40)) // 3 END AS "offset",
             |  least(40, nb) AS length
             |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),

    // ─── quantile treatment effects: signup vs control purchase values ──
    "q330_quantile_effects" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, dir)
        // user-PARITY arms (the q232 precedent): the signup flag is
        // degenerate here — virtually every user has one
        val p = ev.filter($"event_type" === "purchase")
          .select(($"user_id" % 2 === 0).as("__arm"),
            $"value".cast("decimal(18,6)").as("__v"))
        val vc = p.groupBy($"__arm", $"__v").agg(count(lit(1)).as("__c"))
        val cum = vc.withColumn("__cum", sum($"__c").over(
          Window.partitionBy($"__arm").orderBy($"__v")))
        val st = p.groupBy($"__arm").agg(count(lit(1)).as("__n"))
        def rank(q: Double) =
          floor(($"__n" - 1).cast("double") * lit(q)).cast("long") + 1
        val qs = cum.join(st, "__arm")
          .groupBy($"__arm")
          .agg(min(when($"__cum" >= rank(0.25), $"__v")).as("q25"),
            min(when($"__cum" >= rank(0.5), $"__v")).as("q50"),
            min(when($"__cum" >= rank(0.75), $"__v")).as("q75"))
          .localCheckpoint(false) // both arm slices
        val t = qs.where($"__arm").select($"q25".as("t25"), $"q50".as("t50"),
          $"q75".as("t75"))
        val c = qs.where(!$"__arm").select($"q25".as("c25"), $"q50".as("c50"),
          $"q75".as("c75"))
        t.crossJoin(c).select(
            explode(array(
              struct(lit(0.25).as("quantile"),
                $"t25".cast("double").as("treated_q"),
                $"c25".cast("double").as("control_q")),
              struct(lit(0.5).as("quantile"),
                $"t50".cast("double").as("treated_q"),
                $"c50".cast("double").as("control_q")),
              struct(lit(0.75).as("quantile"),
                $"t75".cast("double").as("treated_q"),
                $"c75".cast("double").as("control_q")))).as("r"))
          .select($"r.quantile", round($"r.treated_q", 6).as("treated_q"),
            round($"r.control_q", 6).as("control_q"),
            round($"r.treated_q" - $"r.control_q", 6).as("qte"))
          .orderBy($"quantile")
      },
      Some("""WITH p AS (SELECT user_id % 2 = 0 AS arm,
             |        CAST(value AS DECIMAL(18,6)) AS v
             |      FROM events WHERE event_type = 'purchase'),
             |vc AS (SELECT arm, v, count(*) AS c FROM p GROUP BY 1, 2),
             |cum AS (SELECT arm, v, c,
             |        sum(c) OVER (PARTITION BY arm ORDER BY v) AS cm FROM vc),
             |st AS (SELECT arm, count(*) AS n FROM p GROUP BY 1),
             |qs AS (SELECT cum.arm,
             |    min(CASE WHEN cm >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.25) AS BIGINT) + 1
             |        THEN v END) AS q25,
             |    min(CASE WHEN cm >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1
             |        THEN v END) AS q50,
             |    min(CASE WHEN cm >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.75) AS BIGINT) + 1
             |        THEN v END) AS q75
             |  FROM cum JOIN st USING (arm) GROUP BY 1),
             |t AS (SELECT q25 AS t25, q50 AS t50, q75 AS t75 FROM qs WHERE arm),
             |c AS (SELECT q25 AS c25, q50 AS c50, q75 AS c75 FROM qs WHERE NOT arm),
             |u AS (SELECT 0.25 AS quantile, CAST(t25 AS DOUBLE) AS tq,
             |        CAST(c25 AS DOUBLE) AS cq FROM t CROSS JOIN c
             |      UNION ALL SELECT 0.5, CAST(t50 AS DOUBLE), CAST(c50 AS DOUBLE)
             |        FROM t CROSS JOIN c
             |      UNION ALL SELECT 0.75, CAST(t75 AS DOUBLE), CAST(c75 AS DOUBLE)
             |        FROM t CROSS JOIN c)
             |SELECT quantile, round(tq, 6) AS treated_q, round(cq, 6) AS control_q,
             |  round(tq - cq, 6) AS qte
             |FROM u ORDER BY quantile""".stripMargin)),

    // ─── competitive gap: monthly top-1 vs top-2 brand share ────────────
    "q331_competitive_gap" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val mb = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
          .groupBy(date_format(date_trunc("month", $"l_shipdate"), "yyyy-MM")
            .as("month"), $"p_brand")
          .agg(sum($"l_extendedprice".cast("decimal(18,6)")).as("__rev"))
        val w = Window.partitionBy($"month")
        val rk = mb
          .withColumn("__rk", row_number().over(
            w.orderBy($"__rev".desc, $"p_brand")))
          .withColumn("__tot", sum($"__rev").over(w))
        rk.where($"__rk" <= 2)
          .groupBy($"month")
          .agg(max(when($"__rk" === 1, $"p_brand")).as("top_brand"),
            round((max(when($"__rk" === 1, $"__rev")) -
              max(when($"__rk" === 2, $"__rev"))).cast("double") /
              max($"__tot").cast("double"), 6).as("share_gap"))
          .orderBy($"month")
          .limit(24)
      },
      Some("""WITH mb AS (SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
             |        p_brand, sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
             |      FROM lineitem JOIN part ON l_partkey = p_partkey
             |      GROUP BY 1, 2),
             |rk AS (SELECT month, p_brand, rev,
             |        row_number() OVER (PARTITION BY month ORDER BY rev DESC, p_brand) AS rk,
             |        sum(rev) OVER (PARTITION BY month) AS tot FROM mb)
             |SELECT month, max(CASE WHEN rk = 1 THEN p_brand END) AS top_brand,
             |  round(CAST(max(CASE WHEN rk = 1 THEN rev END) -
             |        max(CASE WHEN rk = 2 THEN rev END) AS DOUBLE) /
             |    CAST(max(tot) AS DOUBLE), 6) AS share_gap
             |FROM rk WHERE rk <= 2
             |GROUP BY month ORDER BY month LIMIT 24""".stripMargin)),

    // ─── session event-type signatures (behavioral basket mining) ───────
    "q332_session_signatures" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"user_id").orderBy($"__us", $"event_id")
        val sess = Tables.events(s, dir)
          .select($"user_id", $"event_id", $"event_type",
            unix_micros($"ts".cast("timestamp")).as("__us"))
          .withColumn("__new",
            when(($"__us" - lag($"__us", 1).over(w)) > 1800000000L ||
              lag($"__us", 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("__sid", sum($"__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        sess.groupBy($"user_id", $"__sid")
          .agg(array_join(array_sort(collect_set($"event_type")), "+")
            .as("signature"))
          .groupBy($"signature").agg(count(lit(1)).as("n_sessions"))
          .orderBy($"n_sessions".desc, $"signature")
          .limit(10)
      },
      Some("""WITH e AS (SELECT user_id, event_id, event_type,
             |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |m AS (SELECT user_id, us, event_id, event_type,
             |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
             |            IS NULL OR us - lag(us) OVER (PARTITION BY user_id
             |              ORDER BY us, event_id) > 1800000000
             |          THEN 1 ELSE 0 END AS nw
             |      FROM e),
             |sid AS (SELECT user_id, event_type,
             |          sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
             |        FROM m),
             |sig AS (SELECT user_id, sid,
             |          array_to_string(list_sort(list_distinct(list(event_type))), '+')
             |            AS signature
             |        FROM sid GROUP BY 1, 2)
             |SELECT signature, count(*) AS n_sessions FROM sig
             |GROUP BY 1 ORDER BY n_sessions DESC, signature LIMIT 10"""
        .stripMargin)),

    // ─── covariate balance (SMD) between signup and control users ───────
    "q333_covariate_balance" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        // user-PARITY arms (see q330): the signup flag covers ~every user
        val cov = ev.groupBy($"user_id")
          .agg(count(lit(1)).cast("long").as("n_events"),
            sum($"value".cast("decimal(18,6)")).as("__sv"))
          .select(($"user_id" % 2 === 0).as("__arm"),
            $"n_events".cast("decimal(18,6)").as("activity"),
            $"__sv".as("total_value"))
          .localCheckpoint(false) // both covariate passes
        def smd(name: String, c: String) = {
          val agg = cov.groupBy($"__arm").agg(count(lit(1)).as("__n"),
            sum(col(c)).as("__s"),
            sum(col(c) * col(c)).as("__s2"))
          def d(x: org.apache.spark.sql.Column) = x.cast("double")
          val m = d($"__s") / d($"__n")
          val v = d($"__s2") / d($"__n") - m * m
          val t = agg.where($"__arm")
            .select(m.as("__mt"), v.as("__vt"))
          val ct = agg.where(!$"__arm")
            .select(m.as("__mc"), v.as("__vc"))
          t.crossJoin(ct).select(lit(name).as("covariate"),
            round($"__mt", 6).as("mean_treated"),
            round($"__mc", 6).as("mean_control"),
            round(($"__mt" - $"__mc") /
              sqrt(($"__vt" + $"__vc") / lit(2.0)), 6).as("smd"))
        }
        smd("activity", "activity")
          .unionByName(smd("total_value", "total_value"))
          .orderBy($"covariate")
      },
      Some {
        s"""WITH cov0 AS (SELECT e.user_id, count(*) AS n_events,
           |        sum(CAST(e.value AS DECIMAL(18,6))) AS sv
           |      FROM events e GROUP BY 1),
           |cov AS (SELECT user_id % 2 = 0 AS arm,
           |        CAST(n_events AS DECIMAL(19,6)) AS activity,
           |        CAST(sv AS DECIMAL(19,6)) AS total_value
           |      FROM cov0)
           |SELECT covariate, mean_treated, mean_control, smd FROM (
           |  SELECT 'activity' AS covariate,
           |    round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS mean_treated,
           |    round(CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS mean_control,
           |    round((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) -
           |           CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) /
           |      sqrt(((CAST(st2 AS DOUBLE) / CAST(nt AS DOUBLE) -
           |             (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)) *
           |             (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))) +
           |            (CAST(sc2 AS DOUBLE) / CAST(nc AS DOUBLE) -
           |             (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) *
           |             (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)))) / 2.0), 6) AS smd
           |  FROM (SELECT
           |      sum(CASE WHEN arm THEN 1 ELSE 0 END)::BIGINT AS nt,
           |      sum(CASE WHEN arm THEN activity END) AS st,
           |      sum(CASE WHEN arm THEN activity * activity END) AS st2,
           |      sum(CASE WHEN NOT arm THEN 1 ELSE 0 END)::BIGINT AS nc,
           |      sum(CASE WHEN NOT arm THEN activity END) AS sc,
           |      sum(CASE WHEN NOT arm THEN activity * activity END) AS sc2
           |    FROM cov)
           |  UNION ALL
           |  SELECT 'total_value',
           |    round(CAST(st AS DOUBLE) / CAST(nt AS DOUBLE), 6),
           |    round(CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE), 6),
           |    round((CAST(st AS DOUBLE) / CAST(nt AS DOUBLE) -
           |           CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) /
           |      sqrt(((CAST(st2 AS DOUBLE) / CAST(nt AS DOUBLE) -
           |             (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)) *
           |             (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))) +
           |            (CAST(sc2 AS DOUBLE) / CAST(nc AS DOUBLE) -
           |             (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)) *
           |             (CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)))) / 2.0), 6)
           |  FROM (SELECT
           |      sum(CASE WHEN arm THEN 1 ELSE 0 END)::BIGINT AS nt,
           |      sum(CASE WHEN arm THEN total_value END) AS st,
           |      sum(CASE WHEN arm THEN total_value * total_value END) AS st2,
           |      sum(CASE WHEN NOT arm THEN 1 ELSE 0 END)::BIGINT AS nc,
           |      sum(CASE WHEN NOT arm THEN total_value END) AS sc,
           |      sum(CASE WHEN NOT arm THEN total_value * total_value END) AS sc2
           |    FROM cov))
           |ORDER BY covariate""".stripMargin
      }),

    // ─── IVF index balance: cell-size health of the literal codebook ────
    "q334_ivf_balance" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter($"vec_id" < 16)
          .select($"vec_id", $"embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .sortBy(_._1).toSeq
        val cells = emb
          .select(Similarity.ivfCell($"embedding", centroids).as("__cell"))
          .groupBy($"__cell").agg(count(lit(1)).as("__n"))
        cells.agg(sum($"__n").as("__tot"), count(lit(1)).as("n_cells_used"),
            max($"__n").as("max_cell"))
          .select($"__tot".cast("long").as("n_vectors"), $"n_cells_used",
            $"max_cell",
            (lit(16L) - $"n_cells_used").as("n_empty"),
            round($"max_cell".cast("double") /
              ($"__tot".cast("double") / 16.0), 6).as("balance_ratio"))
      },
      Some {
        val cos =
          s"""list_reduce(list_transform(list_zip(e.embedding, c.cv), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
             |  (sqrt(list_reduce(list_transform(e.embedding, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)) *
             |   sqrt(list_reduce(list_transform(c.cv, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)))""".stripMargin
        s"""WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           |           WHERE vec_id < 16),
           |cs AS (SELECT e.vec_id, c.cid, $cos AS csim
           |       FROM embeddings e CROSS JOIN c),
           |assign AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid ASC) AS rn
           |  FROM cs) WHERE rn = 1),
           |g AS (SELECT cid, count(*) AS n FROM assign GROUP BY 1)
           |SELECT sum(n)::BIGINT AS n_vectors, count(*) AS n_cells_used,
           |  max(n) AS max_cell, (16 - count(*))::BIGINT AS n_empty,
           |  round(CAST(max(n) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) / 16.0), 6)
           |    AS balance_ratio
           |FROM g""".stripMargin
      }),

    // ─── Heaps-law vocabulary-growth exponent (log-log OLS) ─────────────
    "q335_heaps_fit" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val perDoc = docs.select($"doc_id",
          size(split(lower($"text"), " ")).cast("long").as("__nt"))
        val firstOcc = docs
          .select($"doc_id", explode(array_distinct(
            split(lower($"text"), " "))).as("__w"))
          .where($"__w" =!= "")
          .groupBy($"__w").agg(min($"doc_id").as("__d0"))
          .groupBy($"__d0".as("doc_id")).agg(count(lit(1)).as("__new"))
        // the (N, V) growth curve is doc-id-ordered and corpus-sized:
        // both running sums come from ONE distributed prefix-sum pass
        val pts = Ranks.runningSums(
            perDoc.join(firstOcc, Seq("doc_id"), "left")
              .na.fill(0L, Seq("__new")),
            Seq("__nt" -> "__N", "__new" -> "__V"), None, $"doc_id")
          .df
          .where($"__N" > 0 && $"__V" > 0)
          .select(round(log($"__N".cast("double")), 9)
            .cast("decimal(12,9)").as("__x"),
            round(log($"__V".cast("double")), 9)
              .cast("decimal(12,9)").as("__y"))
        val agg = pts.agg(count(lit(1)).as("n_points"),
          sum($"__x").as("__sx"), sum($"__y").as("__sy"),
          sum($"__x" * $"__y").as("__sxy"), sum($"__x" * $"__x").as("__sxx"))
        def d(c: String) = col(c).cast("double")
        val nD = $"n_points".cast("double")
        val beta = (nD * d("__sxy") - d("__sx") * d("__sy")) /
          (nD * d("__sxx") - d("__sx") * d("__sx"))
        agg.select($"n_points", round(beta, 6).as("beta"),
          round(exp((d("__sy") - beta * d("__sx")) / nD), 6).as("k_coef"))
      },
      Some("""WITH pd AS (SELECT doc_id,
             |        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS nt
             |      FROM documents),
             |fo AS (SELECT d0 AS doc_id, count(*) AS nw FROM
             |         (SELECT w, min(doc_id) AS d0 FROM
             |            (SELECT doc_id, unnest(list_distinct(
             |               string_split(lower(text), ' '))) AS w FROM documents)
             |          WHERE w <> '' GROUP BY 1)
             |       GROUP BY 1),
             |pts AS (SELECT
             |    CAST(round(ln(CAST(sum(nt) OVER (ORDER BY pd.doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 9)
             |      AS DECIMAL(12,9)) AS x,
             |    CAST(round(ln(CAST(sum(COALESCE(nw, 0)) OVER (ORDER BY pd.doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)), 9)
             |      AS DECIMAL(12,9)) AS y,
             |    sum(nt) OVER (ORDER BY pd.doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn,
             |    sum(COALESCE(nw, 0)) OVER (ORDER BY pd.doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vv
             |  FROM pd LEFT JOIN fo USING (doc_id)),
             |f AS (SELECT x, y FROM pts WHERE nn > 0 AND vv > 0),
             |a AS (SELECT count(*) AS n_points, sum(x) AS sx, sum(y) AS sy,
             |        sum(x * y) AS sxy, sum(x * x) AS sxx FROM f)
             |SELECT n_points,
             |  round((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |         CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |        (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS beta,
             |  round(exp((CAST(sy AS DOUBLE) -
             |    ((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |     (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))
             |    / CAST(n_points AS DOUBLE)), 6) AS k_coef
             |FROM a""".stripMargin)),

    // ─── bootstrap rank stability of the brand top-5 ────────────────────
    "q336_rank_stability" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val li = Tables.lineitem(s, dir)
          .join(Tables.part(s, dir), $"l_partkey" === $"p_partkey")
          .select($"p_brand",
            $"l_extendedprice".cast("decimal(18,6)").as("__v"),
            Dedup.seededHash(55, concat($"l_orderkey".cast("string"),
              lit("_"), $"l_linenumber".cast("string"))).as("__h0"))
        // 8 resample draws as 8 conditional sums in ONE brand aggregate
        // (map-side partials over the 600k-row fact) instead of a
        // posexplode that shuffles the fact 8× — the per-(draw, brand)
        // DECIMAL sums are identical (order-independent), and the
        // 8-way unpivot runs on the ~25-row aggregated table.
        val sums = li.groupBy($"p_brand").agg(
          sum($"__v" * resampleK($"__h0", 0)).as("__rev0"),
          (1 until 8).map(j =>
            sum($"__v" * resampleK($"__h0", j)).as(s"__rev$j")): _*)
        val ranked = sums.select($"p_brand",
            posexplode(array((0 until 8).map(j => col(s"__rev$j")): _*))
              .as(Seq("__b", "__rev")))
          .withColumn("__rk", row_number().over(
            Window.partitionBy($"__b").orderBy($"__rev".desc, $"p_brand")))
        ranked.where($"__rk" <= 5)
          .groupBy($"p_brand").agg(count(lit(1)).as("n_in_top5"))
          .select($"p_brand", $"n_in_top5",
            round($"n_in_top5".cast("double") / 8.0, 6).as("stability"))
          .orderBy($"stability".desc, $"p_brand")
          .limit(10)
      },
      Some {
        val seeds = (0 until 8).map { j =>
          val r = Dedup.mixRot(j); val c = Dedup.mixConst(j)
          val lm = (1L << (60 - r)) - 1
          s"($j, $r, CAST($lm AS BIGINT), CAST($c AS BIGINT))"
        }.mkString(",\n    ")
        s"""WITH li AS (SELECT p.p_brand,
           |    CAST(l.l_extendedprice AS DECIMAL(18,6)) AS v,
           |    ('0x'||substr(md5('55|'||CAST(l.l_orderkey AS VARCHAR)||'_'||
           |      CAST(l.l_linenumber AS VARCHAR)),1,15))::BIGINT AS h0
           |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
           |sd AS (SELECT * FROM (VALUES
           |    $seeds) vv(b, rt, lm, ct)),
           |drawn AS (SELECT p_brand, v, b,
           |    xor(((h0 & lm) << rt) | (h0 >> (60 - rt)), ct)
           |      / 1152921504606846976.0 AS u
           |  FROM li CROSS JOIN sd),
           |kk AS (SELECT p_brand, v, b, CASE
           |    WHEN u < 0.367879441171 THEN 0 WHEN u < 0.735758882343 THEN 1
           |    WHEN u < 0.919698602929 THEN 2 ELSE 3 END AS k FROM drawn),
           |rev AS (SELECT b, p_brand, sum(v * k) AS rev FROM kk GROUP BY 1, 2),
           |rk AS (SELECT b, p_brand,
           |         row_number() OVER (PARTITION BY b ORDER BY rev DESC, p_brand) AS rk
           |       FROM rev)
           |SELECT p_brand, count(*) AS n_in_top5,
           |  round(CAST(count(*) AS DOUBLE) / 8.0, 6) AS stability
           |FROM rk WHERE rk <= 5 GROUP BY 1
           |ORDER BY stability DESC, p_brand LIMIT 10""".stripMargin
      }),

    // ─── storage encoding advisor: NDV-ratio-based suggestions ──────────
    "q337_encoding_advisor" -> Q(
      (s, dir) => {
        import s.implicits._
        def advise(c: String) = Tables.lineitem(s, dir)
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col(c)).as("ndv"))
          .select(lit(c).as("column"), $"n_rows", $"ndv",
            round($"ndv".cast("double") / $"n_rows".cast("double"), 6)
              .as("ndv_ratio"),
            when($"ndv" < 100, "rle+dictionary")
              .when($"ndv".cast("double") / $"n_rows".cast("double") < 0.05,
                "dictionary")
              .otherwise("plain").as("suggestion"))
        Seq("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
            "l_partkey", "l_extendedprice")
          .map(advise).reduce(_ unionByName _)
          .orderBy($"column")
      },
      Some {
        def advise(c: String) =
          s"""SELECT '$c' AS "column", count(*) AS n_rows,
             |  count(DISTINCT $c) AS ndv,
             |  round(CAST(count(DISTINCT $c) AS DOUBLE) /
             |        CAST(count(*) AS DOUBLE), 6) AS ndv_ratio,
             |  CASE WHEN count(DISTINCT $c) < 100 THEN 'rle+dictionary'
             |    WHEN CAST(count(DISTINCT $c) AS DOUBLE) /
             |         CAST(count(*) AS DOUBLE) < 0.05 THEN 'dictionary'
             |    ELSE 'plain' END AS suggestion
             |FROM lineitem""".stripMargin
        Seq("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
          "l_partkey", "l_extendedprice")
          .map(advise).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
      }),

    // ─── regression to the mean: 1995 deciles' mean revenue in 2000 ─────
    "q338_mean_reversion" -> Q(
      (s, dir) => {
        import s.implicits._
        def yearRev(yr: Int) = Tables.orders(s, dir)
          .filter(year($"o_orderdate") === yr)
          .groupBy($"o_custkey")
          .agg(sum($"o_totalprice".cast("decimal(18,6)")).as(s"__r$yr"))
        // customer-level deciles scale with the data: distributed ntile
        val d95 = Ranks.withNtile(yearRev(1995), "d_from", 10,
          $"__r1995", $"o_custkey")
        d95.join(yearRev(2000), "o_custkey")
          .groupBy($"d_from")
          .agg(count(lit(1)).as("n_customers"),
            round(sum($"__r1995").cast("double") /
              count(lit(1)).cast("double"), 6).as("mean_rev_1995"),
            round(sum($"__r2000").cast("double") /
              count(lit(1)).cast("double"), 6).as("mean_rev_2000"))
          .orderBy($"d_from")
      },
      Some("""WITH a AS (SELECT o_custkey,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS r95
             |      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
             |b AS (SELECT o_custkey,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS r00
             |      FROM orders WHERE year(o_orderdate) = 2000 GROUP BY 1),
             |d AS (SELECT o_custkey, r95,
             |        CAST(ntile(10) OVER (ORDER BY r95, o_custkey) AS BIGINT) AS d_from
             |      FROM a)
             |SELECT d_from, count(*) AS n_customers,
             |  round(CAST(sum(r95) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             |    AS mean_rev_1995,
             |  round(CAST(sum(r00) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             |    AS mean_rev_2000
             |FROM d JOIN b USING (o_custkey)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── lines-per-order distribution (fact fan-out profile) ────────────
    "q339_order_size_dist" -> Q(
      (s, dir) => {
        import s.implicits._
        val per = Tables.lineitem(s, dir).groupBy($"l_orderkey")
          .agg(count(lit(1)).as("__n"))
        val g = per.groupBy($"__n".as("n_lines"))
          .agg(count(lit(1)).as("n_orders"))
        g.withColumn("__tot", sum($"n_orders").over(
            org.apache.spark.sql.expressions.Window.partitionBy()))
          .select($"n_lines", $"n_orders",
            round($"n_orders".cast("double") / $"__tot".cast("double"), 6)
              .as("share"))
          .orderBy($"n_lines")
      },
      Some("""WITH per AS (SELECT l_orderkey, count(*) AS n FROM lineitem
             |      GROUP BY 1),
             |g AS (SELECT n AS n_lines, count(*) AS n_orders FROM per GROUP BY 1),
             |t AS (SELECT sum(n_orders) AS tot FROM g)
             |SELECT n_lines, n_orders,
             |  round(CAST(n_orders AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
             |FROM g CROSS JOIN t ORDER BY n_lines""".stripMargin)),

    // ─── region → nation revenue rollup with share-of-region ────────────
    "q340_region_rollup" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val rev = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
          .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
          .join(Tables.region(s, dir), $"n_regionkey" === $"r_regionkey")
          .groupBy($"r_name", $"n_name")
          .agg(sum($"o_totalprice".cast("decimal(18,6)")).as("__rev"))
        rev.withColumn("__rtot",
            sum($"__rev").over(Window.partitionBy($"r_name")))
          .select($"r_name", $"n_name",
            round($"__rev".cast("double"), 6).as("revenue"),
            round($"__rev".cast("double") / $"__rtot".cast("double"), 6)
              .as("share_of_region"))
          .orderBy($"r_name", $"n_name")
      },
      Some("""WITH rev AS (SELECT r.r_name, n.n_name,
             |        sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
             |      FROM orders o
             |      JOIN customer c ON o.o_custkey = c.c_custkey
             |      JOIN nation n ON c.c_nationkey = n.n_nationkey
             |      JOIN region r ON n.n_regionkey = r.r_regionkey
             |      GROUP BY 1, 2),
             |w AS (SELECT r_name, n_name, rev,
             |        sum(rev) OVER (PARTITION BY r_name) AS rtot FROM rev)
             |SELECT r_name, n_name, round(CAST(rev AS DOUBLE), 6) AS revenue,
             |  round(CAST(rev AS DOUBLE) / CAST(rtot AS DOUBLE), 6)
             |    AS share_of_region
             |FROM w ORDER BY r_name, n_name""".stripMargin)),

    // ─── bipartite sourcing degrees: parts/supplier and suppliers/part ──
    "q341_sourcing_degrees" -> Q(
      (s, dir) => {
        import s.implicits._
        def side(name: String, key: String, other: String) = {
          val d = Tables.lineitem(s, dir)
            .select(col(key), col(other)).distinct()
            .groupBy(col(key)).agg(count(lit(1)).as("__d"))
          d.agg(count(lit(1)).as("n_entities"),
              round(sum($"__d").cast("double") / count(lit(1)).cast("double"), 6)
                .as("mean_degree"),
              max($"__d").as("max_degree"))
            .select(lit(name).as("side"), $"n_entities", $"mean_degree",
              $"max_degree")
        }
        side("parts_per_supplier", "l_suppkey", "l_partkey")
          .unionByName(side("suppliers_per_part", "l_partkey", "l_suppkey"))
          .orderBy($"side")
      },
      Some {
        def side(name: String, key: String, other: String) =
          s"""SELECT '$name' AS side, count(*) AS n_entities,
             |  round(CAST(sum(d) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             |    AS mean_degree,
             |  max(d) AS max_degree
             |FROM (SELECT $key, count(*) AS d FROM
             |        (SELECT DISTINCT $key, $other FROM lineitem)
             |      GROUP BY 1)""".stripMargin
        Seq(side("parts_per_supplier", "l_suppkey", "l_partkey"),
          side("suppliers_per_part", "l_partkey", "l_suppkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY side")
      }),

    // ─── first-touch-weekday cohorts: size + purchase conversion ────────
    "q342_dow_cohorts" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        val first = ev.groupBy($"user_id")
          .agg(min(unix_micros($"ts".cast("timestamp"))).as("__f"))
          .select($"user_id",
            pmod(($"__f" / lit(86400000000L)).cast("long") + 4, lit(7L))
              .as("dow"))
        val buyers = ev.filter($"event_type" === "purchase")
          .select($"user_id").distinct().withColumn("__b", lit(true))
        first.join(buyers, Seq("user_id"), "left")
          .groupBy($"dow")
          .agg(count(lit(1)).as("n_users"),
            sum(when($"__b", 1L).otherwise(0L)).as("n_buyers"))
          .select($"dow", $"n_users", $"n_buyers",
            round($"n_buyers".cast("double") / $"n_users".cast("double"), 6)
              .as("purchase_rate"))
          .orderBy($"dow")
      },
      Some("""WITH f AS (SELECT user_id,
             |        min(epoch_us(CAST(ts AS TIMESTAMP))) AS fus
             |      FROM events GROUP BY 1),
             |d AS (SELECT user_id, (fus // 86400000000 + 4) % 7 AS dow FROM f),
             |b AS (SELECT DISTINCT user_id FROM events
             |      WHERE event_type = 'purchase')
             |SELECT dow, count(*) AS n_users,
             |  sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             |    AS n_buyers,
             |  round(CAST(sum(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS purchase_rate
             |FROM d LEFT JOIN b USING (user_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── discount-band revenue analysis ─────────────────────────────────
    "q343_discount_bands" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val g = Tables.lineitem(s, dir)
          .groupBy((floor($"l_discount".cast("double") * 100 / 2) * 2)
            .cast("long").as("discount_band_pct"))
          .agg(count(lit(1)).as("n_lines"),
            sum($"l_extendedprice".cast("decimal(18,6)")).as("__rev"))
        g.withColumn("__tot", sum($"__rev").over(Window.partitionBy()))
          .select($"discount_band_pct", $"n_lines",
            round($"__rev".cast("double"), 6).as("revenue"),
            round($"__rev".cast("double") / $"__tot".cast("double"), 6)
              .as("revenue_share"))
          .orderBy($"discount_band_pct")
      },
      Some("""WITH g AS (SELECT
             |    CAST(floor(CAST(l_discount AS DOUBLE) * 100 / 2) * 2 AS BIGINT)
             |      AS discount_band_pct,
             |    count(*) AS n_lines,
             |    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
             |  FROM lineitem GROUP BY 1),
             |t AS (SELECT sum(rev) AS tot FROM g)
             |SELECT discount_band_pct, n_lines,
             |  round(CAST(rev AS DOUBLE), 6) AS revenue,
             |  round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 6)
             |    AS revenue_share
             |FROM g CROSS JOIN t ORDER BY discount_band_pct""".stripMargin)),

    // ─── quality-filter length bias: keep-rate by length decile ─────────
    "q344_keep_by_length" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).select($"doc_id", $"n_chars",
          TextStats.qualityKeep($"text", Seq("the", "a")).as("__keep"))
        // doc-level deciling scales with the corpus: distributed ntile
        Ranks.withNtile(docs, "decile", 10, $"n_chars", $"doc_id")
          .groupBy($"decile")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"__keep", 1L).otherwise(0L)).as("n_keep"))
          .select($"decile", $"n_docs", $"n_keep",
            round($"n_keep".cast("double") / $"n_docs".cast("double"), 6)
              .as("keep_rate"))
          .orderBy($"decile")
      },
      Some("""WITH m AS (SELECT doc_id, n_chars,
             |  (CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER)
             |     BETWEEN 20 AND 100000) AND
             |  (list_sum(list_transform(regexp_split_to_array(text, '\s+'),
             |     t -> length(t)))::DOUBLE
             |   / len(regexp_split_to_array(text, '\s+')) BETWEEN 3.0 AND 10.0) AND
             |  len(list_filter(regexp_split_to_array(lower(text), '\s+'),
             |     t -> list_contains(['the','a'], t)))::DOUBLE
             |   / len(regexp_split_to_array(lower(text), '\s+')) >= 0.01 AND
             |  (CASE WHEN len(string_split(lower(text), ' ')) > 0
             |     THEN 1.0::DOUBLE - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
             |          / len(string_split(lower(text), ' '))
             |     ELSE 0.0::DOUBLE END) <= 0.6 AS keep
             |FROM documents),
             |d AS (SELECT keep,
             |        CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             |          AS decile
             |      FROM m)
             |SELECT decile, count(*) AS n_docs,
             |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
             |  round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) /
             |        CAST(count(*) AS DOUBLE), 6) AS keep_rate
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── repurchase cycle: median inter-order gap per market segment ────
    "q345_repurchase_cycle" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        val gaps = Tables.orders(s, dir)
          .withColumn("__g",
            datediff($"o_orderdate", lag($"o_orderdate", 1).over(w))
              .cast("long"))
          .where($"__g".isNotNull)
          .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
          .select($"c_mktsegment".as("segment"), $"__g")
        val vc = gaps.groupBy($"segment", $"__g").agg(count(lit(1)).as("__c"))
        val cum = vc.withColumn("__cum", sum($"__c").over(
          Window.partitionBy($"segment").orderBy($"__g")))
        val st = gaps.groupBy($"segment").agg(count(lit(1)).as("__n"))
        cum.join(st, "segment")
          .groupBy($"segment", $"__n")
          .agg(min(when($"__cum" >=
            floor(($"__n" - 1).cast("double") * 0.5).cast("long") + 1, $"__g"))
            .as("median_gap_days"))
          .select($"segment", $"__n".as("n_gaps"), $"median_gap_days")
          .orderBy($"segment")
      },
      Some("""WITH g0 AS (SELECT o_custkey, o_orderdate, o_orderkey,
             |        lag(o_orderdate) OVER (PARTITION BY o_custkey
             |          ORDER BY o_orderdate, o_orderkey) AS prev
             |      FROM orders),
             |gaps AS (SELECT c.c_mktsegment AS segment,
             |        datediff('day', CAST(prev AS DATE),
             |          CAST(o_orderdate AS DATE)) AS g
             |      FROM g0 JOIN customer c ON g0.o_custkey = c.c_custkey
             |      WHERE prev IS NOT NULL),
             |vc AS (SELECT segment, g, count(*) AS c FROM gaps GROUP BY 1, 2),
             |cum AS (SELECT segment, g, c,
             |        sum(c) OVER (PARTITION BY segment ORDER BY g) AS cm FROM vc),
             |st AS (SELECT segment, count(*) AS n FROM gaps GROUP BY 1)
             |SELECT cum.segment, max(n) AS n_gaps,
             |  min(CASE WHEN cm >= CAST(floor(CAST(n - 1 AS DOUBLE) * 0.5) AS BIGINT) + 1
             |      THEN g END) AS median_gap_days
             |FROM cum JOIN st USING (segment)
             |GROUP BY cum.segment ORDER BY segment""".stripMargin)),

    // ─── hourly activity profile with peak-hour flag ────────────────────
    "q346_hourly_profile" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val g = Tables.events(s, dir)
          .groupBy(pmod((unix_micros($"ts".cast("timestamp")) /
            lit(3600000000L)).cast("long"), lit(24L)).as("hour_utc"))
          .agg(count(lit(1)).as("n_events"))
        g.withColumn("__tot", sum($"n_events").over(Window.partitionBy()))
          .withColumn("__mx", max($"n_events").over(Window.partitionBy()))
          .select($"hour_utc", $"n_events",
            round($"n_events".cast("double") / $"__tot".cast("double"), 6)
              .as("share"),
            ($"n_events" === $"__mx").as("is_peak"))
          .orderBy($"hour_utc")
      },
      Some("""WITH g AS (SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24
             |        AS hour_utc, count(*) AS n_events
             |      FROM events GROUP BY 1),
             |t AS (SELECT sum(n_events) AS tot, max(n_events) AS mx FROM g)
             |SELECT hour_utc, n_events,
             |  round(CAST(n_events AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share,
             |  n_events = mx AS is_peak
             |FROM g CROSS JOIN t ORDER BY hour_utc""".stripMargin)),

    // ─── supplier-side nation revenue shares (q340's supply mirror) ─────
    "q347_supplier_nations" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val rev = Tables.lineitem(s, dir)
          .join(Tables.supplier(s, dir), $"l_suppkey" === $"s_suppkey")
          .join(Tables.nation(s, dir), $"s_nationkey" === $"n_nationkey")
          .groupBy($"n_name")
          .agg(count(lit(1)).as("n_lines"),
            sum($"l_extendedprice".cast("decimal(18,6)")).as("__rev"))
        rev.withColumn("__tot", sum($"__rev").over(Window.partitionBy()))
          .select($"n_name", $"n_lines",
            round($"__rev".cast("double"), 6).as("revenue"),
            round($"__rev".cast("double") / $"__tot".cast("double"), 6)
              .as("share"))
          .orderBy($"share".desc, $"n_name")
          .limit(15)
      },
      Some("""WITH rev AS (SELECT n.n_name, count(*) AS n_lines,
             |        sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev
             |      FROM lineitem l
             |      JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |      JOIN nation n ON s.s_nationkey = n.n_nationkey
             |      GROUP BY 1),
             |t AS (SELECT sum(rev) AS tot FROM rev)
             |SELECT n_name, n_lines, round(CAST(rev AS DOUBLE), 6) AS revenue,
             |  round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share
             |FROM rev CROSS JOIN t
             |ORDER BY share DESC, n_name LIMIT 15""".stripMargin)),

    // ─── Fellegi–Sunter record-linkage scoring over blocked pairs ───────
    // Blocking key: SORT-RANK BUCKETS of 64 over (p_name, p_partkey) —
    // block count GROWS with N, so candidates are exactly
    // (N/64)·C(64,2) ≈ 31.5·N, linear by construction. The gate's
    // previous p_size blocking (a FIXED 50-value domain) measured
    // 5.4–7.4× candidate growth on 3× data in the sf0.3 sweep — fixed-
    // domain equality keys are the documented anti-pattern ("pick
    // blocking columns with bounded fan-out", Linkage scaladoc), so the
    // registry's own linkage template now models the scale-safe shape.
    "q348_fs_linkage" -> Q(
      (s, dir) => {
        import s.implicits._
        val parts = Tables.part(s, dir).select($"p_partkey", $"p_brand",
          $"p_type", $"p_name",
          element_at(split($"p_name", " "), 1).as("tok0"))
        val ranked = Ranks.withRowNumber(parts, "__rn", $"p_name", $"p_partkey")
        val pairs = Linkage.fellegiSunterPairs(ranked, "p_partkey",
          floor(($"__rn" - 1) / 64).cast("long"), fsFields)
        Linkage.fellegiSunterBands(pairs, reviewLo = 0.0, matchHi = 6.0)
          .orderBy($"band", $"decision")
      },
      Some {
        val (fB, fT, fK) = (fsFields(0), fsFields(1), fsFields(2))
        s"""WITH p AS (SELECT p_partkey, p_brand, p_type,
           |        string_split(p_name, ' ')[1] AS tok0,
           |        (row_number() OVER (ORDER BY p_name, p_partkey) - 1) // 64
           |          AS blk
           |      FROM part),
           |sc AS (SELECT round(
           |    (CASE WHEN a.p_brand = b.p_brand THEN ${fB.agreeW} ELSE ${fB.disagreeW} END) +
           |    (CASE WHEN a.p_type = b.p_type THEN ${fT.agreeW} ELSE ${fT.disagreeW} END) +
           |    (CASE WHEN a.tok0 = b.tok0 THEN ${fK.agreeW} ELSE ${fK.disagreeW} END), 6) AS score
           |  FROM p a JOIN p b
           |    ON a.blk = b.blk AND a.p_partkey < b.p_partkey)
           |SELECT CAST(floor(score) AS BIGINT) AS band,
           |  CASE WHEN score > 6.0 THEN 'match'
           |       WHEN score <= 0.0 THEN 'nonmatch'
           |       ELSE 'review' END AS decision,
           |  count(*) AS n_pairs
           |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // ─── FS linkage via sorted-neighborhood blocking (the scale shape) ──
    // EVERY equality key in TPC-H part has a fixed domain (p_size is 50
    // values; a composite (tok0, p_size) key measured ~N² too), so the
    // production escape is positional: sorted-neighborhood blocking
    // (Hernández & Stolfo 1998) sorts by name and pairs each record
    // with the next w = 10 — candidates are EXACTLY N·w − w(w+1)/2,
    // linear in N by construction (asserted in CandidateGrowthSpec).
    // q348 uses the disjoint-bucket variant of the same idea; this gate
    // is the SLIDING window (no pair lost at a bucket boundary). Same
    // FS field model and banding as q348.
    "q401_fs_snm" -> Q(
      (s, dir) => {
        import s.implicits._
        val parts = Tables.part(s, dir).select($"p_partkey", $"p_brand",
          $"p_type", $"p_name",
          element_at(split($"p_name", " "), 1).as("tok0"))
        val pairs = Linkage.sortedNeighborhoodPairs(parts, "p_partkey",
          $"p_name", fsFields, window = 10)
        Linkage.fellegiSunterBands(pairs, reviewLo = 0.0, matchHi = 6.0)
          .orderBy($"band", $"decision")
      },
      Some {
        val (fB, fT, fK) = (fsFields(0), fsFields(1), fsFields(2))
        s"""WITH p AS (SELECT p_partkey, p_brand, p_type, p_name,
           |        string_split(p_name, ' ')[1] AS tok0 FROM part),
           |r AS (SELECT *, row_number() OVER (ORDER BY p_name, p_partkey)
           |        AS rn FROM p),
           |sc AS (SELECT round(
           |    (CASE WHEN a.p_brand = b.p_brand THEN ${fB.agreeW} ELSE ${fB.disagreeW} END) +
           |    (CASE WHEN a.p_type = b.p_type THEN ${fT.agreeW} ELSE ${fT.disagreeW} END) +
           |    (CASE WHEN a.tok0 = b.tok0 THEN ${fK.agreeW} ELSE ${fK.disagreeW} END), 6) AS score
           |  FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 10)
           |SELECT CAST(floor(score) AS BIGINT) AS band,
           |  CASE WHEN score > 6.0 THEN 'match'
           |       WHEN score <= 0.0 THEN 'nonmatch'
           |       ELSE 'review' END AS decision,
           |  count(*) AS n_pairs
           |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // ─── Neyman-optimal stratified allocation (survey sampling) ─────────
    "q349_neyman_allocation" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.neymanAllocation(Tables.orders(s, dir), "o_orderpriority",
            "o_totalprice", nTotal = 10000)
          .withColumnRenamed("stratum", "priority")
          .orderBy($"priority")
      },
      Some("""WITH st AS (SELECT o_orderpriority AS priority, count(*) AS n_pop,
             |        sum(CAST(o_totalprice AS DECIMAL(18,6))) AS s1,
             |        sum(CAST(CAST(o_totalprice AS DECIMAL(19,6)) *
             |                 CAST(o_totalprice AS DECIMAL(19,6))
             |                 AS DECIMAL(38,12))) AS s2
             |      FROM orders GROUP BY 1),
             |sd AS (SELECT priority, n_pop,
             |        sqrt(greatest(0.0,
             |          CAST(s2 AS DOUBLE) / CAST(n_pop AS DOUBLE) -
             |          (CAST(s1 AS DOUBLE) / CAST(n_pop AS DOUBLE)) *
             |          (CAST(s1 AS DOUBLE) / CAST(n_pop AS DOUBLE)))) AS sdv
             |      FROM st),
             |w AS (SELECT priority, n_pop, sdv,
             |        CAST(n_pop AS DOUBLE) * sdv AS wv FROM sd),
             |t AS (SELECT CAST(sum(CAST(round(wv, 6) AS DECIMAL(28,6))) AS DOUBLE)
             |        AS wtot FROM w),
             |r AS (SELECT priority, n_pop, sdv, 10000.0 * wv / wtot AS raw
             |      FROM w CROSS JOIN t),
             |f AS (SELECT priority, n_pop, sdv, raw,
             |        CAST(floor(raw) AS BIGINT) AS base FROM r),
             |l AS (SELECT 10000 - CAST(sum(base) AS BIGINT) AS leftn FROM f),
             |rk AS (SELECT *, row_number() OVER
             |        (ORDER BY raw - base DESC, priority) AS rkn FROM f)
             |SELECT priority, n_pop, round(sdv, 6) AS sd,
             |  base + CASE WHEN rkn <= leftn THEN 1 ELSE 0 END AS n_alloc
             |FROM rk CROSS JOIN l ORDER BY priority""".stripMargin)),

    // ─── zone-map (data-skipping) effectiveness audit ───────────────────
    "q350_zonemap_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        val preds = Seq(
          Profile.ZonePred("disc_ge_009", "l_discount", Some(0.09), None),
          Profile.ZonePred("price_le_2000", "l_extendedprice", None, Some(2000.0)),
          Profile.ZonePred("qty_20_25", "l_quantity", Some(20.0), Some(25.0)),
          Profile.ZonePred("qty_ge_45", "l_quantity", Some(45.0), None))
        Profile.zonemapAudit(Tables.lineitem(s, dir),
            floor($"l_orderkey" / lit(4096)).cast("long"), preds)
          .orderBy($"pred")
      },
      Some("""WITH z AS (SELECT l_orderkey // 4096 AS zone, count(*) AS n,
             |        min(CAST(l_quantity AS DOUBLE)) AS mn_q,
             |        max(CAST(l_quantity AS DOUBLE)) AS mx_q,
             |        min(CAST(l_discount AS DOUBLE)) AS mn_d,
             |        max(CAST(l_discount AS DOUBLE)) AS mx_d,
             |        min(CAST(l_extendedprice AS DOUBLE)) AS mn_p,
             |        max(CAST(l_extendedprice AS DOUBLE)) AS mx_p
             |      FROM lineitem GROUP BY 1),
             |e AS (
             |  SELECT 'disc_ge_009' AS pred, n, mx_d < 0.09 AS pruned FROM z
             |  UNION ALL SELECT 'price_le_2000', n, mn_p > 2000.0 FROM z
             |  UNION ALL SELECT 'qty_20_25', n, (mx_q < 20.0 OR mn_q > 25.0) FROM z
             |  UNION ALL SELECT 'qty_ge_45', n, mx_q < 45.0 FROM z)
             |SELECT pred, count(*) AS n_zones,
             |  CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT) AS zones_pruned,
             |  CAST(sum(CASE WHEN pruned THEN n ELSE 0 END) AS BIGINT) AS rows_skipped,
             |  round(CAST(sum(CASE WHEN pruned THEN n ELSE 0 END) AS DOUBLE) /
             |        CAST(sum(n) AS DOUBLE), 6) AS skip_ratio
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── Theil T inequality: within/between-nation decomposition ────────
    "q351_theil_decomp" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.theilDecompose(
          Tables.orders(s, dir)
            .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
            .join(Tables.nation(s, dir), $"c_nationkey" === $"n_nationkey")
            .select($"n_name", $"o_totalprice"),
          "n_name", "o_totalprice")
      },
      Some("""WITH rows0 AS (SELECT n.n_name AS g,
             |        CAST(o_totalprice AS DECIMAL(18,6)) AS x
             |      FROM orders o
             |      JOIN customer c ON o.o_custkey = c.c_custkey
             |      JOIN nation n ON c.c_nationkey = n.n_nationkey
             |      WHERE CAST(o_totalprice AS DECIMAL(18,6)) > 0),
             |grp AS (SELECT g, count(*) AS ng, sum(x) AS sg FROM rows0 GROUP BY 1),
             |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s FROM grp),
             |rs AS (SELECT
             |    sum(CAST(round((CAST(x AS DOUBLE) / CAST(s AS DOUBLE)) *
             |      ln(CAST(x AS DOUBLE) * CAST(ng AS DOUBLE) / CAST(sg AS DOUBLE)), 9)
             |      AS DECIMAL(18,9))) AS w,
             |    sum(CAST(round((CAST(x AS DOUBLE) / CAST(s AS DOUBLE)) *
             |      ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE)), 9)
             |      AS DECIMAL(18,9))) AS t
             |  FROM rows0 JOIN grp USING (g) CROSS JOIN tot),
             |bt AS (SELECT count(*) AS n_groups,
             |    sum(CAST(round((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)) *
             |      ln((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)) /
             |         (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 9)
             |      AS DECIMAL(18,9))) AS b
             |  FROM grp CROSS JOIN tot)
             |SELECT n, n_groups,
             |  round(CAST(t AS DOUBLE), 6) AS theil_total,
             |  round(CAST(w AS DOUBLE), 6) AS theil_within,
             |  round(CAST(b AS DOUBLE), 6) AS theil_between
             |FROM tot CROSS JOIN rs CROSS JOIN bt""".stripMargin)),

    // ─── Holt linear-trend forecast per order priority ──────────────────
    "q352_holt_forecast" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.holtLinear(Tables.orders(s, dir), "o_orderpriority",
            "o_orderdate", "o_totalprice", alpha = 0.5, beta = 0.5,
            horizon = 3)
          .withColumnRenamed("key", "priority")
          .orderBy($"priority")
      },
      Some("""WITH RECURSIVE m AS (SELECT o_orderpriority AS priority,
             |        (year(CAST(o_orderdate AS DATE)) * 12 +
             |         month(CAST(o_orderdate AS DATE))) AS mi,
             |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
             |      FROM orders GROUP BY 1, 2),
             |r AS (SELECT priority, y, row_number() OVER
             |        (PARTITION BY priority ORDER BY mi) AS rn FROM m),
             |rec AS (
             |  SELECT priority, rn, y, y AS l, CAST(0.0 AS DOUBLE) AS b
             |  FROM r WHERE rn = 1
             |  UNION ALL
             |  SELECT r.priority, r.rn, r.y,
             |    CASE WHEN r.rn = 2 THEN r.y
             |         ELSE 0.5 * r.y + 0.5 * (rec.l + rec.b) END,
             |    CASE WHEN r.rn = 2 THEN r.y - rec.l
             |         ELSE 0.5 * ((0.5 * r.y + 0.5 * (rec.l + rec.b)) - rec.l)
             |              + 0.5 * rec.b END
             |  FROM rec JOIN r ON r.priority = rec.priority AND r.rn = rec.rn + 1),
             |lst AS (SELECT priority, rn, l, b, row_number() OVER
             |        (PARTITION BY priority ORDER BY rn DESC) AS rr FROM rec)
             |SELECT priority, rn AS n_months, round(l, 6) AS level_last,
             |  round(b, 6) AS trend_last, round(l + 3.0 * b, 6) AS forecast
             |FROM lst WHERE rr = 1 ORDER BY priority""".stripMargin)),

    // ─── excess-loss (RHO-style) data-selection deciles ─────────────────
    "q353_rho_select" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.excessLossDeciles(Tables.documents(s, dir), "doc_id",
            "text", trainPred = $"doc_id" % 3 === 0,
            refPred = $"doc_id" % 3 === 1)
          .orderBy($"bucket")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
             |        FROM documents),
             |utT AS (SELECT unnest(tk) AS w FROM toks WHERE doc_id % 3 = 0),
             |ucT AS (SELECT w, count(*) AS c1 FROM utT GROUP BY 1),
             |vT AS (SELECT count(DISTINCT w) AS v FROM utT),
             |bcT AS (SELECT pair, count(*) AS c12 FROM
             |        (SELECT tk[p+1] || ' ' || tk[p+2] AS pair FROM
             |          (SELECT tk, CAST(unnest(range(len(tk)-1)) AS INTEGER) AS p
             |           FROM toks WHERE doc_id % 3 = 0 AND len(tk) >= 2))
             |        GROUP BY 1),
             |utR AS (SELECT unnest(tk) AS w FROM toks WHERE doc_id % 3 = 1),
             |ucR AS (SELECT w, count(*) AS c1 FROM utR GROUP BY 1),
             |vR AS (SELECT count(DISTINCT w) AS v FROM utR),
             |bcR AS (SELECT pair, count(*) AS c12 FROM
             |        (SELECT tk[p+1] || ' ' || tk[p+2] AS pair FROM
             |          (SELECT tk, CAST(unnest(range(len(tk)-1)) AS INTEGER) AS p
             |           FROM toks WHERE doc_id % 3 = 1 AND len(tk) >= 2))
             |        GROUP BY 1),
             |pb AS (SELECT doc_id, tk[p+1] AS w1,
             |         tk[p+1] || ' ' || tk[p+2] AS pair FROM
             |        (SELECT doc_id, tk, CAST(unnest(range(len(tk)-1)) AS INTEGER) AS p
             |         FROM toks WHERE doc_id % 3 = 2 AND len(tk) >= 2)),
             |sc AS (SELECT doc_id,
             |    CAST(round(((coalesce(bcT.c12, 0) + 0.5::DOUBLE) /
             |      (coalesce(ucT.c1, 0) + 0.5::DOUBLE * vT.v)) *
             |      1099511627776::DOUBLE) AS BIGINT) AS pT,
             |    CAST(round(((coalesce(bcR.c12, 0) + 0.5::DOUBLE) /
             |      (coalesce(ucR.c1, 0) + 0.5::DOUBLE * vR.v)) *
             |      1099511627776::DOUBLE) AS BIGINT) AS pR
             |  FROM pb
             |  LEFT JOIN bcT USING (pair) LEFT JOIN bcR USING (pair)
             |  LEFT JOIN ucT ON pb.w1 = ucT.w LEFT JOIN ucR ON pb.w1 = ucR.w
             |  CROSS JOIN vT CROSS JOIN vR),
             |pd AS (SELECT doc_id, count(*) AS nb,
             |        sum(pT) AS sT, sum(pR) AS sR FROM sc GROUP BY 1),
             |rho AS (SELECT doc_id, (CAST(sR AS DOUBLE) - CAST(sT AS DOUBLE)) /
             |        1099511627776::DOUBLE / CAST(nb AS DOUBLE) AS rho FROM pd),
             |bk AS (SELECT ntile(10) OVER (ORDER BY rho DESC, doc_id) AS bucket,
             |        rho FROM rho)
             |SELECT bucket, count(*) AS n_docs,
             |  round(CAST(sum(CAST(round(rho, 9) AS DECIMAL(18,9))) AS DOUBLE) /
             |        CAST(count(*) AS DOUBLE), 6) AS mean_rho,
             |  round(min(rho), 6) AS min_rho, round(max(rho), 6) AS max_rho
             |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── unigram-LM Viterbi subword segmentation (SentencePiece-style) ──
    "q354_unigram_viterbi" -> Q(
      (s, dir) => {
        import s.implicits._
        Unigram.viterbiSegment(Tables.documents(s, dir), "text")
          .orderBy($"word")
      },
      Some("""WITH RECURSIVE inst AS (SELECT w FROM
             |        (SELECT unnest(string_split(lower(text), ' ')) AS w
             |         FROM documents) WHERE w <> ''),
             |e0 AS (SELECT w, CAST(unnest(range(len(w))) AS INTEGER) AS s FROM inst),
             |e1 AS (SELECT w, s, CAST(unnest([1,2,3,4]) AS INTEGER) AS l FROM e0),
             |pc AS (SELECT substr(w, s+1, l) AS piece, count(*) AS cnt
             |       FROM e1 WHERE s + l <= len(w) GROUP BY 1),
             |voc AS (SELECT piece, cnt FROM pc WHERE cnt >= 3 OR len(piece) = 1),
             |tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM voc),
             |vc AS (SELECT piece, -ln(CAST(cnt AS DOUBLE) / total) AS cost
             |       FROM voc CROSS JOIN tt),
             |wd AS (SELECT w AS word, count(*) AS n_occ FROM inst GROUP BY 1),
             |c0 AS (SELECT word, CAST(unnest(range(len(word))) AS INTEGER) AS s
             |       FROM wd),
             |c1 AS (SELECT word, s, CAST(unnest([1,2,3,4]) AS INTEGER) AS l FROM c0),
             |ed AS (SELECT c1.word, c1.s, c1.s + c1.l AS e, vc.cost
             |       FROM c1 JOIN vc ON substr(c1.word, c1.s+1, c1.l) = vc.piece
             |       WHERE c1.s + c1.l <= len(c1.word)),
             |rec AS (
             |  SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS cost FROM wd
             |  UNION ALL
             |  SELECT ed.word, ed.e, rec.cost + ed.cost
             |  FROM rec JOIN ed ON ed.word = rec.word AND ed.s = rec.pos),
             |best AS (SELECT word, min(cost) AS bc FROM rec
             |         JOIN (SELECT word AS w2, len(word) AS wl FROM wd) ON word = w2
             |         WHERE pos = wl GROUP BY word)
             |SELECT wd.word, wd.n_occ, round(best.bc, 6) AS best_cost
             |FROM wd JOIN best USING (word) ORDER BY word""".stripMargin)),

    // ─── Chao1 vocabulary-richness estimate with Good–Turing coverage ───
    "q355_chao1_richness" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.chao1Richness(Tables.documents(s, dir), "lang", "text")
          .withColumnRenamed("group", "lang")
          .orderBy($"lang")
      },
      Some("""WITH tc AS (SELECT lang, w, count(*) AS c FROM
             |        (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
             |         FROM documents) WHERE w <> '' GROUP BY 1, 2),
             |st AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
             |        count(*) AS d_obs,
             |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             |        CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
             |      FROM tc GROUP BY 1)
             |SELECT lang, n_tokens, d_obs, f1, f2,
             |  round(CAST(d_obs AS DOUBLE) +
             |    CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE) /
             |      (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1,
             |  round(1.0 - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             |    AS coverage
             |FROM st ORDER BY lang""".stripMargin)),

    // ─── IPW average treatment effect over a logreg propensity ──────────
    // Treatment = the source group, propensity = the REPLAYED q156/q157
    // logreg over hashed text features, outcome = long-doc indicator.
    "q356_ipw_ate" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val treat = $"source".isin("src0", "src1", "src2", "src3", "src4")
        val w = Classifier.logregFit(docs, "doc_id", "text", treat)
        val scored = Classifier.logregScore(docs, "doc_id", "text", treat, w)
          .join(docs.select($"doc_id", $"n_chars"), "doc_id")
        Classifier.ipwEffect(scored, "p", $"is_target", $"n_chars" >= 300)
      },
      Some(LogregOracle.ipwSql(
        "source IN ('src0','src1','src2','src3','src4')",
        buckets = 64, iters = 3, rate = "0.02::DOUBLE",
        outcome = "d.n_chars >= 300"))),

    // ─── BPE compression curve (vocab-size sweep) ───────────────────────
    "q357_bpe_compression" -> Q(
      (s, dir) => {
        import s.implicits._
        Bpe.compressionCurve(Tables.documents(s, dir), "doc_id", "text",
            iters = 4, ks = Seq(0, 1, 2, 3, 4))
          .orderBy($"n_merges")
      },
      Some(BpeOracle.compressionSql(iters = 4, ks = Seq(0, 1, 2, 3, 4)))),

    // ─── adjusted Rand index between two partitions ─────────────────────
    "q358_ari_partitions" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.adjustedRand(Tables.documents(s, dir), "lang", "source")
      },
      Some("""WITH cells AS (SELECT lang AS a, source AS b, count(*) AS c
             |        FROM documents GROUP BY 1, 2),
             |st AS (SELECT CAST(sum(CAST(c AS DECIMAL(19,0)) *
             |          CAST(c - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sij,
             |        CAST(sum(c) AS BIGINT) AS n, count(*) AS n_cells
             |      FROM cells),
             |ma AS (SELECT a, sum(c) AS m FROM cells GROUP BY 1),
             |sa AS (SELECT CAST(sum(CAST(m AS DECIMAL(19,0)) *
             |          CAST(m - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s
             |       FROM ma),
             |mb AS (SELECT b, sum(c) AS m FROM cells GROUP BY 1),
             |sb AS (SELECT CAST(sum(CAST(m AS DECIMAL(19,0)) *
             |          CAST(m - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s
             |       FROM mb)
             |SELECT n, n_cells,
             |  round(((CAST(sij AS DOUBLE) / 2.0) -
             |      ((CAST(sa.s AS DOUBLE) / 2.0) * (CAST(sb.s AS DOUBLE) / 2.0) /
             |       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0))) /
             |    (((CAST(sa.s AS DOUBLE) / 2.0) + (CAST(sb.s AS DOUBLE) / 2.0)) / 2.0 -
             |      ((CAST(sa.s AS DOUBLE) / 2.0) * (CAST(sb.s AS DOUBLE) / 2.0) /
             |       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0))), 6)
             |    AS ari
             |FROM st CROSS JOIN sa CROSS JOIN sb""".stripMargin)),

    // ─── seeded-Laplace DP noisy histogram (ε ledger) ───────────────────
    "q359_dp_noisy_hist" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.laplaceNoisyCounts(Tables.documents(s, dir), "lang",
            eps = 1.0, seed = 7)
          .orderBy($"key")
      },
      Some("""WITH c AS (SELECT CAST(lang AS VARCHAR) AS key,
             |        count(*) AS n_true FROM documents GROUP BY 1),
             |u AS (SELECT key, n_true,
             |        CAST(('0x'||substr(md5('7|'||key),1,15))::BIGINT AS DOUBLE) /
             |          1152921504606846976::DOUBLE - 0.5 AS cdev
             |      FROM c)
             |SELECT key, n_true,
             |  round(CAST(n_true AS DOUBLE) +
             |    -1.0 * sign(cdev) *
             |    ln(greatest(1e-12, 1.0 - 2.0 * abs(cdev))), 6) AS n_noisy,
             |  1.0::DOUBLE AS epsilon
             |FROM u ORDER BY key""".stripMargin)),

    // ─── blocking-quality audit: reduction ratio vs pairs completeness ──
    "q360_blocking_quality" -> Q(
      (s, dir) => {
        import s.implicits._
        val parts = Tables.part(s, dir).select($"p_partkey", $"p_brand",
          $"p_type", $"p_size",
          element_at(split($"p_name", " "), 1).as("tok0"))
        Linkage.blockingQuality(parts, "p_partkey", $"p_size",
          Seq("p_brand", "p_type", "tok0"))
      },
      Some("""WITH b0 AS (SELECT p_partkey, p_size AS blk,
             |        p_brand || chr(1) || p_type || chr(1) ||
             |          string_split(p_name, ' ')[1] AS truth
             |      FROM part),
             |bs AS (SELECT blk, count(*) AS c FROM b0 GROUP BY 1),
             |bl AS (SELECT count(*) AS n_blocks, CAST(sum(c) AS BIGINT) AS n,
             |        CAST(sum(CAST(c AS DECIMAL(19,0)) *
             |          CAST(c - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS cand2
             |      FROM bs),
             |ts AS (SELECT truth, count(*) AS c FROM b0 GROUP BY 1),
             |tr AS (SELECT CAST(sum(CAST(c AS DECIMAL(19,0)) *
             |          CAST(c - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS truth2
             |      FROM ts),
             |cs AS (SELECT truth, blk, count(*) AS c FROM b0 GROUP BY 1, 2),
             |cp AS (SELECT CAST(sum(CAST(c AS DECIMAL(19,0)) *
             |          CAST(c - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS cap2
             |      FROM cs)
             |SELECT n, n_blocks,
             |  CAST(cand2 AS DOUBLE) / 2.0 AS cand_pairs,
             |  CAST(truth2 AS DOUBLE) / 2.0 AS truth_pairs,
             |  CAST(cap2 AS DOUBLE) / 2.0 AS captured_pairs,
             |  round(1.0 - CAST(cand2 AS DOUBLE) /
             |    (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
             |    AS reduction_ratio,
             |  round(CAST(cap2 AS DOUBLE) / CAST(truth2 AS DOUBLE), 6)
             |    AS pairs_completeness
             |FROM bl CROSS JOIN tr CROSS JOIN cp""".stripMargin)),

    // ─── split-conformal prediction interval with coverage audit ────────
    "q361_conformal_interval" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.conformalInterval(Tables.orders(s, dir),
          "o_orderpriority", "o_totalprice",
          when(pmod($"o_orderkey", lit(4)) < 2, 0)
            .when(pmod($"o_orderkey", lit(4)) === 2, 1).otherwise(2),
          alpha = 0.1)
      },
      Some("""WITH b AS (SELECT o_orderpriority AS g,
             |        CAST(o_totalprice AS DECIMAL(18,6)) AS y,
             |        CASE WHEN o_orderkey % 4 < 2 THEN 0
             |             WHEN o_orderkey % 4 = 2 THEN 1 ELSE 2 END AS s
             |      FROM orders),
             |mu AS (SELECT g, CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |        AS mu FROM b WHERE s = 0 GROUP BY 1),
             |cal AS (SELECT abs(CAST(y AS DOUBLE) - mu) AS r
             |        FROM b JOIN mu USING (g) WHERE s = 1),
             |nc AS (SELECT count(*) AS n_cal FROM cal),
             |vc AS (SELECT r, count(*) AS c FROM cal GROUP BY 1),
             |cum AS (SELECT r, sum(c) OVER (ORDER BY r) AS cm FROM vc),
             |q AS (SELECT max(n_cal) AS n_cal,
             |        min(CASE WHEN cm >= least(
             |          CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * 0.9) AS BIGINT),
             |          n_cal) THEN r END) AS qh
             |      FROM cum CROSS JOIN nc),
             |tst AS (SELECT abs(CAST(y AS DOUBLE) - mu) AS r, q.n_cal, q.qh
             |        FROM b JOIN mu USING (g) CROSS JOIN q WHERE s = 2)
             |SELECT max(n_cal) AS n_cal, count(*) AS n_test,
             |  round(max(qh), 6) AS qhat,
             |  round(CAST(sum(CASE WHEN r <= qh THEN 1 ELSE 0 END) AS DOUBLE) /
             |        CAST(count(*) AS DOUBLE), 6) AS coverage
             |FROM tst""".stripMargin)),

    // ─── LM data-scaling curve: holdout NLL vs nested training size ─────
    "q362_scaling_curve" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.scalingCurve(Tables.documents(s, dir), "doc_id", "text")
          .orderBy($"frac_denom")
      },
      Some(s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
              |        FROM documents),
              |hb AS (SELECT tk[p+1] AS w1, tk[p+1] || ' ' || tk[p+2] AS pair
              |       FROM (SELECT tk, CAST(unnest(range(len(tk)-1)) AS INTEGER) AS p
              |             FROM toks WHERE doc_id % 8 = 7 AND len(tk) >= 2)),
              |${scalingFracCtes(8)},
              |${scalingFracCtes(4)},
              |${scalingFracCtes(2)},
              |pts AS (SELECT * FROM p8 UNION ALL SELECT * FROM p4
              |        UNION ALL SELECT * FROM p2),
              |dd AS (SELECT frac_denom, n_train_docs, n_bigrams, nll,
              |        ln(CAST(n_train_docs AS DOUBLE)) AS x, ln(nll) AS y
              |       FROM pts),
              |st AS (SELECT count(*)::DOUBLE AS k,
              |        CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
              |        CAST(sum(CAST(round(y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sy,
              |        CAST(sum(CAST(round(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
              |        CAST(sum(CAST(round(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
              |       FROM dd)
              |SELECT frac_denom, n_train_docs, n_bigrams,
              |  round(nll, 6) AS mean_nll,
              |  round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6)
              |    AS loglog_slope
              |FROM dd CROSS JOIN st ORDER BY frac_denom""".stripMargin)),

    // ─── exact Shapley-value channel attribution ────────────────────────
    "q363_shapley_attribution" -> Q(
      (s, dir) => {
        import s.implicits._
        Cohort.shapleyAttribution(Tables.events(s, dir), "user_id",
            "event_type", convType = "purchase", channels = shapleyChannels)
          .orderBy($"channel")
      },
      Some(shapleySql("purchase"))),

    // ─── Sinkhorn entropic optimal transport between two halves ─────────
    "q364_sinkhorn_ot" -> Q(
      (s, dir) => {
        import s.implicits._
        Transport.sinkhornPlan(Tables.documents(s, dir), "lang",
            $"doc_id" % 2 === 0, epsilon = 1.0, iters = 10)
          .orderBy($"cat_a", $"cat_b")
      },
      Some(sinkhornSql(epsilon = 1.0, iters = 10))),

    // ─── RAKE keyphrase extraction over the document corpus ─────────────
    "q365_rake_keyphrases" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.rakeKeyphrases(Tables.documents(s, dir), "doc_id",
          "text", stopwords = rakeStops, topK = 20)
      },
      Some {
        val stopList = rakeStops.map(t => s"'$t'").mkString(", ")
        s"""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
           |        FROM documents),
           |t0 AS (SELECT doc_id, p, tk[p+1] AS t FROM
           |        (SELECT doc_id, tk, CAST(unnest(range(len(tk))) AS INTEGER)
           |           AS p FROM tk)
           |      WHERE tk[p+1] <> ''),
           |t1 AS (SELECT doc_id, p, t,
           |        list_contains([$stopList], t) AS stop FROM t0),
           |g AS (SELECT doc_id, p, t, stop,
           |        sum(CASE WHEN stop THEN 1 ELSE 0 END) OVER
           |          (PARTITION BY doc_id ORDER BY p) AS grp
           |      FROM t1),
           |m0 AS (SELECT doc_id, grp, p, t FROM g WHERE NOT stop),
           |ph AS (SELECT doc_id, grp, count(*) AS len FROM m0 GROUP BY 1, 2),
           |mem AS (SELECT m0.doc_id, m0.grp, m0.p, m0.t, ph.len
           |        FROM m0 JOIN ph USING (doc_id, grp)),
           |wrd AS (SELECT t, CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           |        AS score FROM mem GROUP BY 1),
           |pr AS (SELECT mem.doc_id, mem.grp,
           |        array_to_string(list(mem.t ORDER BY mem.p), ' ') AS phrase,
           |        count(*) AS n_words,
           |        sum(CAST(round(wrd.score, 9) AS DECIMAL(18,9))) AS ps
           |      FROM mem JOIN wrd USING (t) GROUP BY 1, 2)
           |SELECT phrase, max(n_words) AS n_words, count(*) AS n_occ,
           |  round(CAST(max(ps) AS DOUBLE), 6) AS score
           |FROM pr GROUP BY 1 ORDER BY score DESC, phrase LIMIT 20""".stripMargin
      }),

    // ─── storage-layout comparison: zone-map skipping per clustering ────
    "q366_layout_compare" -> Q(
      (s, dir) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir)
        val preds = Seq(
          Profile.ZonePred("disc_ge_009", "l_discount", Some(0.09), None),
          Profile.ZonePred("qty_20_25", "l_quantity", Some(20.0), Some(25.0)))
        // the re-clustered zone id comes from the DISTRIBUTED row number
        // (range exchange + partition-local sort — what a real re-cluster
        // pays), never a row_number() window over the fact table itself
        val sorted = Ranks.withRowNumber(li, "__rn",
            $"l_shipdate", $"l_orderkey", $"l_linenumber")
          .withColumn("__zone", floor(($"__rn" - 1) / lit(4096)).cast("long"))
        Seq(
          ("natural_orderkey", Profile.zonemapAudit(li,
            floor($"l_orderkey" / lit(4096)).cast("long"), preds)),
          ("partkey_hash", Profile.zonemapAudit(li,
            pmod($"l_partkey", lit(32)).cast("long"), preds)),
          ("shipdate_sorted", Profile.zonemapAudit(sorted, $"__zone", preds)))
          .map { case (name, d) => d.select(lit(name).as("layout"),
            col("pred"), col("n_zones"), col("zones_pruned"),
            col("rows_skipped"), col("skip_ratio")) }
          .reduce(_.unionByName(_))
          .orderBy($"layout", $"pred")
      },
      Some {
        def zones(layout: String, zoneExpr: String, src: String) =
          s"""SELECT '$layout' AS layout, pred, count(*) AS n_zones,
             |  CAST(sum(CASE WHEN pruned THEN 1 ELSE 0 END) AS BIGINT)
             |    AS zones_pruned,
             |  CAST(sum(CASE WHEN pruned THEN n ELSE 0 END) AS BIGINT)
             |    AS rows_skipped,
             |  round(CAST(sum(CASE WHEN pruned THEN n ELSE 0 END) AS DOUBLE) /
             |        CAST(sum(n) AS DOUBLE), 6) AS skip_ratio
             |FROM (
             |  SELECT 'disc_ge_009' AS pred, n, mx_d < 0.09 AS pruned FROM
             |    (SELECT $zoneExpr AS zone, count(*) AS n,
             |       max(CAST(l_discount AS DOUBLE)) AS mx_d,
             |       min(CAST(l_quantity AS DOUBLE)) AS mn_q,
             |       max(CAST(l_quantity AS DOUBLE)) AS mx_q
             |     FROM $src GROUP BY 1)
             |  UNION ALL
             |  SELECT 'qty_20_25', n, (mx_q < 20.0 OR mn_q > 25.0) FROM
             |    (SELECT $zoneExpr AS zone, count(*) AS n,
             |       max(CAST(l_discount AS DOUBLE)) AS mx_d,
             |       min(CAST(l_quantity AS DOUBLE)) AS mn_q,
             |       max(CAST(l_quantity AS DOUBLE)) AS mx_q
             |     FROM $src GROUP BY 1))
             |GROUP BY 1, 2""".stripMargin
        s"""WITH srt AS (SELECT *, (row_number() OVER (ORDER BY l_shipdate,
           |        l_orderkey, l_linenumber) - 1) // 4096 AS zid
           |      FROM lineitem)
           |${zones("natural_orderkey", "l_orderkey // 4096", "lineitem")}
           |UNION ALL
           |${zones("partkey_hash", "l_partkey % 32", "lineitem")}
           |UNION ALL
           |${zones("shipdate_sorted", "zid", "srt")}
           |ORDER BY layout, pred""".stripMargin
      }),

    // ─── randomized response (local DP) with debiased rate ──────────────
    "q367_randomized_response" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.randomizedResponse(Tables.documents(s, dir), "doc_id",
            "lang", $"n_chars" >= 300, p = 0.7, seed = 11)
          .withColumnRenamed("group", "lang")
          .orderBy($"lang")
      },
      Some {
        val c1 = (1.0 - 0.7) / 2
        s"""WITH r AS (SELECT lang AS grp, (n_chars >= 300) AS y,
           |    CAST(('0x'||substr(md5('11|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT
           |      AS DOUBLE) / 1152921504606846976::DOUBLE AS u1,
           |    CAST(('0x'||substr(md5('12|'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT
           |      AS DOUBLE) / 1152921504606846976::DOUBLE AS u2
           |  FROM documents),
           |o AS (SELECT grp, y,
           |        CASE WHEN u1 < 0.7 THEN y ELSE u2 < 0.5 END AS obs FROM r)
           |SELECT grp AS lang, count(*) AS n,
           |  CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT) AS n_obs_yes,
           |  round(CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS DOUBLE) /
           |        CAST(count(*) AS DOUBLE), 6) AS obs_rate,
           |  round((CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS DOUBLE) /
           |        CAST(count(*) AS DOUBLE) - $c1) / 0.7, 6) AS est_rate,
           |  round(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) /
           |        CAST(count(*) AS DOUBLE), 6) AS true_rate
           |FROM o GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ─── personalized PageRank: proximity to the English seed set ───────
    "q368_personalized_pagerank" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        val sym = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
          .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
        Graph.personalizedPageRank(docs.select($"doc_id", $"lang"),
            "doc_id", $"lang" === "en", sym, iters = 3)
          .orderBy($"doc_id")
      },
      Some(pprSql(iters = 3))),

    // ─── Jaro–Winkler similarity join (codegen'd native expression) ─────
    // Candidates come from a w = 16 SORTED NEIGHBORHOOD on p_name (the
    // q401 linear shape: exactly N·w − w(w+1)/2 pairs) instead of the
    // previous fixed-domain p_size equality block whose candidate set
    // grew 6.6× on 3× data in the sf0.3 sweep — and name-sorted
    // neighbors are exactly where the high-JW pairs live.
    "q369_jw_linkage" -> Q(
      (s, dir) => {
        import s.implicits._
        import graft.functions.JaroWinkler.jaroWinkler
        val p = Tables.part(s, dir).select($"p_partkey", $"p_name")
        val cand = Linkage.sortedNeighborhoodCandidates(p, "p_partkey",
          $"p_name", Seq("p_name"), window = 16)
        cand.select($"id_a", $"id_b",
            round(jaroWinkler($"__fa".getField("p_name"),
              $"__fb".getField("p_name")), 6).as("jw"))
          .orderBy($"jw".desc, $"id_a", $"id_b").limit(50)
      },
      Some("""WITH r AS (SELECT p_partkey, p_name,
             |        row_number() OVER (ORDER BY p_name, p_partkey) AS rn
             |      FROM part)
             |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
             |FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 16
             |ORDER BY jw DESC, id_a, id_b LIMIT 50""".stripMargin)),

    // ─── group-fairness audit over the replayed quality classifier ──────
    "q370_fairness_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val label = $"n_chars" >= 300
        val w = Classifier.logregFit(docs, "doc_id", "text", label)
        val scored = Classifier.logregScore(docs, "doc_id", "text", label, w)
          .join(docs.select($"doc_id", $"lang"), "doc_id")
        Classifier.fairnessAudit(scored, "lang", $"pred", $"is_target")
          .withColumnRenamed("group", "lang")
          .orderBy($"lang")
      },
      Some(LogregOracle.fairnessSql("n_chars >= 300", buckets = 64,
        iters = 3, rate = "0.02::DOUBLE"))),

    // ─── Holt–Winters seasonal forecast per order priority ──────────────
    "q371_holt_winters" -> Q(
      (s, dir) => {
        import s.implicits._
        TimeSeries.holtWinters(Tables.orders(s, dir), "o_orderpriority",
            "o_orderdate", "o_totalprice")
          .withColumnRenamed("key", "priority")
          .orderBy($"priority")
      },
      Some(holtWintersSql)),

    // ─── Fellegi–Sunter with graded Jaro–Winkler agreement levels ───────
    // 1-in-2 part sample: 3 graded comparisons (one on the long p_name)
    // per candidate pair make this the costliest comparator in the
    // registry — the sample is the documented audit contract (the q27/
    // q82 baseline discipline), the OPERATOR itself is unsampled.
    // Blocking: rank-buckets of 32 over (p_name, p_partkey) — linear
    // candidates (the q348 re-key rationale; the old p_size block grew
    // 5.4× on 3× data).
    "q372_fs_graded" -> Q(
      (s, dir) => {
        import s.implicits._
        val parts = Tables.part(s, dir)
          .where(pmod($"p_partkey", lit(2)) === 0)
          .select($"p_partkey", $"p_brand", $"p_type", $"p_name")
        val ranked = Ranks.withRowNumber(parts, "__rn", $"p_name", $"p_partkey")
        val pairs = Linkage.fellegiSunterGradedPairs(ranked, "p_partkey",
          floor(($"__rn" - 1) / 32).cast("long"), fsGraded)
        Linkage.fellegiSunterBands(pairs, reviewLo = 0.0, matchHi = 8.0)
          .orderBy($"band", $"decision")
      },
      Some {
        def arm(f: graft.ops.Linkage.GradedField) =
          s"""(CASE WHEN a.${f.field} = b.${f.field} THEN ${f.wFull}::DOUBLE
             |      WHEN round(jaro_winkler_similarity(a.${f.field}, b.${f.field}), 6)
             |        >= ${f.jwThreshold} THEN ${f.wPart}::DOUBLE
             |      ELSE ${f.wDis}::DOUBLE END)""".stripMargin
        s"""WITH ps AS (SELECT p_partkey, p_brand, p_type, p_name,
           |        (row_number() OVER (ORDER BY p_name, p_partkey) - 1) // 32
           |          AS blk
           |      FROM part WHERE p_partkey % 2 = 0),
           |sc AS (SELECT round(
           |    ${fsGraded.map(arm).mkString(" +\n    ")}, 6) AS score
           |  FROM ps a JOIN ps b
           |    ON a.blk = b.blk AND a.p_partkey < b.p_partkey)
           |SELECT CAST(floor(score) AS BIGINT) AS band,
           |  CASE WHEN score > 8.0 THEN 'match'
           |       WHEN score <= 0.0 THEN 'nonmatch'
           |       ELSE 'review' END AS decision,
           |  count(*) AS n_pairs
           |FROM sc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // ─── EM-estimated Fellegi–Sunter parameters (Winkler 1988) ──────────
    // Blocking: rank-buckets of 64 over (p_name, p_partkey) — the EM
    // pattern table is one aggregate over linear candidates (the q348
    // re-key rationale; the old p_size block grew 7.4× on 3× data).
    "q373_fs_em" -> Q(
      (s, dir) => {
        import s.implicits._
        val parts = Tables.part(s, dir).select($"p_partkey", $"p_brand",
          $"p_type", $"p_name",
          element_at(split($"p_name", " "), 1).as("tok0"))
        val ranked = Ranks.withRowNumber(parts, "__rn", $"p_name", $"p_partkey")
        Linkage.fellegiSunterEm(ranked, "p_partkey",
            floor(($"__rn" - 1) / 64).cast("long"),
            Seq("p_brand", "p_type", "tok0"), iters = 5)
          .orderBy($"field")
      },
      Some(fsEmSql(iters = 5))),

    // ─── T-learner uplift deciles with honest-split evaluation ──────────
    "q374_uplift_deciles" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.upliftDeciles(Tables.documents(s, dir), "doc_id", "lang",
            treatPred = $"source".isin("src0", "src1", "src2", "src3", "src4"),
            outcomePred = $"n_chars" >= 300,
            trainPred = $"doc_id" % 2 === 0, nBuckets = 5)
          .orderBy($"bucket")
      },
      Some("""WITH b AS (SELECT doc_id, lang AS s,
             |        source IN ('src0','src1','src2','src3','src4') AS t,
             |        n_chars >= 300 AS y, doc_id % 2 = 0 AS tr
             |      FROM documents),
             |rates AS (SELECT s, t,
             |        CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS DOUBLE) /
             |          CAST(count(*) AS DOUBLE) AS r
             |      FROM b WHERE tr GROUP BY 1, 2),
             |rt AS (SELECT s, r AS rt FROM rates WHERE t),
             |rc AS (SELECT s, r AS rc FROM rates WHERE NOT t),
             |sc AS (SELECT b.doc_id, b.t, b.y, rt.rt - rc.rc AS u
             |       FROM b JOIN rt USING (s) JOIN rc USING (s) WHERE NOT tr),
             |bk AS (SELECT CAST(ntile(5) OVER (ORDER BY u DESC, doc_id)
             |          AS BIGINT) AS bucket, t, y, u FROM sc)
             |SELECT bucket,
             |  CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
             |  CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
             |  round(CAST(sum(CASE WHEN t AND y THEN 1 ELSE 0 END) AS DOUBLE) /
             |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS DOUBLE), 6)
             |    AS rate_treat,
             |  round(CAST(sum(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS DOUBLE) /
             |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS DOUBLE), 6)
             |    AS rate_ctrl,
             |  round(CAST(sum(CASE WHEN t AND y THEN 1 ELSE 0 END) AS DOUBLE) /
             |    CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS DOUBLE) -
             |    CAST(sum(CASE WHEN NOT t AND y THEN 1 ELSE 0 END) AS DOUBLE) /
             |    CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS DOUBLE), 6)
             |    AS uplift_obs,
             |  round(CAST(sum(CAST(round(u, 9) AS DECIMAL(18,9))) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 6) AS mean_score
             |FROM bk GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── A/B power analysis: minimum detectable effect + required n ─────
    "q375_power_mde" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.abPowerMde(
          Tables.events(s, dir).withColumn("arm",
            when(pmod($"user_id", lit(2L)) === 0L, "A").otherwise("B")),
          "arm", $"event_type" === "purchase", relLift = 0.05)
      },
      Some {
        val zSum = 1.959963984540054 + 0.8416212335729143
        val zSum2 = zSum * zSum
        s"""WITH a AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
           |        AS arm, count(*) AS n,
           |        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |          AS BIGINT) AS k
           |      FROM events GROUP BY 1),
           |w AS (SELECT min(n) AS na, max(n) AS nb,
           |        CAST(sum(n) AS BIGINT) AS nt, CAST(sum(k) AS BIGINT) AS kt
           |      FROM a)
           |SELECT na AS n_a, nb AS n_b,
           |  round(CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS p_pool,
           |  round($zSum * sqrt(2.0 * (CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE)) *
           |    (1.0 - CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE)) /
           |    (CAST(nt AS DOUBLE) / 2.0)), 6) AS mde_abs,
           |  round($zSum * sqrt(2.0 * (CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE)) *
           |    (1.0 - CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE)) /
           |    (CAST(nt AS DOUBLE) / 2.0)) /
           |    (CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE)), 6) AS mde_rel,
           |  CAST(ceil(2.0 * (CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE)) *
           |    (1.0 - CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE)) * $zSum2 /
           |    ((CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE) * 0.05) *
           |     (CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE) * 0.05)))
           |    AS BIGINT) AS n_req_per_arm
           |FROM w""".stripMargin
      }),

    // ─── deterministic permutation test for a mean difference ───────────
    "q376_permutation_test" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.permutationTest(Tables.orders(s, dir), "o_orderkey",
          "o_totalprice", armPred = pmod($"o_orderkey", lit(2)) === 0,
          perms = 64, seed = 23)
      },
      Some("""WITH b AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
             |        CAST(o_totalprice AS DECIMAL(18,6)) AS v,
             |        o_orderkey % 2 = 0 AS a
             |      FROM orders),
             |obs AS (SELECT count(*) AS n,
             |        CAST(sum(CASE WHEN a THEN v END) AS DOUBLE) /
             |          CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS DOUBLE) -
             |        CAST(sum(CASE WHEN NOT a THEN v END) AS DOUBLE) /
             |          CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS DOUBLE)
             |          AS diff
             |      FROM b),
             |pm AS (SELECT k,
             |        CAST(sum(CASE WHEN pa THEN v END) AS DOUBLE) /
             |          CAST(sum(CASE WHEN pa THEN 1 ELSE 0 END) AS DOUBLE) -
             |        CAST(sum(CASE WHEN NOT pa THEN v END) AS DOUBLE) /
             |          CAST(sum(CASE WHEN NOT pa THEN 1 ELSE 0 END) AS DOUBLE)
             |          AS pd
             |      FROM (SELECT b.v, t.k,
             |              ('0x'||substr(md5('23|'||CAST(t.k AS VARCHAR)||'|'||b.id),1,15))::BIGINT
             |                % 2 = 0 AS pa
             |            FROM b CROSS JOIN generate_series(0, 63) t(k))
             |      GROUP BY k)
             |SELECT obs.n, round(obs.diff, 6) AS obs_diff,
             |  count(*) AS n_perms,
             |  CAST(sum(CASE WHEN abs(pm.pd) >= abs(obs.diff) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_extreme,
             |  round(CAST(sum(CASE WHEN abs(pm.pd) >= abs(obs.diff)
             |      THEN 1 ELSE 0 END) + 1 AS DOUBLE) /
             |    CAST(count(*) + 1 AS DOUBLE), 6) AS p_value
             |FROM pm CROSS JOIN obs GROUP BY obs.n, obs.diff""".stripMargin)),

    // ─── Markov removal-effect attribution (integer fixed-point) ────────
    "q377_markov_attribution" -> Q(
      (s, dir) => {
        import s.implicits._
        Cohort.markovRemovalAttribution(Tables.events(s, dir), "user_id",
            "ts", "event_type", "event_id", convType = "purchase",
            channels = shapleyChannels, iters = 12)
          .orderBy($"channel")
      },
      Some(markovAttributionSql(shapleyChannels, iters = 12,
        scale = 1000000000000L))),

    // ─── CART decision stump: best Gini split per numeric feature ───────
    "q378_best_split" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.bestSplit(Tables.lineitem(s, dir),
            Seq("l_quantity", "l_discount", "l_extendedprice"),
            outcomePred = $"l_returnflag" === "R")
          .orderBy($"feature")
      },
      Some {
        def feat(f: String, a: String) =
          s"""vc_$a AS (SELECT CAST($f AS DOUBLE) AS v, count(*) AS n,
             |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS k
             |  FROM lineitem GROUP BY 1),
             |cm_$a AS (SELECT v,
             |    CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS cn,
             |    CAST(sum(k) OVER (ORDER BY v) AS BIGINT) AS ck,
             |    CAST(sum(n) OVER () AS BIGINT) AS tn,
             |    CAST(sum(k) OVER () AS BIGINT) AS tk
             |  FROM vc_$a),
             |g_$a AS (SELECT v, cn, ck, tn, tk,
             |    ((2.0 * (CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))) *
             |      (1.0 - CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE))) -
             |    (CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE)) *
             |      ((2.0 * (CAST(ck AS DOUBLE) / CAST(cn AS DOUBLE))) *
             |        (1.0 - CAST(ck AS DOUBLE) / CAST(cn AS DOUBLE))) -
             |    ((CAST(tn AS DOUBLE) - CAST(cn AS DOUBLE)) /
             |        CAST(tn AS DOUBLE)) *
             |      ((2.0 * (CAST(tk - ck AS DOUBLE) / CAST(tn - cn AS DOUBLE))) *
             |        (1.0 - CAST(tk - ck AS DOUBLE) / CAST(tn - cn AS DOUBLE)))
             |      AS g
             |  FROM cm_$a WHERE cn < tn),
             |b_$a AS (SELECT '$f' AS feature, v AS threshold,
             |    round(g, 6) AS gain,
             |    round(CAST(ck AS DOUBLE) / CAST(cn AS DOUBLE), 6) AS p_left,
             |    round((CAST(tk AS DOUBLE) - CAST(ck AS DOUBLE)) /
             |      (CAST(tn AS DOUBLE) - CAST(cn AS DOUBLE)), 6) AS p_right,
             |    cn AS n_left
             |  FROM (SELECT *, row_number() OVER (ORDER BY g DESC, v) AS rk
             |        FROM g_$a) WHERE rk = 1)""".stripMargin
        s"""WITH ${feat("l_quantity", "q")},
           |${feat("l_discount", "d")},
           |${feat("l_extendedprice", "p")}
           |SELECT * FROM b_q UNION ALL SELECT * FROM b_d
           |UNION ALL SELECT * FROM b_p
           |ORDER BY feature""".stripMargin
      }),

    // ─── instrumental-variable (Wald / 2SLS) estimate ───────────────────
    "q379_iv_estimate" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.ivEstimate(Tables.lineitem(s, dir),
          instrumentCol = pmod($"l_orderkey", lit(2)).cast("double"),
          exposureCol = $"l_discount", outcomeCol = $"l_extendedprice")
      },
      Some("""WITH m AS (SELECT count(*) AS n,
             |    sum(CAST(l_orderkey % 2 AS DECIMAL(18,6))) AS sz,
             |    sum(CAST(l_discount AS DECIMAL(18,6))) AS sx,
             |    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
             |    sum(CAST(CAST(l_orderkey % 2 AS DECIMAL(19,6)) *
             |      CAST(l_discount AS DECIMAL(19,6)) AS DECIMAL(38,12))) AS szx,
             |    sum(CAST(CAST(l_orderkey % 2 AS DECIMAL(19,6)) *
             |      CAST(l_extendedprice AS DECIMAL(19,6)) AS DECIMAL(38,12)))
             |      AS szy,
             |    sum(CAST(CAST(l_orderkey % 2 AS DECIMAL(19,6)) *
             |      CAST(l_orderkey % 2 AS DECIMAL(19,6)) AS DECIMAL(38,12)))
             |      AS szz
             |  FROM lineitem)
             |SELECT n,
             |  round((CAST(szx AS DOUBLE) / CAST(n AS DOUBLE) -
             |    (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) /
             |   (CAST(szz AS DOUBLE) / CAST(n AS DOUBLE) -
             |    (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS first_stage,
             |  round((CAST(szy AS DOUBLE) / CAST(n AS DOUBLE) -
             |    (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) /
             |   (CAST(szz AS DOUBLE) / CAST(n AS DOUBLE) -
             |    (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS reduced_form,
             |  round((CAST(szy AS DOUBLE) / CAST(n AS DOUBLE) -
             |    (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))) /
             |   (CAST(szx AS DOUBLE) / CAST(n AS DOUBLE) -
             |    (CAST(sz AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS beta_iv
             |FROM m""".stripMargin)),

    // ─── Mondrian (per-group) conformal intervals ───────────────────────
    "q380_mondrian_conformal" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.mondrianConformal(Tables.orders(s, dir),
          "o_orderpriority", "o_totalprice",
          when(pmod($"o_orderkey", lit(4)) < 2, 0)
            .when(pmod($"o_orderkey", lit(4)) === 2, 1).otherwise(2),
          alpha = 0.1)
          .withColumnRenamed("group", "priority")
          .orderBy($"priority")
      },
      Some("""WITH b AS (SELECT o_orderpriority AS g,
             |        CAST(o_totalprice AS DECIMAL(18,6)) AS y,
             |        CASE WHEN o_orderkey % 4 < 2 THEN 0
             |             WHEN o_orderkey % 4 = 2 THEN 1 ELSE 2 END AS s
             |      FROM orders),
             |mu AS (SELECT g, CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |        AS mu FROM b WHERE s = 0 GROUP BY 1),
             |cal AS (SELECT g, abs(CAST(y AS DOUBLE) - mu) AS r
             |        FROM b JOIN mu USING (g) WHERE s = 1),
             |nc AS (SELECT g, count(*) AS n_cal FROM cal GROUP BY 1),
             |vc AS (SELECT g, r, count(*) AS c FROM cal GROUP BY 1, 2),
             |cum AS (SELECT g, r, sum(c) OVER
             |        (PARTITION BY g ORDER BY r) AS cm FROM vc),
             |q AS (SELECT cum.g, max(n_cal) AS n_cal,
             |        min(CASE WHEN cm >= least(
             |          CAST(ceil(CAST(n_cal + 1 AS DOUBLE) * 0.9) AS BIGINT),
             |          n_cal) THEN r END) AS qh
             |      FROM cum JOIN nc ON nc.g = cum.g GROUP BY cum.g),
             |tst AS (SELECT b.g, abs(CAST(y AS DOUBLE) - mu) AS r,
             |          q.n_cal, q.qh
             |        FROM b JOIN mu USING (g) JOIN q ON q.g = b.g
             |        WHERE s = 2)
             |SELECT g AS priority, max(n_cal) AS n_cal, count(*) AS n_test,
             |  round(max(qh), 6) AS qhat,
             |  round(CAST(sum(CASE WHEN r <= qh THEN 1 ELSE 0 END) AS DOUBLE) /
             |        CAST(count(*) AS DOUBLE), 6) AS coverage
             |FROM tst GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── diagonal-Mahalanobis embedding outlier scores ──────────────────
    "q381_mahalanobis_diag" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.mahalanobisDiag(Tables.embeddings(s, dir), "vec_id",
          "embedding", topK = 20)
      },
      Some("""WITH x AS (SELECT vec_id, CAST(i AS INTEGER) AS pos,
             |        embedding[i+1]::DOUBLE AS v
             |      FROM embeddings CROSS JOIN range(64) t(i)),
             |st AS (SELECT pos,
             |        CAST(sum(CAST(round(v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) / count(*) AS mean,
             |        CAST(sum(CAST(round(v * v * (1099511627776::DOUBLE)) AS BIGINT)) AS DOUBLE)
             |          / (1099511627776::DOUBLE) / count(*) AS m2
             |      FROM x GROUP BY 1),
             |s2 AS (SELECT pos, mean, sqrt(m2 - mean * mean) AS sd FROM st),
             |tm AS (SELECT x.vec_id,
             |        CAST(round(CASE WHEN s2.sd > 0
             |          THEN ((x.v - s2.mean) / s2.sd) * ((x.v - s2.mean) / s2.sd)
             |          ELSE 0.0 END, 9) AS DECIMAL(18,9)) AS t
             |      FROM x JOIN s2 USING (pos))
             |SELECT vec_id, round(CAST(sum(t) AS DOUBLE), 6) AS score
             |FROM tm GROUP BY 1 ORDER BY score DESC, vec_id LIMIT 20"""
        .stripMargin)),

    // ─── expected calibration error of the replayed classifier ──────────
    "q382_ece" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val w = Classifier.logregFit(docs, "doc_id", "text", $"lang" === "en")
        val scored = Classifier.logregScore(docs, "doc_id", "text",
          $"lang" === "en", w)
        Classifier.expectedCalibrationError(scored, "p", $"is_target")
      },
      Some(LogregOracle.eceSql("lang = 'en'", buckets = 64, iters = 3,
        rate = "0.02::DOUBLE"))),

    // ─── Murphy decomposition of the binned Brier score ─────────────────
    // reliability (miscalibration) / resolution (discrimination) /
    // uncertainty (base rate) + the REL − RES + UNC identity — the
    // breakdown that separates miscalibrated-but-discriminating from
    // calibrated-but-uninformative, which q382's single ECE number
    // cannot. Same replayed classifier and bin layout as q382/q216.
    "q448_brier_decomposition" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val w = Classifier.logregFit(docs, "doc_id", "text", $"lang" === "en")
        val scored = Classifier.logregScore(docs, "doc_id", "text",
          $"lang" === "en", w)
        Classifier.brierDecomposition(scored, "p", $"is_target")
      },
      Some(LogregOracle.brierDecompSql("lang = 'en'", buckets = 64,
        iters = 3, rate = "0.02::DOUBLE"))),

    // ─── inter-annotator agreement: Krippendorff's alpha (ragged) ───────
    // Three deterministic raters label corpus quality (length-threshold
    // heuristics that CORRELATE but disagree on the threshold bands);
    // rater 3 skips every third document — the missing-data case that
    // is alpha's whole reason to exist over kappa.
    "q449_krippendorff_alpha" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val words = size(split($"text", " "))
        val r1 = when($"n_chars" < 200, "low").when($"n_chars" < 400, "mid")
          .otherwise("high")
        val r2 = when(words < 40, "low").when(words < 80, "mid")
          .otherwise("high")
        val r3 = when($"n_chars" < 250, "low").when($"n_chars" < 450, "mid")
          .otherwise("high")
        // all three raters come out of ONE documents scan (a 3-way
        // union would read the corpus three times at 100 TB); rater 3
        // skips every third doc — the ragged case alpha exists for
        val ratings = docs.select($"doc_id".as("item"),
            explode(when($"doc_id" % 3 =!= 0, array(r1, r2, r3))
              .otherwise(array(r1, r2))).as("label"))
        Agreement.krippendorffAlpha(ratings, "item", "label")
      },
      Some("""WITH rt AS (
             |  SELECT doc_id AS i, CASE WHEN n_chars < 200 THEN 'low'
             |      WHEN n_chars < 400 THEN 'mid' ELSE 'high' END AS l
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN len(string_split(text, ' ')) < 40 THEN 'low'
             |      WHEN len(string_split(text, ' ')) < 80 THEN 'mid' ELSE 'high' END
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN n_chars < 250 THEN 'low'
             |      WHEN n_chars < 450 THEN 'mid' ELSE 'high' END
             |  FROM documents WHERE doc_id % 3 <> 0),
             |cnt AS (SELECT i, l, count(*)::BIGINT AS n FROM rt GROUP BY 1, 2),
             |pi AS (SELECT i, sum(n)::BIGINT AS m, sum(n * n)::BIGINT AS s2
             |  FROM cnt GROUP BY 1),
             |inc AS (SELECT i, m, s2 FROM pi WHERE m >= 2),
             |od AS (SELECT count(*)::BIGINT AS n_items, sum(m)::BIGINT AS n,
             |    sum(CAST(round(CAST(m * m - s2 AS DOUBLE) /
             |      CAST(m - 1 AS DOUBLE), 9) AS DECIMAL(28,9))) AS sd
             |  FROM inc),
             |mg AS (SELECT l, sum(n)::BIGINT AS nc
             |  FROM cnt JOIN inc USING (i) GROUP BY 1),
             |ed AS (SELECT count(*)::BIGINT AS n_labels,
             |    sum(CAST(nc AS DECIMAL(19,0)) * CAST(nc AS DECIMAL(19,0))) AS s2l
             |  FROM mg),
             |f AS (SELECT n_items, n AS n_ratings, n_labels,
             |    CAST(sd AS DOUBLE) / CAST(n AS DOUBLE) AS dobs,
             |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(s2l AS DOUBLE)) /
             |      (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) AS dexp
             |  FROM od CROSS JOIN ed)
             |SELECT n_items, n_ratings, n_labels, round(dobs, 6) AS d_o,
             |  round(dexp, 6) AS d_e, round(1.0 - dobs / dexp, 6) AS alpha
             |FROM f""".stripMargin)),

    // ─── inter-annotator agreement: Fleiss' kappa (fixed panel of 3) ────
    "q450_fleiss_kappa" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val words = size(split($"text", " "))
        val r1 = when($"n_chars" < 200, "low").when($"n_chars" < 400, "mid")
          .otherwise("high")
        val r2 = when(words < 40, "low").when(words < 80, "mid")
          .otherwise("high")
        val r3 = when($"n_chars" < 250, "low").when($"n_chars" < 450, "mid")
          .otherwise("high")
        // one scan, all three raters (q449's plan shape)
        val ratings = docs.select($"doc_id".as("item"),
          explode(array(r1, r2, r3)).as("label"))
        Agreement.fleissKappa(ratings, "item", "label")
      },
      Some("""WITH rt AS (
             |  SELECT doc_id AS i, CASE WHEN n_chars < 200 THEN 'low'
             |      WHEN n_chars < 400 THEN 'mid' ELSE 'high' END AS l
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN len(string_split(text, ' ')) < 40 THEN 'low'
             |      WHEN len(string_split(text, ' ')) < 80 THEN 'mid' ELSE 'high' END
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN n_chars < 250 THEN 'low'
             |      WHEN n_chars < 450 THEN 'mid' ELSE 'high' END
             |  FROM documents),
             |cnt AS (SELECT i, l, count(*)::BIGINT AS n FROM rt GROUP BY 1, 2),
             |pi AS (SELECT i, sum(n)::BIGINT AS m, sum(n * n)::BIGINT AS s2
             |  FROM cnt GROUP BY 1),
             |od AS (SELECT count(*)::BIGINT AS n_items, max(m)::BIGINT AS n_raters,
             |    sum(CAST(round(CAST(s2 - m AS DOUBLE) /
             |      CAST(m * (m - 1) AS DOUBLE), 9) AS DECIMAL(28,9))) AS sp
             |  FROM pi),
             |mg AS (SELECT l, sum(n)::BIGINT AS nc FROM cnt GROUP BY 1),
             |ed AS (SELECT count(*)::BIGINT AS n_labels,
             |    sum(CAST(round((CAST(nc AS DOUBLE) / nn) *
             |      (CAST(nc AS DOUBLE) / nn), 9) AS DECIMAL(28,9))) AS pe
             |  FROM mg CROSS JOIN (SELECT CAST(n_items AS DOUBLE) *
             |      CAST(n_raters AS DOUBLE) AS nn FROM od)),
             |f AS (SELECT n_items, n_raters, n_labels,
             |    CAST(sp AS DOUBLE) / CAST(n_items AS DOUBLE) AS pbar,
             |    CAST(pe AS DOUBLE) AS pexp
             |  FROM od CROSS JOIN ed)
             |SELECT n_items, n_raters, n_labels, round(pbar, 6) AS p_bar,
             |  round(pexp, 6) AS p_e,
             |  round((pbar - pexp) / (1.0 - pexp), 6) AS kappa
             |FROM f""".stripMargin)),

    // ─── WER: word error rate per pair (codegen'd token-Levenshtein) ────
    // The oracle re-encodes each pair's ≤48-token joint vocab as single
    // ASCII bytes so DuckDB's BYTE-level levenshtein computes the exact
    // WORD-level distance (one token ↔ one byte).
    "q451_wer" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = docs.select($"doc_id", $"text".as("cand"))
          .join(docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("ref")),
            "doc_id")
        EvalMetrics.wer(pairs, "doc_id", "cand", "ref", maxTokens = 24)
          .withColumnRenamed("pair", "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH p AS (SELECT a.doc_id AS pair,
             |    list_slice(list_filter(string_split(lower(a.text), ' '),
             |      t -> len(t) > 0), 1, 24) AS cand,
             |    list_slice(list_filter(string_split(lower(b.text), ' '),
             |      t -> len(t) > 0), 1, 24) AS ref
             |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
             |v AS (SELECT pair, cand, ref,
             |    list_distinct(list_concat(cand, ref)) AS vocab FROM p),
             |e AS (SELECT pair, len(cand)::BIGINT AS n_cand,
             |    len(ref)::BIGINT AS n_ref,
             |    levenshtein(
             |      list_aggregate(list_transform(cand,
             |        t -> chr(48 + list_position(vocab, t))), 'string_agg', ''),
             |      list_aggregate(list_transform(ref,
             |        t -> chr(48 + list_position(vocab, t))), 'string_agg', ''))
             |      ::BIGINT AS edits
             |  FROM v)
             |SELECT pair AS doc_id, n_cand, n_ref, edits,
             |  CASE WHEN n_ref > 0 THEN
             |    round(CAST(edits AS DOUBLE) / CAST(n_ref AS DOUBLE), 6)
             |  END AS wer
             |FROM e ORDER BY doc_id""".stripMargin)),

    // ─── UniMax capped language-budget allocation (waterfill) ───────────
    // Budget = ⌊0.8 × corpus tokens⌋, cap 2 epochs: small languages hit
    // the cap, the head levels at θ — the q445 DoReMi counterpart for
    // when fairness (not loss excess) sets the mixture.
    "q452_unimax_allocation" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val words = size(split($"text", " ")).cast("long")
        val total = docs.agg(sum(words)).collect()(0).getLong(0)
        Mixing.unimaxAllocation(docs, "lang", words,
          budgetTokens = total * 4L / 5L, maxEpochs = 2.0)
          .orderBy($"lang")
      },
      Some("""WITH lt AS (SELECT lang,
             |    sum(len(string_split(text, ' ')))::BIGINT AS tokens
             |  FROM documents GROUP BY 1
             |  HAVING sum(len(string_split(text, ' '))) > 0),
             |b AS (SELECT (sum(tokens) * 4) // 5 AS budget FROM lt),
             |cp AS (SELECT lang, tokens,
             |    CAST(round(CAST(tokens AS DOUBLE) * 2.0, 9) AS DECIMAL(28,9)) AS cap
             |  FROM lt),
             |rk AS (SELECT lang, tokens, cap,
             |    row_number() OVER (ORDER BY cap, lang) AS i,
             |    sum(cap) OVER (ORDER BY cap, lang) AS s,
             |    count(*) OVER () AS nl
             |  FROM cp),
             |fl AS (SELECT lang, tokens, cap, i, s, nl,
             |    (CAST(cap AS DOUBLE) * CAST(nl - i + 1 AS DOUBLE) <=
             |     CAST(budget AS DOUBLE) - CAST(s - cap AS DOUBLE)) AS capped
             |  FROM rk CROSS JOIN b),
             |kk AS (SELECT sum(CASE WHEN capped THEN 1 ELSE 0 END)::BIGINT AS k,
             |    coalesce(max(CASE WHEN capped THEN s END),
             |      0::DECIMAL(38,9)) AS sk,
             |    max(nl)::BIGINT AS nl2
             |  FROM fl),
             |th AS (SELECT CASE WHEN k = nl2 THEN 1e308 ELSE
             |    (CAST((SELECT budget FROM b) AS DOUBLE) - CAST(sk AS DOUBLE)) /
             |      CAST(nl2 - k AS DOUBLE) END AS theta FROM kk)
             |SELECT lang, tokens, round(CAST(cap AS DOUBLE), 6) AS cap,
             |  round(least(CAST(cap AS DOUBLE), theta), 6) AS alloc,
             |  round(least(CAST(cap AS DOUBLE), theta) /
             |    CAST(tokens AS DOUBLE), 6) AS epochs
             |FROM fl CROSS JOIN th ORDER BY lang""".stripMargin)),

    // ─── Plackett–Luce listwise preference strengths (MM fit) ───────────
    // Rankings: each 1995 order ranks its suppliers by line price
    // descending (dedup to best line per (order, supplier)); the
    // listwise cousin of q442's pairwise Bradley–Terry.
    "q453_plackett_luce" -> Q(
      (s, dir) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir)
          .filter(year($"l_shipdate") === 1995)
          .groupBy($"l_orderkey", $"l_suppkey")
          .agg(max($"l_extendedprice").as("pr"))
        Preference.plackettLuce(li, $"l_orderkey", $"l_suppkey", -$"pr",
            iters = 2)
          .orderBy($"id")
      },
      Some {
        def iter(i: Int, prev: String) =
          s"""j$i AS (SELECT rk.g, rk.it, rk.r, rk.m, $prev.s
             |  FROM rk JOIN $prev ON rk.it = $prev.id),
             |sw$i AS (SELECT g, it, r, m,
             |    sum(s) OVER (PARTITION BY g ORDER BY r DESC) AS sw FROM j$i),
             |c$i AS (SELECT g, it, r, CASE WHEN r < m THEN
             |      CAST(round(1.0::DOUBLE / CAST(sw AS DOUBLE), 9) AS DECIMAL(28,9))
             |    ELSE 0::DECIMAL(28,9) END AS c FROM sw$i),
             |p$i AS (SELECT it, sum(c) OVER (PARTITION BY g ORDER BY r) AS cp
             |  FROM c$i),
             |d$i AS (SELECT it AS id, sum(cp) AS dd FROM p$i GROUP BY 1),
             |r$i AS (SELECT base.id, wins::DOUBLE / CAST(dd AS DOUBLE) AS raw
             |  FROM base JOIN d$i USING (id)),
             |n$i AS (SELECT sum(round(raw, 9)::DECIMAL(28,9)) AS S,
             |    count(*) AS N FROM r$i),
             |w$i AS (SELECT id,
             |    round(raw * N::DOUBLE / CAST(S AS DOUBLE), 9)::DECIMAL(28,9) AS s
             |  FROM r$i CROSS JOIN n$i)""".stripMargin
        s"""WITH ded AS (SELECT l_orderkey AS g, l_suppkey AS it,
           |    max(l_extendedprice) AS pr
           |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1995
           |  GROUP BY 1, 2),
           |rk0 AS (SELECT g, it,
           |    row_number() OVER (PARTITION BY g ORDER BY pr DESC, it) AS r,
           |    count(*) OVER (PARTITION BY g) AS m
           |  FROM ded),
           |rk AS (SELECT g, it, r, m FROM rk0 WHERE m >= 2),
           |wn AS (SELECT it AS id, count(*)::BIGINT AS wins
           |  FROM rk WHERE r < m GROUP BY 1),
           |base AS (SELECT id, coalesce(wins, 0)::BIGINT AS wins
           |  FROM (SELECT DISTINCT it AS id FROM rk) LEFT JOIN wn USING (id)),
           |w0 AS (SELECT id, 1.000000000::DECIMAL(28,9) AS s FROM base),
           |${iter(1, "w0")},
           |${iter(2, "w1")}
           |SELECT base.id AS id, wins, round(CAST(s AS DOUBLE), 6) AS strength
           |FROM base JOIN w2 USING (id) ORDER BY id""".stripMargin
      }),

    // ─── Kendall's τ-b: exact distributed concordance (Knight 1966) ─────
    // Account-balance band vs spend band per customer — integral
    // bucketing creates the real tie mass τ-b exists to normalize. The
    // Spark side is the O(n log n) distributed inversion count; the
    // oracle is the O(n²) pair definition (oracle-SF-sized only).
    "q454_kendall_tau" -> Q(
      (s, dir) => {
        import s.implicits._
        val spend = Tables.orders(s, dir).groupBy($"o_custkey")
          .agg(sum($"o_totalprice".cast("decimal(18,6)")).as("__sp"))
        val c = Tables.customer(s, dir)
          .join(spend, $"c_custkey" === $"o_custkey", "left")
          .select(floor($"c_acctbal" / lit(100.0)).as("x"),
            floor(coalesce($"__sp", lit(0).cast("decimal(18,6)"))
              .cast("double") / lit(1000.0)).as("y"))
        RankCorr.kendallTauB(c, $"x", $"y")
      },
      Some("""WITH sp AS (SELECT o_custkey,
             |    sum(CAST(o_totalprice AS DECIMAL(18,6))) AS s
             |  FROM orders GROUP BY 1),
             |c AS (SELECT c_custkey AS id, floor(c_acctbal / 100.0::DOUBLE) AS x,
             |    floor(CAST(coalesce(s, 0::DECIMAL(18,6)) AS DOUBLE)
             |      / 1000.0::DOUBLE) AS y
             |  FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
             |p AS (SELECT
             |    CASE WHEN (a.x < b.x AND a.y < b.y) OR
             |      (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS conc,
             |    CASE WHEN (a.x < b.x AND a.y > b.y) OR
             |      (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS disc,
             |    CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             |    CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty,
             |    CASE WHEN a.x = b.x AND a.y = b.y THEN 1 ELSE 0 END AS txy
             |  FROM c a JOIN c b ON a.id < b.id),
             |m AS (SELECT count(*)::BIGINT AS pairs, sum(conc)::BIGINT AS cc,
             |    sum(disc)::BIGINT AS dd, sum(tx)::BIGINT AS t1,
             |    sum(ty)::BIGINT AS t2, sum(txy)::BIGINT AS t3 FROM p),
             |nn AS (SELECT count(*)::BIGINT AS n FROM c)
             |SELECT n, pairs, t1 AS tied_x, t2 AS tied_y, t3 AS tied_xy,
             |  cc AS concordant, dd AS discordant,
             |  CASE WHEN (pairs - t1) > 0 AND (pairs - t2) > 0 THEN
             |    round(CAST(cc - dd AS DOUBLE) /
             |      sqrt(CAST(pairs - t1 AS DOUBLE) * CAST(pairs - t2 AS DOUBLE)), 6)
             |  END AS tau_b
             |FROM m CROSS JOIN nn""".stripMargin)),

    // ─── Mann–Whitney U: rank-sum A/B test over skewed order values ─────
    "q455_mann_whitney_u" -> Q(
      (s, dir) => {
        import s.implicits._
        RankTests.mannWhitneyU(Tables.orders(s, dir),
          floor($"o_totalprice" / lit(1000.0)),
          $"o_orderpriority" === "1-URGENT")
      },
      Some("""WITH pts AS (SELECT floor(o_totalprice / 1000.0::DOUBLE) AS v,
             |    (o_orderpriority = '1-URGENT') AS a FROM orders),
             |vc AS (SELECT v, count(*)::BIGINT AS c FROM pts GROUP BY 1),
             |cum AS (SELECT v, c, sum(c) OVER (ORDER BY v)::BIGINT AS cm FROM vc),
             |ar AS (SELECT v, (cm - c) * 2 + c + 1 AS ar2 FROM cum),
             |tot AS (SELECT sum(c)::BIGINT AS n,
             |    sum(CAST(CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0)) *
             |      CAST(c AS DECIMAL(12,0)) - CAST(c AS DECIMAL(12,0))
             |      AS DECIMAL(38,0))) AS tie
             |  FROM vc),
             |gc AS (SELECT v, a, count(*)::BIGINT AS gc FROM pts GROUP BY 1, 2),
             |rg AS (SELECT a, sum(gc)::BIGINT AS ng,
             |    sum(CAST(CAST(gc AS DECIMAL(12,0)) * CAST(ar2 AS DECIMAL(19,0))
             |      AS DECIMAL(38,1))) AS r2
             |  FROM gc JOIN ar USING (v) GROUP BY 1),
             |f AS (SELECT (SELECT ng FROM rg WHERE a) AS na,
             |    (SELECT r2 FROM rg WHERE a) AS r2a,
             |    (SELECT ng FROM rg WHERE NOT a) AS nb, n, tie FROM tot),
             |g AS (SELECT na, nb,
             |    (CAST(r2a AS DOUBLE) - CAST(na AS DOUBLE) *
             |      (CAST(na AS DOUBLE) + 1)) / 2.0 AS ua,
             |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
             |      ((CAST(n AS DOUBLE) + 1) - CAST(tie AS DOUBLE) /
             |        (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) AS var,
             |    CAST(r2a AS DOUBLE) / 2.0 AS rsa
             |  FROM f)
             |SELECT na AS n_a, nb AS n_b, round(rsa, 6) AS rank_sum_a,
             |  round(ua, 6) AS u_a,
             |  round(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) - ua, 6) AS u_b,
             |  round(2.0::DOUBLE * ua / (CAST(na AS DOUBLE) *
             |    CAST(nb AS DOUBLE)) - 1.0, 6) AS rank_biserial,
             |  CASE WHEN var > 0 THEN round((ua - CAST(na AS DOUBLE) *
             |    CAST(nb AS DOUBLE) / 2.0) / sqrt(var), 6) END AS z
             |FROM g""".stripMargin)),

    // ─── Kruskal–Wallis H: k-group rank test over integer quantities ────
    "q456_kruskal_wallis" -> Q(
      (s, dir) => {
        import s.implicits._
        RankTests.kruskalWallis(Tables.lineitem(s, dir),
          $"l_quantity", $"l_returnflag")
      },
      Some("""WITH pts AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
             |    l_returnflag AS g FROM lineitem),
             |vc AS (SELECT v, count(*)::BIGINT AS c FROM pts GROUP BY 1),
             |cum AS (SELECT v, c, sum(c) OVER (ORDER BY v)::BIGINT AS cm FROM vc),
             |ar AS (SELECT v, (cm - c) * 2 + c + 1 AS ar2 FROM cum),
             |tot AS (SELECT sum(c)::BIGINT AS n,
             |    sum(CAST(CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0)) *
             |      CAST(c AS DECIMAL(12,0)) - CAST(c AS DECIMAL(12,0))
             |      AS DECIMAL(38,0))) AS tie
             |  FROM vc),
             |gc AS (SELECT v, g, count(*)::BIGINT AS gc FROM pts GROUP BY 1, 2),
             |rg AS (SELECT g, sum(gc)::BIGINT AS ng,
             |    sum(CAST(CAST(gc AS DECIMAL(12,0)) * CAST(ar2 AS DECIMAL(19,0))
             |      AS DECIMAL(38,1))) AS r2
             |  FROM gc JOIN ar USING (v) GROUP BY 1),
             |ag AS (SELECT count(*)::BIGINT AS k,
             |    sum(CAST(round((CAST(r2 AS DOUBLE) / 2.0) *
             |      (CAST(r2 AS DOUBLE) / 2.0) / CAST(ng AS DOUBLE), 9)
             |      AS DECIMAL(28,9))) AS st
             |  FROM rg),
             |h AS (SELECT k, n,
             |    12.0::DOUBLE / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) *
             |      CAST(st AS DOUBLE) - 3.0::DOUBLE * (CAST(n AS DOUBLE) + 1) AS h,
             |    1.0::DOUBLE - CAST(tie AS DOUBLE) /
             |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
             |       CAST(n AS DOUBLE)) AS c
             |  FROM ag CROSS JOIN tot)
             |SELECT k, n, round(h, 6) AS h, round(c, 6) AS tie_correction,
             |  CASE WHEN c > 0 THEN round(h / c, 6) END AS h_corrected
             |FROM h""".stripMargin)),

    // ─── Kendall's W: 3 ship-years rank suppliers by revenue band ───────
    "q457_kendall_w" -> Q(
      (s, dir) => {
        import s.implicits._
        val sp = Tables.lineitem(s, dir)
          .filter(year($"l_shipdate").isin(1995, 1996, 1997))
          .groupBy($"l_suppkey", year($"l_shipdate").as("j"))
          .agg(floor(sum($"l_extendedprice".cast("decimal(18,6)"))
            .cast("double") / lit(10000.0)).as("v"))
        val ok = sp.groupBy($"l_suppkey").agg(count(lit(1)).as("__k"))
          .filter($"__k" === 3).select($"l_suppkey")
        RankTests.kendallW(sp.join(ok, "l_suppkey"), $"j", $"l_suppkey", $"v")
      },
      Some("""WITH sp AS (SELECT l_suppkey AS it,
             |    year(CAST(l_shipdate AS DATE)) AS j,
             |    floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
             |      AS DOUBLE) / 10000.0::DOUBLE) AS v
             |  FROM lineitem
             |  WHERE year(CAST(l_shipdate AS DATE)) IN (1995, 1996, 1997)
             |  GROUP BY 1, 2),
             |ok AS (SELECT it FROM sp GROUP BY it HAVING count(*) = 3),
             |f AS (SELECT sp.it, sp.j, sp.v FROM sp JOIN ok USING (it)),
             |m0 AS (SELECT count(DISTINCT j)::BIGINT AS m,
             |    count(DISTINCT it)::BIGINT AS n FROM f),
             |jvc AS (SELECT j, v, count(*)::BIGINT AS c FROM f GROUP BY 1, 2),
             |cum AS (SELECT j, v, c,
             |    sum(c) OVER (PARTITION BY j ORDER BY v)::BIGINT AS cm FROM jvc),
             |ar AS (SELECT j, v, (cm - c) * 2 + c + 1 AS ar2 FROM cum),
             |tie AS (SELECT sum(CAST(CAST(c AS DECIMAL(12,0)) *
             |    CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0)) -
             |    CAST(c AS DECIMAL(12,0)) AS DECIMAL(38,0))) AS t FROM jvc),
             |ri AS (SELECT f.it, sum(ar2)::BIGINT AS r2
             |  FROM f JOIN ar USING (j, v) GROUP BY 1),
             |s4 AS (SELECT sum(CAST(
             |    CAST(r2 - (SELECT m * (n + 1) FROM m0) AS DECIMAL(19,0)) *
             |    CAST(r2 - (SELECT m * (n + 1) FROM m0) AS DECIMAL(19,0))
             |    AS DECIMAL(38,0))) AS s4 FROM ri),
             |fin AS (SELECT m, n, s4, t,
             |    (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) *
             |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
             |       CAST(n AS DOUBLE)) -
             |      CAST(m AS DOUBLE) * CAST(t AS DOUBLE) AS den
             |  FROM s4 CROSS JOIN tie CROSS JOIN m0)
             |SELECT m, n, round(CAST(s4 AS DOUBLE) / 4.0, 6) AS s,
             |  CASE WHEN den > 0 THEN
             |    round(3.0::DOUBLE * CAST(s4 AS DOUBLE) / den, 6) END AS w
             |FROM fin""".stripMargin)),

    // ─── Borda + Copeland rank aggregation (closed-form list merge) ─────
    "q458_rank_aggregation" -> Q(
      (s, dir) => {
        import s.implicits._
        val li = Tables.lineitem(s, dir)
          .filter(year($"l_shipdate") === 1995)
          .groupBy($"l_orderkey", $"l_suppkey")
          .agg(max($"l_extendedprice").as("pr"))
        Preference.rankAggregation(li, $"l_orderkey", $"l_suppkey", -$"pr")
          .orderBy($"id")
      },
      Some("""WITH ded AS (SELECT l_orderkey AS g, l_suppkey AS it,
             |    max(l_extendedprice) AS pr
             |  FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1995
             |  GROUP BY 1, 2),
             |t AS (SELECT g, it, pr,
             |    rank() OVER (PARTITION BY g ORDER BY pr DESC) AS rmin,
             |    count(*) OVER (PARTITION BY g, pr) AS tc,
             |    count(*) OVER (PARTITION BY g) AS m
             |  FROM ded),
             |borda AS (SELECT it AS id, count(*)::BIGINT AS n_rankings,
             |    sum(2 * m - (2 * rmin + tc - 1))::BIGINT AS b2
             |  FROM t GROUP BY 1),
             |pr2 AS (SELECT x.it AS w, y.it AS l
             |  FROM t x JOIN t y ON x.g = y.g AND x.pr > y.pr),
             |nij AS (SELECT w, l, count(*)::BIGINT AS n FROM pr2 GROUP BY 1, 2),
             |und AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
             |    sum(CASE WHEN w < l THEN n ELSE 0 END)::BIGINT AS wa,
             |    sum(CASE WHEN w > l THEN n ELSE 0 END)::BIGINT AS wb
             |  FROM nij GROUP BY 1, 2),
             |c2 AS (SELECT id, sum(c)::BIGINT AS c2 FROM (
             |    SELECT a AS id, CASE WHEN wa > wb THEN 2
             |      WHEN wa = wb THEN 1 ELSE 0 END AS c FROM und
             |    UNION ALL
             |    SELECT b, CASE WHEN wb > wa THEN 2
             |      WHEN wa = wb THEN 1 ELSE 0 END FROM und) GROUP BY 1)
             |SELECT borda.id AS id, n_rankings,
             |  round(CAST(b2 AS DOUBLE) / 2.0, 6) AS borda,
             |  round(CAST(coalesce(c2, 0) AS DOUBLE) / 2.0, 6) AS copeland
             |FROM borda LEFT JOIN c2 USING (id) ORDER BY id""".stripMargin)),

    // ─── Simple Good–Turing unseen-mass estimate (LGT variant) ──────────
    "q459_good_turing" -> Q(
      (s, dir) => TextStats.goodTuring(Tables.documents(s, dir), "text"),
      Some("""WITH wc AS (SELECT w, count(*)::BIGINT AS r FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS w
             |    FROM documents)
             |  WHERE w <> '' GROUP BY 1),
             |ff AS (SELECT r, count(*)::BIGINT AS nr FROM wc GROUP BY 1),
             |nb AS (SELECT r, nr, lag(r) OVER (ORDER BY r) AS rprev,
             |    lead(r) OVER (ORDER BY r) AS rnext FROM ff),
             |zz AS (SELECT r, nr,
             |    CAST(nr AS DOUBLE) * 2.0 /
             |      CAST(coalesce(rnext, 2 * r - coalesce(rprev, 0)) -
             |        coalesce(rprev, 0) AS DOUBLE) AS z
             |  FROM nb),
             |reg AS (SELECT count(*)::BIGINT AS k,
             |    sum(CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sx,
             |    sum(CAST(round(ln(z), 9) AS DECIMAL(28,9))) AS sy,
             |    sum(CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 9)
             |      AS DECIMAL(28,9))) AS sxx,
             |    sum(CAST(round(ln(CAST(r AS DOUBLE)) * ln(z), 9)
             |      AS DECIMAL(28,9))) AS sxy
             |  FROM zz),
             |tot AS (SELECT sum(r * nr)::BIGINT AS n_tokens,
             |    sum(nr)::BIGINT AS vocab,
             |    sum(CASE WHEN r = 1 THEN nr ELSE 0 END)::BIGINT AS n1 FROM ff),
             |fin AS (SELECT n_tokens, vocab, n1, k, sx, sy,
             |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) /
             |      CAST(k AS DOUBLE)) /
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) /
             |      CAST(k AS DOUBLE)) AS b
             |  FROM tot CROSS JOIN reg),
             |f2 AS (SELECT n_tokens, vocab, n1, b,
             |    CAST(sy AS DOUBLE) / CAST(k AS DOUBLE) -
             |      b * CAST(sx AS DOUBLE) / CAST(k AS DOUBLE) AS a
             |  FROM fin)
             |SELECT n_tokens, vocab, n1,
             |  round(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS p0,
             |  round(a, 6) AS intercept, round(b, 6) AS slope,
             |  round(2.0::DOUBLE * exp(b * 0.6931471805599453), 6) AS rstar_1,
             |  round(3.0::DOUBLE * exp(b * 0.4054651081081644), 6) AS rstar_2,
             |  b < -1.0 AS valid_smoothing
             |FROM f2""".stripMargin)),

    // ─── isotonic calibration: PAV over the logreg reliability bins ─────
    "q460_isotonic_calibration" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val w = Classifier.logregFit(docs, "doc_id", "text", $"lang" === "en")
        val scored = Classifier.logregScore(docs, "doc_id", "text",
          $"lang" === "en", w)
        // 256 bins: the 3-iter fit's probabilities cluster inside one
        // tenth-width bin (q216 shows the same), so a 10-bin PAV would
        // have nothing to pool — finer bins expose the real
        // non-monotonicity
        Classifier.isotonicCalibrate(scored, "p", $"is_target", bins = 256)
          .orderBy($"bin")
      },
      Some(LogregOracle.isotonicSql("lang = 'en'", buckets = 64, iters = 3,
        rate = "0.02::DOUBLE", bins = 256))),

    // ─── embedding alignment & uniformity (Wang & Isola 2020) ───────────
    // Uniformity pair sample: bucket count derived from the frame's
    // count under Similarity.PairSampleBudget (B = ⌈n²/10⁶⌉) — B=1
    // (exact) at gate scale, ~budget/2 pairs at any corpus size. The
    // oracle derives the same B from the same count.
    "q461_alignment_uniformity" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.alignmentUniformity(Tables.embeddings(s, dir),
          "vec_id", "embedding")
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
             |  (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)) *
             |   sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)))""".stripMargin
        s"""WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
           |bsel AS (SELECT greatest(1, CAST(ceil(
           |    count(*)::DOUBLE * count(*)::DOUBLE / 1000000.0) AS BIGINT)) AS b
           |  FROM e),
           |px AS (SELECT id // 2 AS p, v AS x FROM e WHERE id % 2 = 0),
           |py AS (SELECT (id - 1) // 2 AS p, v AS y FROM e WHERE id % 2 = 1),
           |al AS (SELECT count(*)::BIGINT AS n_pos,
           |    sum(CAST(round(2.0 * (1.0 - ${cos("x", "y")}), 9)
           |      AS DECIMAL(28,9))) AS sa
           |  FROM px JOIN py USING (p)),
           |bb AS (SELECT ('0x'||substr(md5(CAST(id AS VARCHAR)),1,15))::BIGINT
           |    % (SELECT b FROM bsel) AS bk, id, v FROM e),
           |un AS (SELECT count(*)::BIGINT AS n_pairs,
           |    sum(CAST(round(exp(-4.0 * (1.0 - ${cos("a.v", "b.v")})), 9)
           |      AS DECIMAL(28,9))) AS su
           |  FROM bb a JOIN bb b ON a.bk = b.bk AND a.id < b.id)
           |SELECT n_pos,
           |  round(CAST(sa AS DOUBLE) / CAST(n_pos AS DOUBLE), 6) AS alignment,
           |  n_pairs,
           |  round(ln(CAST(su AS DOUBLE) / CAST(n_pairs AS DOUBLE)), 6)
           |    AS uniformity
           |FROM al CROSS JOIN un""".stripMargin
      }),

    // ─── McNemar: paired comparison of the logreg vs a length rule ──────
    "q462_mcnemar" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val w = Classifier.logregFit(docs, "doc_id", "text", $"lang" === "en")
        val scored = Classifier.logregScore(docs, "doc_id", "text",
          $"lang" === "en", w)
        val j = scored.join(docs.select($"doc_id", $"n_chars"), "doc_id")
        Classifier.mcnemar(j, $"is_target", $"p" >= 0.48, $"n_chars" >= 300)
      },
      Some(LogregOracle.mcnemarSql("lang = 'en'", buckets = 64, iters = 3,
        rate = "0.02::DOUBLE", thr = "0.48::DOUBLE",
        predB = "d.n_chars >= 300"))),

    // ─── Cochran's Q: do 3 paired classifiers share one accuracy? ───────
    "q463_cochran_q" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val w = Classifier.logregFit(docs, "doc_id", "text", $"lang" === "en")
        val scored = Classifier.logregScore(docs, "doc_id", "text",
          $"lang" === "en", w)
        val j = scored.join(docs.select($"doc_id", $"n_chars", $"text"),
          "doc_id")
        Classifier.cochranQ(j, $"is_target", Seq($"p" >= 0.48,
          $"n_chars" >= 300, size(split($"text", " ")) >= 60))
      },
      Some(LogregOracle.cochranQSql("lang = 'en'", buckets = 64, iters = 3,
        rate = "0.02::DOUBLE", thr = "0.48::DOUBLE",
        pred2 = "d.n_chars >= 300",
        pred3 = "len(string_split(d.text, ' ')) >= 60"))),

    // ─── linear CKA: does the embedding geometry survive int8? ──────────
    "q464_cka_quantization" -> Q(
      (s, dir) => {
        import s.implicits._
        Linalg.cka(Tables.embeddings(s, dir), $"embedding",
          Quantize.dequant8($"embedding"), dimX = 64, dimY = 64)
      },
      Some("""WITH b AS (SELECT vec_id, embedding,
             |    list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS m
             |  FROM embeddings),
             |qz AS (SELECT vec_id, embedding, m,
             |    list_transform(embedding, v -> CASE WHEN m = 0 THEN 0
             |      ELSE greatest(-127, least(127,
             |        CAST(round(v::DOUBLE * (127.0::DOUBLE / m)) AS INTEGER))) END) AS q
             |  FROM b),
             |zz AS (SELECT vec_id, list_concat(embedding,
             |    list_transform(q, qv -> CAST(qv * (m / 127.0::DOUBLE) AS FLOAT))) AS z
             |  FROM qz),
             |e AS (SELECT vec_id, CAST(t.i AS INTEGER) AS i, z[t.i+1]::DOUBLE AS xi
             |  FROM zz CROSS JOIN range(128) t(i)),
             |p AS (SELECT a.i, b2.i AS j,
             |    CAST(round(a.xi * b2.xi * 1099511627776::DOUBLE) AS BIGINT) AS pfp
             |  FROM e a JOIN e b2 ON a.vec_id = b2.vec_id AND b2.i >= a.i),
             |m2 AS (SELECT i, j, CAST(sum(pfp) AS DOUBLE) AS m2fx,
             |    count(*) AS n FROM p GROUP BY i, j),
             |m1 AS (SELECT i, CAST(sum(CAST(round(xi * 1099511627776::DOUBLE)
             |    AS BIGINT)) AS DOUBLE) AS m1fx FROM e GROUP BY i),
             |cv AS (SELECT m2.i AS i, m2.j AS j,
             |    m2.m2fx / 1099511627776::DOUBLE / n -
             |      (a.m1fx / 1099511627776::DOUBLE / n) *
             |      (b2.m1fx / 1099511627776::DOUBLE / n) AS cov
             |  FROM m2 JOIN m1 a ON m2.i = a.i JOIN m1 b2 ON m2.j = b2.i),
             |f AS (SELECT
             |    sum(CASE WHEN j < 64 THEN CAST(round(CASE WHEN i = j
             |        THEN cov * cov ELSE cov * cov * 2.0 END, 9)
             |        AS DECIMAL(28,9)) ELSE 0::DECIMAL(28,9) END) AS fxx,
             |    sum(CASE WHEN i >= 64 THEN CAST(round(CASE WHEN i = j
             |        THEN cov * cov ELSE cov * cov * 2.0 END, 9)
             |        AS DECIMAL(28,9)) ELSE 0::DECIMAL(28,9) END) AS fyy,
             |    sum(CASE WHEN i < 64 AND j >= 64 THEN
             |        CAST(round(cov * cov, 9) AS DECIMAL(28,9))
             |      ELSE 0::DECIMAL(28,9) END) AS fxy
             |  FROM cv)
             |SELECT 64 AS dim_x, 64 AS dim_y,
             |  round(CAST(fxx AS DOUBLE), 6) AS fro2_xx,
             |  round(CAST(fyy AS DOUBLE), 6) AS fro2_yy,
             |  round(CAST(fxy AS DOUBLE), 6) AS fro2_xy,
             |  CASE WHEN fxx > 0 AND fyy > 0 THEN
             |    round(CAST(fxy AS DOUBLE) / (sqrt(CAST(fxx AS DOUBLE)) *
             |      sqrt(CAST(fyy AS DOUBLE))), 6) END AS cka
             |FROM f""".stripMargin)),

    // ─── MMD²: kernel two-sample drift test between embedding halves ────
    // Pair sample: budget-derived bucket count (see q461) — B=1 exact
    // at gate scale, bounded pairs at any n; oracle derives the same B.
    "q465_mmd_drift" -> Q(
      (s, dir) => {
        import s.implicits._
        Similarity.mmd(Tables.embeddings(s, dir), "vec_id", "embedding",
          $"vec_id" % 2 === 0, gamma = 0.5)
      },
      Some {
        def n2(a: String) =
          s"list_reduce(list_transform($a, w -> w::DOUBLE * w::DOUBLE), (p,q) -> p+q)"
        def cos(a: String, b: String) =
          s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
             |  (sqrt(${n2(a)}) * sqrt(${n2(b)}))""".stripMargin
        s"""WITH e0 AS (SELECT vec_id AS id, embedding AS v,
           |    (vec_id % 2 = 0) AS x
           |  FROM embeddings WHERE vec_id IS NOT NULL),
           |bsel AS (SELECT greatest(1, CAST(ceil(
           |    count(*)::DOUBLE * count(*)::DOUBLE / 1000000.0) AS BIGINT)) AS b
           |  FROM e0),
           |e AS (SELECT id, v, x,
           |    ('0x'||substr(md5(CAST(id AS VARCHAR)),1,15))::BIGINT
           |      % (SELECT b FROM bsel) AS bk
           |  FROM e0),
           |sides AS (SELECT sum(CASE WHEN x THEN 1 ELSE 0 END)::BIGINT AS n_ref,
           |    sum(CASE WHEN NOT x THEN 1 ELSE 0 END)::BIGINT AS n_cur FROM e),
           |p AS (SELECT a.x AS xa, b.x AS xb,
           |    CAST(round(exp(-0.5::DOUBLE *
           |      ((${n2("a.v")} + ${n2("b.v")}) -
           |       2.0::DOUBLE * ((${cos("a.v", "b.v")} * sqrt(${n2("a.v")})) *
           |         sqrt(${n2("b.v")})))), 9) AS DECIMAL(28,9)) AS kk
           |  FROM e a JOIN e b ON a.bk = b.bk AND a.id < b.id),
           |ag AS (SELECT
           |    sum(CASE WHEN xa AND xb THEN 1 ELSE 0 END)::BIGINT AS pairs_xx,
           |    sum(CASE WHEN NOT xa AND NOT xb THEN 1 ELSE 0 END)::BIGINT AS pairs_yy,
           |    sum(CASE WHEN xa <> xb THEN 1 ELSE 0 END)::BIGINT AS pairs_xy,
           |    sum(CASE WHEN xa AND xb THEN kk ELSE 0::DECIMAL(28,9) END) AS sxx,
           |    sum(CASE WHEN NOT xa AND NOT xb THEN kk
           |      ELSE 0::DECIMAL(28,9) END) AS syy,
           |    sum(CASE WHEN xa <> xb THEN kk ELSE 0::DECIMAL(28,9) END) AS sxy
           |  FROM p)
           |SELECT n_ref, n_cur, pairs_xx, pairs_yy, pairs_xy,
           |  CASE WHEN pairs_xx > 0 AND pairs_yy > 0 AND pairs_xy > 0 THEN
           |    round(CAST(sxx AS DOUBLE) / CAST(pairs_xx AS DOUBLE) +
           |      CAST(syy AS DOUBLE) / CAST(pairs_yy AS DOUBLE) -
           |      2.0::DOUBLE * (CAST(sxy AS DOUBLE) / CAST(pairs_xy AS DOUBLE)), 6)
           |  END AS mmd2
           |FROM sides CROSS JOIN ag""".stripMargin
      }),

    // ─── Wilcoxon signed-rank: paired per-customer spend shift ──────────
    "q466_wilcoxon_signed_rank" -> Q(
      (s, dir) => {
        import s.implicits._
        val z = lit(0).cast("decimal(18,6)")
        val sp = Tables.orders(s, dir)
          .filter(year($"o_orderdate").isin(1996, 1997))
          .groupBy($"o_custkey")
          .agg(sum(when(year($"o_orderdate") === 1997,
            $"o_totalprice".cast("decimal(18,6)"))).as("__s97"),
            sum(when(year($"o_orderdate") === 1996,
              $"o_totalprice".cast("decimal(18,6)"))).as("__s96"))
          .select(floor((coalesce($"__s97", z) - coalesce($"__s96", z))
            .cast("double") / lit(500.0)).as("d"))
        RankTests.wilcoxonSignedRank(sp, $"d")
      },
      Some("""WITH sp AS (SELECT o_custkey,
             |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
             |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS s97,
             |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
             |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS s96
             |  FROM orders
             |  WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
             |  GROUP BY 1),
             |dd AS (SELECT floor(CAST(coalesce(s97, 0::DECIMAL(18,6)) -
             |    coalesce(s96, 0::DECIMAL(18,6)) AS DOUBLE) / 500.0::DOUBLE) AS d
             |  FROM sp),
             |z0 AS (SELECT sum(CASE WHEN d = 0 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_zero FROM dd),
             |pts AS (SELECT abs(d) AS v, d > 0 AS pos FROM dd WHERE d <> 0),
             |vc AS (SELECT v, count(*)::BIGINT AS c FROM pts GROUP BY 1),
             |cum AS (SELECT v, c, sum(c) OVER (ORDER BY v)::BIGINT AS cm FROM vc),
             |ar AS (SELECT v, (cm - c) * 2 + c + 1 AS ar2 FROM cum),
             |tot AS (SELECT sum(c)::BIGINT AS n,
             |    sum(CAST(CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0)) *
             |      CAST(c AS DECIMAL(12,0)) - CAST(c AS DECIMAL(12,0))
             |      AS DECIMAL(38,0))) AS tie
             |  FROM vc),
             |gc AS (SELECT v, pos, count(*)::BIGINT AS gc FROM pts GROUP BY 1, 2),
             |sg AS (SELECT
             |    coalesce(sum(CASE WHEN pos THEN r2 END),
             |      0::DECIMAL(38,1)) AS r2p,
             |    coalesce(sum(CASE WHEN NOT pos THEN r2 END),
             |      0::DECIMAL(38,1)) AS r2m
             |  FROM (SELECT pos, sum(CAST(CAST(gc AS DECIMAL(12,0)) *
             |      CAST(ar2 AS DECIMAL(19,0)) AS DECIMAL(38,1))) AS r2
             |    FROM gc JOIN ar USING (v) GROUP BY 1)),
             |f AS (SELECT n, tie, n_zero, r2m,
             |    CAST(r2p AS DOUBLE) / 2.0 AS wp,
             |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 4.0 AS mu,
             |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) *
             |      (2.0::DOUBLE * CAST(n AS DOUBLE) + 1) / 24.0 -
             |      CAST(tie AS DOUBLE) / 48.0 AS var
             |  FROM sg CROSS JOIN tot CROSS JOIN z0)
             |SELECT n, n_zero, round(wp, 6) AS w_plus,
             |  round(CAST(r2m AS DOUBLE) / 2.0, 6) AS w_minus,
             |  CASE WHEN var > 0 THEN round((wp - mu) / sqrt(var), 6) END AS z
             |FROM f""".stripMargin)),

    // ─── pass@k: the unbiased Codex estimator over per-task attempts ────
    // Tasks = orders, attempts = their lineitems, "pass" = returned line;
    // ks span the n ∈ [1,7] attempt counts so both the saturation (n−c<k)
    // and the not-estimable (n<k) paths exercise at sf.
    "q467_pass_at_k" -> Q(
      (s, dir) => {
        import s.implicits._
        EvalMetrics.passAtK(Tables.lineitem(s, dir), "l_orderkey",
            $"l_returnflag" === "R", Seq(1, 2, 4))
          .orderBy($"k")
      },
      Some {
        def prodSql(k: Int) = (0 until k).map(i =>
          s"(CAST(n - c - $i AS DOUBLE) / CAST(n - $i AS DOUBLE))")
          .mkString(" * ")
        def arm(k: Int) =
          s"""SELECT $k AS k, CASE WHEN n >= $k
             |    THEN 1.0::DOUBLE - round(${prodSql(k)}, 9) END AS est
             |  FROM per""".stripMargin
        s"""WITH per AS (SELECT l_orderkey, count(*)::BIGINT AS n,
           |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS c
           |  FROM lineitem GROUP BY 1),
           |e AS (${Seq(1, 2, 4).map(arm).mkString("\n  UNION ALL\n")}),
           |ks(k) AS (VALUES (1), (2), (4))
           |SELECT ks.k, count(est)::BIGINT AS n_tasks,
           |  CASE WHEN count(est) > 0 THEN
           |    round(CAST(sum(CAST(est AS DECIMAL(18,9))) AS DOUBLE) /
           |      CAST(count(est) AS DOUBLE), 6) END AS pass_at_k
           |FROM ks LEFT JOIN e ON e.k = ks.k GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ─── average precision (step PR-AUC) on the score-domain hatch ──────
    // Score = n_chars predicting lang='en' — the length-rule baseline the
    // calibration gates (q216/q460) diagnose, now PR-summarised; the
    // descending-cum identity needs no lag and no totals join.
    "q468_pr_auc" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.prAuc(Tables.documents(s, dir), $"n_chars",
          $"lang" === "en")
      },
      Some("""WITH sv AS (SELECT n_chars AS s, count(*)::BIGINT AS n,
             |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS np
             |  FROM documents GROUP BY 1),
             |cum AS (SELECT s, n, np,
             |    sum(n) OVER (ORDER BY s DESC)::BIGINT AS ppge,
             |    sum(np) OVER (ORDER BY s DESC)::BIGINT AS tpge FROM sv),
             |a AS (SELECT sum(np)::BIGINT AS p, sum(n)::BIGINT AS t,
             |    sum(CAST(round(CAST(np AS DOUBLE) *
             |      (CAST(tpge AS DOUBLE) / CAST(ppge AS DOUBLE)), 9)
             |      AS DECIMAL(28,9))) AS sm
             |  FROM cum)
             |SELECT p AS n_pos, (t - p)::BIGINT AS n_neg,
             |  CASE WHEN p > 0 THEN
             |    round(CAST(sm AS DOUBLE) / CAST(p AS DOUBLE), 6)
             |  END AS pr_auc
             |FROM a""".stripMargin)),

    // ─── Mantel–Haenszel: length↔English association, source-stratified ─
    // The Simpson's-paradox guard next to q322: pools the per-source 2×2
    // tables into one confounding-adjusted odds ratio + CMH chi2.
    "q469_mantel_haenszel" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.mantelHaenszel(Tables.documents(s, dir),
          $"n_chars" >= 300, $"lang" === "en", $"source")
      },
      Some("""WITH cells AS (SELECT source,
             |    sum(CASE WHEN n_chars >= 300 AND lang = 'en'
             |      THEN 1 ELSE 0 END)::BIGINT AS a,
             |    sum(CASE WHEN n_chars >= 300 AND lang <> 'en'
             |      THEN 1 ELSE 0 END)::BIGINT AS b,
             |    sum(CASE WHEN n_chars < 300 AND lang = 'en'
             |      THEN 1 ELSE 0 END)::BIGINT AS c,
             |    sum(CASE WHEN n_chars < 300 AND lang <> 'en'
             |      THEN 1 ELSE 0 END)::BIGINT AS d
             |  FROM documents GROUP BY 1),
             |tm AS (SELECT a, b, c, d, (a + b + c + d)::BIGINT AS nr,
             |    CAST(a AS DOUBLE) + CAST(b AS DOUBLE) + CAST(c AS DOUBLE)
             |      + CAST(d AS DOUBLE) AS nn
             |  FROM cells),
             |t AS (SELECT count(*)::BIGINT AS n_strata,
             |    sum(nr)::BIGINT AS n_rows, sum(a)::BIGINT AS sa,
             |    sum(CAST(round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / nn, 9)
             |      AS DECIMAL(28,9))) AS srr,
             |    sum(CAST(round(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / nn, 9)
             |      AS DECIMAL(28,9))) AS sss,
             |    sum(CAST(round((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) *
             |      (CAST(a AS DOUBLE) + CAST(c AS DOUBLE)) / nn, 9)
             |      AS DECIMAL(28,9))) AS sea,
             |    sum(CAST(round(CASE WHEN nn > 1 THEN
             |      (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) *
             |      (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) *
             |      (CAST(a AS DOUBLE) + CAST(c AS DOUBLE)) *
             |      (CAST(b AS DOUBLE) + CAST(d AS DOUBLE)) /
             |      (nn * nn * (nn - 1)) ELSE 0.0::DOUBLE END, 9)
             |      AS DECIMAL(28,9))) AS sva
             |  FROM tm)
             |SELECT n_strata, n_rows,
             |  CASE WHEN CAST(sss AS DOUBLE) > 0 THEN
             |    round(CAST(srr AS DOUBLE) / CAST(sss AS DOUBLE), 6)
             |  END AS or_mh,
             |  CASE WHEN CAST(sva AS DOUBLE) > 0 THEN
             |    round((CAST(sa AS DOUBLE) - CAST(sea AS DOUBLE)) *
             |      (CAST(sa AS DOUBLE) - CAST(sea AS DOUBLE)) /
             |      CAST(sva AS DOUBLE), 6)
             |  END AS cmh_chi2
             |FROM t""".stripMargin)),

    // ─── Brown–Forsythe: is q247's equal-variance assumption safe? ──────
    // The same one-way F run on |x − group-median| — median from the
    // doubled-cum crossing (the weightedMedian convention), then the
    // q247 anova tail verbatim on the deviations.
    "q470_brown_forsythe" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.brownForsythe(Tables.documents(s, dir), "source", "n_chars")
      },
      Some("""WITH f AS (SELECT source AS g, n_chars AS x FROM documents
             |    WHERE source IS NOT NULL AND n_chars IS NOT NULL),
             |wc AS (SELECT g, x, count(*)::BIGINT AS w FROM f GROUP BY 1, 2),
             |cw AS (SELECT g, x, w,
             |    sum(w) OVER (PARTITION BY g ORDER BY x)::BIGINT AS cum FROM wc),
             |tw AS (SELECT g, sum(w)::BIGINT AS tot FROM wc GROUP BY 1),
             |med AS (SELECT g, min(CASE WHEN cum * 2 >= tot THEN x END) AS md
             |  FROM cw JOIN tw USING (g) GROUP BY 1),
             |zz AS (SELECT f.g, abs(f.x - med.md)::BIGINT AS zx
             |  FROM f JOIN med USING (g)),
             |gg AS (SELECT g, count(*) AS n,
             |    sum(CAST(zx AS DECIMAL(38,0))) AS sx,
             |    sum(CAST(zx * zx AS DECIMAL(38,0))) AS sxx
             |  FROM zz GROUP BY 1),
             |t AS (SELECT sum(n)::BIGINT AS nt, sum(sx) AS tsx,
             |    sum(sxx) AS tsxx FROM gg),
             |a AS (SELECT count(*) AS k_groups, max(t.nt) AS n_total,
             |    max(CAST(t.tsx AS DOUBLE)) AS tsxd,
             |    max(CAST(t.tsxx AS DOUBLE)) AS tsxxd,
             |    sum(CAST(round(
             |      (CAST(gg.sx AS DOUBLE) / (CAST(t.tsx AS DOUBLE) / CAST(t.nt AS DOUBLE)))
             |      * (CAST(gg.sx AS DOUBLE) / (CAST(t.tsx AS DOUBLE) / CAST(t.nt AS DOUBLE)))
             |      / CAST(gg.n AS DOUBLE), 9) AS DECIMAL(28,9))) AS ssq
             |  FROM gg CROSS JOIN t)
             |SELECT k_groups, n_total,
             |  CASE WHEN k_groups >= 2 AND n_total > k_groups
             |      AND (tsxxd / ((tsxd / CAST(n_total AS DOUBLE)) * (tsxd / CAST(n_total AS DOUBLE)))
             |           - CAST(ssq AS DOUBLE)) > 0.0
             |    THEN round(
             |      ((CAST(ssq AS DOUBLE)
             |          - (tsxd / (tsxd / CAST(n_total AS DOUBLE)))
             |            * (tsxd / (tsxd / CAST(n_total AS DOUBLE))) / CAST(n_total AS DOUBLE))
             |        / (CAST(k_groups AS DOUBLE) - 1.0))
             |      / ((tsxxd / ((tsxd / CAST(n_total AS DOUBLE)) * (tsxd / CAST(n_total AS DOUBLE)))
             |          - CAST(ssq AS DOUBLE))
             |        / (CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE))), 6)
             |  END AS f_stat
             |FROM a""".stripMargin)),

    // ─── Hodges–Lehmann shift: the effect size q455's U test lacks ──────
    // Same banded-spend split as q455; the pair median materializes only
    // the |dom_A|·|dom_B| difference domain, never the n_a·n_b pairs.
    "q471_hodges_lehmann" -> Q(
      (s, dir) => {
        import s.implicits._
        RankTests.hodgesLehmann(Tables.orders(s, dir),
          floor($"o_totalprice" / lit(1000.0)),
          $"o_orderpriority" === "1-URGENT")
      },
      Some("""WITH pts AS (SELECT
             |    CAST(floor(o_totalprice / 1000.0::DOUBLE) AS BIGINT) AS v,
             |    (o_orderpriority = '1-URGENT') AS a FROM orders),
             |da AS (SELECT v, count(*)::BIGINT AS ca FROM pts WHERE a GROUP BY 1),
             |db AS (SELECT v AS vb, count(*)::BIGINT AS cb
             |  FROM pts WHERE NOT a GROUP BY 1),
             |dw AS (SELECT da.v - db.vb AS dd, sum(ca * cb)::BIGINT AS w
             |  FROM da CROSS JOIN db GROUP BY 1),
             |cum AS (SELECT dd, sum(w) OVER (ORDER BY dd)::BIGINT AS cw FROM dw),
             |nn AS (SELECT sum(CASE WHEN a THEN 1 END)::BIGINT AS na,
             |    sum(CASE WHEN NOT a THEN 1 END)::BIGINT AS nb FROM pts),
             |m AS (SELECT
             |    min(CASE WHEN cw >= (na * nb + 1) // 2 THEN dd END) AS lo,
             |    min(CASE WHEN cw >= na * nb // 2 + 1 THEN dd END) AS hi
             |  FROM cum CROSS JOIN nn)
             |SELECT na AS n_a, nb AS n_b, (na * nb)::BIGINT AS n_pairs,
             |  CAST(lo + hi AS DOUBLE) / 2.0::DOUBLE AS hl_shift
             |FROM nn CROSS JOIN m""".stripMargin)),

    // ─── Jonckheere–Terpstra: does spend rise across priority tiers? ────
    // Ordered groups = the priority class digit (1-URGENT … 5-LOW); the
    // 2-D pair prefix builds as bounded-k densified grid + the grouped
    // value-domain prefix hatch — no Σ_{i<j} pair walk, no global window.
    "q472_jonckheere_terpstra" -> Q(
      (s, dir) => {
        import s.implicits._
        RankTests.jonckheereTerpstra(Tables.orders(s, dir),
          $"o_totalprice",
          substring($"o_orderpriority", 1, 1).cast("long"))
      },
      Some("""WITH pts AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
             |    CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS g FROM orders),
             |gvc AS (SELECT g, v, count(*)::BIGINT AS c FROM pts GROUP BY 1, 2),
             |gd AS (SELECT DISTINCT g FROM gvc),
             |dv AS (SELECT DISTINCT v FROM gvc),
             |b AS (SELECT j.g AS g, i.v AS v, sum(i.c)::BIGINT AS bb
             |  FROM gvc i JOIN gd j ON i.g < j.g GROUP BY 1, 2),
             |grid AS (SELECT gd.g, dv.v, coalesce(b.bb, 0)::BIGINT AS b0
             |  FROM gd CROSS JOIN dv
             |  LEFT JOIN b ON b.g = gd.g AND b.v = dv.v),
             |a AS (SELECT g, v, b0,
             |    (sum(b0) OVER (PARTITION BY g ORDER BY v))::BIGINT - b0 AS alt
             |  FROM grid),
             |jj AS (SELECT sum(CAST(gvc.c * (2 * a.alt + a.b0)
             |    AS DECIMAL(38,0))) AS j2
             |  FROM gvc JOIN a ON gvc.g = a.g AND gvc.v = a.v),
             |gn AS (SELECT g, sum(c)::BIGINT AS n FROM gvc GROUP BY 1),
             |gm AS (SELECT count(*)::BIGINT AS k_groups, sum(n)::BIGINT AS nn,
             |    sum(CAST(n AS HUGEINT) * n) AS sn2,
             |    sum(CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)) AS g1,
             |    sum(CAST(n AS HUGEINT) * (n - 1) * (n - 2)) AS g2,
             |    sum(CAST(n AS HUGEINT) * (n - 1)) AS g3
             |  FROM gn),
             |tvx AS (SELECT v, sum(c)::BIGINT AS t FROM gvc GROUP BY 1),
             |tm AS (SELECT
             |    sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS t1,
             |    sum(CAST(t AS HUGEINT) * (t - 1) * (t - 2)) AS t2,
             |    sum(CAST(t AS HUGEINT) * (t - 1)) AS t3
             |  FROM tvx),
             |f AS (SELECT k_groups, nn,
             |    CAST(j2 AS DOUBLE) / 2.0::DOUBLE AS js,
             |    (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
             |      - CAST(sn2 AS DOUBLE)) / 4.0::DOUBLE AS mu,
             |    (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1)
             |        * (CAST(nn AS DOUBLE) * 2 + 5)
             |      - CAST(g1 AS DOUBLE) - CAST(t1 AS DOUBLE)) / 72.0::DOUBLE
             |    + CASE WHEN nn > 2 THEN
             |        CAST(g2 AS DOUBLE) * CAST(t2 AS DOUBLE) /
             |        (36.0::DOUBLE * CAST(nn AS DOUBLE)
             |          * (CAST(nn AS DOUBLE) - 1) * (CAST(nn AS DOUBLE) - 2))
             |      ELSE 0.0::DOUBLE END
             |    + CASE WHEN nn > 1 THEN
             |        CAST(g3 AS DOUBLE) * CAST(t3 AS DOUBLE) /
             |        (8.0::DOUBLE * CAST(nn AS DOUBLE)
             |          * (CAST(nn AS DOUBLE) - 1))
             |      ELSE 0.0::DOUBLE END AS v2
             |  FROM jj CROSS JOIN gm CROSS JOIN tm)
             |SELECT k_groups, nn AS n, round(js, 6) AS j_stat,
             |  round(mu, 6) AS mu,
             |  CASE WHEN v2 > 0 THEN round((js - mu) / sqrt(v2), 6) END AS z
             |FROM f""".stripMargin)),

    // ─── best-of-k expected max price — the continuous pass@k sibling ───
    // Plan-time order-statistic weight literals (exact BigInt ratios →
    // double once), replayed verbatim by the oracle's CASE arrays.
    "q473_best_of_k" -> Q(
      (s, dir) => {
        import s.implicits._
        EvalMetrics.bestOfK(Tables.lineitem(s, dir), "l_orderkey",
            $"l_extendedprice", Seq(1, 2, 4), maxN = 16)
          .orderBy($"k")
      },
      Some {
        val maxN = 16
        def choose(n: Int, r: Int): BigInt =
          if (r < 0 || r > n) BigInt(0)
          else (0 until r).foldLeft(BigInt(1))((a, i) => a * (n - i) / (i + 1))
        def wSql(k: Int) = (1 to maxN).map { n =>
          val arr = (1 to n).map { i =>
            val w = if (n < k) 0.0
            else (BigDecimal(choose(i - 1, k - 1)) /
              BigDecimal(choose(n, k))).toDouble
            s"$w::DOUBLE"
          }.mkString("[", ", ", "]")
          s"WHEN $n THEN $arr"
        }.mkString("CASE len(l) ", " ", " END")
        def arm(k: Int) =
          s"""SELECT $k AS k, CASE WHEN len(l) >= $k THEN
             |    round(list_reduce(list_transform(range(1, len(l) + 1),
             |      i -> l[i] * (${wSql(k)})[i]), (p, q) -> p + q), 9)
             |  END AS est FROM per""".stripMargin
        s"""WITH per AS (SELECT l_orderkey AS t,
           |    list_sort(list(CAST(l_extendedprice AS DOUBLE))) AS l
           |  FROM lineitem GROUP BY 1),
           |e AS (${Seq(1, 2, 4).map(arm).mkString("\n  UNION ALL\n")}),
           |ks(k) AS (VALUES (1), (2), (4))
           |SELECT ks.k, count(est)::BIGINT AS n_tasks,
           |  CASE WHEN count(est) > 0 THEN
           |    round(CAST(sum(CAST(est AS DECIMAL(28,9))) AS DOUBLE) /
           |      CAST(count(est) AS DOUBLE), 6) END AS mean_best_of_k
           |FROM ks LEFT JOIN e ON e.k = ks.k GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ─── Welch's t: the parametric twin of q455's rank test ─────────────
    "q474_welch_t" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.welchT(Tables.documents(s, dir), $"n_chars", $"lang" === "en")
      },
      Some("""WITH pts AS (SELECT n_chars AS x, (lang = 'en') AS a
             |  FROM documents),
             |ag AS (SELECT sum(CASE WHEN a THEN 1 END)::BIGINT AS na,
             |    sum(CASE WHEN NOT a THEN 1 END)::BIGINT AS nb,
             |    sum(CASE WHEN a THEN CAST(x AS HUGEINT) END) AS sa,
             |    sum(CASE WHEN NOT a THEN CAST(x AS HUGEINT) END) AS sb,
             |    sum(CASE WHEN a THEN CAST(x AS HUGEINT) * x END) AS qa,
             |    sum(CASE WHEN NOT a THEN CAST(x AS HUGEINT) * x END) AS qb
             |  FROM pts),
             |f AS (SELECT na, nb,
             |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
             |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
             |    (CASE WHEN na >= 2 THEN (CAST(qa AS DOUBLE)
             |        - CAST(sa AS DOUBLE) * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)))
             |      / (CAST(na AS DOUBLE) - 1) END) / CAST(na AS DOUBLE) AS ua,
             |    (CASE WHEN nb >= 2 THEN (CAST(qb AS DOUBLE)
             |        - CAST(sb AS DOUBLE) * (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
             |      / (CAST(nb AS DOUBLE) - 1) END) / CAST(nb AS DOUBLE) AS ub
             |  FROM ag)
             |SELECT na AS n_a, nb AS n_b,
             |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
             |  CASE WHEN ua + ub > 0 THEN
             |    round((ma - mb) / sqrt(ua + ub), 6) END AS t,
             |  CASE WHEN ua + ub > 0 THEN
             |    round((ua + ub) * (ua + ub) /
             |      (ua * ua / (CAST(na AS DOUBLE) - 1)
             |        + ub * ub / (CAST(nb AS DOUBLE) - 1)), 6) END AS df
             |FROM f""".stripMargin)),

    // ─── paired t on the 1997-vs-1996 spend diffs — q466's twin ─────────
    // Same per-customer banded diff frame as the Wilcoxon signed-rank
    // gate; zeros KEPT here (the t uses the raw mean).
    "q475_paired_t" -> Q(
      (s, dir) => {
        import s.implicits._
        val z = lit(0).cast("decimal(18,6)")
        val sp = Tables.orders(s, dir)
          .filter(year($"o_orderdate").isin(1996, 1997))
          .groupBy($"o_custkey")
          .agg(sum(when(year($"o_orderdate") === 1997,
            $"o_totalprice".cast("decimal(18,6)"))).as("__s97"),
            sum(when(year($"o_orderdate") === 1996,
              $"o_totalprice".cast("decimal(18,6)"))).as("__s96"))
          .select(floor((coalesce($"__s97", z) - coalesce($"__s96", z))
            .cast("double") / lit(500.0)).as("d"))
        Profile.pairedT(sp, $"d")
      },
      Some("""WITH sp AS (SELECT o_custkey,
             |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1997
             |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS s97,
             |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) = 1996
             |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS s96
             |  FROM orders
             |  WHERE year(CAST(o_orderdate AS DATE)) IN (1996, 1997)
             |  GROUP BY 1),
             |dl AS (SELECT CAST(floor(CAST(coalesce(s97, 0::DECIMAL(18,6)) -
             |    coalesce(s96, 0::DECIMAL(18,6)) AS DOUBLE) / 500.0::DOUBLE)
             |    AS BIGINT) AS d FROM sp),
             |ag AS (SELECT count(*)::BIGINT AS n,
             |    sum(CAST(d AS HUGEINT)) AS s,
             |    sum(CAST(d AS HUGEINT) * d) AS q FROM dl),
             |f AS (SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             |    (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) *
             |      (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             |      / (CAST(n AS DOUBLE) - 1) AS v2
             |  FROM ag)
             |SELECT n,
             |  CASE WHEN n > 0 THEN round(m, 6) END AS mean_d,
             |  CASE WHEN n >= 2 AND v2 > 0 THEN
             |    round(m / sqrt(v2 / CAST(n AS DOUBLE)), 6) END AS t,
             |  CASE WHEN n >= 2 THEN (n - 1)::BIGINT END AS df
             |FROM f""".stripMargin)),

    // ─── MCC + balanced accuracy: the imbalanced-gate headline pair ─────
    // Same 2×2 cells as q469's strata, unstratified: the length rule
    // predicting lang='en'. MCC is Pearson's phi on the table.
    "q476_mcc" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.mcc(Tables.documents(s, dir),
          $"n_chars" >= 300, $"lang" === "en")
      },
      Some("""WITH c AS (SELECT
             |    coalesce(sum(CASE WHEN n_chars >= 300 AND lang = 'en'
             |      THEN 1 ELSE 0 END), 0)::BIGINT AS tp,
             |    coalesce(sum(CASE WHEN n_chars >= 300 AND lang <> 'en'
             |      THEN 1 ELSE 0 END), 0)::BIGINT AS fp,
             |    coalesce(sum(CASE WHEN n_chars < 300 AND lang = 'en'
             |      THEN 1 ELSE 0 END), 0)::BIGINT AS fn,
             |    coalesce(sum(CASE WHEN n_chars < 300 AND lang <> 'en'
             |      THEN 1 ELSE 0 END), 0)::BIGINT AS tn
             |  FROM documents)
             |SELECT tp, fp, fn, tn,
             |  CASE WHEN tp + fp > 0 AND tp + fn > 0
             |      AND tn + fp > 0 AND tn + fn > 0 THEN
             |    round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
             |        - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) /
             |      (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE)) *
             |       sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE))), 6)
             |  END AS mcc,
             |  CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
             |    round((CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
             |         + CAST(tn AS DOUBLE) / (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE)))
             |      / 2.0::DOUBLE, 6)
             |  END AS balanced_acc
             |FROM c""".stripMargin)),

    // ─── Cohen's d + Hedges' g: q474's effect-size companion ────────────
    // Same doc-length-by-language frame as the Welch gate, so the two
    // rows read together: t says "real", d says "how big".
    "q477_cohens_d" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.cohensD(Tables.documents(s, dir), $"n_chars", $"lang" === "en")
      },
      Some("""WITH pts AS (SELECT n_chars AS x, (lang = 'en') AS a
             |  FROM documents),
             |ag AS (SELECT sum(CASE WHEN a THEN 1 END)::BIGINT AS na,
             |    sum(CASE WHEN NOT a THEN 1 END)::BIGINT AS nb,
             |    sum(CASE WHEN a THEN CAST(x AS HUGEINT) END) AS sa,
             |    sum(CASE WHEN NOT a THEN CAST(x AS HUGEINT) END) AS sb,
             |    sum(CASE WHEN a THEN CAST(x AS HUGEINT) * x END) AS qa,
             |    sum(CASE WHEN NOT a THEN CAST(x AS HUGEINT) * x END) AS qb
             |  FROM pts),
             |f AS (SELECT na, nb,
             |    CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
             |    CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
             |    CASE WHEN na >= 2 THEN (CAST(qa AS DOUBLE)
             |        - CAST(sa AS DOUBLE) * (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)))
             |      / (CAST(na AS DOUBLE) - 1) END AS va,
             |    CASE WHEN nb >= 2 THEN (CAST(qb AS DOUBLE)
             |        - CAST(sb AS DOUBLE) * (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)))
             |      / (CAST(nb AS DOUBLE) - 1) END AS vb
             |  FROM ag),
             |p AS (SELECT na, nb, ma, mb,
             |    ((CAST(na AS DOUBLE) - 1) * va + (CAST(nb AS DOUBLE) - 1) * vb)
             |      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 2) AS sp2
             |  FROM f)
             |SELECT na AS n_a, nb AS n_b,
             |  round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
             |  CASE WHEN sp2 > 0 THEN round((ma - mb) / sqrt(sp2), 6)
             |  END AS cohens_d,
             |  CASE WHEN sp2 > 0 THEN round(((ma - mb) / sqrt(sp2)) *
             |    (1.0::DOUBLE - 3.0::DOUBLE /
             |      (4.0::DOUBLE * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) - 9)), 6)
             |  END AS hedges_g
             |FROM p""".stripMargin)),

    // ─── Friedman test: q457's W recast as the repeated-measures χ² ─────
    // Same complete supplier×year ranking frame; χ²_F = m(n−1)W by the
    // standard identity, so one rank hatch serves both statistics.
    "q478_friedman" -> Q(
      (s, dir) => {
        import s.implicits._
        val sp = Tables.lineitem(s, dir)
          .filter(year($"l_shipdate").isin(1995, 1996, 1997))
          .groupBy($"l_suppkey", year($"l_shipdate").as("j"))
          .agg(floor(sum($"l_extendedprice".cast("decimal(18,6)"))
            .cast("double") / lit(10000.0)).as("v"))
        val ok = sp.groupBy($"l_suppkey").agg(count(lit(1)).as("__k"))
          .filter($"__k" === 3).select($"l_suppkey")
        RankTests.friedman(sp.join(ok, "l_suppkey"), $"j", $"l_suppkey", $"v")
      },
      Some("""WITH sp AS (SELECT l_suppkey AS it,
             |    year(CAST(l_shipdate AS DATE)) AS j,
             |    floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
             |      AS DOUBLE) / 10000.0::DOUBLE) AS v
             |  FROM lineitem
             |  WHERE year(CAST(l_shipdate AS DATE)) IN (1995, 1996, 1997)
             |  GROUP BY 1, 2),
             |ok AS (SELECT it FROM sp GROUP BY it HAVING count(*) = 3),
             |f AS (SELECT sp.it, sp.j, sp.v FROM sp JOIN ok USING (it)),
             |m0 AS (SELECT count(DISTINCT j)::BIGINT AS m,
             |    count(DISTINCT it)::BIGINT AS n FROM f),
             |jvc AS (SELECT j, v, count(*)::BIGINT AS c FROM f GROUP BY 1, 2),
             |cum AS (SELECT j, v, c,
             |    sum(c) OVER (PARTITION BY j ORDER BY v)::BIGINT AS cm FROM jvc),
             |ar AS (SELECT j, v, (cm - c) * 2 + c + 1 AS ar2 FROM cum),
             |tie AS (SELECT sum(CAST(CAST(c AS DECIMAL(12,0)) *
             |    CAST(c AS DECIMAL(12,0)) * CAST(c AS DECIMAL(12,0)) -
             |    CAST(c AS DECIMAL(12,0)) AS DECIMAL(38,0))) AS t FROM jvc),
             |ri AS (SELECT f.it, sum(ar2)::BIGINT AS r2
             |  FROM f JOIN ar USING (j, v) GROUP BY 1),
             |s4 AS (SELECT sum(CAST(
             |    CAST(r2 - (SELECT m * (n + 1) FROM m0) AS DECIMAL(19,0)) *
             |    CAST(r2 - (SELECT m * (n + 1) FROM m0) AS DECIMAL(19,0))
             |    AS DECIMAL(38,0))) AS s4 FROM ri),
             |fin AS (SELECT m, n, s4, t,
             |    (CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) *
             |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) -
             |       CAST(n AS DOUBLE)) -
             |      CAST(m AS DOUBLE) * CAST(t AS DOUBLE) AS den
             |  FROM s4 CROSS JOIN tie CROSS JOIN m0),
             |ww AS (SELECT m, n,
             |    CASE WHEN den > 0 THEN
             |      round(3.0::DOUBLE * CAST(s4 AS DOUBLE) / den, 6) END AS w
             |  FROM fin)
             |SELECT m, n, w,
             |  CASE WHEN w IS NOT NULL THEN
             |    round(CAST(m AS DOUBLE) * CAST(n - 1 AS DOUBLE) * w, 6)
             |  END AS chi2_f,
             |  CASE WHEN w IS NOT NULL THEN (n - 1)::BIGINT END AS df
             |FROM ww""".stripMargin)),

    // ─── G-test: q254's mutual information recast as a significance χ² ──
    // Same (lang, source) contingency; G = 2n·MI by identity, computed
    // from its own additive fixed-point cell terms.
    "q479_g_test" -> Q(
      (s, dir) => Profile.gTest(Tables.documents(s, dir), "lang", "source"),
      Some("""WITH cells AS (SELECT lang AS a, source AS b, count(*) AS cab
             |      FROM documents GROUP BY 1, 2),
             |ma AS (SELECT a, sum(cab) AS ca FROM cells GROUP BY 1),
             |mb AS (SELECT b, sum(cab) AS cb FROM cells GROUP BY 1),
             |tot AS (SELECT sum(cab) AS n, count(DISTINCT a)::BIGINT AS ra,
             |      count(DISTINCT b)::BIGINT AS rb FROM cells),
             |t AS (SELECT n, ra, rb, CAST(round(
             |        CAST(cab AS DOUBLE) *
             |        ln(CAST(cab AS DOUBLE) * CAST(n AS DOUBLE) /
             |           (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))), 9)
             |        AS DECIMAL(28,9)) AS term
             |      FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot)
             |SELECT CAST(n AS BIGINT) AS n, ra AS a_levels, rb AS b_levels,
             |  (ra - 1) * (rb - 1) AS df,
             |  round(2.0::DOUBLE * CAST(sum(term) AS DOUBLE), 6) AS g_stat
             |FROM t GROUP BY 1, 2, 3""".stripMargin)),

    // ─── η² / ω²: q247's ANOVA F recast as effect sizes ─────────────────
    // Same lang×length frame and the same grand-mean-normalized exact
    // sums; the F says "differs", these say "by how much of the variance".
    "q480_anova_effects" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.anovaEffects(Tables.documents(s, dir), "lang", "n_chars")
      },
      Some("""WITH g AS (SELECT lang, count(*) AS n,
             |        sum(CAST(n_chars AS DECIMAL(38,0))) AS sx,
             |        sum(CAST(n_chars * n_chars AS DECIMAL(38,0))) AS sxx
             |      FROM documents GROUP BY 1),
             |t AS (SELECT sum(n)::BIGINT AS N, sum(sx) AS tsx, sum(sxx) AS tsxx FROM g),
             |a AS (SELECT count(*) AS k_groups, max(t.N) AS n_total,
             |        max(CAST(t.tsx AS DOUBLE)) AS tsxD,
             |        max(CAST(t.tsxx AS DOUBLE)) AS tsxxD,
             |        sum(CAST(round(
             |          (CAST(g.sx AS DOUBLE) / (CAST(t.tsx AS DOUBLE) / CAST(t.N AS DOUBLE)))
             |          * (CAST(g.sx AS DOUBLE) / (CAST(t.tsx AS DOUBLE) / CAST(t.N AS DOUBLE)))
             |          / CAST(g.n AS DOUBLE), 9) AS DECIMAL(28,9))) AS ssq
             |      FROM g CROSS JOIN t),
             |b AS (SELECT k_groups, n_total,
             |        CAST(ssq AS DOUBLE)
             |          - (tsxD / (tsxD / CAST(n_total AS DOUBLE)))
             |            * (tsxD / (tsxD / CAST(n_total AS DOUBLE)))
             |            / CAST(n_total AS DOUBLE) AS ssb,
             |        tsxxD / ((tsxD / CAST(n_total AS DOUBLE))
             |            * (tsxD / CAST(n_total AS DOUBLE)))
             |          - CAST(ssq AS DOUBLE) AS ssw
             |      FROM a)
             |SELECT k_groups, n_total,
             |  CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssw > 0.0 THEN
             |    round(ssb / (ssb + ssw), 6) END AS eta_sq,
             |  CASE WHEN k_groups >= 2 AND n_total > k_groups AND ssw > 0.0 THEN
             |    round((ssb - (CAST(k_groups AS DOUBLE) - 1)
             |        * (ssw / (CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE))))
             |      / (ssb + ssw
             |         + ssw / (CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE))), 6)
             |  END AS omega_sq
             |FROM b""".stripMargin)),

    // ─── Unicode NFC audit: pre-dedup normalization hygiene ─────────────
    // Decomposed combining sequences are injected deterministically
    // (doc_id % 3) so the codegen'd NFC kernel does real composition
    // work; both engines implement the same UAX #15 algorithm.
    "q481_nfc_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
          .withColumn("text2", when($"doc_id" % 3 === 0,
            concat($"text", lit(" café"))).otherwise($"text"))
        TextStats.nfcAudit(docs, "source", "text2")
          .withColumnRenamed("group", "source")
          .orderBy($"source")
      },
      Some("""WITH d AS (SELECT source, CASE WHEN doc_id % 3 = 0
             |      THEN text || ' cafe' || chr(769) ELSE text END AS t2
             |    FROM documents),
             |p AS (SELECT source, t2, nfc_normalize(t2) AS nt FROM d)
             |SELECT source, count(*)::BIGINT AS n_docs,
             |  sum(CASE WHEN nt <> t2 THEN 1 ELSE 0 END)::BIGINT
             |    AS n_denormalized,
             |  sum(length(t2) - length(nt))::BIGINT AS chars_composed
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── Nelson–Aalen cumulative hazard: q284's additive sibling ────────
    // Same lifetime frame; the hazard's slope is the churn-regime read
    // the KM survival curve hides.
    "q482_nelson_aalen" -> Q(
      (s, dir) => {
        import s.implicits._
        Cohort.nelsonAalen(Tables.orders(s, dir), "o_custkey", "o_orderdate",
            censorDays = 365)
          .orderBy($"t_days")
      },
      Some("""WITH per AS (SELECT o_custkey,
             |        min(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS f,
             |        max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS l
             |      FROM orders GROUP BY 1),
             |hz AS (SELECT max(epoch_us(CAST(o_orderdate AS TIMESTAMP))) AS h
             |       FROM orders),
             |lab AS (SELECT (l - f) // 86400000000 AS t,
             |        l > h - 31536000000000 AS cens FROM per CROSS JOIN hz),
             |byt AS (SELECT t, count(*) AS n_at,
             |        sum(CASE WHEN NOT cens THEN 1 ELSE 0 END)::BIGINT AS d
             |      FROM lab GROUP BY 1),
             |tt AS (SELECT count(*) AS nn FROM lab),
             |c AS (SELECT t, n_at, d,
             |        COALESCE(sum(n_at) OVER (ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_lt
             |      FROM byt),
             |r AS (SELECT t, d, nn - cum_lt AS n_risk FROM c CROSS JOIN tt
             |      WHERE d > 0),
             |h AS (SELECT t, n_risk, d,
             |        CAST(round(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE), 9)
             |          AS DECIMAL(18,9)) AS ht,
             |        CAST(round(CAST(d AS DOUBLE) /
             |          (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE)), 9)
             |          AS DECIMAL(18,9)) AS vt
             |      FROM r),
             |s2 AS (SELECT t, n_risk, d,
             |        sum(ht) OVER (ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch,
             |        sum(vt) OVER (ORDER BY t
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
             |      FROM h)
             |SELECT t AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
             |  d AS n_deaths,
             |  round(CAST(ch AS DOUBLE), 6) AS cum_hazard,
             |  round(sqrt(CAST(cv AS DOUBLE)), 6) AS se
             |FROM s2 ORDER BY t_days""".stripMargin)),

    // ─── Cronbach's alpha: q457's panel read as internal consistency ────
    // Same complete supplier×year score frame; "do the three yearly
    // scores measure one underlying supplier quantity?"
    "q483_cronbach_alpha" -> Q(
      (s, dir) => {
        import s.implicits._
        val sp = Tables.lineitem(s, dir)
          .filter(year($"l_shipdate").isin(1995, 1996, 1997))
          .groupBy($"l_suppkey", year($"l_shipdate").as("j"))
          .agg(floor(sum($"l_extendedprice".cast("decimal(18,6)"))
            .cast("double") / lit(10000.0)).as("v"))
        val ok = sp.groupBy($"l_suppkey").agg(count(lit(1)).as("__k"))
          .filter($"__k" === 3).select($"l_suppkey")
        Agreement.cronbachAlpha(sp.join(ok, "l_suppkey"),
          $"l_suppkey", $"j", $"v")
      },
      Some("""WITH sp AS (SELECT l_suppkey AS it,
             |    year(CAST(l_shipdate AS DATE)) AS j,
             |    CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
             |      AS DOUBLE) / 10000.0::DOUBLE) AS BIGINT) AS v
             |  FROM lineitem
             |  WHERE year(CAST(l_shipdate AS DATE)) IN (1995, 1996, 1997)
             |  GROUP BY 1, 2),
             |ok AS (SELECT it FROM sp GROUP BY it HAVING count(*) = 3),
             |f AS (SELECT sp.it, sp.j, sp.v FROM sp JOIN ok USING (it)),
             |shape AS (SELECT count(DISTINCT it)::BIGINT AS n,
             |    count(DISTINCT j)::BIGINT AS k FROM f),
             |pc AS (SELECT j, sum(CAST(v AS HUGEINT)) AS sx,
             |    sum(CAST(v AS HUGEINT) * v) AS qx FROM f GROUP BY 1),
             |sv AS (SELECT sum(CAST(round(
             |      (CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE)
             |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
             |      / (CAST(n AS DOUBLE) - 1.0), 9) AS DECIMAL(28,9))) AS svv
             |  FROM pc CROSS JOIN shape),
             |ps AS (SELECT it, sum(CAST(v AS HUGEINT)) AS t FROM f GROUP BY 1),
             |tv AS (SELECT sum(t) AS st, sum(t * t) AS qt FROM ps),
             |fin AS (SELECT n, k, CAST(svv AS DOUBLE) AS sv,
             |    (CAST(qt AS DOUBLE) - CAST(st AS DOUBLE)
             |      * (CAST(st AS DOUBLE) / CAST(n AS DOUBLE)))
             |      / (CAST(n AS DOUBLE) - 1.0) AS vt
             |  FROM sv CROSS JOIN tv CROSS JOIN shape)
             |SELECT n AS n_subjects, k AS k_components,
             |  round(sv, 6) AS sum_var_components,
             |  round(vt, 6) AS var_total,
             |  CASE WHEN k >= 2 AND vt > 0.0 THEN
             |    round((CAST(k AS DOUBLE) / (CAST(k AS DOUBLE) - 1.0))
             |      * (1.0::DOUBLE - sv / vt), 6) END AS alpha
             |FROM fin""".stripMargin)),

    // ─── Gwet's AC1: q450's kappa made skew-robust ──────────────────────
    // Same three-rater panel; AC1's chance term penalizes marginal
    // imbalance instead of rewarding it (the kappa paradox).
    "q484_gwet_ac1" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val words = size(split($"text", " "))
        val r1 = when($"n_chars" < 200, "low").when($"n_chars" < 400, "mid")
          .otherwise("high")
        val r2 = when(words < 40, "low").when(words < 80, "mid")
          .otherwise("high")
        val r3 = when($"n_chars" < 250, "low").when($"n_chars" < 450, "mid")
          .otherwise("high")
        val ratings = docs.select($"doc_id".as("item"),
          explode(array(r1, r2, r3)).as("label"))
        Agreement.gwetAC1(ratings, "item", "label")
      },
      Some("""WITH rt AS (
             |  SELECT doc_id AS i, CASE WHEN n_chars < 200 THEN 'low'
             |      WHEN n_chars < 400 THEN 'mid' ELSE 'high' END AS l
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN len(string_split(text, ' ')) < 40 THEN 'low'
             |      WHEN len(string_split(text, ' ')) < 80 THEN 'mid' ELSE 'high' END
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, CASE WHEN n_chars < 250 THEN 'low'
             |      WHEN n_chars < 450 THEN 'mid' ELSE 'high' END
             |  FROM documents),
             |cnt AS (SELECT i, l, count(*)::BIGINT AS n FROM rt GROUP BY 1, 2),
             |pi AS (SELECT i, sum(n)::BIGINT AS m, sum(n * n)::BIGINT AS s2
             |  FROM cnt GROUP BY 1),
             |od AS (SELECT count(*)::BIGINT AS n_items, max(m)::BIGINT AS n_raters,
             |    sum(CAST(round(CAST(s2 - m AS DOUBLE) /
             |      CAST(m * (m - 1) AS DOUBLE), 9) AS DECIMAL(28,9))) AS sp
             |  FROM pi),
             |mg AS (SELECT l, sum(n)::BIGINT AS nc FROM cnt GROUP BY 1),
             |ed AS (SELECT count(*)::BIGINT AS n_labels,
             |    sum(CAST(round((CAST(nc AS DOUBLE) / nn)
             |      * (1.0::DOUBLE - CAST(nc AS DOUBLE) / nn), 9)
             |      AS DECIMAL(28,9))) AS spi
             |  FROM mg CROSS JOIN (SELECT CAST(n_items AS DOUBLE)
             |      * CAST(n_raters AS DOUBLE) AS nn FROM od))
             |SELECT n_items, n_raters, n_labels,
             |  round(CAST(sp AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS p_bar,
             |  round(CAST(spi AS DOUBLE) / (CAST(n_labels AS DOUBLE) - 1.0), 6)
             |    AS p_e_gamma,
             |  CASE WHEN n_labels >= 2 THEN
             |    round((CAST(sp AS DOUBLE) / CAST(n_items AS DOUBLE)
             |         - CAST(spi AS DOUBLE) / (CAST(n_labels AS DOUBLE) - 1.0))
             |      / (1.0::DOUBLE - CAST(spi AS DOUBLE)
             |         / (CAST(n_labels AS DOUBLE) - 1.0)), 6) END AS ac1
             |FROM od CROSS JOIN ed""".stripMargin)),

    // ─── shuffle-skew audit: read the key BEFORE shuffling 100 TB on it ─
    // event_type is the classic handful-domain trap key; the audit's
    // salt recommendation is the split factor that levels the top key
    // across 32 target partitions.
    "q485_skew_audit" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.skewAudit(Tables.events(s, dir), $"event_type",
          shufflePartitions = 32)
      },
      Some("""WITH kc AS (SELECT event_type AS k, count(*)::BIGINT AS c
             |      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
             |vc AS (SELECT c AS v, count(*)::BIGINT AS m FROM kc GROUP BY 1),
             |run AS (SELECT v, m,
             |    sum(m) OVER (ORDER BY v)::BIGINT AS hi FROM vc),
             |agg AS (SELECT sum(CAST(v AS HUGEINT) * m) AS T,
             |    sum(m)::BIGINT AS n_keys, max(v)::BIGINT AS top1,
             |    sum(CAST(v AS HUGEINT) *
             |      ((CAST(hi AS HUGEINT) * (hi + 1)
             |        - CAST(hi - m AS HUGEINT) * (hi - m + 1)) // 2)) AS S
             |  FROM run)
             |SELECT CAST(T AS BIGINT) AS n_rows, n_keys,
             |  top1 AS top1_count,
             |  round(CAST(top1 AS DOUBLE) / CAST(T AS DOUBLE), 6)
             |    AS top1_share,
             |  CASE WHEN n_keys >= 2 AND T > 0 THEN round(
             |    (2.0::DOUBLE * CAST(S AS DOUBLE)
             |      - (CAST(n_keys AS DOUBLE) + 1) * CAST(T AS DOUBLE))
             |    / (CAST(n_keys AS DOUBLE) * CAST(T AS DOUBLE)), 6)
             |  END AS gini_keys,
             |  CAST(trunc((CAST(top1 AS DOUBLE) * 32 + CAST(T AS DOUBLE) - 1)
             |    / CAST(T AS DOUBLE)) AS BIGINT) AS recommended_salt
             |FROM agg""".stripMargin)),

    // ─── exact join-cardinality audit: "will this equi-join explode?" ───
    // The self-join-on-a-label shape is the blowup the audit exists to
    // catch: join_rows = Σ c² while the inputs stay events-sized.
    "q486_join_cardinality" -> Q(
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        Profile.joinCardinalityAudit(ev, ev, $"event_type", $"event_type")
      },
      Some("""WITH ca AS (SELECT event_type AS k, count(*)::BIGINT AS c
             |      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
             |j AS (SELECT count(*)::BIGINT AS n_common_keys,
             |    coalesce(sum(CAST(a.c AS HUGEINT) * b.c),
             |      0::HUGEINT) AS jr,
             |    max(CAST(a.c AS HUGEINT) * b.c) AS mx
             |  FROM ca a JOIN ca b ON a.k = b.k),
             |t AS (SELECT coalesce(sum(c), 0)::BIGINT AS rows_a,
             |    count(*)::BIGINT AS n_keys_a FROM ca)
             |SELECT rows_a, rows_a AS rows_b, n_keys_a,
             |  n_keys_a AS n_keys_b, n_common_keys,
             |  CAST(jr AS BIGINT) AS join_rows,
             |  CAST(coalesce(mx, 0::HUGEINT) AS BIGINT)
             |    AS max_key_join_rows,
             |  CASE WHEN rows_a > 0 THEN
             |    round(CAST(jr AS DOUBLE) / CAST(rows_a AS DOUBLE), 6)
             |  END AS amplification
             |FROM t CROSS JOIN j""".stripMargin)),

    // ─── CIDEr-D: the COCO consensus caption metric, single-ref form ────
    // tf-idf-weighted n-gram cosine with candidate clipping + length
    // gaussian; same eval-set slice + adjacent-doc pairing as q400.
    "q487_cider_d" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).filter($"doc_id" < 2000)
        val pairs = docs.select($"doc_id", $"text".as("cand"))
          .join(docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("ref")),
            "doc_id")
        EvalMetrics.ciderD(pairs, "doc_id", "cand", "ref", maxN = 4,
            sigma = 6.0)
          .withColumnRenamed("pair", "doc_id")
          .orderBy($"doc_id")
      },
      Some {
        def grams(src: String, n: Int): String =
          if (n == 1) s"SELECT doc_id, unnest($src) AS g FROM p"
          else {
            val parts = (0 until n).map(j =>
              if (j == 0) s"$src[i]" else s"$src[i+$j]").mkString(" || ' ' || ")
            s"SELECT doc_id, unnest(list_transform(range(1, len($src) - ${n - 2}), i -> $parts)) AS g FROM p"
          }
        val perN = (1 to 4).map { n =>
          s"""cg$n AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM (${grams("ct", n)}) GROUP BY 1, 2),
             |rg$n AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM (${grams("rt", n)}) GROUP BY 1, 2),
             |df$n AS (SELECT g, count(*)::BIGINT AS df FROM rg$n GROUP BY 1),
             |vc$n AS (SELECT doc_id, cg.g, CAST(c AS DOUBLE)
             |      * (ln(CAST(N AS DOUBLE)) - ln(greatest(
             |          CAST(coalesce(df, 0) AS DOUBLE), 1.0::DOUBLE))) AS w
             |    FROM cg$n cg LEFT JOIN df$n USING (g) CROSS JOIN np),
             |vr$n AS (SELECT doc_id, rg.g, CAST(c AS DOUBLE)
             |      * (ln(CAST(N AS DOUBLE)) - ln(greatest(
             |          CAST(df AS DOUBLE), 1.0::DOUBLE))) AS w
             |    FROM rg$n rg JOIN df$n USING (g) CROSS JOIN np),
             |nc$n AS (SELECT doc_id, sum(CAST(round(w * w, 9)
             |      AS DECIMAL(28,9))) AS nc FROM vc$n GROUP BY 1),
             |nr$n AS (SELECT doc_id, sum(CAST(round(w * w, 9)
             |      AS DECIMAL(28,9))) AS nr FROM vr$n GROUP BY 1),
             |nm$n AS (SELECT vc.doc_id, sum(CAST(round(
             |        least(vc.w, vr.w) * vr.w, 9) AS DECIMAL(28,9))) AS nm
             |    FROM vc$n vc JOIN vr$n vr
             |      ON vc.doc_id = vr.doc_id AND vc.g = vr.g GROUP BY 1),
             |s$n AS (SELECT nc.doc_id, CASE WHEN nc > 0 AND nr > 0 THEN
             |      coalesce(CAST(nm AS DOUBLE), 0.0::DOUBLE)
             |        / (sqrt(CAST(nc AS DOUBLE)) * sqrt(CAST(nr AS DOUBLE)))
             |    ELSE 0.0::DOUBLE END AS s
             |    FROM nc$n nc JOIN nr$n nr USING (doc_id)
             |      LEFT JOIN nm$n USING (doc_id))""".stripMargin
        }.mkString(",\n")
        s"""WITH p AS (SELECT a.doc_id,
           |        list_filter(string_split(lower(a.text), ' '),
           |          t -> len(t) > 0) AS ct,
           |        list_filter(string_split(lower(b.text), ' '),
           |          t -> len(t) > 0) AS rt
           |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
           |      WHERE a.doc_id < 2000 AND b.doc_id < 2000),
           |np AS (SELECT count(*)::BIGINT AS N FROM p),
           |$perN,
           |sall AS (${(1 to 4).map(n => s"SELECT doc_id, s FROM s$n")
            .mkString("\n  UNION ALL\n")}),
           |ss AS (SELECT doc_id, sum(CAST(round(s, 9) AS DECIMAL(28,9)))
           |      AS ss FROM sall GROUP BY 1),
           |lc AS (SELECT doc_id, sum(c)::BIGINT AS lc FROM cg1 GROUP BY 1),
           |lr AS (SELECT doc_id, sum(c)::BIGINT AS lr FROM rg1 GROUP BY 1),
           |fin AS (SELECT p.doc_id, coalesce(lc, 0) AS n_cand,
           |      coalesce(lr, 0) AS n_ref, ss
           |    FROM p LEFT JOIN lc USING (doc_id) LEFT JOIN lr USING (doc_id)
           |      LEFT JOIN ss USING (doc_id))
           |SELECT doc_id, n_cand, n_ref,
           |  round(round(exp((0.0::DOUBLE
           |      - (CAST(n_cand AS DOUBLE) - CAST(n_ref AS DOUBLE))
           |      * (CAST(n_cand AS DOUBLE) - CAST(n_ref AS DOUBLE)))
           |      / 72.0::DOUBLE), 9)
           |    * (10.0::DOUBLE / 4) * coalesce(CAST(ss AS DOUBLE),
           |      0.0::DOUBLE), 6) AS cider_d
           |FROM fin ORDER BY doc_id""".stripMargin
      }),

    // ─── Wilson score CI per source: the edge-safe rate interval ────────
    // English-share per source with honest small-n bounds; z is a
    // plan-time literal both engines read as the same decimal text.
    "q488_wilson_ci" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.wilsonCi(Tables.documents(s, dir), "source",
            $"lang" === "en")
          .withColumnRenamed("group", "source")
          .orderBy($"source")
      },
      Some("""WITH g AS (SELECT source, count(*)::BIGINT AS n,
             |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS x
             |  FROM documents GROUP BY 1),
             |f AS (SELECT source, n, x,
             |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS p,
             |    1.0::DOUBLE + (1.959964::DOUBLE * 1.959964::DOUBLE)
             |      / CAST(n AS DOUBLE) AS den,
             |    CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
             |      + (1.959964::DOUBLE * 1.959964::DOUBLE)
             |        / (2.0::DOUBLE * CAST(n AS DOUBLE)) AS ctr,
             |    1.959964::DOUBLE * sqrt(
             |      (CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (1.0::DOUBLE - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
             |        / CAST(n AS DOUBLE)
             |      + (1.959964::DOUBLE * 1.959964::DOUBLE)
             |        / (4.0::DOUBLE * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             |      AS hf
             |  FROM g)
             |SELECT source, n, x, round(p, 6) AS rate,
             |  round((ctr - hf) / den, 6) AS ci_lo,
             |  round((ctr + hf) / den, 6) AS ci_hi
             |FROM f ORDER BY source""".stripMargin)),

    // ─── 2×2 risk readout: RR, Woolf-CI odds ratio, Cohen's h ───────────
    // The unstratified sibling of q469's Mantel–Haenszel on the same
    // length-exposure → English-outcome cells.
    "q489_risk_table" -> Q(
      (s, dir) => {
        import s.implicits._
        Classifier.riskTable(Tables.documents(s, dir),
          $"n_chars" >= 300, $"lang" === "en")
      },
      Some("""WITH t AS (SELECT
             |    coalesce(sum(CASE WHEN n_chars >= 300 AND lang = 'en'
             |      THEN 1 ELSE 0 END), 0)::BIGINT AS a,
             |    coalesce(sum(CASE WHEN n_chars >= 300 AND lang <> 'en'
             |      THEN 1 ELSE 0 END), 0)::BIGINT AS b,
             |    coalesce(sum(CASE WHEN n_chars < 300 AND lang = 'en'
             |      THEN 1 ELSE 0 END), 0)::BIGINT AS c,
             |    coalesce(sum(CASE WHEN n_chars < 300 AND lang <> 'en'
             |      THEN 1 ELSE 0 END), 0)::BIGINT AS d
             |  FROM documents),
             |f AS (SELECT a, b, c, d,
             |    CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) AS r1,
             |    CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) AS r2,
             |    (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
             |      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) AS orv,
             |    sqrt(1.0::DOUBLE / CAST(a AS DOUBLE) + 1.0::DOUBLE / CAST(b AS DOUBLE)
             |       + 1.0::DOUBLE / CAST(c AS DOUBLE) + 1.0::DOUBLE / CAST(d AS DOUBLE)) AS se
             |  FROM t)
             |SELECT a, b, c, d,
             |  CASE WHEN a + b > 0 THEN round(r1, 6) END AS risk_exposed,
             |  CASE WHEN c + d > 0 THEN round(r2, 6) END AS risk_unexposed,
             |  CASE WHEN a + b > 0 AND c + d > 0 AND r2 > 0
             |    THEN round(r1 / r2, 6) END AS risk_ratio,
             |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             |    THEN round(orv, 6) END AS odds_ratio,
             |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             |    THEN round(exp(ln(orv) - 1.959964::DOUBLE * se), 6) END AS or_ci_lo,
             |  CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
             |    THEN round(exp(ln(orv) + 1.959964::DOUBLE * se), 6) END AS or_ci_hi,
             |  CASE WHEN a + b > 0 AND c + d > 0 THEN
             |    round(2.0::DOUBLE * asin(sqrt(r1))
             |        - 2.0::DOUBLE * asin(sqrt(r2)), 6) END AS cohens_h
             |FROM f""".stripMargin)),

    // ─── sample-ratio-mismatch guard (experiment validity gate) ─────────
    "q383_ab_srm" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.srmCheck(Tables.events(s, dir).withColumn("arm",
          when(pmod($"user_id", lit(2L)) === 0L, "A").otherwise("B")), "arm")
      },
      Some("""WITH a AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END
             |        AS arm, count(*) AS n FROM events GROUP BY 1),
             |w AS (SELECT (SELECT n FROM a ORDER BY arm LIMIT 1) AS na,
             |        (SELECT CAST(sum(n) AS BIGINT) FROM a) AS nt)
             |SELECT na AS n_a, nt - na AS n_b, 0.5::DOUBLE AS expected_share_a,
             |  round((CAST(na AS DOUBLE) - CAST(nt AS DOUBLE) * 0.5) *
             |        (CAST(na AS DOUBLE) - CAST(nt AS DOUBLE) * 0.5) /
             |        (CAST(nt AS DOUBLE) * 0.5) +
             |        ((CAST(nt AS DOUBLE) - CAST(na AS DOUBLE)) -
             |         CAST(nt AS DOUBLE) * 0.5) *
             |        ((CAST(nt AS DOUBLE) - CAST(na AS DOUBLE)) -
             |         CAST(nt AS DOUBLE) * 0.5) /
             |        (CAST(nt AS DOUBLE) * 0.5), 6) AS chi2,
             |  ((CAST(na AS DOUBLE) - CAST(nt AS DOUBLE) * 0.5) *
             |   (CAST(na AS DOUBLE) - CAST(nt AS DOUBLE) * 0.5) /
             |   (CAST(nt AS DOUBLE) * 0.5) +
             |   ((CAST(nt AS DOUBLE) - CAST(na AS DOUBLE)) -
             |    CAST(nt AS DOUBLE) * 0.5) *
             |   ((CAST(nt AS DOUBLE) - CAST(na AS DOUBLE)) -
             |    CAST(nt AS DOUBLE) * 0.5) /
             |   (CAST(nt AS DOUBLE) * 0.5)) > 3.841 AS srm_flag
             |FROM w""".stripMargin)),

    // ─── CUPED variance reduction over pre-period spend ─────────────────
    "q384_cuped" -> Q(
      (s, dir) => {
        import s.implicits._
        val cust = Tables.orders(s, dir).groupBy($"o_custkey")
          .agg(
            sum(when(year($"o_orderdate") >= 1998,
              $"o_totalprice".cast("decimal(18,6)"))).as("__post"),
            sum(when(year($"o_orderdate") < 1998,
              $"o_totalprice".cast("decimal(18,6)"))).as("__pre"))
          .select($"o_custkey",
            coalesce($"__post", lit(0).cast("decimal(18,6)")).as("y"),
            coalesce($"__pre", lit(0).cast("decimal(18,6)")).as("x"))
        Market.cuped(cust, $"y", $"x", pmod($"o_custkey", lit(2)) === 0)
      },
      Some("""WITH cust AS (SELECT o_custkey,
             |    CAST(coalesce(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) >= 1998
             |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END), 0)
             |      AS DECIMAL(18,6)) AS y,
             |    CAST(coalesce(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) < 1998
             |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END), 0)
             |      AS DECIMAL(18,6)) AS x
             |  FROM orders GROUP BY 1),
             |m AS (SELECT count(*) AS n,
             |    sum(y) AS sy, sum(x) AS sx,
             |    sum(CAST(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
             |      AS DECIMAL(38,12))) AS sxy,
             |    sum(CAST(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6))
             |      AS DECIMAL(38,12))) AS sxx,
             |    sum(CAST(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6))
             |      AS DECIMAL(38,12))) AS syy,
             |    CAST(sum(CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS na,
             |    sum(CASE WHEN o_custkey % 2 = 0 THEN y END) AS sya,
             |    sum(CASE WHEN o_custkey % 2 = 0 THEN x END) AS sxa,
             |    CAST(sum(CASE WHEN o_custkey % 2 <> 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nb,
             |    sum(CASE WHEN o_custkey % 2 <> 0 THEN y END) AS syb,
             |    sum(CASE WHEN o_custkey % 2 <> 0 THEN x END) AS sxb
             |  FROM cust),
             |f AS (SELECT n,
             |    CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
             |    CAST(syy AS DOUBLE) / CAST(n AS DOUBLE) AS eyy,
             |    CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE) AS exx,
             |    CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE) AS exy,
             |    CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mya,
             |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mxa,
             |    CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS myb,
             |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mxb
             |  FROM m),
             |g AS (SELECT n, my, mx, mya, mxa, myb, mxb,
             |    eyy - my * my AS vy, exx - mx * mx AS vx,
             |    exy - mx * my AS cxy
             |  FROM f),
             |h AS (SELECT *, cxy / vx AS theta FROM g)
             |SELECT n, round(theta, 6) AS theta, round(vy, 6) AS var_y,
             |  round(vy - 2.0 * theta * cxy + theta * theta * vx, 6)
             |    AS var_y_adj,
             |  round(1.0 - (vy - 2.0 * theta * cxy + theta * theta * vx) / vy, 6)
             |    AS var_reduction,
             |  round(mya - myb, 6) AS diff_raw,
             |  round((mya - theta * mxa) - (myb - theta * mxb), 6) AS diff_adj
             |FROM h""".stripMargin)),

    // ─── dedup aggressiveness sweep over Jaccard thresholds ─────────────
    "q385_dedup_threshold_sweep" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.thresholdSweep(Tables.documents(s, dir), "doc_id", "text",
            thresholds = Seq(0.3, 0.5, 0.7))
          .orderBy($"threshold")
      },
      Some(thresholdSweepSql(Seq(0.3, 0.5, 0.7)))),

    // ─── elbow point of the supplier revenue-concentration curve ────────
    "q386_elbow_point" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.elbowPoint(Tables.lineitem(s, dir), "l_suppkey",
          "l_extendedprice")
      },
      Some("""WITH it AS (SELECT l_suppkey AS item,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS v
             |      FROM lineitem GROUP BY 1),
             |dec AS (SELECT item,
             |        row_number() OVER (ORDER BY v DESC, item) AS rk,
             |        sum(v) OVER (ORDER BY v DESC, item) AS cum,
             |        sum(v) OVER () AS tot, count(*) OVER () AS n
             |      FROM it),
             |g AS (SELECT item, rk, n,
             |        CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) AS cs,
             |        CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) -
             |          CAST(rk AS DOUBLE) / CAST(n AS DOUBLE) AS gap
             |      FROM dec)
             |SELECT CAST(n AS BIGINT) AS n_items, rk AS elbow_rank,
             |  item AS elbow_item, round(cs, 6) AS cum_share,
             |  round(gap, 6) AS max_gap
             |FROM (SELECT *, row_number() OVER (ORDER BY gap DESC, rk) AS b
             |      FROM g) WHERE b = 1""".stripMargin)),

    // ─── E-value sensitivity to unmeasured confounding ──────────────────
    "q387_evalue" -> Q(
      (s, dir) => {
        import s.implicits._
        Market.eValue(Tables.documents(s, dir),
          treatPred = $"source".isin("src0", "src1", "src2", "src3", "src4"),
          outcomePred = $"n_chars" >= 300)
      },
      Some("""WITH m AS (SELECT
             |    CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             |    CAST(sum(CASE WHEN source IN ('src0','src1','src2','src3','src4')
             |      AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS kt,
             |    CAST(sum(CASE WHEN source NOT IN ('src0','src1','src2','src3','src4')
             |      THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             |    CAST(sum(CASE WHEN source NOT IN ('src0','src1','src2','src3','src4')
             |      AND n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS kc
             |  FROM documents),
             |f AS (SELECT nt, nc,
             |    CAST(kt AS DOUBLE) / CAST(nt AS DOUBLE) AS rt,
             |    CAST(kc AS DOUBLE) / CAST(nc AS DOUBLE) AS rc
             |  FROM m),
             |g AS (SELECT nt, nc, rt, rc, rt / rc AS rr,
             |    greatest(rt / rc, 1.0 / (rt / rc)) AS rrs FROM f)
             |SELECT nt AS n_treat, nc AS n_ctrl, round(rt, 6) AS rate_treat,
             |  round(rc, 6) AS rate_ctrl, round(rr, 6) AS rr,
             |  round(rrs + sqrt(rrs * (rrs - 1.0)), 6) AS e_value
             |FROM g""".stripMargin)),

    // ─── LSH banding planner over the measured similarity spectrum ──────
    "q388_lsh_planner" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.lshPlanner(Tables.documents(s, dir), "doc_id", "text",
            configs = Seq((4, 4), (8, 2), (16, 1)))
          .orderBy($"bands", $"rows_per_band")
      },
      Some {
        def cfg(b: Int, r: Int) = {
          val pc = (0 to 9).map(bin =>
            s"WHEN $bin THEN ${Dedup.lshCaptureProb(b, r, bin)}::DOUBLE")
            .mkString(" ")
          s"""SELECT $b AS bands, $r AS rows_per_band,
             |  CAST(sum(n) AS BIGINT) AS n_pairs,
             |  round(CAST(sum(CAST(round(CAST(n AS DOUBLE) *
             |    (CASE b $pc END), 9) AS DECIMAL(28,9))) AS DOUBLE), 6)
             |    AS expected_captured,
             |  round(CAST(sum(CAST(round(CAST(n AS DOUBLE) *
             |    (CASE b $pc END), 9) AS DECIMAL(28,9))) AS DOUBLE) /
             |    CAST(sum(n) AS DOUBLE), 6) AS expected_recall
             |FROM h""".stripMargin
        }
        s"""WITH $minhashCtes,
           |h AS (SELECT least(CAST(floor(jaccard * 10) AS INTEGER), 9) AS b,
           |        count(*) AS n
           |      FROM pairs WHERE jaccard >= 0.3 GROUP BY 1)
           |${cfg(4, 4)}
           |UNION ALL
           |${cfg(8, 2)}
           |UNION ALL
           |${cfg(16, 1)}
           |ORDER BY bands, rows_per_band""".stripMargin
      }),

    // ─── positivity / propensity-overlap audit per arm ──────────────────
    "q389_propensity_overlap" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val treat = $"source".isin("src0", "src1", "src2", "src3", "src4")
        val w = Classifier.logregFit(docs, "doc_id", "text", treat)
        val scored = Classifier.logregScore(docs, "doc_id", "text", treat, w)
        Classifier.propensityOverlap(scored, "p", $"is_target")
          .orderBy($"treated")
      },
      Some(LogregOracle.overlapSql(
        "source IN ('src0','src1','src2','src3','src4')",
        buckets = 64, iters = 3, rate = "0.02::DOUBLE"))),

    // ─── delete-one-bucket jackknife SE for a ratio metric ──────────────
    "q390_jackknife_ratio" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.jackknifeRatio(Tables.lineitem(s, dir),
          pmod($"l_orderkey", lit(20)), "l_extendedprice", "l_quantity")
      },
      Some("""WITH b AS (SELECT l_orderkey % 20 AS bk,
             |        sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sn,
             |        sum(CAST(l_quantity AS DECIMAL(18,6))) AS sd
             |      FROM lineitem GROUP BY 1),
             |t AS (SELECT count(*) AS nb, sum(sn) AS tn, sum(sd) AS td FROM b),
             |ri AS (SELECT t.nb, t.tn, t.td,
             |        (CAST(tn AS DOUBLE) - CAST(sn AS DOUBLE)) /
             |        (CAST(td AS DOUBLE) - CAST(sd AS DOUBLE)) AS r
             |      FROM b CROSS JOIN t),
             |m AS (SELECT nb, sum(CAST(round(r, 9) AS DECIMAL(18,9))) AS sr
             |      FROM ri GROUP BY 1),
             |sq AS (SELECT ri.nb, ri.tn, ri.td,
             |        CAST(round((ri.r - CAST(m.sr AS DOUBLE) / CAST(m.nb AS DOUBLE)) *
             |          (ri.r - CAST(m.sr AS DOUBLE) / CAST(m.nb AS DOUBLE)), 9)
             |          AS DECIMAL(18,9)) AS s
             |      FROM ri JOIN m ON ri.nb = m.nb),
             |agg AS (SELECT nb, tn, td, sum(s) AS ssq FROM sq GROUP BY 1, 2, 3)
             |SELECT CAST(nb AS BIGINT) AS n_buckets,
             |  round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE), 6) AS ratio,
             |  round(sqrt((CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE) *
             |    CAST(ssq AS DOUBLE)), 6) AS se_jack,
             |  round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE) -
             |    1.959963984540054 * sqrt((CAST(nb AS DOUBLE) - 1.0) /
             |    CAST(nb AS DOUBLE) * CAST(ssq AS DOUBLE)), 6) AS ci_lo,
             |  round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE) +
             |    1.959963984540054 * sqrt((CAST(nb AS DOUBLE) - 1.0) /
             |    CAST(nb AS DOUBLE) * CAST(ssq AS DOUBLE)), 6) AS ci_hi
             |FROM agg""".stripMargin)),

    // ─── doubly-robust (AIPW) treatment effect ──────────────────────────
    "q391_aipw_ate" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val treat = $"source".isin("src0", "src1", "src2", "src3", "src4")
        val w = Classifier.logregFit(docs, "doc_id", "text", treat)
        val scored = Classifier.logregScore(docs, "doc_id", "text", treat, w)
          .join(docs.select($"doc_id", $"lang", $"n_chars"), "doc_id")
        val y = $"n_chars" >= 300
        val rates = scored.groupBy($"lang").agg(
          (sum(when($"is_target" && y, 1L).otherwise(0L)).cast("double") /
            sum(when($"is_target", 1L).otherwise(0L)).cast("double"))
            .as("m1"),
          (sum(when(!$"is_target" && y, 1L).otherwise(0L)).cast("double") /
            sum(when(!$"is_target", 1L).otherwise(0L)).cast("double"))
            .as("m0"))
        Classifier.aipwEffect(scored.join(rates, "lang"), "p",
          $"is_target", y, $"m1", $"m0")
      },
      Some(LogregOracle.aipwSql(
        "source IN ('src0','src1','src2','src3','src4')",
        buckets = 64, iters = 3, rate = "0.02::DOUBLE",
        outcome = "d.n_chars >= 300"))),

    // ─── per-segment randomization tests + Benjamini–Hochberg FDR ───────
    "q392_bh_fdr" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.multiTestFdr(
          Tables.orders(s, dir)
            .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
            .select($"o_orderkey", $"c_mktsegment", $"o_totalprice"),
          "o_orderkey", "c_mktsegment", "o_totalprice",
          perms = 32, seed = 29, alpha = 0.1)
          .withColumnRenamed("group", "segment")
          .orderBy($"segment")
      },
      Some("""WITH base AS (SELECT CAST(o_orderkey AS VARCHAR) AS id,
             |        c_mktsegment AS g, CAST(o_totalprice AS DECIMAL(18,6)) AS v
             |      FROM orders JOIN customer ON o_custkey = c_custkey),
             |gs AS (SELECT g, count(*) AS ng, sum(v) AS sg FROM base GROUP BY 1),
             |tot AS (SELECT CAST(sum(ng) AS BIGINT) AS n, sum(sg) AS s FROM gs),
             |obs AS (SELECT g, ng,
             |        CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE) -
             |          (CAST(s AS DOUBLE) - CAST(sg AS DOUBLE)) /
             |          (CAST(n AS DOUBLE) - CAST(ng AS DOUBLE)) AS ob,
             |        CAST(ng AS DOUBLE) / CAST(n AS DOUBLE) AS share
             |      FROM gs CROSS JOIN tot),
             |dr AS (SELECT b.g, t.k,
             |        CAST(('0x'||substr(md5('29|'||b.g||'|'||CAST(t.k AS VARCHAR)||'|'||b.id),1,15))::BIGINT
             |          AS DOUBLE) / 1152921504606846976::DOUBLE < o.share AS tr,
             |        b.v
             |      FROM base b JOIN obs o ON o.g = b.g
             |      CROSS JOIN generate_series(0, 31) t(k)),
             |pd AS (SELECT g, k,
             |        CAST(sum(CASE WHEN tr THEN v END) AS DOUBLE) /
             |          CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS DOUBLE) -
             |        CAST(sum(CASE WHEN NOT tr THEN v END) AS DOUBLE) /
             |          CAST(sum(CASE WHEN NOT tr THEN 1 ELSE 0 END) AS DOUBLE)
             |          AS pd
             |      FROM dr GROUP BY 1, 2),
             |pv AS (SELECT pd.g, max(o.ob) AS ob, count(*) AS np,
             |        CAST(sum(CASE WHEN abs(pd.pd) >= abs(o.ob)
             |          THEN 1 ELSE 0 END) AS BIGINT) AS ne
             |      FROM pd JOIN obs o ON o.g = pd.g GROUP BY 1),
             |rk AS (SELECT g, ob,
             |        CAST(ne + 1 AS DOUBLE) / CAST(np + 1 AS DOUBLE) AS p,
             |        row_number() OVER (ORDER BY
             |          CAST(ne + 1 AS DOUBLE) / CAST(np + 1 AS DOUBLE), g)
             |          AS p_rank
             |      FROM pv),
             |qv AS (SELECT g, ob, p, p_rank,
             |        min(least(1.0, p * 5.0 / CAST(p_rank AS DOUBLE))) OVER
             |          (ORDER BY p_rank DESC
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q
             |      FROM rk)
             |SELECT g AS segment, round(ob, 6) AS obs_diff,
             |  round(p, 6) AS p_value, p_rank, round(q, 6) AS q_value,
             |  q <= 0.1 AS reject
             |FROM qv ORDER BY segment""".stripMargin)),

    // ─── transitive-closure cluster-coherence audit ─────────────────────
    "q393_cluster_coherence" -> Q(
      (s, dir) => {
        import s.implicits._
        Dedup.clusterCoherence(Tables.documents(s, dir), "doc_id", "text",
            threshold = 0.5)
          .orderBy($"size_bucket")
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
              |sz AS (SELECT cluster_id, count(*) AS s FROM cl GROUP BY 1
              |       HAVING count(*) >= 2),
              |intra AS (SELECT p.jaccard, ca.cluster_id, sz.s
              |      FROM pairs p
              |      JOIN cl ca ON p.id_a = ca.doc_id
              |      JOIN cl cb ON p.id_b = cb.doc_id
              |      JOIN sz ON sz.cluster_id = ca.cluster_id
              |      WHERE ca.cluster_id = cb.cluster_id)
              |SELECT CASE WHEN s = 2 THEN '2' WHEN s <= 4 THEN '3-4'
              |         ELSE '5+' END AS size_bucket,
              |  count(DISTINCT cluster_id) AS n_clusters,
              |  count(*) AS n_pairs,
              |  round(CAST(sum(CAST(round(jaccard, 9) AS DECIMAL(18,9)))
              |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS mean_jaccard,
              |  round(min(jaccard), 6) AS min_jaccard
              |FROM intra GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── DKW sample-size bounds per language ────────────────────────────
    "q394_dkw_bounds" -> Q(
      (s, dir) => {
        import s.implicits._
        Profile.dkwBounds(Tables.documents(s, dir), "lang",
            delta = 0.05, targetEps = 0.01)
          .withColumnRenamed("group", "lang")
          .orderBy($"lang")
      },
      Some {
        val c = math.log(2.0 / 0.05)
        val nReq = math.ceil(c / (2.0 * 0.01 * 0.01)).toLong
        s"""SELECT lang, count(*) AS n,
           |  round(sqrt($c / (2.0 * CAST(count(*) AS DOUBLE))), 6)
           |    AS eps_at_delta,
           |  CAST($nReq AS BIGINT) AS n_required,
           |  count(*) >= $nReq AS sufficient
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // ─── per-channel pixel stats from the REAL PPM decode ───────────────
    // The feature-extract stage over decoded pixels: exact per-channel
    // unsigned-byte sums across all frames + round-6 means. Oracle
    // recomputes the generator's closed form per channel (i ≡ c mod 3).
    "q395_ppm_channel_stats" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.decodeImageStats(
            Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w,
             |        4 + (7*doc_id) % 11 AS h, 1 + doc_id % 4 AS nf
             |      FROM documents),
             |e AS (SELECT doc_id, w, h, nf,
             |        unnest(generate_series(0, nf - 1)) AS f FROM d),
             |px AS (SELECT doc_id, w, h, nf, f,
             |        unnest(generate_series(0, 3*w*h - 1)) AS i FROM e),
             |s AS (SELECT doc_id, CAST(nf*w*h AS BIGINT) AS n_pixels,
             |        CAST(sum(CASE WHEN i % 3 = 0
             |          THEN (31*doc_id + 97*f + i) % 256 END) AS BIGINT) AS sum_r,
             |        CAST(sum(CASE WHEN i % 3 = 1
             |          THEN (31*doc_id + 97*f + i) % 256 END) AS BIGINT) AS sum_g,
             |        CAST(sum(CASE WHEN i % 3 = 2
             |          THEN (31*doc_id + 97*f + i) % 256 END) AS BIGINT) AS sum_b
             |      FROM px GROUP BY 1, 2)
             |SELECT doc_id, n_pixels, sum_r, sum_g, sum_b,
             |  round(CAST(sum_r AS DOUBLE) / CAST(n_pixels AS DOUBLE), 6) AS mean_r,
             |  round(CAST(sum_g AS DOUBLE) / CAST(n_pixels AS DOUBLE), 6) AS mean_g,
             |  round(CAST(sum_b AS DOUBLE) / CAST(n_pixels AS DOUBLE), 6) AS mean_b
             |FROM s ORDER BY doc_id""".stripMargin)),

    // ─── WAV decode: RIFF chunk walk + PCM sample stats ─────────────────
    // synthesizeWav writes real RIFF/WAVE/fmt/data bytes; decodeWavBatch
    // walks the chunks and folds the 16-bit LE samples. The oracle
    // recomputes the sample formula — a green row proves the byte-level
    // parse (chunk offsets, endianness, signedness) is right.
    "q396_wav_decode" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.decodeWavBatch(
            Multimodal.synthesizeWav(Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 32 AS n FROM documents),
             |e AS (SELECT doc_id, n,
             |        (13*doc_id + 7*unnest(generate_series(0, n - 1))) % 65536
             |          - 32768 AS v
             |      FROM d)
             |SELECT doc_id, 8000 AS sample_rate, 1 AS n_channels,
             |  16 AS bits_per_sample, CAST(max(n) AS BIGINT) AS n_samples,
             |  CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
             |  CAST(max(abs(v)) AS INTEGER) AS peak
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── ROUGE-2 per candidate/reference pair ───────────────────────────
    // Eval plumbing: clipped bigram overlap between each doc and its
    // successor (deterministic pairing — the METRIC is the operator).
    "q397_rouge2" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = docs.select($"doc_id", $"text".as("cand"))
          .join(docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("ref")),
            "doc_id")
        EvalMetrics.rougeN(pairs, "doc_id", "cand", "ref", n = 2)
          .withColumnRenamed("pair", "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH p AS (SELECT a.doc_id,
             |        list_filter(string_split(lower(a.text), ' '),
             |          t -> len(t) > 0) AS ct,
             |        list_filter(string_split(lower(b.text), ' '),
             |          t -> len(t) > 0) AS rt
             |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
             |cg AS (SELECT doc_id, g, count(*) AS c FROM (
             |        SELECT doc_id, unnest(list_transform(range(1, len(ct)),
             |          i -> ct[i] || ' ' || ct[i+1])) AS g
             |        FROM p) GROUP BY 1, 2),
             |rg AS (SELECT doc_id, g, count(*) AS c FROM (
             |        SELECT doc_id, unnest(list_transform(range(1, len(rt)),
             |          i -> rt[i] || ' ' || rt[i+1])) AS g
             |        FROM p) GROUP BY 1, 2),
             |ov AS (SELECT cg.doc_id, CAST(sum(least(cg.c, rg.c)) AS BIGINT) AS ov
             |      FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.g = rg.g
             |      GROUP BY 1),
             |ct AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nc FROM cg GROUP BY 1),
             |rt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nr FROM rg GROUP BY 1),
             |j AS (SELECT p.doc_id, coalesce(nc, 0) AS n_cand,
             |        coalesce(nr, 0) AS n_ref, coalesce(ov, 0) AS n_overlap
             |      FROM p LEFT JOIN ct USING (doc_id)
             |        LEFT JOIN rt USING (doc_id) LEFT JOIN ov USING (doc_id))
             |SELECT doc_id, n_cand, n_ref, n_overlap,
             |  CASE WHEN n_cand > 0 THEN round(CAST(n_overlap AS DOUBLE) /
             |    CAST(n_cand AS DOUBLE), 6) END AS precision,
             |  CASE WHEN n_ref > 0 THEN round(CAST(n_overlap AS DOUBLE) /
             |    CAST(n_ref AS DOUBLE), 6) END AS recall,
             |  CASE WHEN n_overlap > 0 THEN round(
             |    2.0 * (CAST(n_overlap AS DOUBLE) / CAST(n_cand AS DOUBLE)) *
             |      (CAST(n_overlap AS DOUBLE) / CAST(n_ref AS DOUBLE)) /
             |      (CAST(n_overlap AS DOUBLE) / CAST(n_cand AS DOUBLE) +
             |       CAST(n_overlap AS DOUBLE) / CAST(n_ref AS DOUBLE)), 6)
             |  ELSE 0.0::DOUBLE END AS f1
             |FROM j ORDER BY doc_id""".stripMargin)),

    // ─── corpus-level BLEU-4 with brevity penalty ───────────────────────
    // Clipped counts are SUMMED over the corpus before each ratio (the
    // Papineni corpus definition, not a mean of sentence BLEUs); the
    // ln/exp composition runs on round-9 ratios (the LM discipline).
    "q398_corpus_bleu" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = docs.select($"doc_id", $"text".as("cand"))
          .join(docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("ref")),
            "doc_id")
        EvalMetrics.corpusBleu(pairs, "doc_id", "cand", "ref", maxN = 4)
      },
      Some {
        def grams(src: String, n: Int): String =
          if (n == 1) s"SELECT doc_id, unnest($src) AS g FROM p"
          else {
            val parts = (0 until n).map(j =>
              if (j == 0) s"$src[i]" else s"$src[i+$j]").mkString(" || ' ' || ")
            s"SELECT doc_id, unnest(list_transform(range(1, len($src) - ${n - 2}), i -> $parts)) AS g FROM p"
          }
        val perN = (1 to 4).map { n =>
          s"""cg$n AS (SELECT doc_id, g, count(*) AS c FROM (${grams("ct", n)}) GROUP BY 1, 2),
             |rg$n AS (SELECT doc_id, g, count(*) AS c FROM (${grams("rt", n)}) GROUP BY 1, 2),
             |pn$n AS (SELECT round(
             |    CAST((SELECT coalesce(sum(least(cg$n.c, rg$n.c)), 0) FROM cg$n
             |          JOIN rg$n ON cg$n.doc_id = rg$n.doc_id AND cg$n.g = rg$n.g) AS DOUBLE) /
             |    CAST((SELECT coalesce(sum(c), 0) FROM cg$n) AS DOUBLE), 9) AS p_$n)""".stripMargin
        }.mkString(",\n")
        s"""WITH p AS (SELECT a.doc_id,
           |        list_filter(string_split(lower(a.text), ' '),
           |          t -> len(t) > 0) AS ct,
           |        list_filter(string_split(lower(b.text), ' '),
           |          t -> len(t) > 0) AS rt
           |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
           |$perN,
           |lens AS (SELECT CAST(sum(len(ct)) AS BIGINT) AS cand_len,
           |        CAST(sum(len(rt)) AS BIGINT) AS ref_len FROM p),
           |j AS (SELECT * FROM lens CROSS JOIN pn1 CROSS JOIN pn2 CROSS JOIN pn3 CROSS JOIN pn4),
           |b AS (SELECT *, least(1.0::DOUBLE, round(exp(1.0 -
           |        CAST(ref_len AS DOUBLE) / CAST(cand_len AS DOUBLE)), 9)) AS bp
           |      FROM j)
           |SELECT CASE WHEN p_1 = 0.0 OR p_2 = 0.0 OR p_3 = 0.0 OR p_4 = 0.0
           |    THEN 0.0::DOUBLE
           |    ELSE round(bp * exp((ln(p_1) + ln(p_2) + ln(p_3) + ln(p_4)) / 4), 6)
           |  END AS bleu, bp, cand_len, ref_len, p_1, p_2, p_3, p_4
           |FROM b""".stripMargin
      }),

    // ─── distinct-n decode diversity per language ───────────────────────
    "q399_distinct_n" -> Q(
      (s, dir) => {
        import s.implicits._
        EvalMetrics.distinctN(Tables.documents(s, dir), "lang", "text", n = 2)
          .withColumnRenamed("group", "lang")
          .orderBy($"lang")
      },
      Some("""WITH d AS (SELECT lang, list_filter(
             |        string_split(lower(text), ' '), t -> len(t) > 0) AS tk
             |      FROM documents),
             |g AS (SELECT lang, unnest(list_transform(range(1, len(tk)),
             |        i -> tk[i] || ' ' || tk[i+1])) AS g
             |      FROM d)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_grams,
             |  CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
             |  round(CAST(count(DISTINCT g) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 6) AS distinct_ratio
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── corpus-level chrF over character n-grams ───────────────────────
    // Popović 2015 with β = 2 (recall-weighted); per-level corpus
    // precision/recall means, whitespace stripped. n = 1..3 at the gate.
    // The gate scores an EVAL-SET slice (doc_id < 2000) — chrF is an
    // eval-set metric by usage, and char grams are ~5× denser than word
    // grams (the full-corpus heavy representative stays q398).
    "q400_chrf" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir).filter($"doc_id" < 2000)
        val pairs = docs.select($"doc_id", $"text".as("cand"))
          .join(docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("ref")),
            "doc_id")
        EvalMetrics.chrF(pairs, "doc_id", "cand", "ref", maxN = 3, beta = 2.0)
      },
      Some {
        def lvl(n: Int): String =
          s"""cg$n AS (SELECT doc_id, g, count(*) AS c FROM (
             |        SELECT doc_id, substr(cs, i, $n) AS g FROM p,
             |          unnest(range(1, len(cs) - ${n - 2})) t(i)
             |        WHERE len(cs) >= $n) GROUP BY 1, 2),
             |rg$n AS (SELECT doc_id, g, count(*) AS c FROM (
             |        SELECT doc_id, substr(rs, i, $n) AS g FROM p,
             |          unnest(range(1, len(rs) - ${n - 2})) t(i)
             |        WHERE len(rs) >= $n) GROUP BY 1, 2),
             |pr$n AS (SELECT
             |    CASE WHEN (SELECT coalesce(sum(c), 0) FROM cg$n) > 0
             |      THEN round(CAST((SELECT coalesce(sum(least(cg$n.c, rg$n.c)), 0)
             |          FROM cg$n JOIN rg$n
             |          ON cg$n.doc_id = rg$n.doc_id AND cg$n.g = rg$n.g) AS DOUBLE) /
             |        CAST((SELECT coalesce(sum(c), 0) FROM cg$n) AS DOUBLE), 9)
             |      ELSE 0.0::DOUBLE END AS p_$n,
             |    CASE WHEN (SELECT coalesce(sum(c), 0) FROM rg$n) > 0
             |      THEN round(CAST((SELECT coalesce(sum(least(cg$n.c, rg$n.c)), 0)
             |          FROM cg$n JOIN rg$n
             |          ON cg$n.doc_id = rg$n.doc_id AND cg$n.g = rg$n.g) AS DOUBLE) /
             |        CAST((SELECT coalesce(sum(c), 0) FROM rg$n) AS DOUBLE), 9)
             |      ELSE 0.0::DOUBLE END AS r_$n)""".stripMargin
        s"""WITH p AS (SELECT a.doc_id,
           |        regexp_replace(lower(a.text), '\\s+', '', 'g') AS cs,
           |        regexp_replace(lower(b.text), '\\s+', '', 'g') AS rs
           |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
           |      WHERE a.doc_id < 2000 AND b.doc_id < 2000),
           |${(1 to 3).map(lvl).mkString(",\n")},
           |j AS (SELECT round((p_1 + p_2 + p_3) / 3, 6) AS chr_p,
           |        round((r_1 + r_2 + r_3) / 3, 6) AS chr_r
           |      FROM pr1 CROSS JOIN pr2 CROSS JOIN pr3)
           |SELECT CASE WHEN chr_p + chr_r > 0
           |    THEN round(5.0 * chr_p * chr_r / (4.0 * chr_p + chr_r), 6)
           |    ELSE 0.0::DOUBLE END AS chrf, chr_p, chr_r
           |FROM j""".stripMargin
      }),

    // ─── l-diversity audit (homogeneity-attack screen next to q248) ─────
    // Same QI tuple as the k-anonymity gate; sensitive attribute =
    // source (|S| = 20, nominal). Entropy terms are 9-dp fixed point
    // summed as DECIMAL; exp(min H) = min exp(H) by monotonicity.
    "q402_l_diversity" -> Q(
      (s, dir) => {
        import s.implicits._
        // doc-level decile QI: distributed ntile over the corpus
        val qi = Ranks.withNtile(Tables.documents(s, dir),
          "len_decile", 10, $"n_chars", $"doc_id")
        Profile.lDiversity(qi, Seq("lang", "len_decile"), "source", l = 5L)
      },
      Some("""WITH qi AS (SELECT lang,
             |        CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS len_decile,
             |        source FROM documents),
             |gs AS (SELECT lang, len_decile, source, count(*) AS c
             |      FROM qi GROUP BY 1, 2, 3),
             |wn AS (SELECT *, sum(c) OVER (PARTITION BY lang, len_decile) AS n
             |      FROM gs),
             |per AS (SELECT lang, len_decile, count(*) AS d,
             |        sum(CAST(round((0.0 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |            ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)), 9)
             |          AS DECIMAL(18,9))) AS h
             |      FROM wn GROUP BY 1, 2)
             |SELECT count(*) AS n_groups, min(d) AS distinct_l,
             |  sum(CASE WHEN d < 5 THEN 1 ELSE 0 END)::BIGINT AS n_groups_below_l,
             |  round(exp(CAST(min(h) AS DOUBLE)), 6) AS entropy_l
             |FROM per""".stripMargin)),

    // ─── t-closeness audit (distribution-skew screen, third rung) ───────
    // Nominal sensitive attribute ⇒ total-variation distance over the
    // FULL source domain per QI group (absent values contribute their
    // global mass via the group×domain grid).
    "q403_t_closeness" -> Q(
      (s, dir) => {
        import s.implicits._
        // doc-level decile QI: distributed ntile over the corpus
        val qi = Ranks.withNtile(Tables.documents(s, dir),
          "len_decile", 10, $"n_chars", $"doc_id")
        Profile.tCloseness(qi, Seq("lang", "len_decile"), "source", t = 0.5)
      },
      Some("""WITH qi AS (SELECT lang,
             |        CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INTEGER) AS len_decile,
             |        source FROM documents),
             |gs AS (SELECT lang, len_decile, source, count(*) AS c
             |      FROM qi GROUP BY 1, 2, 3),
             |gt AS (SELECT lang, len_decile, sum(c) AS n FROM gs GROUP BY 1, 2),
             |gl AS (SELECT source, count(*) AS cs FROM documents GROUP BY 1),
             |nt AS (SELECT count(*) AS nn FROM documents),
             |grid AS (SELECT gt.lang, gt.len_decile, gt.n, gl.source, gl.cs,
             |        coalesce(gs.c, 0) AS c
             |      FROM gt CROSS JOIN gl LEFT JOIN gs
             |        ON gs.lang = gt.lang AND gs.len_decile = gt.len_decile
             |       AND gs.source = gl.source),
             |per AS (SELECT lang, len_decile,
             |        CAST(sum(CAST(round(abs(CAST(c AS DOUBLE) / CAST(n AS DOUBLE) -
             |            CAST(cs AS DOUBLE) / CAST(nn AS DOUBLE)), 9)
             |          AS DECIMAL(18,9))) AS DOUBLE) / 2.0 AS tvd
             |      FROM grid CROSS JOIN nt GROUP BY 1, 2)
             |SELECT count(*) AS n_groups, round(max(tvd), 6) AS max_tvd,
             |  sum(CASE WHEN tvd > 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_groups_above_t
             |FROM per""".stripMargin)),

    // ─── Newman modularity of the CC partition of the near-dup graph ────
    // Composes the gated q25 pair chain and q70 clustering, then scores
    // the partition: is the dup structure real or random wiring?
    "q404_modularity" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
          .localCheckpoint(false) // consumed by CC AND as the edge list
        val cc = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id",
          pairs.select($"id_a", $"id_b"))
        Graph.modularity(pairs, "id_a", "id_b", cc, "id", "label")
      },
      Some(s"""WITH RECURSIVE $clusterCtes,
             |ed AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
             |mm AS (SELECT count(*) AS m FROM ed),
             |intra AS (SELECT ca.cluster_id AS c, count(*) AS lc
             |      FROM ed JOIN cl ca ON ed.id_a = ca.doc_id
             |              JOIN cl cb ON ed.id_b = cb.doc_id
             |      WHERE ca.cluster_id = cb.cluster_id GROUP BY 1),
             |dg AS (SELECT v, count(*) AS d FROM (
             |        SELECT id_a AS v FROM ed
             |        UNION ALL SELECT id_b FROM ed) GROUP BY 1),
             |degc AS (SELECT cl.cluster_id AS c, sum(dg.d) AS dc
             |      FROM dg JOIN cl ON dg.v = cl.doc_id GROUP BY 1),
             |per AS (SELECT CAST(round(
             |          CAST(coalesce(lc, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE) -
             |          (CAST(dc AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE))) *
             |          (CAST(dc AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE))), 9)
             |        AS DECIMAL(18,9)) AS t
             |      FROM degc LEFT JOIN intra ON degc.c = intra.c CROSS JOIN mm)
             |SELECT (SELECT m FROM mm)::BIGINT AS n_edges,
             |  count(*) AS n_communities,
             |  round(CAST(sum(t) AS DOUBLE), 6) AS modularity
             |FROM per""".stripMargin)),

    // ─── HITS hubs/authorities on the customer→part purchase graph ──────
    // Bipartite mutual reinforcement (breadth-buyers ↔ widely-bought
    // parts) — integer fixed-point, L1-normalized; oracle unrolls both
    // half-steps per iteration.
    "q405_hits" -> Q(
      (s, dir) => {
        import s.implicits._
        val e = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
          .join(Tables.lineitem(s, dir)
            .select($"l_orderkey".as("o_orderkey"), $"l_partkey"),
            "o_orderkey")
          .select($"o_custkey".as("src"), $"l_partkey".as("dst"))
          .distinct()
        Graph.hits(e, iters = 3, scale = 1L << 20)
          .orderBy($"kind", $"id")
      },
      Some(hitsSql(iters = 3, scale = 1L << 20))),

    // ─── deterministic synchronous label propagation communities ────────
    // The cheap community pass next to q70's exact CC: plurality labels,
    // (count desc, label asc) tie-break, 3 synchronous rounds.
    "q406_label_propagation" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.5)
        val sym = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
          .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
        Graph.labelPropagation(docs.select($"doc_id"), "doc_id", sym,
            iters = 3)
          .orderBy($"doc_id")
      },
      Some(lpaSql(iters = 3))),

    // ─── SQuAD-style eval: exact-match rate + mean token F1 ─────────────
    // Same adjacent-doc eval pairing as q397/q400; F1 is the q397 n=1
    // per-pair value, EM compares whitespace-normalized strings.
    "q407_squad_eval" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = docs.select($"doc_id", $"text".as("cand"))
          .join(docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("ref")),
            "doc_id")
        EvalMetrics.squadEval(pairs, "doc_id", "cand", "ref")
      },
      Some("""WITH p AS (SELECT a.doc_id, lower(a.text) AS cand,
             |        lower(b.text) AS ref,
             |        list_filter(string_split(lower(a.text), ' '),
             |          t -> len(t) > 0) AS ctk,
             |        list_filter(string_split(lower(b.text), ' '),
             |          t -> len(t) > 0) AS rtk
             |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
             |cg AS (SELECT doc_id, g, count(*) AS c FROM (
             |        SELECT doc_id, unnest(ctk) AS g
             |        FROM p) GROUP BY 1, 2),
             |rg AS (SELECT doc_id, g, count(*) AS c FROM (
             |        SELECT doc_id, unnest(rtk) AS g
             |        FROM p) GROUP BY 1, 2),
             |ov AS (SELECT cg.doc_id, CAST(sum(least(cg.c, rg.c)) AS BIGINT) AS ov
             |      FROM cg JOIN rg ON cg.doc_id = rg.doc_id AND cg.g = rg.g
             |      GROUP BY 1),
             |ct AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nc FROM cg GROUP BY 1),
             |rt AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nr FROM rg GROUP BY 1),
             |f AS (SELECT p.doc_id,
             |        CASE WHEN coalesce(ov, 0) > 0 THEN round(
             |          2.0 * (CAST(ov AS DOUBLE) / CAST(nc AS DOUBLE)) *
             |            (CAST(ov AS DOUBLE) / CAST(nr AS DOUBLE)) /
             |            (CAST(ov AS DOUBLE) / CAST(nc AS DOUBLE) +
             |             CAST(ov AS DOUBLE) / CAST(nr AS DOUBLE)), 6)
             |        ELSE 0.0::DOUBLE END AS f1,
             |        CASE WHEN regexp_replace(trim(cand), '\s+', ' ', 'g') =
             |          regexp_replace(trim(ref), '\s+', ' ', 'g')
             |          THEN 1 ELSE 0 END AS em
             |      FROM p LEFT JOIN ct USING (doc_id)
             |        LEFT JOIN rt USING (doc_id) LEFT JOIN ov USING (doc_id))
             |SELECT count(*) AS n_pairs, sum(em)::BIGINT AS n_exact,
             |  round(CAST(sum(em) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             |    AS em_rate,
             |  round(CAST(sum(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 6) AS mean_f1
             |FROM f""".stripMargin)),

    // ─── WordPiece fertility per language (BERT-style greedy tokenizer) ─
    // Frequency-first vocab (all singles + top-20 multis, len ≤ 4), then
    // greedy longest-match over DISTINCT words; oracle replays the greedy
    // loop as a recursive CTE with the 4 match lengths unrolled.
    "q408_wordpiece_fertility" -> Q(
      (s, dir) =>
        Wordpiece.fertility(Tables.documents(s, dir), "lang", "text",
          maxLen = 4, topMulti = 20),
      Some {
        def unit(l: Int) =
          s"(CASE WHEN pos = 1 THEN substr(word, pos, $l) " +
            s"ELSE '##' || substr(word, pos, $l) END)"
        val best = (4 to 2 by -1).map { l =>
          s"WHEN pos + ${l - 1} <= len AND ${unit(l)} IN " +
            s"(SELECT unit FROM vocab) THEN $l"
        }.mkString("\n             |          ")
        s"""WITH RECURSIVE
           |wc AS (SELECT lang, word, count(*)::BIGINT AS freq FROM (
           |        SELECT lang, unnest(string_split(lower(text), ' ')) AS word
           |        FROM documents) WHERE length(word) > 0 GROUP BY 1, 2),
           |wf AS (SELECT word, sum(freq)::BIGINT AS freq FROM wc GROUP BY 1),
           |idx AS (SELECT unnest(range(1,
           |          (SELECT max(length(word)) FROM wf) + 1))::INTEGER AS i),
           |lens AS (SELECT unnest([1, 2, 3, 4]) AS l),
           |units AS (SELECT CASE WHEN i = 1 THEN substr(word, i, l)
           |          ELSE '##' || substr(word, i, l) END AS unit,
           |        l, sum(freq) AS cnt
           |      FROM wf JOIN idx ON i <= length(word)
           |        JOIN lens ON i + l - 1 <= length(word)
           |      GROUP BY 1, 2),
           |vocab AS (SELECT DISTINCT unit FROM (
           |        SELECT unit FROM units WHERE l = 1
           |        UNION ALL
           |        SELECT unit FROM (SELECT unit FROM units WHERE l >= 2
           |          ORDER BY cnt DESC, unit ASC LIMIT 20))),
           |seg AS (SELECT word, length(word) AS len, 1 AS pos,
           |          0::BIGINT AS ntok FROM wf
           |      UNION ALL
           |      SELECT word, len,
           |        pos + CASE
           |          $best
           |          ELSE 1 END,
           |        ntok + 1
           |      FROM seg WHERE pos <= len),
           |done AS (SELECT word, ntok AS n_tokens FROM seg WHERE pos > len)
           |SELECT lang, sum(freq)::BIGINT AS n_words,
           |  sum(freq * n_tokens)::BIGINT AS n_tokens,
           |  round(CAST(sum(freq * n_tokens) AS DOUBLE) /
           |    CAST(sum(freq) AS DOUBLE), 6) AS fertility,
           |  round(CAST(sum(CASE WHEN n_tokens = 1 THEN freq ELSE 0 END)
           |      AS DOUBLE) / CAST(sum(freq) AS DOUBLE), 6)
           |    AS single_token_share
           |FROM wc JOIN done USING (word) GROUP BY lang""".stripMargin
      }),

    // ─── simplified silhouette over the gated k-means fit ───────────────
    // Clustering-quality audit closing the q89 family: per-vector own-
    // centroid vs runner-up-centroid cosine distance, centroid O(nk)
    // form (the pairwise O(n²) silhouette's 100 TB substitute). The
    // oracle replays the fit via KmeansOracle.ctes, ranks sfin per
    // vector, and folds s through the same 2^40 fixed-point mean.
    "q409_silhouette" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
          k = 8, iters = 2)
        Similarity.silhouette(emb, "vec_id", "embedding", cents)
      },
      Some(s"""WITH ${KmeansOracle.ctes(k = 8, iters = 2, dim = 64)},
              |srt AS (SELECT vec_id, cell, csim, row_number() OVER
              |          (PARTITION BY vec_id ORDER BY csim DESC, cell ASC) AS rn
              |        FROM sfin),
              |ab AS (SELECT x1.vec_id, x1.cell,
              |         1.0::DOUBLE - x1.csim AS a, 1.0::DOUBLE - x2.csim AS b
              |       FROM srt x1 JOIN srt x2
              |         ON x1.vec_id = x2.vec_id AND x1.rn = 1 AND x2.rn = 2),
              |sv AS (SELECT cell, CASE WHEN greatest(a, b) > 0
              |         THEN (b - a) / greatest(a, b) ELSE 0.0::DOUBLE END AS s
              |       FROM ab)
              |SELECT cell, count(*)::BIGINT AS n,
              |  round(CAST(sum(CAST(round(s * 1099511627776::DOUBLE) AS BIGINT)) AS DOUBLE)
              |    / 1099511627776::DOUBLE / count(*), 6) AS mean_silhouette
              |FROM sv GROUP BY cell ORDER BY cell""".stripMargin)),

    // ─── Davies–Bouldin index over the same fit ─────────────────────────
    // Separation read from centroid geometry: S_i = fixed-point mean
    // member distance, M_ij = driver-literal centroid distance matrix,
    // R_i = max_{j≠i} (S_i+S_j)/M_ij. Oracle recomputes M from c2's
    // double-widened centroid lists with the identical ascending fold.
    "q410_davies_bouldin" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
          k = 8, iters = 2)
        Similarity.daviesBouldin(emb, "vec_id", "embedding", cents)
      },
      Some {
        val cosCc =
          """list_reduce(list_transform(list_zip(a.cvec, b.cvec), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
            |  (sqrt(list_reduce(list_transform(a.cvec, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)) *
            |   sqrt(list_reduce(list_transform(b.cvec, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)))""".stripMargin
        s"""WITH ${KmeansOracle.ctes(k = 8, iters = 2, dim = 64)},
           |ad AS (SELECT a.vec_id, a.cell, 1.0::DOUBLE - s.csim AS d
           |       FROM afin a JOIN sfin s
           |         ON s.vec_id = a.vec_id AND s.cell = a.cell),
           |si AS (SELECT cell, count(*)::BIGINT AS n,
           |         CAST(sum(CAST(round(d * 1099511627776::DOUBLE) AS BIGINT)) AS DOUBLE)
           |           / 1099511627776::DOUBLE / count(*) AS s
           |       FROM ad GROUP BY cell),
           |mm AS (SELECT a.cell AS cell, b.cell AS cj,
           |         1.0::DOUBLE - ($cosCc) AS m
           |       FROM c2 a JOIN c2 b ON a.cell <> b.cell),
           |rr AS (SELECT si.cell, max((si.s + sj.s) / mm.m) AS r
           |       FROM si JOIN mm ON mm.cell = si.cell AND mm.m > 0
           |         JOIN si sj ON sj.cell = mm.cj
           |       GROUP BY si.cell)
           |SELECT si.cell, si.n, round(si.s, 6) AS s_intra, round(rr.r, 6) AS r_db
           |FROM si JOIN rr USING (cell) ORDER BY cell""".stripMargin
      }),

    // ─── TextRank keywords (co-occurrence graph + gated PageRank) ───────
    // Mihalcea & Tarau '04 over the documents table: length-≥4 candidate
    // words, distinct canonical window-2 co-occurrence edges, 3 integer
    // fixed-point PageRank rounds, top-20 (rank desc, word asc).
    "q411_textrank" -> Q(
      (s, dir) =>
        TextStats.textRankKeywords(Tables.documents(s, dir), "doc_id", "text",
          minLen = 4, window = 2, iters = 3, topK = 20),
      Some(textRankSql(iters = 3, minLen = 4, window = 2, topK = 20))),

    // ─── multi-source BFS hop distance over the near-dup graph ──────────
    // Distance from the doc_id % 50 == 0 seed set through the q103/q406
    // minhash pair graph, capped at 3 hops (-1 = unreached) — "how close
    // is every document to a known-bad seed" in dedup forensics.
    "q412_bfs_distance" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
          numHashes = 16, bands = 8, shingleK = 3, threshold = 0.3)
        val sym = pairs.select($"id_a".as("src"), $"id_b".as("dst"))
          .union(pairs.select($"id_b".as("src"), $"id_a".as("dst")))
        Graph.bfsDistances(docs.select($"doc_id"), "doc_id",
            $"doc_id" % 50 === 0, sym, maxHops = 3)
          .orderBy($"doc_id")
      },
      Some(bfsSql(maxHops = 3))),

    // ─── Adamic–Adar link prediction over the near-dup graph ────────────
    // Non-adjacent doc pairs ranked by shared-neighbor evidence — the
    // "these two SHOULD have matched" audit for LSH band misses.
    "q413_adamic_adar" -> Q(
      (s, dir) => {
        Graph.adamicAdar(
          Dedup.rareShingleEdges(Tables.documents(s, dir), "doc_id", "text"),
          "id_a", "id_b", topK = 20)
      },
      Some(adamicAdarSql(topK = 20))),

    // ─── Flesch reading ease per document ───────────────────────────────
    "q414_flesch" -> Q(
      (s, dir) =>
        TextStats.fleschStats(Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH t AS (SELECT doc_id, text, lower(text) AS lt FROM documents),
             |c AS (SELECT doc_id,
             |    len(list_filter(regexp_split_to_array(lt, '\s+'),
             |        w -> length(w) > 0)) AS nw,
             |    greatest(1, len(list_filter(regexp_split_to_array(text, '[.!?]+'),
             |        x -> length(trim(x)) > 0))) AS ns,
             |    len(regexp_extract_all(lt, '[aeiouy]+')) +
             |      len(list_filter(list_filter(regexp_split_to_array(lt, '\s+'),
             |          w -> length(w) > 0),
             |        w -> NOT regexp_matches(w, '[aeiouy]'))) AS sy
             |  FROM t)
             |SELECT doc_id, CAST(ns AS BIGINT) AS n_sentences,
             |  CAST(nw AS BIGINT) AS n_words, CAST(sy AS BIGINT) AS n_syllables,
             |  CASE WHEN nw > 0 THEN round(206.835::DOUBLE
             |      - 1.015::DOUBLE * (nw::DOUBLE / ns::DOUBLE)
             |      - 84.6::DOUBLE * (sy::DOUBLE / nw::DOUBLE), 6)
             |    ELSE 0.0::DOUBLE END AS flesch
             |FROM c ORDER BY doc_id""".stripMargin)),

    // ─── term burstiness (VMR of per-doc counts, top-20 terms) ──────────
    "q415_burstiness" -> Q(
      (s, dir) =>
        TextStats.termBurstiness(Tables.documents(s, dir), "doc_id", "text",
          topK = 20),
      Some("""WITH n AS (SELECT count(*) AS nd FROM documents),
             |c AS (SELECT term, doc_id, count(*) AS c FROM (
             |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
             |    FROM documents)
             |  WHERE length(term) > 0 GROUP BY 1, 2),
             |st AS (SELECT term, CAST(sum(c) AS BIGINT) AS freq,
             |    count(*)::BIGINT AS n_docs, CAST(sum(c * c) AS BIGINT) AS s2
             |  FROM c GROUP BY term)
             |SELECT term, freq, n_docs,
             |  round((s2::DOUBLE / nd::DOUBLE
             |      - (freq::DOUBLE / nd::DOUBLE) * (freq::DOUBLE / nd::DOUBLE))
             |    / (freq::DOUBLE / nd::DOUBLE), 6) AS vmr
             |FROM st CROSS JOIN n ORDER BY freq DESC, term LIMIT 20""".stripMargin)),

    // ─── REAL nearest-neighbor ÷2 downsample over decoded PPM frames ────
    // decodeSampled strides the raster during the parse (no raster
    // materialization); the oracle recomputes the pixel formula at the
    // STRIDED indexes — a green row proves the resize indexing, not just
    // the parse. Out dims per frame: ⌈w/2⌉ × ⌈h/2⌉.
    "q416_ppm_downsample" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.downsampleStats(
            Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"),
            "doc_id", factor = 2)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w,
             |        4 + (7*doc_id) % 11 AS h, 1 + doc_id % 4 AS nf
             |      FROM documents),
             |e AS (SELECT doc_id, w, h, nf,
             |        unnest(generate_series(0, nf - 1)) AS f FROM d),
             |ox AS (SELECT doc_id, w, h, f,
             |        unnest(generate_series(0, (w + 1) // 2 - 1)) AS x FROM e),
             |oxy AS (SELECT doc_id, w, f, x,
             |        unnest(generate_series(0, (h + 1) // 2 - 1)) AS y FROM ox),
             |px AS (SELECT doc_id, 31*doc_id + 97*f + 3*(2*y*w + 2*x) AS base
             |      FROM oxy),
             |s AS (SELECT doc_id,
             |        CAST(sum(base % 256) AS BIGINT) AS sum_r,
             |        CAST(sum((base + 1) % 256) AS BIGINT) AS sum_g,
             |        CAST(sum((base + 2) % 256) AS BIGINT) AS sum_b
             |      FROM px GROUP BY 1),
             |np AS (SELECT doc_id,
             |        CAST(nf * ((w + 1) // 2) * ((h + 1) // 2) AS BIGINT) AS n_pixels
             |      FROM d)
             |SELECT s.doc_id, np.n_pixels, s.sum_r, s.sum_g, s.sum_b,
             |  round(CAST(sum_r AS DOUBLE) / CAST(n_pixels AS DOUBLE), 6) AS mean_r,
             |  round(CAST(sum_g AS DOUBLE) / CAST(n_pixels AS DOUBLE), 6) AS mean_g,
             |  round(CAST(sum_b AS DOUBLE) / CAST(n_pixels AS DOUBLE), 6) AS mean_b
             |FROM s JOIN np USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ─── local clustering coefficient over the near-dup graph ───────────
    // Per-vertex Watts–Strogatz cc: ≈1 = clique-like duplicate cluster,
    // ≈0 = hub stitching unrelated docs (the per-vertex view of q393's
    // chain-collapse audit).
    "q417_local_clustering" -> Q(
      (s, dir) => {
        Graph.localClustering(
            Dedup.rareShingleEdges(Tables.documents(s, dir), "doc_id", "text"),
            "id_a", "id_b")
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""WITH $rareShingleCtes,
              |adj AS (SELECT a AS v, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
              |dg AS (SELECT v, count(*)::BIGINT AS deg FROM adj GROUP BY v),
              |wg AS (SELECT x.v, x.nbr AS u, y.nbr AS w
              |       FROM adj x JOIN adj y ON x.v = y.v AND x.nbr < y.nbr),
              |tr AS (SELECT v, count(*)::BIGINT AS triangles FROM wg
              |       SEMI JOIN e ON wg.u = e.a AND wg.w = e.b GROUP BY v)
              |SELECT dg.v AS doc_id, dg.deg,
              |  coalesce(tr.triangles, 0)::BIGINT AS triangles,
              |  round(2.0::DOUBLE * coalesce(tr.triangles, 0)
              |    / CAST(deg * (deg - 1) AS DOUBLE), 6) AS clustering
              |FROM dg LEFT JOIN tr USING (v)
              |WHERE deg >= 2 ORDER BY doc_id""".stripMargin)),

    // ─── power-law degree exponent of the near-dup graph ────────────────
    // Clauset–Shalizi–Newman α over degrees ≥ 1: the scale-free vs
    // mirror-farm diagnostic for the duplication topology.
    "q418_powerlaw_alpha" -> Q(
      (s, dir) => {
        Graph.powerLawAlpha(
          Dedup.rareShingleEdges(Tables.documents(s, dir), "doc_id", "text"),
          "id_a", "id_b", dmin = 1)
      },
      Some(s"""WITH $rareShingleCtes,
              |adj AS (SELECT a AS v, b AS nbr FROM e UNION ALL SELECT b, a FROM e),
              |dg AS (SELECT v, count(*) AS deg FROM adj GROUP BY v),
              |t AS (SELECT CAST(round(ln(deg::DOUBLE / 0.5::DOUBLE)
              |          * 1099511627776::DOUBLE) AS BIGINT) AS t
              |      FROM dg WHERE deg >= 1)
              |SELECT count(*)::BIGINT AS n_vertices, CAST(1 AS INTEGER) AS dmin,
              |  round(1.0::DOUBLE + count(*)::DOUBLE
              |    / (CAST(sum(t) AS DOUBLE) / 1099511627776::DOUBLE), 6) AS alpha
              |FROM t""".stripMargin)),

    // ─── χ² token–language association (feature audit, top-5 per lang) ──
    // Which tokens give the language away: the Yang & Pedersen '97
    // feature-selection χ² on document presence; terms in < 5 or ALL
    // docs excluded.
    "q419_chi2_keywords" -> Q(
      (s, dir) =>
        TextStats.chi2Keywords(Tables.documents(s, dir), "doc_id", "lang",
          "text", minDf = 5, topK = 5),
      Some("""WITH n AS (SELECT count(*) AS nd FROM documents),
             |nl AS (SELECT lang, count(*) AS nlang FROM documents GROUP BY lang),
             |pres AS (SELECT DISTINCT lang, doc_id, term FROM (
             |    SELECT lang, doc_id, unnest(string_split(lower(text), ' ')) AS term
             |    FROM documents) WHERE length(term) > 0),
             |tf AS (SELECT lang, term, count(*) AS a FROM pres GROUP BY 1, 2),
             |tdf AS (SELECT term, sum(a) AS dft FROM tf GROUP BY term),
             |x AS (SELECT tf.lang, tf.term, a, dft - a AS b, nlang - a AS c,
             |        nd - nlang - (dft - a) AS d, nd
             |      FROM tf JOIN tdf USING (term) JOIN nl USING (lang) CROSS JOIN n
             |      WHERE dft >= 5 AND dft < nd),
             |chi AS (SELECT lang AS label, term, CAST(a AS BIGINT) AS df_in,
             |        CAST(b AS BIGINT) AS df_out,
             |        round(nd::DOUBLE
             |          * (a::DOUBLE * d::DOUBLE - b::DOUBLE * c::DOUBLE)
             |          * (a::DOUBLE * d::DOUBLE - b::DOUBLE * c::DOUBLE)
             |          / ((a + b)::DOUBLE * (c + d)::DOUBLE
             |             * (a + c)::DOUBLE * (b + d)::DOUBLE), 6) AS chi2
             |      FROM x)
             |SELECT label, term, df_in, df_out, chi2 FROM (
             |  SELECT *, row_number() OVER (PARTITION BY label
             |    ORDER BY chi2 DESC, term ASC) AS rn FROM chi)
             |WHERE rn <= 5 ORDER BY label, chi2 DESC, term""".stripMargin)),

    // ─── REAL audio features: zero-crossing rate + RMS energy ───────────
    // One fused sample pass inside the RIFF chunk walk (Wav.features);
    // the oracle replays the synthesized sample formula with a lag
    // window — a green row proves the per-sample feature arithmetic
    // against independently generated samples.
    "q420_audio_features" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.audioFeatures(
            Multimodal.synthesizeWav(Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 32 AS n FROM documents),
             |sm AS (SELECT doc_id, n, k,
             |        (13*doc_id + 7*k) % 65536 - 32768 AS v
             |      FROM (SELECT doc_id, n,
             |              unnest(generate_series(0, n - 1)) AS k FROM d)),
             |z AS (SELECT doc_id, n,
             |        CAST(sum(CASE WHEN prev * v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS zc,
             |        CAST(sum(v * v) AS BIGINT) AS energy
             |      FROM (SELECT doc_id, n, v,
             |              lag(v) OVER (PARTITION BY doc_id ORDER BY k) AS prev
             |            FROM sm)
             |      GROUP BY 1, 2)
             |SELECT doc_id, CAST(n AS BIGINT) AS n_samples, zc AS zero_cross,
             |  energy,
             |  round(zc::DOUBLE / (n - 1)::DOUBLE, 6) AS zcr,
             |  round(sqrt(energy::DOUBLE / n::DOUBLE), 6) AS rms
             |FROM z ORDER BY doc_id""".stripMargin)),

    // ─── REAL image features: Sobel edge density over decoded frames ────
    // Integer grayscale (r+g+b) + 3x3 Sobel over interior pixels, fused
    // into the PPM parse; the oracle replays the convolution via index
    // arithmetic on the synthesized pixel formula.
    "q421_edge_density" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.edgeStats(
            Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some {
        def g(dx: Int, dy: Int) = {
          val idx = s"(31*doc_id + 97*f + 3*((y + ($dy))*w + x + ($dx)))"
          s"($idx % 256 + ($idx + 1) % 256 + ($idx + 2) % 256)"
        }
        val gxE = s"((${g(1, -1)} + 2*${g(1, 0)} + ${g(1, 1)})" +
          s" - (${g(-1, -1)} + 2*${g(-1, 0)} + ${g(-1, 1)}))"
        val gyE = s"((${g(-1, 1)} + 2*${g(0, 1)} + ${g(1, 1)})" +
          s" - (${g(-1, -1)} + 2*${g(0, -1)} + ${g(1, -1)}))"
        s"""WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w,
           |        4 + (7*doc_id) % 11 AS h, 1 + doc_id % 4 AS nf
           |      FROM documents),
           |e AS (SELECT doc_id, w, h,
           |        unnest(generate_series(0, nf - 1)) AS f FROM d),
           |xx AS (SELECT doc_id, w, h, f,
           |        unnest(generate_series(1, w - 2)) AS x FROM e),
           |xy AS (SELECT doc_id, w, h, f, x,
           |        unnest(generate_series(1, h - 2)) AS y FROM xx),
           |px AS (SELECT doc_id, abs($gxE) AS agx, abs($gyE) AS agy FROM xy),
           |sm AS (SELECT doc_id, CAST(sum(agx) AS BIGINT) AS sum_gx,
           |        CAST(sum(agy) AS BIGINT) AS sum_gy,
           |        CAST(sum(agx + agy) AS BIGINT) AS edge_sum
           |      FROM px GROUP BY 1),
           |np AS (SELECT doc_id,
           |        CAST(nf * (w - 2) * (h - 2) AS BIGINT) AS n_interior
           |      FROM d)
           |SELECT np.doc_id, np.n_interior, sm.sum_gx, sm.sum_gy, sm.edge_sum,
           |  round(CAST(edge_sum AS DOUBLE) / CAST(n_interior AS DOUBLE), 6)
           |    AS mean_edge
           |FROM np JOIN sm USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // ─── Zipf rank–frequency slope (corpus scaling-law audit) ───────────
    "q422_zipf_slope" -> Q(
      (s, dir) =>
        TextStats.zipfSlope(Tables.documents(s, dir), "text", topR = 100),
      Some("""WITH tf AS (SELECT t, count(*) AS f FROM (
             |    SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
             |  WHERE length(t) > 0 GROUP BY t),
             |top AS (SELECT f, r FROM (SELECT f, row_number() OVER
             |    (ORDER BY f DESC, t ASC) AS r FROM tf) WHERE r <= 100),
             |fp AS (SELECT
             |    CAST(round(ln(r::DOUBLE) * 1099511627776::DOUBLE) AS BIGINT) AS xf,
             |    CAST(round(ln(f::DOUBLE) * 1099511627776::DOUBLE) AS BIGINT) AS yf
             |  FROM top),
             |t2 AS (SELECT xf, yf,
             |    xf::DOUBLE / 1099511627776::DOUBLE AS x,
             |    yf::DOUBLE / 1099511627776::DOUBLE AS y FROM fp),
             |t3 AS (SELECT xf, yf,
             |    CAST(round(x * y * 1099511627776::DOUBLE) AS BIGINT) AS xy,
             |    CAST(round(x * x * 1099511627776::DOUBLE) AS BIGINT) AS xx
             |  FROM t2),
             |ag AS (SELECT count(*)::BIGINT AS n_terms,
             |    CAST(sum(xf) AS BIGINT) AS sx, CAST(sum(yf) AS BIGINT) AS sy,
             |    CAST(sum(xy) AS BIGINT) AS sxy, CAST(sum(xx) AS BIGINT) AS sxx
             |  FROM t3)
             |SELECT n_terms,
             |  round((n_terms::DOUBLE * (sxy::DOUBLE / 1099511627776::DOUBLE)
             |      - (sx::DOUBLE / 1099511627776::DOUBLE)
             |        * (sy::DOUBLE / 1099511627776::DOUBLE))
             |    / (n_terms::DOUBLE * (sxx::DOUBLE / 1099511627776::DOUBLE)
             |      - (sx::DOUBLE / 1099511627776::DOUBLE)
             |        * (sx::DOUBLE / 1099511627776::DOUBLE)), 6) AS slope
             |FROM ag""".stripMargin)),

    // ─── language-ID confusion matrix (heuristic eval vs true label) ────
    "q423_langid_confusion" -> Q(
      (s, dir) => {
        import s.implicits._
        val markers = Map(
          "de" -> Seq("der", "und"), "en" -> Seq("the", "a"),
          "es" -> Seq("el", "y"), "fr" -> Seq("le", "et"))
        Tables.documents(s, dir)
          .select($"lang", TextStats.langGuess($"text", markers).as("lang_guess"))
          .groupBy($"lang", $"lang_guess").agg(count(lit(1)).as("n"))
          .orderBy($"lang", $"lang_guess")
      },
      Some(s"""WITH $langIdOracleCtes
              |SELECT lang, lang_guess, count(*)::BIGINT AS n
              |FROM g GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin)),

    // ─── frame-wise silence ratio (short-time-energy gate) ──────────────
    "q424_silence_ratio" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.silenceStats(
            Multimodal.synthesizeWav(Tables.documents(s, dir), "doc_id"),
            "doc_id", frame = 8, thresholdMeanSq = 100000000L)
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 8 + doc_id % 32 AS n FROM documents),
             |sm AS (SELECT doc_id, k // 8 AS j,
             |        (13*doc_id + 7*k) % 65536 - 32768 AS v
             |      FROM (SELECT doc_id, n,
             |              unnest(generate_series(0, (n // 8) * 8 - 1)) AS k
             |            FROM d)),
             |fe AS (SELECT doc_id, j, sum(v * v) AS e FROM sm GROUP BY 1, 2),
             |z AS (SELECT doc_id, count(*)::BIGINT AS n_frames,
             |        CAST(sum(CASE WHEN e < 800000000 THEN 1 ELSE 0 END)
             |          AS BIGINT) AS n_silent
             |      FROM fe GROUP BY 1)
             |SELECT doc_id, n_frames, n_silent,
             |  round(n_silent::DOUBLE / n_frames::DOUBLE, 6) AS silence_ratio
             |FROM z ORDER BY doc_id""".stripMargin)),

    // ─── per-channel 16-bin color histogram (palette profile) ───────────
    "q425_color_histogram" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.colorHistogramStats(
            Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id", $"channel", $"bin")
      },
      Some("""WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w,
             |        4 + (7*doc_id) % 11 AS h, 1 + doc_id % 4 AS nf
             |      FROM documents),
             |e AS (SELECT doc_id, w, h,
             |        unnest(generate_series(0, nf - 1)) AS f FROM d),
             |px AS (SELECT doc_id, CAST(i % 3 AS INTEGER) AS channel,
             |        CAST(((31*doc_id + 97*f + i) % 256) // 16 AS INTEGER) AS bin
             |      FROM (SELECT doc_id, f,
             |              unnest(generate_series(0, 3*w*h - 1)) AS i FROM e))
             |SELECT doc_id, channel, bin, count(*)::BIGINT AS n
             |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id, channel, bin""".stripMargin)),

    // ─── dHash perceptual image fingerprint (9×8 grid, first frame) ─────
    "q426_dhash" -> Q(
      (s, dir) => {
        import s.implicits._
        Multimodal.dhashes(
            Multimodal.synthesizeMedia(Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some {
        def g(xe: String) = {
          val idx = s"(31*doc_id + 3*(((y*h) // 8)*w + (($xe)*w) // 9))"
          s"($idx % 256 + ($idx + 1) % 256 + ($idx + 2) % 256)"
        }
        s"""WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w,
           |        4 + (7*doc_id) % 11 AS h FROM documents),
           |gx AS (SELECT doc_id, w, h,
           |        unnest(generate_series(0, 7)) AS x FROM d),
           |gxy AS (SELECT doc_id, w, h, x,
           |        unnest(generate_series(0, 7)) AS y FROM gx),
           |bits AS (SELECT doc_id, y * 8 + x AS b FROM gxy
           |        WHERE ${g("x + 1")} > ${g("x")}),
           |agg AS (SELECT doc_id,
           |        CAST(sum(CASE WHEN b >= 32 THEN (1::BIGINT << (b - 32))
           |          ELSE 0 END) AS BIGINT) AS dhash_hi,
           |        CAST(sum(CASE WHEN b < 32 THEN (1::BIGINT << b)
           |          ELSE 0 END) AS BIGINT) AS dhash_lo
           |      FROM bits GROUP BY 1)
           |SELECT d.doc_id, coalesce(agg.dhash_hi, 0) AS dhash_hi,
           |  coalesce(agg.dhash_lo, 0) AS dhash_lo
           |FROM d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // ─── Rank-Biased Overlap between two term rankings per language ─────
    // RBO@10 (p=0.9) between "top terms by frequency" and "top terms by
    // document frequency" — the top-weighted ranking comparator a
    // retrieval eval uses where Spearman treats all ranks alike.
    "q427_rbo" -> Q(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.documents(s, dir).select($"lang", $"doc_id",
            explode(split(lower($"text"), " ")).as("term"))
          .filter(length($"term") > 0)
        val tf = toks.groupBy($"lang", $"term").agg(count(lit(1)).as("c"))
        val dfq = toks.groupBy($"lang", $"term")
          .agg(countDistinct($"doc_id").as("c"))
        val w = Window.partitionBy($"lang").orderBy($"c".desc, $"term")
        EvalMetrics.rboTruncated(
          tf.withColumn("r", row_number().over(w)),
          dfq.withColumn("r", row_number().over(w)),
          "lang", "term", "r", k = 10, p = 0.9)
      },
      Some(rboSql(k = 10, p = 0.9))),

    // ─── TFRecord container round-trip (CRC32C-verified read side) ──────
    // Real length-prefixed masked-CRC32C records (the TensorFlow
    // training-data container): synthesize → encode → decode+verify →
    // per-record stats; the oracle replays the payload formula, so a
    // green row proves the container framing AND the CRC walk.
    "q432_tfrecord_roundtrip" -> Q(
      (s, dir) => {
        import s.implicits._
        graft.sources.TfRecord.decodeStats(
            graft.sources.TfRecord.synthesizeTfRecords(
              Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 1 + doc_id % 5 AS nf FROM documents),
             |r AS (SELECT doc_id, k, 8 + (doc_id + k) % 16 AS n
             |      FROM (SELECT doc_id,
             |              unnest(generate_series(0, nf - 1)) AS k FROM d)),
             |b AS (SELECT doc_id, (31*doc_id + 97*k + i) % 256 AS v
             |      FROM (SELECT doc_id, k, n,
             |              unnest(generate_series(0, n - 1)) AS i FROM r)),
             |agg AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS byte_sum
             |      FROM b GROUP BY 1),
             |rt AS (SELECT doc_id, count(*)::BIGINT AS n_records,
             |        CAST(sum(n) AS BIGINT) AS total_bytes FROM r GROUP BY 1)
             |SELECT rt.doc_id, rt.n_records, rt.total_bytes, agg.byte_sum
             |FROM rt JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ─── packed zigzag-varint payload decode (token-id list bytes) ──────
    // The protobuf wire primitive inside training shards; the oracle
    // derives payload_bytes from the closed-form 7-bit group count, so
    // the gate proves the encoder's packing too.
    "q433_varint_roundtrip" -> Q(
      (s, dir) => {
        import s.implicits._
        graft.sources.TfRecord.varintStats(
            graft.sources.TfRecord.synthesizeVarints(
              Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 16 + doc_id % 16 AS n FROM documents),
             |v AS (SELECT doc_id, (17*doc_id + 29*k) % 2001 - 1000 AS v
             |      FROM (SELECT doc_id,
             |              unnest(generate_series(0, n - 1)) AS k FROM d)),
             |z AS (SELECT doc_id, v,
             |        CASE WHEN v >= 0 THEN 2*v ELSE -2*v - 1 END AS zz FROM v)
             |SELECT doc_id, count(*)::BIGINT AS n_values,
             |  CAST(sum(v) AS BIGINT) AS value_sum,
             |  CAST(sum(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
             |  CAST(sum(CASE WHEN zz < 128 THEN 1 ELSE 2 END) AS BIGINT)
             |    AS payload_bytes
             |FROM z GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── END-TO-END training-shard read: TFRecord + tf.Example + varints ─
    // The full stack a trainer's dataloader walks: CRC-verified
    // container records, each a tf.Example proto whose "tokens"
    // Int64List holds packed varints. One green row proves container
    // framing, proto field walking, and varint decode together.
    "q434_tfexample_shard" -> Q(
      (s, dir) => {
        import s.implicits._
        graft.sources.TfExample.shardStats(
            graft.sources.TfExample.synthesizeShards(
              Tables.documents(s, dir), "doc_id"),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, 1 + doc_id % 3 AS ne FROM documents),
             |r AS (SELECT doc_id, j, 8 + (doc_id + j) % 8 AS n
             |      FROM (SELECT doc_id,
             |              unnest(generate_series(0, ne - 1)) AS j FROM d)),
             |t AS (SELECT doc_id, (17*doc_id + 29*j + 13*i) % 4096 AS v
             |      FROM (SELECT doc_id, j, n,
             |              unnest(generate_series(0, n - 1)) AS i FROM r)),
             |ex AS (SELECT doc_id, count(*)::BIGINT AS n_examples,
             |        CAST(sum(n) AS BIGINT) AS n_tokens FROM r GROUP BY 1),
             |tk AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS token_sum
             |      FROM t GROUP BY 1)
             |SELECT ex.doc_id, ex.n_examples, ex.n_tokens, tk.token_sum
             |FROM ex JOIN tk USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ─── shard SINK round trip: write TFRecord files, read them back ────
    // Tokenize (md5-id vocab), write one CRC-framed tf.Example file per
    // shard to the filesystem, re-read through the binaryFile source,
    // and hash-gate the manifest — the one sink the oracle CAN check,
    // because the token ids replay in SQL.
    "q435_shard_sink" -> Q(
      (s, dir) => {
        import s.implicits._
        graft.sources.TfExample.writeAndManifest(Tables.documents(s, dir),
            "doc_id", "text", // shard dir keyed by SF dir — no cross-run race
            dir = s"/tmp/graft_q435_shards_${dir.replaceAll("[^A-Za-z0-9]", "_")}",
            nShards = 4, vocab = 50000)
          .orderBy($"shard")
      },
      Some("""WITH toks AS (SELECT doc_id % 4 AS shard,
             |        ('0x'||substr(md5(term),1,15))::BIGINT % 50000 AS tok
             |      FROM (SELECT doc_id,
             |              unnest(string_split(lower(text), ' ')) AS term
             |            FROM documents)
             |      WHERE length(term) > 0),
             |ex AS (SELECT CAST(doc_id % 4 AS INTEGER) AS shard,
             |        count(*)::BIGINT AS n_examples FROM documents GROUP BY 1),
             |tk AS (SELECT CAST(shard AS INTEGER) AS shard,
             |        count(*)::BIGINT AS n_tokens,
             |        CAST(sum(tok) AS BIGINT) AS token_sum
             |      FROM toks GROUP BY 1)
             |SELECT ex.shard, ex.n_examples,
             |  coalesce(tk.n_tokens, 0)::BIGINT AS n_tokens,
             |  coalesce(tk.token_sum, 0)::BIGINT AS token_sum
             |FROM ex LEFT JOIN tk USING (shard) ORDER BY shard""".stripMargin)),

    // ─── mixed-feature tf.Example + single-feature PROJECTION ───────────
    // Each Example carries THREE features (int64 "tokens" + bytes_list
    // "text" and "lang" — the multimodal-shard shape); the read projects
    // ONLY "tokens", so the walker must skip the much larger bytes
    // payloads by wire type. q434 proved the walker on features it
    // reads; this gates it on features it must NOT read.
    "q440_tfexample_projection" -> Q(
      (s, dir) => {
        import s.implicits._
        graft.sources.TfExample.shardStats(
            graft.sources.TfExample.synthesizeMixedShards(
              Tables.documents(s, dir), "doc_id", "text", "lang",
              vocab = 4096),
            "doc_id")
          .orderBy($"doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |        ('0x'||substr(md5(term),1,15))::BIGINT % 4096 AS tok
             |      FROM (SELECT doc_id,
             |              unnest(string_split(lower(text), ' ')) AS term
             |            FROM documents)
             |      WHERE length(term) > 0),
             |tk AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
             |        CAST(sum(tok) AS BIGINT) AS token_sum
             |      FROM toks GROUP BY 1)
             |SELECT d.doc_id, 1::BIGINT AS n_examples,
             |  coalesce(tk.n_tokens, 0)::BIGINT AS n_tokens,
             |  coalesce(tk.token_sum, 0)::BIGINT AS token_sum
             |FROM documents d LEFT JOIN tk USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // ─── xlsx SINK round trip: write a report, read it back (S2) ────────
    // The q435 gated-sink pattern ported to the xlsx writer: a real
    // priority summary is WRITTEN to an .xlsx file on disk, re-read
    // through the graft-xlsx DSv2 source, and the round-tripped values
    // hash-gate against the oracle computing the same summary directly —
    // the write half of S2 is no longer spec-only.
    // ─── Bradley–Terry preference strengths (MM fit, 3 iterations) ──────
    // The RLHF preference-data staple: pairwise "winner beats loser"
    // comparisons -> per-entity strengths via Hunter (2004)'s MM update,
    // replayed by the oracle as 3 chained CTE stages with the identical
    // 9-dp fixed-point discipline. Comparisons: within every order, the
    // CHEAPER lineitem's supplier beats the other (ties -> smaller
    // suppkey); the pair fan-out is <= C(7,2) per order, so pair
    // construction is linear in the fact.
    "q442_bradley_terry" -> Q(
      (s, dir) => {
        import s.implicits._
        // one ship-year keeps the gate inside the bench budget; the op's
        // scale story is the sweep (growth ~1.1x on 3x data — comps is
        // entity²-bounded)
        val li = Tables.lineitem(s, dir)
          .filter(year($"l_shipdate") === 1995)
          .select($"l_orderkey",
            $"l_linenumber", $"l_suppkey", $"l_extendedprice")
        val j = li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_linenumber") < col("y.l_linenumber"))
          .filter(col("x.l_suppkey") =!= col("y.l_suppkey"))
        val xw = col("x.l_extendedprice") < col("y.l_extendedprice")
        val yw = col("y.l_extendedprice") < col("x.l_extendedprice")
        val pairs = j.select(
          when(xw, col("x.l_suppkey")).when(yw, col("y.l_suppkey"))
            .otherwise(least(col("x.l_suppkey"), col("y.l_suppkey"))).as("w"),
          when(xw, col("y.l_suppkey")).when(yw, col("x.l_suppkey"))
            .otherwise(greatest(col("x.l_suppkey"), col("y.l_suppkey"))).as("l"))
        Preference.bradleyTerry(pairs, $"w", $"l", iters = 3)
          .orderBy($"id")
      },
      Some("""WITH li AS (SELECT l_orderkey, l_linenumber, l_suppkey,
             |        l_extendedprice FROM lineitem
             |      WHERE year(CAST(l_shipdate AS DATE)) = 1995),
             |pr AS (SELECT
             |    CASE WHEN x.l_extendedprice < y.l_extendedprice THEN x.l_suppkey
             |         WHEN y.l_extendedprice < x.l_extendedprice THEN y.l_suppkey
             |         ELSE least(x.l_suppkey, y.l_suppkey) END AS w,
             |    CASE WHEN x.l_extendedprice < y.l_extendedprice THEN y.l_suppkey
             |         WHEN y.l_extendedprice < x.l_extendedprice THEN x.l_suppkey
             |         ELSE greatest(x.l_suppkey, y.l_suppkey) END AS l
             |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
             |    AND x.l_linenumber < y.l_linenumber
             |  WHERE x.l_suppkey <> y.l_suppkey),
             |wn AS (SELECT w AS id, count(*) AS wins FROM pr GROUP BY 1),
             |comps AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
             |    count(*) AS n FROM pr GROUP BY 1, 2),
             |base AS (SELECT id, COALESCE(wins, 0) AS wins
             |  FROM (SELECT DISTINCT id FROM
             |        (SELECT a AS id FROM comps
             |         UNION ALL SELECT b AS id FROM comps))
             |  LEFT JOIN wn USING (id)),
             |w0 AS (SELECT id, 1.000000000::DECIMAL(28,9) AS s FROM base),
             |t1 AS (SELECT a AS id,
             |    round(n::DOUBLE / (sa.s + sb.s)::DOUBLE, 9)::DECIMAL(28,9) AS t
             |  FROM comps JOIN w0 sa ON comps.a = sa.id
             |  JOIN w0 sb ON comps.b = sb.id
             |  UNION ALL
             |  SELECT b AS id,
             |    round(n::DOUBLE / (sa.s + sb.s)::DOUBLE, 9)::DECIMAL(28,9) AS t
             |  FROM comps JOIN w0 sa ON comps.a = sa.id
             |  JOIN w0 sb ON comps.b = sb.id),
             |d1 AS (SELECT id, sum(t) AS d FROM t1 GROUP BY 1),
             |r1 AS (SELECT base.id, wins::DOUBLE / d::DOUBLE AS raw
             |  FROM base JOIN d1 USING (id)),
             |n1 AS (SELECT sum(round(raw, 9)::DECIMAL(28,9)) AS S,
             |    count(*) AS N FROM r1),
             |w1 AS (SELECT id,
             |    round(raw * N::DOUBLE / S::DOUBLE, 9)::DECIMAL(28,9) AS s
             |  FROM r1 CROSS JOIN n1),
             |t2 AS (SELECT a AS id,
             |    round(n::DOUBLE / (sa.s + sb.s)::DOUBLE, 9)::DECIMAL(28,9) AS t
             |  FROM comps JOIN w1 sa ON comps.a = sa.id
             |  JOIN w1 sb ON comps.b = sb.id
             |  UNION ALL
             |  SELECT b AS id,
             |    round(n::DOUBLE / (sa.s + sb.s)::DOUBLE, 9)::DECIMAL(28,9) AS t
             |  FROM comps JOIN w1 sa ON comps.a = sa.id
             |  JOIN w1 sb ON comps.b = sb.id),
             |d2 AS (SELECT id, sum(t) AS d FROM t2 GROUP BY 1),
             |r2 AS (SELECT base.id, wins::DOUBLE / d::DOUBLE AS raw
             |  FROM base JOIN d2 USING (id)),
             |n2 AS (SELECT sum(round(raw, 9)::DECIMAL(28,9)) AS S,
             |    count(*) AS N FROM r2),
             |w2 AS (SELECT id,
             |    round(raw * N::DOUBLE / S::DOUBLE, 9)::DECIMAL(28,9) AS s
             |  FROM r2 CROSS JOIN n2),
             |t3 AS (SELECT a AS id,
             |    round(n::DOUBLE / (sa.s + sb.s)::DOUBLE, 9)::DECIMAL(28,9) AS t
             |  FROM comps JOIN w2 sa ON comps.a = sa.id
             |  JOIN w2 sb ON comps.b = sb.id
             |  UNION ALL
             |  SELECT b AS id,
             |    round(n::DOUBLE / (sa.s + sb.s)::DOUBLE, 9)::DECIMAL(28,9) AS t
             |  FROM comps JOIN w2 sa ON comps.a = sa.id
             |  JOIN w2 sb ON comps.b = sb.id),
             |d3 AS (SELECT id, sum(t) AS d FROM t3 GROUP BY 1),
             |r3 AS (SELECT base.id, wins::DOUBLE / d::DOUBLE AS raw
             |  FROM base JOIN d3 USING (id)),
             |n3 AS (SELECT sum(round(raw, 9)::DECIMAL(28,9)) AS S,
             |    count(*) AS N FROM r3),
             |w3 AS (SELECT id,
             |    round(raw * N::DOUBLE / S::DOUBLE, 9)::DECIMAL(28,9) AS s
             |  FROM r3 CROSS JOIN n3)
             |SELECT base.id AS id, CAST(wins AS BIGINT) AS wins,
             |  round(s::DOUBLE, 6) AS strength
             |FROM base JOIN w3 USING (id) ORDER BY id""".stripMargin)),

    // ─── Burrows' Delta stylometric source distance (top-10 pairs) ──────
    // The authorship/template-farm signal document-level MinHash can't
    // see: z-scored relative frequencies of the corpus's top-20 words,
    // Δ(a,b) = mean |z_a − z_b| over the panel, closest pairs first.
    "q443_burrows_delta" -> Q(
      (s, dir) => {
        import s.implicits._
        TextStats.burrowsDelta(Tables.documents(s, dir), "source", "text",
          topK = 20, topPairs = 10)
      },
      Some("""WITH tk AS (SELECT source AS s,
             |        unnest(string_split(lower(text), ' ')) AS w
             |      FROM documents),
             |t AS (SELECT s, w FROM tk WHERE w <> ''),
             |panel AS (SELECT w FROM (SELECT w, count(*) AS c FROM t
             |          GROUP BY 1 ORDER BY c DESC, w LIMIT 20)),
             |srct AS (SELECT s, count(*) AS nt FROM t GROUP BY 1),
             |freq AS (SELECT s, w, count(*) AS c FROM t JOIN panel USING (w)
             |         GROUP BY 1, 2),
             |dense AS (SELECT srct.s, panel.w,
             |    COALESCE(freq.c, 0)::DOUBLE / srct.nt::DOUBLE AS f
             |  FROM srct CROSS JOIN panel
             |  LEFT JOIN freq ON freq.s = srct.s AND freq.w = panel.w),
             |st AS (SELECT w,
             |    sum(CAST(round(f * 1099511627776::DOUBLE) AS DECIMAL(20,0)))::DOUBLE
             |      / 1099511627776::DOUBLE / count(*) AS mu,
             |    sum(CAST(round(f * f * 1099511627776::DOUBLE) AS DECIMAL(20,0)))::DOUBLE
             |      / 1099511627776::DOUBLE / count(*) AS m2
             |  FROM dense GROUP BY 1),
             |z AS (SELECT dense.s, dense.w,
             |    CASE WHEN sqrt(m2 - mu * mu) > 0
             |         THEN (f - mu) / sqrt(m2 - mu * mu) ELSE 0.0 END AS z
             |  FROM dense JOIN st USING (w)),
             |d AS (SELECT a.s AS source_a, b.s AS source_b,
             |    round(sum(round(abs(a.z - b.z), 9)::DECIMAL(18,9))::DOUBLE
             |      / count(*)::DOUBLE, 6) AS delta
             |  FROM z a JOIN z b ON a.w = b.w AND a.s < b.s
             |  GROUP BY 1, 2)
             |SELECT source_a, source_b, delta FROM d
             |ORDER BY delta, source_a, source_b LIMIT 10""".stripMargin)),

    // ─── JS-divergence attribution: WHICH tokens drive q294's drift ─────
    "q444_divergence_tokens" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        def tok(f: org.apache.spark.sql.Column) = docs.filter(f)
          .select(explode(split(lower($"text"), " ")).as("t"))
          .where($"t" =!= "")
        TextStats.divergenceTokens(tok($"lang" === "en"),
          tok($"lang" =!= "en"), "t", topK = 15)
      },
      Some("""WITH rt AS (SELECT unnest(string_split(lower(text), ' ')) AS t
             |      FROM documents WHERE lang = 'en'),
             |ct AS (SELECT unnest(string_split(lower(text), ' ')) AS t
             |      FROM documents WHERE lang <> 'en'),
             |b AS (SELECT t, sum(r) AS cr, sum(c) AS cc FROM (
             |        SELECT t, 1 AS r, 0 AS c FROM rt WHERE t <> ''
             |        UNION ALL SELECT t, 0, 1 FROM ct WHERE t <> '')
             |      GROUP BY 1),
             |tt AS (SELECT sum(cr)::BIGINT AS nr, sum(cc)::BIGINT AS nc FROM b),
             |d AS (SELECT t,
             |        cr::DOUBLE / nr::DOUBLE AS p,
             |        cc::DOUBLE / nc::DOUBLE AS q,
             |        (cr::DOUBLE / nr::DOUBLE + cc::DOUBLE / nc::DOUBLE) / 2.0 AS m
             |      FROM b CROSS JOIN tt),
             |e AS (SELECT t, p, q,
             |        (CASE WHEN p > 0 THEN p * log2(p / m) ELSE 0.0 END +
             |         CASE WHEN q > 0 THEN q * log2(q / m) ELSE 0.0 END) / 2.0
             |          AS contrib
             |      FROM d)
             |SELECT t AS token, round(p, 6) AS p_ref, round(q, 6) AS p_cur,
             |  round(contrib, 6) AS js_contrib
             |FROM e ORDER BY contrib DESC, t LIMIT 15""".stripMargin)),

    // ─── DoReMi-style domain reweighting (one EG step of Group DRO) ─────
    // Per-domain excess = nats/token gained by domain-specific unigram
    // modeling over the corpus model (exact-count ratios, 9-dp fixed
    // point); weights = smoothed softmax-like EG update. The mixture
    // recipe every large pretraining run tunes — here as one oracle-
    // exact distributed pass.
    "q445_doremi_weights" -> Q(
      (s, dir) => {
        import s.implicits._
        Mixing.doremiWeights(Tables.documents(s, dir), "doc_id", "source",
            "text", eta = 1.0, smoothing = 0.2)
          .orderBy($"source")
      },
      Some("""WITH dw AS (SELECT doc_id, source AS dm, w, count(*) AS n FROM
             |        (SELECT doc_id, source,
             |           unnest(string_split(lower(text), ' ')) AS w
             |         FROM documents)
             |      WHERE w <> '' GROUP BY 1, 2, 3),
             |cd AS (SELECT dm, w, sum(n)::BIGINT AS cd FROM dw GROUP BY 1, 2),
             |cw AS (SELECT w, sum(cd)::BIGINT AS c FROM cd GROUP BY 1),
             |td AS (SELECT dm, sum(cd)::BIGINT AS td FROM cd GROUP BY 1),
             |tt AS (SELECT sum(c)::BIGINT AS tt FROM cw),
             |pd AS (SELECT dw.doc_id, dw.dm,
             |        CAST(sum(CAST(round(ln(
             |            (CAST(cd.cd AS DOUBLE) / CAST(td.td AS DOUBLE)) /
             |            (CAST(cw.c AS DOUBLE) / CAST(tt.tt AS DOUBLE))), 9)
             |          AS DECIMAL(28,9)) * dw.n) AS DOUBLE) /
             |          CAST(sum(dw.n) AS DOUBLE) AS ex
             |      FROM dw JOIN cd ON dw.dm = cd.dm AND dw.w = cd.w
             |        JOIN cw ON dw.w = cw.w
             |        JOIN td ON dw.dm = td.dm CROSS JOIN tt
             |      GROUP BY 1, 2),
             |dom AS (SELECT dm, count(*) AS n_docs,
             |        round(CAST(sum(CAST(round(ex, 9) AS DECIMAL(28,9)))
             |            AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS excess_nats
             |      FROM pd GROUP BY 1),
             |wt AS (SELECT dm, n_docs, excess_nats,
             |        CAST(round(exp(1.0 * greatest(excess_nats, 0.0)), 9)
             |          AS DECIMAL(28,9)) AS u
             |      FROM dom)
             |SELECT dm AS source, n_docs, excess_nats,
             |  round(0.8 * (CAST(u AS DOUBLE) / CAST(sum(u) OVER () AS DOUBLE)) +
             |        0.2 / CAST(count(*) OVER () AS DOUBLE), 6) AS weight
             |FROM wt ORDER BY source""".stripMargin)),

    // ─── ROUGE-L: LCS-based eval metric (codegen'd DP kernel) ───────────
    // The sequence-aware complement of q397's fixed bigrams: in-order
    // but non-contiguous overlap. Both sides cap at 24 tokens (part of
    // the metric contract — LCS is O(m·n)/pair); the oracle unrolls the
    // identical DP as 24 chained CTE stages via the prefix-max identity.
    "q446_rouge_l" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        val pairs = docs.select($"doc_id", $"text".as("cand"))
          .join(docs.select(($"doc_id" - 1).as("doc_id"), $"text".as("ref")),
            "doc_id")
        EvalMetrics.rougeL(pairs, "doc_id", "cand", "ref", maxTokens = 24)
          .withColumnRenamed("pair", "doc_id")
          .orderBy($"doc_id")
      },
      Some(s"""WITH p AS (SELECT a.doc_id AS pair,
              |        list_slice(list_filter(string_split(lower(a.text), ' '),
              |          t -> len(t) > 0), 1, 24) AS cand,
              |        list_slice(list_filter(string_split(lower(b.text), ' '),
              |          t -> len(t) > 0), 1, 24) AS ref
              |      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
              |l0 AS (SELECT pair, cand, ref, len(ref) AS n,
              |        list_transform(range(0, len(ref) + 1), x -> 0) AS r
              |      FROM p),
              |${rougeLStages(24)},
              |fin AS (SELECT pair, len(cand)::BIGINT AS n_cand, n::BIGINT AS n_ref,
              |        r[n + 1]::BIGINT AS lcs FROM l24)
              |SELECT pair AS doc_id, n_cand, n_ref, lcs,
              |  CASE WHEN n_cand > 0 THEN
              |    round(CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE), 6)
              |  END AS precision,
              |  CASE WHEN n_ref > 0 THEN
              |    round(CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE), 6)
              |  END AS recall,
              |  CASE WHEN lcs > 0 THEN round(
              |    2.0 * (CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE)) *
              |      (CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE)) /
              |      (CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE) +
              |       CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE)), 6)
              |  ELSE 0.0::DOUBLE END AS f1
              |FROM fin ORDER BY doc_id""".stripMargin)),

    // ─── MAUVE: divergence-frontier AUC between two embedding sets ──────
    // The open-ended-generation distribution metric (Pillutla 2021) in
    // its exact discrete quantized form: q39's fixed-centroid cells →
    // two histograms → KL frontier over a λ grid + exact mixture
    // endpoints → trapezoid AUC. Even/odd vec_id halves as ref/cur.
    "q447_mauve" -> Q(
      (s, dir) => {
        import s.implicits._
        val emb = Tables.embeddings(s, dir)
        val centroids = emb.filter($"vec_id" < 16)
          .select($"vec_id", $"embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
          .sortBy(_._1).toSeq
        Similarity.mauve(emb, "vec_id", "embedding",
          $"vec_id" % 2 === 0, centroids, lGrid = 9, c = 5.0)
      },
      Some {
        def cos(a: String, b: String) =
          s"""list_reduce(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE), (p,q) -> p+q) /
             |  (sqrt(list_reduce(list_transform($a, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)) *
             |   sqrt(list_reduce(list_transform($b, v -> v::DOUBLE * v::DOUBLE), (p,q) -> p+q)))""".stripMargin
        val pD = "(CAST(pc AS DOUBLE) / CAST(np AS DOUBLE))"
        val qD = "(CAST(qc AS DOUBLE) / CAST(nq AS DOUBLE))"
        def term(aD: String, l: String) =
          s"""CAST(round($aD * ln($aD /
             |      ($l * $pD + (1.0 - $l) * $qD)), 9) AS DECIMAL(28,9))""".stripMargin
        s"""WITH cents AS (SELECT vec_id AS cid, embedding AS cv
           |      FROM embeddings WHERE vec_id < 16),
           |scored AS (SELECT e.vec_id, c.cid, ${cos("e.embedding", "c.cv")} AS csim
           |      FROM embeddings e CROSS JOIN cents c),
           |assign AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY csim DESC, cid ASC) AS rn FROM scored),
           |cl AS (SELECT vec_id, cid, (vec_id % 2 = 0) AS ref FROM assign WHERE rn = 1),
           |h AS (SELECT cid, sum(CASE WHEN ref THEN 1 ELSE 0 END)::BIGINT AS pc,
           |        sum(CASE WHEN NOT ref THEN 1 ELSE 0 END)::BIGINT AS qc
           |      FROM cl GROUP BY 1),
           |t AS (SELECT sum(pc)::BIGINT AS np, sum(qc)::BIGINT AS nq,
           |        max(CASE WHEN pc > 0 AND qc = 0 THEN 1 ELSE 0 END) AS mm_pq,
           |        max(CASE WHEN qc > 0 AND pc = 0 THEN 1 ELSE 0 END) AS mm_qp
           |      FROM h),
           |lam AS (SELECT CAST(i AS DOUBLE) / 10.0 AS l FROM range(1, 10) g(i)),
           |gterms AS (SELECT l,
           |    CASE WHEN pc > 0 THEN ${term(pD, "l")}
           |         ELSE CAST(0 AS DECIMAL(28,9)) END AS tp,
           |    CASE WHEN qc > 0 THEN ${term(qD, "l")}
           |         ELSE CAST(0 AS DECIMAL(28,9)) END AS tq
           |  FROM h CROSS JOIN t CROSS JOIN lam),
           |gkl AS (SELECT l, CAST(sum(tp) AS DOUBLE) AS klp,
           |        CAST(sum(tq) AS DOUBLE) AS klq FROM gterms GROUP BY 1),
           |ekl AS (SELECT
           |    CAST(sum(CASE WHEN pc > 0 AND qc > 0 THEN ${term(pD, "0.0")}
           |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE) AS kl_pq,
           |    CAST(sum(CASE WHEN qc > 0 AND pc > 0 THEN ${term(qD, "1.0")}
           |      ELSE CAST(0 AS DECIMAL(28,9)) END) AS DOUBLE) AS kl_qp
           |  FROM h CROSS JOIN t),
           |pts AS (
           |  SELECT round(exp(-5.0 * klq), 9) AS x, round(exp(-5.0 * klp), 9) AS y
           |  FROM gkl
           |  UNION ALL SELECT 1.0,
           |    CASE WHEN t.mm_pq = 1 THEN 0.0 ELSE round(exp(-5.0 * e.kl_pq), 9) END
           |  FROM ekl e CROSS JOIN t
           |  UNION ALL SELECT
           |    CASE WHEN t.mm_qp = 1 THEN 0.0 ELSE round(exp(-5.0 * e.kl_qp), 9) END,
           |    1.0
           |  FROM ekl e CROSS JOIN t),
           |closed AS (SELECT x, y FROM pts
           |  UNION ALL SELECT 0.0, (SELECT y FROM pts ORDER BY x, y LIMIT 1)),
           |tr AS (SELECT x, y, lead(x) OVER (ORDER BY x, y) AS x2,
           |        lead(y) OVER (ORDER BY x, y) AS y2 FROM closed)
           |SELECT (SELECT np FROM t) AS n_ref, (SELECT nq FROM t) AS n_cur,
           |  (SELECT count(*) FROM h)::BIGINT AS n_cells,
           |  round(CAST(sum(CAST(round((x2 - x) * (y + y2) / 2.0, 9)
           |    AS DECIMAL(28,9))) AS DOUBLE), 6) AS mauve
           |FROM tr WHERE x2 IS NOT NULL""".stripMargin
      }),

    "q441_xlsx_sink" -> Q(
      (s, dir) => {
        import s.implicits._
        val agg = Tables.orders(s, dir)
          .groupBy($"o_orderpriority".as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum($"o_totalprice".cast("decimal(18,6)")).as("total"))
          .orderBy($"priority")
        // path keyed by SF dir: concurrent runs on different SFs (e.g. a
        // sharded sweep next to a Verify) must not race one file
        val path = s"/tmp/graft_q441_report_${dir.replaceAll("[^A-Za-z0-9]", "_")}.xlsx"
        graft.sources.Xlsx.write(agg, path)
        s.read.format("graft-xlsx").load(path)
          .select($"priority", $"n_orders".cast("bigint").as("n_orders"),
            round($"total".cast("double"), 6).as("total"))
          .orderBy($"priority")
      },
      Some("""SELECT o_orderpriority AS priority, count(*)::BIGINT AS n_orders,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
             |    AS DOUBLE), 6) AS total
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ─── Hilbert curve clustering keys (native codegen'd expression) ────
    // Better locality than q428's Morton interleave: one curve step =
    // one grid step, so Hilbert-sorted file ranges stay contiguous. The
    // sequential per-bit rotate ships as a kernel + BinaryExpression;
    // the oracle unrolls the identical walk as 16 chained CTE stages.
    "q438_hilbert_key" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir).select($"o_orderkey",
            graft.functions.Hilbert.hilbertKey($"o_custkey" % 65536,
              datediff($"o_orderdate", to_date(lit("1970-01-01"))) % 65536,
              order = 16).as("hkey"))
          .orderBy($"o_orderkey")
      },
      Some(s"""WITH b0 AS (SELECT o_orderkey,
              |        CAST(o_custkey % 65536 AS BIGINT) AS x,
              |        CAST(date_diff('day', DATE '1970-01-01',
              |          CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y,
              |        0::BIGINT AS d
              |      FROM orders),
              |${hilbertStages(16, "o_orderkey")}
              |SELECT o_orderkey, CAST(d AS BIGINT) AS hkey
              |FROM h16 ORDER BY o_orderkey""".stripMargin)),

    // ─── three-way layout audit: date sort vs Z-order vs Hilbert ────────
    "q439_layout_compare" -> Q(
      (s, dir) => {
        import s.implicits._
        val days = datediff($"o_orderdate", to_date(lit("1970-01-01")))
        Layout.zoneMapAudit(Tables.orders(s, dir), "o_orderkey",
            Seq("date_sort" -> days.cast("long"),
              "zorder" -> Layout.zOrderKey($"o_custkey" % 65536,
                days % 65536, bits = 16),
              "hilbert" -> graft.functions.Hilbert.hilbertKey(
                $"o_custkey" % 65536, days % 65536, order = 16)),
            "o_custkey", probeValue = 577L, nBuckets = 32)
          .orderBy($"strategy")
      },
      Some {
        def strat(name: String, keyExpr: String) =
          s"""s_$name AS (SELECT ntile(32) OVER (ORDER BY $keyExpr, p, id) AS b, p
             |      FROM base2),
             |f_$name AS (SELECT b, min(p) AS lo, max(p) AS hi
             |      FROM s_$name GROUP BY b),
             |a_$name AS (SELECT '$name' AS strategy, count(*)::BIGINT AS n_files,
             |        CAST(sum(CASE WHEN 577 BETWEEN lo AND hi THEN 1 ELSE 0 END)
             |          AS BIGINT) AS files_overlapping,
             |        round(CAST(sum(hi - lo) AS DOUBLE)
             |          / CAST(count(*) AS DOUBLE), 6) AS mean_span
             |      FROM f_$name)""".stripMargin
        s"""WITH base AS (SELECT o_orderkey AS id,
           |        CAST(o_custkey AS BIGINT) AS p,
           |        CAST(date_diff('day', DATE '1970-01-01',
           |          CAST(o_orderdate AS DATE)) AS BIGINT) AS kd,
           |        CAST(o_custkey % 65536 AS BIGINT) AS x,
           |        CAST(date_diff('day', DATE '1970-01-01',
           |          CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y
           |      FROM orders),
           |b0 AS (SELECT id, x, y, 0::BIGINT AS d FROM base),
           |${hilbertStages(16, "id")},
           |base2 AS (SELECT base.*, h16.d AS kh FROM base
           |          JOIN h16 ON base.id = h16.id),
           |${strat("date_sort", "kd")},
           |${strat("zorder", s"CAST(${zbitsSql("x", "y", 16)} AS BIGINT)")},
           |${strat("hilbert", "kh")}
           |SELECT * FROM a_date_sort
           |UNION ALL SELECT * FROM a_zorder
           |UNION ALL SELECT * FROM a_hilbert
           |ORDER BY strategy""".stripMargin
      }),

    // ─── commutative dataset digest per source (release version id) ─────
    "q436_dataset_digest" -> Q(
      (s, dir) =>
        TextStats.datasetDigest(Tables.documents(s, dir), "source", "text"),
      Some("""SELECT source AS "group", count(*)::BIGINT AS n_docs,
             |  CAST(sum(('0x'||substr(md5(regexp_replace(trim(lower(text)),
             |      '\s+', ' ', 'g')),1,15))::BIGINT)
             |    % 1152921504606846976 AS BIGINT) AS digest
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // ─── deterministic MLM masking plan (hash-selected 15%) ─────────────
    "q437_mlm_mask_plan" -> Q(
      (s, dir) =>
        TextStats.mlmMaskPlan(Tables.documents(s, dir), "doc_id", "text",
          pct = 15),
      Some("""WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
             |      FROM documents),
             |px AS (SELECT doc_id, CAST(unnest(range(len(tk))) AS INTEGER) AS pos,
             |        tk FROM tk),
             |t AS (SELECT doc_id, pos FROM px WHERE length(tk[pos + 1]) > 0),
             |m AS (SELECT doc_id, pos,
             |        ('0x'||substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR),
             |          1, 15))::BIGINT % 100 < 15 AS msk FROM t)
             |SELECT doc_id, count(*)::BIGINT AS n_tokens,
             |  CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
             |  CAST(sum(CASE WHEN msk THEN pos ELSE 0 END) AS BIGINT)
             |    AS masked_sum,
             |  round(CAST(sum(CASE WHEN msk THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(count(*) AS DOUBLE), 6) AS mask_rate
             |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ─── incremental near-dup: new batch probed against the corpus ──────
    // Cross-set LSH only (corpus = doc_id % 10 ≠ 3, batch = ≡ 3): the
    // daily-ingest shape where corpus×corpus pairs are already settled.
    "q431_incremental_neardup" -> Q(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.documents(s, dir)
        Dedup.minhashPairsIncremental(
            docs.filter($"doc_id" % 10 =!= 3), docs.filter($"doc_id" % 10 === 3),
            "doc_id", "text", numHashes = 16, bands = 8, shingleK = 3,
            threshold = 0.5)
          .orderBy($"corpus_id", $"batch_id")
      },
      Some(s"""WITH $minhashCtes,
              |cx AS (SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS batch_id
              |       FROM bands a JOIN bands b ON a.j = b.j AND a.key = b.key
              |       WHERE a.doc_id % 10 <> 3 AND b.doc_id % 10 = 3),
              |pj AS (SELECT corpus_id, batch_id,
              |         len(list_intersect(sa.sh, sb.sh))
              |           / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
              |       FROM cx JOIN sh sa ON cx.corpus_id = sa.doc_id
              |         JOIN sh sb ON cx.batch_id = sb.doc_id)
              |SELECT corpus_id, batch_id, jaccard FROM pj
              |WHERE jaccard >= 0.5 ORDER BY corpus_id, batch_id""".stripMargin)),

    // ─── spark.sql TEXT surface: one query string, both engines ─────────
    // Registers temp views and runs the SAME SQL text through
    // spark.sql(...) that the oracle runs through DuckDB — CTE + joins +
    // window + DECIMAL money discipline, zero dialect forks. Proves the
    // library's SQL surface (not just the Column API) end to end.
    "q430_sql_surface" -> Q(
      (s, dir) => {
        Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
        Tables.orders(s, dir).createOrReplaceTempView("orders")
        Tables.customer(s, dir).createOrReplaceTempView("customer")
        s.sql(SqlSurface.topRevenuePerSegment)
      },
      Some(SqlSurface.topRevenuePerSegment)),

    // ─── Z-order (Morton) clustering keys over (custkey, order date) ────
    // The write-time layout key that gives BOTH filter columns partial
    // file locality; pure shift/mask integer expressions.
    "q428_zorder_key" -> Q(
      (s, dir) => {
        import s.implicits._
        Tables.orders(s, dir).select($"o_orderkey",
            Layout.zOrderKey($"o_custkey" % 65536,
              datediff($"o_orderdate", to_date(lit("1970-01-01"))) % 65536,
              bits = 16).as("zkey"))
          .orderBy($"o_orderkey")
      },
      Some(s"""WITH b AS (SELECT o_orderkey,
              |        CAST(o_custkey % 65536 AS BIGINT) AS x,
              |        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y
              |      FROM orders)
              |SELECT o_orderkey,
              |  CAST(${zbitsSql("x", "y", 16)} AS BIGINT) AS zkey
              |FROM b ORDER BY o_orderkey""".stripMargin)),

    // ─── zone-map pruning audit: date-sort layout vs Z-order layout ─────
    // Buckets the orders table into 32 equal "files" under each sort
    // key and counts the files a custkey point-filter must read — the
    // measured justification for Z-ordering at 100 TB.
    "q429_zonemap_layout" -> Q(
      (s, dir) => {
        import s.implicits._
        val days = datediff($"o_orderdate", to_date(lit("1970-01-01")))
        Layout.zoneMapAudit(Tables.orders(s, dir), "o_orderkey",
            Seq("date_sort" -> days.cast("long"),
              "zorder" -> Layout.zOrderKey($"o_custkey" % 65536,
                days % 65536, bits = 16)),
            "o_custkey", probeValue = 577L, nBuckets = 32)
          .orderBy($"strategy")
      },
      Some {
        def strat(name: String, keyExpr: String) =
          s"""s_$name AS (SELECT ntile(32) OVER (ORDER BY $keyExpr, p, id) AS b, p
             |      FROM base),
             |f_$name AS (SELECT b, min(p) AS lo, max(p) AS hi
             |      FROM s_$name GROUP BY b),
             |a_$name AS (SELECT '$name' AS strategy, count(*)::BIGINT AS n_files,
             |        CAST(sum(CASE WHEN 577 BETWEEN lo AND hi THEN 1 ELSE 0 END)
             |          AS BIGINT) AS files_overlapping,
             |        round(CAST(sum(hi - lo) AS DOUBLE)
             |          / CAST(count(*) AS DOUBLE), 6) AS mean_span
             |      FROM f_$name)""".stripMargin
        s"""WITH base AS (SELECT o_orderkey AS id,
           |        CAST(o_custkey AS BIGINT) AS p,
           |        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS kd,
           |        CAST(o_custkey % 65536 AS BIGINT) AS x,
           |        CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 65536 AS BIGINT) AS y
           |      FROM orders),
           |${strat("date_sort", "kd")},
           |${strat("zorder", s"CAST(${zbitsSql("x", "y", 16)} AS BIGINT)")}
           |SELECT * FROM a_date_sort UNION ALL SELECT * FROM a_zorder
           |ORDER BY strategy""".stripMargin
      }))

  /** The document-level stage CTEs shared by the q81 pipeline oracle and
    * the q129 attrition oracle: quality rules (q75) → min-id exact dedup
    * → MinHash pairs over survivors (q25 chain) → recursive-CC canonical
    * keep (q70 shape). Ends at `kept`. */
  private def corpusStageCtes: String =
    s"""m AS (SELECT doc_id, lang, text,
       |  CAST(len(regexp_split_to_array(text, '\\s+')) AS INTEGER) AS n_tokens,
       |  list_sum(list_transform(regexp_split_to_array(text, '\\s+'), t -> length(t)))::DOUBLE
       |    / len(regexp_split_to_array(text, '\\s+')) AS mean_token_len,
       |  len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> list_contains(['the','a'], t)))::DOUBLE
       |    / len(regexp_split_to_array(lower(text), '\\s+')) AS stopword_ratio,
       |  CASE WHEN len(string_split(lower(text), ' ')) > 0
       |       THEN 1.0::DOUBLE - len(list_distinct(string_split(lower(text), ' ')))::DOUBLE
       |            / len(string_split(lower(text), ' '))
       |       ELSE 0.0::DOUBLE END AS word_rep
       |FROM documents),
       |qd AS (SELECT doc_id, lang, text FROM m
       |       WHERE (n_tokens BETWEEN 20 AND 100000) AND (mean_token_len BETWEEN 3.0 AND 10.0)
       |         AND stopword_ratio >= 0.01 AND word_rep <= 0.6),
       |hx AS (SELECT doc_id, lang, text,
       |         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS h FROM qd),
       |exd AS (SELECT doc_id, lang, text FROM
       |          (SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS xrn FROM hx)
       |        WHERE xrn = 1),
       |${minhashCtesFrom("exd")},
       |edges AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.5),
       |sym AS (SELECT id_a AS src, id_b AS dst FROM edges
       |        UNION ALL SELECT id_b, id_a FROM edges),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM exd
       |  UNION
       |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
       |cl AS (SELECT a AS doc_id, min(b) AS label FROM reach GROUP BY a),
       |kept AS (SELECT e.doc_id, e.lang, e.text FROM exd e
       |         JOIN cl ON e.doc_id = cl.doc_id AND e.doc_id = cl.label)""".stripMargin

  /** q81 oracle: the shared stage CTEs → chunk windows (q73 shape) →
    * recursive next-fit packing (q79 shape). */
  private def corpusPipelineSql: String =
    s"""WITH RECURSIVE
       |$corpusStageCtes,
       |tok AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM kept),
       |nct AS (SELECT doc_id, lang, toks,
       |          CASE WHEN len(toks) <= 32 THEN 1
       |               ELSE 1 + CAST(ceil((len(toks) - 32) / 24.0) AS INTEGER) END AS nc
       |        FROM tok),
       |chw AS (SELECT doc_id, lang, toks, CAST(unnest(range(nc)) AS INTEGER) AS w FROM nct),
       |d AS (SELECT lang, doc_id, w AS chunk_idx,
       |        CAST(len(list_slice(toks, w*24 + 1, w*24 + 32)) AS BIGINT) AS n_tokens,
       |        row_number() OVER (PARTITION BY lang ORDER BY doc_id, w) AS rn
       |      FROM chw),
       |rec AS (
       |  SELECT lang, rn, doc_id, chunk_idx, n_tokens, n_tokens AS fill, 1::BIGINT AS bin
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.lang, d.rn, d.doc_id, d.chunk_idx, d.n_tokens,
       |         CASE WHEN rec.fill + d.n_tokens <= 256 THEN rec.fill + d.n_tokens
       |              ELSE d.n_tokens END,
       |         CASE WHEN rec.fill + d.n_tokens <= 256 THEN rec.bin ELSE rec.bin + 1 END
       |  FROM rec JOIN d ON d.lang = rec.lang AND d.rn = rec.rn + 1)
       |SELECT lang, doc_id, chunk_idx, n_tokens, bin FROM rec
       |ORDER BY lang, doc_id, chunk_idx""".stripMargin

  /** DuckDB twin of q67: CASE arms in ascending key order — for duplicate
    * capacities the smallest model key wins, exactly reverseLookup's fold
    * priority. */
  private def reverseLookupSql: String = {
    val arms = graft.etl.KnowledgeBase.sampleModelKbRows
      .map(r => r._2 -> r._3).toMap.toSeq.sortBy(_._1)
      .map { case (k, v) => s"WHEN qty = $v::DOUBLE THEN '$k'" }
      .mkString("\n         ")
    s"""SELECT qty, CASE $arms ELSE NULL END AS model_key, count(*) AS n
       |FROM (SELECT CAST(l_quantity AS DOUBLE) AS qty FROM lineitem)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** The customs-shaped synthetic fact table shared by q40/q55 — built
    * deterministically from lineitem×part with brand/model tokens injected
    * by key arithmetic (mirrored in Q40Oracle's fact0 CTE). */
  private def synthCustomsFact(s: org.apache.spark.sql.SparkSession,
      dir: String, every: Int = 7): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val brands = array(Q40Oracle.factBrands.map(lit): _*)
    val models = array(Q40Oracle.factModels.map(lit): _*)
    // 1-in-7 sample keeps the full 13-stage pipeline in the bench at a
    // sane per-query cost; every stage still sees O(100k) rows at sf0.1
    val li = Tables.lineitem(s, dir).filter(pmod($"l_orderkey", lit(every)) === 0)
    val part = Tables.part(s, dir)
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .select(
        concat($"l_orderkey", lit("-"), $"l_linenumber").as("declaration number"),
        upper(concat_ws(" ",
          get(brands, pmod($"l_partkey", lit(7)).cast("int")),
          get(models, pmod($"l_orderkey" + $"l_linenumber", lit(12)).cast("int")),
          $"p_name")).as("product description"),
        concat(lit("SUPPLIER "), $"l_suppkey").as("supplier"),
        ($"l_extendedprice" * 10).as("amount in usd"),
        $"l_quantity".as("qty"),
        ($"l_quantity" * lit(20000.0)).as("weight in kg"),
        date_format($"l_shipdate", "yyyy-MM-dd").as("date"),
        lit("84295200").as("hs code"),
        date_format($"l_shipdate", "yyyyMM").as("month"))
  }
}
