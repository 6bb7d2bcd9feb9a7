package graft

/** Locks in the physical-plan properties PERF.md claims, so a regression
  * (a lost pushdown, a broadcast that degrades to sort-merge) fails CI
  * rather than silently costing a shuffle at scale. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfTiny).queryExecution.executedPlan.toString

  test("scans push filters and prune columns") {
    val p = plan("q02_filter_derive")
    assert(p.contains("PushedFilters: [IsNotNull(l_extendedprice)") ||
      p.contains("PushedFilters: [IsNotNull("), "filter not pushed to scan:\n" + p.take(800))
    // projection prunes: the scan must not read l_shipdate for q02
    assert(!p.contains("l_shipdate"), "unpruned column in scan")
  }

  test("dimension joins broadcast — no sort-merge join anywhere in the registry's hot joins") {
    Seq("q08_fx_join", "q36_key_players", "q19_topk", "q45_embed_dedup",
      "q69_term_outliers").foreach { q =>
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"), s"$q degraded to SortMergeJoin")
    }
    assert(plan("q08_fx_join").contains("BroadcastHashJoin"))
    // outlier medians are window aggregates: no join-back at all
    val q69 = plan("q69_term_outliers")
    assert(q69.contains("Window") && !q69.contains("Join"),
      "q69 medians are not window aggregates:\n" + q69.take(1200))
  }

  test("the as-of join is one exchange + one window, no join node") {
    val p = plan("q46_asof_join")
    assert(p.contains("Window"))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastNestedLoopJoin"),
      "as-of should be union+window, not a join:\n" + p.take(800))
  }

  test("typed session summary aggregates with map-side partial combine") {
    // q43 must NOT be a mapGroups-style object operator (which shuffles
    // every raw event row); the typed Aggregator compiles to an aggregate
    // with a partial phase before the exchange.
    val p = plan("q43_user_sessions")
    assert(!p.contains("MapGroups"), "q43 degraded to MapGroups:\n" + p.take(800))
    assert(p.toLowerCase.contains("partial_sessionsummaryagg"),
      "no partial SessionSummaryAgg phase in q43 plan:\n" + p.take(1500))
  }

  test("bloom prune filters the fact scan BELOW the exact semi-join") {
    // the probe must be a literal predicate on the scan (PushDownLeftSemi-
    // AntiJoin would slide the join under a cross-joined-bits probe, and
    // fact rows would reach the join — at scale, its shuffle — unpruned)
    val p = plan("q77_bloom_prune")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "bloom bits cross-joined instead of embedded as a literal:\n" + p.take(900))
    val joinAt = p.indexOf("Join")
    val probeAt = p.indexOf("xxhash64")
    assert(joinAt >= 0 && probeAt > joinAt,
      "bloom probe is not below the exact join in the plan:\n" + p.take(900))
  }

  test("cdc merge prunes to top-1 per key BEFORE the exchange") {
    // row_number()=1 compiles to WindowGroupLimit with a Partial phase
    // below the shuffle: each map task forwards at most one candidate row
    // per (key, sort-prefix) instead of every version
    val p = plan("q74_cdc_upsert")
    assert(p.contains("WindowGroupLimit"),
      "q74 lost the group-limit pushdown:\n" + p.take(900))
    assert(p.contains("Partial"), "no partial WindowGroupLimit phase")
  }

  test("lm/tf-idf model tables carry no mandatory broadcast hint") {
    // the bigram-count (vocab²-bounded) and term→df (vocab-bounded) model
    // tables must NOT be force-broadcast: at 100 TB they exceed any
    // broadcast threshold and a mandatory hint is a driver OOM. The only
    // hinted joins allowed are the condition-free crossJoins of 1-row
    // aggregates (corpus size, vocab size).
    import org.apache.spark.sql.catalyst.plans.logical.Join
    Seq("q84_lm_score", "q90_lm_score_pruned", "q42_tfidf_top_term",
        "q161_lm_backoff").foreach { q =>
      val lp = SparkEntry.queries(q)(spark, sfTiny).queryExecution.optimizedPlan
      lp.collect { case j: Join => j }.foreach { j =>
        val hinted = Seq(j.hint.leftHint, j.hint.rightHint).flatten.exists(_.strategy.isDefined)
        assert(!hinted || j.condition.isEmpty,
          s"$q: mandatory join hint on a keyed model join:\n$j")
      }
    }
  }

  test("segment-dedup counts table is never hinted to broadcast") {
    // the per-segment occurrence table is corpus-sized — a mandatory
    // broadcast would OOM the driver at 100 TB; the keep-join must be free
    // to shuffle on the (md5-uniform) hash key
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = SparkEntry.queries("q92_segment_dedup")(spark, sfTiny)
      .queryExecution.optimizedPlan
    lp.collect { case j: Join => j }.foreach { j =>
      val hinted = Seq(j.hint.leftHint, j.hint.rightHint).flatten.exists(_.strategy.isDefined)
      assert(!hinted, s"q92: mandatory join hint on the segment-counts join:\n$j")
    }
  }

  test("bottom-k sample aggregates with map-side partials — no window sort") {
    // the whole point of q95 vs the q94 window form: per-partition O(k)
    // buffers merge at the exchange; a Window node here would mean the
    // full stratum is being shuffled and sorted
    val p = plan("q95_bottomk_sample")
    assert(!p.contains("Window"), "q95 degraded to a window sort:\n" + p.take(900))
    assert(p.toLowerCase.contains("partial_bottomkagg"),
      "no partial BottomKAgg phase in q95 plan:\n" + p.take(1500))
  }

  test("hard-negative mining aggregates with map-side partial max — no window sort") {
    // q99's per-vector top-1 must stay an arg-max AGGREGATION (one
    // candidate per (id, partition) crosses the exchange), not a
    // row_number window over every bucket pair
    val p = plan("q99_hard_negatives")
    assert(!p.contains("Window"), "q99 degraded to a window sort:\n" + p.take(900))
    assert(p.contains("partial_max"),
      "no partial max phase in q99 plan:\n" + p.take(1500))
  }

  test("CMS sketch aggregates with map-side partials") {
    // q104's sketch must partial-combine (O(d·w) buffers merge at the
    // exchange), not ship raw hash rows to one reducer
    val p = plan("q104_cms_sketch")
    assert(p.toLowerCase.contains("partial_cmsagg"),
      "no partial CmsAgg phase in q104 plan:\n" + p.take(1500))
  }

  test("prefix-filter Jaccard join plans NO cartesian product") {
    // q108 exists to replace q27's quadratic product: its plan must hold
    // only key-equi joins (prefix-token candidates + verify joins)
    val p = plan("q108_prefix_jaccard")
    assert(!p.contains("CartesianProduct"),
      "prefix join degraded to a cartesian product:\n" + p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "prefix join degraded to a nested-loop join:\n" + p.take(1200))
  }

  test("two-stage ANN ranks with TakeOrdered, never a global sort") {
    // both stages are orderBy+limit: Spark must plan TakeOrderedAndProject
    // (per-partition top-C, candidates-sized merge) — a SortExec here
    // would be a full shuffle-sort of the corpus per query
    val p = plan("q106_ann_two_stage")
    assert(p.contains("TakeOrderedAndProject"),
      "no TakeOrderedAndProject in q106 plan:\n" + p.take(1200))
    assert(!p.contains("SortExec"),
      "q106 degraded to a global sort:\n" + p.take(1200))
  }

  test("literal-expression KB matching keeps the fact side exchange-free") {
    // q05's whole match is codegen'd expressions: the only exchange allowed
    // is the final ORDER BY sort
    val p = plan("q05_contains_first")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected exchanges in literal-match plan:\n$p")
    assert(!p.contains("Join"), "literal path must not join")
  }

  test("exact profile never takes the multi-distinct Expand rewrite") {
    // the Expand duplicates every FULL row once per profiled column and
    // re-groups on an all-columns key (measured 18 s vs 1.2 s at sf0.1)
    val p = plan("q121_profile")
    assert(!p.contains("Expand"),
      "q121 regressed to the Expand multi-distinct rewrite:\n" + p.take(1200))
  }

  test("trailing window is one key exchange, no join, RANGE frame") {
    val p = plan("q123_trailing_window")
    assert(!p.contains("Join"), "q123 must not join:\n" + p.take(900))
    // one exchange for the entity key, one for the final ORDER BY
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"q123 shuffles too much ($exchanges):\n$p")
    assert(p.contains("RangeFrame"), "q123 lost its RANGE frame")
  }

  test("key-skew top-k plans TakeOrdered, never a global sort") {
    val p = plan("q128_key_skew")
    assert(p.contains("TakeOrderedAndProject"),
      "no TakeOrderedAndProject in q128 plan:\n" + p.take(1200))
    assert(!p.contains("SortExec"),
      "q128 degraded to a global sort:\n" + p.take(1200))
  }

  test("Bradley-Terry pair construction and MM joins stay equi — no nested loop") {
    // the pair self-join is equi on l_orderkey (<= C(7,2) fan-out per
    // order); each MM step joins the entity-sized strengths back — a
    // CartesianProduct/BNLJ here would be the entity^2 blowup the
    // comps aggregation exists to avoid (the only BNLJ allowed is the
    // 1-row rescale crossJoin, which plans as BroadcastNestedLoopJoin
    // over a single-row aggregate)
    val p = plan("q442_bradley_terry")
    assert(!p.contains("CartesianProduct"),
      "q442 degraded to a cartesian product:\n" + p.take(1200))
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 3, // one 1-row rescale crossJoin per MM iteration
      s"q442 has $bnlj nested-loop joins — more than the 1-row rescales:\n" +
        p.take(1200))
  }

  test("bucketed range join plans a hash equi-join, never a nested loop") {
    val p = plan("q133_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join degraded to a nested loop:\n" + p.take(1200))
  }

  test("BPE pair counting partial-aggregates before the exchange") {
    import org.apache.spark.sql.functions._
    // the per-iteration shuffle must carry (pair, partial count), not rows
    val toks = graft.Tables.documents(spark, sfTiny)
      .select(split(lower(col("text")), " ").as("__tk"))
    val counts = toks.filter(size(col("__tk")) > 1)
      .select(explode(transform(
        slice(col("__tk"), lit(1), size(col("__tk")) - 1),
        (x, j) => struct(x.as("a"),
          element_at(col("__tk"), j + 2).as("b")))).as("p"))
      .groupBy(col("p.a"), col("p.b")).agg(count(lit(1)))
    val p = counts.queryExecution.executedPlan.toString
    assert(p.contains("partial_count"),
      "pair counting lost its map-side partial phase:\n" + p.take(1200))
  }

  test("near-dup verify runs the merge kernel, never array_intersect") {
    // the two-pointer sorted_intersect_count kernel must be the verify
    // expression in BOTH exact-prefix and LSH pair paths — a regression
    // to array_intersect rebuilds a hash set + materializes the
    // intersection array per candidate pair
    Seq("q25_minhash_pairs", "q108_prefix_jaccard").foreach { q =>
      val p = plan(q)
      assert(p.contains("sorted_intersect_count"),
        s"$q verify lost the merge kernel:\n" + p.take(1200))
      assert(!p.contains("array_intersect"),
        s"$q verify fell back to array_intersect:\n" + p.take(1200))
    }
  }

  test("weighted sample plans TakeOrdered, never a global sort") {
    val p = plan("q138_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      "no TakeOrderedAndProject in q138 plan:\n" + p.take(1200))
  }

  test("DSIR weight pass is join-free on the bucket key — log-ratios fold in as a literal") {
    val p = plan("q153_dsir_weights")
    // the 64-bucket model collects and returns as an array literal: the
    // executed plan must contain NO join keyed on __b (only the per-doc
    // left join back to documents remains)
    assert(!p.contains("__b#") || !p.contains("Join") ||
      !p.split("Join").exists(_.take(120).contains("__b#")),
      "q153 grew a bucket-key join back:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "q153 fact side degraded to SortMergeJoin:\n" + p.take(1200))
  }

  test("DSIR resample ranks with TakeOrdered, never a global sort") {
    val p = plan("q154_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"),
      "no TakeOrderedAndProject in q154 plan:\n" + p.take(1200))
  }

  test("winnowing fingerprints are computed without any exchange") {
    // map-only end to end: the op's plan (before the gate's ORDER BY)
    // must contain no shuffle — fingerprints never leave their partition
    val p = ops.Dedup.winnowFingerprints(
        Tables.documents(spark, sfTiny), "doc_id", "text", 4, 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      "winnowFingerprints grew a shuffle:\n" + p.take(1200))
  }

  test("logreg scoring is join-free on the feature buckets") {
    val w = ops.Classifier.logregFit(Tables.documents(spark, sfTiny),
      "doc_id", "text", org.apache.spark.sql.functions.col("lang") === "en",
      buckets = 64, iters = 1, rate = 0.02)
    assert(w.length == 65 && w.exists(_._2 != 0.0))
    // weights fold in as a literal array: no SortMergeJoin anywhere in
    // the scoring plan (the only join left is the per-doc feature join)
    val p = ops.Classifier.logregScore(Tables.documents(spark, sfTiny),
        "doc_id", "text", org.apache.spark.sql.functions.col("lang") === "en", w)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"),
      "logregScore degraded to SortMergeJoin:\n" + p.take(1200))
  }

  test("dup-span extents: one gram pass, no join, no generate-inferred filter") {
    // the q165 shape is two windows over ONE gram derivation — a join
    // (or a second documents scan) would mean the groupBy+join-back
    // regression; a Filter containing the md5 transform would mean
    // InferFiltersFromGenerate re-derived the grams (the O(tokens²) trap)
    val p = plan("q165_dup_spans")
    assert(!p.contains("Join"), "dupSpans grew a join:\n" + p.take(1200))
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      "dupSpans scans documents more than once:\n" + p.take(1200))
    val filterBlocks = p.split("\n").filter(_.trim.startsWith("+- Filter"))
    assert(!filterBlocks.exists(_.contains("md5")),
      "gram transform re-derived inside a Filter:\n" + p.take(1500))
  }

  test("overlap join plans a hash equi-join, never a nested loop") {
    val p = plan("q168_overlap_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "overlap join degraded to a nested loop:\n" + p.take(1200))
  }

  test("shard manifest is one partial-combining aggregation") {
    val p = plan("q169_shard_manifest")
    assert(p.contains("partial"), "no map-side partial aggregate:\n" + p.take(1200))
    // one shuffle for the agg + one for the gate's ORDER BY, nothing more
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      "shard manifest grew extra shuffles:\n" + p.take(1200))
  }

  test("Kneser-Ney model joins carry no broadcast hints (un-hinted, the r4 rule)") {
    val lp = SparkEntry.queries("q172_lm_kneser_ney")(spark, sfTiny)
      .queryExecution.logical.toString
    // exactly one legitimate hint: the 1-row bigram-type total
    val hints = lp.split("\n").count(_.contains("UnresolvedHint"))
    assert(hints <= 1, s"KN model joins grew forced broadcasts ($hints hints):\n" +
      lp.split("\n").filter(_.contains("UnresolvedHint")).mkString("\n"))
  }

  test("OLS trend is one partial-combining aggregation, no window, no join") {
    val p = plan("q174_trend_ols")
    assert(!p.contains("Join") && !p.contains("Window"),
      "trendPerKey should be a single aggregation:\n" + p.take(1200))
    assert(p.contains("partial"), "no map-side partials:\n" + p.take(1200))
  }

  test("aspect bucketing is map-only plus one bucket-keyed window") {
    val p = plan("q175_aspect_buckets")
    assert(!p.contains("Join"), "aspect bucketing grew a join:\n" + p.take(1200))
  }

  test("containment join plans no cartesian product (the q82 brute is the only one allowed)") {
    val p = plan("q177_containment_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "prefix containment degraded to all-pairs:\n" + p.take(1200))
  }

  test("hamming top-k plans TakeOrdered over a map-only scan — no join, no global sort") {
    val p = plan("q180_hamming_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "hamming top-k lost its TakeOrdered:\n" + p.take(1200))
    assert(!p.contains("Join"), "query words must fold in as literals:\n" + p.take(1200))
  }

  test("edit join blocks on deletion keys — equi-join only, never a cartesian") {
    val p = plan("q190_edit_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "edit join degraded to all-pairs:\n" + p.take(1200))
  }

  test("sparse cosine ends in TakeOrdered (no global sort of the pair table)") {
    val p = plan("q191_sparse_cosine")
    assert(p.contains("TakeOrderedAndProject"),
      "sparse cosine lost its TakeOrdered:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "sparse cosine degraded to all-pairs:\n" + p.take(1200))
  }

  test("EWMA is one entity-keyed window — no join, no self-reference") {
    val p = plan("q192_ewma")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "EWMA must not self-join per tap:\n" + p.take(1200))
  }

  test("span corruption is one doc-keyed window, no join") {
    val p = plan("q202_span_corruption")
    assert(p.contains("Window"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "span plan must not join beyond the doc-count join-back:\n" + p.take(1200))
  }

  test("churn, seasonal MA, ABC and burstiness plan no product joins") {
    Seq("q205_supplier_churn", "q206_seasonal_ma", "q219_pareto_abc",
      "q224_burstiness").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n" + p.take(1200))
    }
  }

  test("template fingerprints are map + one count — no join at all") {
    val p = plan("q225_template_shapes")
    assert(!p.contains("Join"), "template shapes must not join:\n" + p.take(1200))
  }

  test("concentration and price index aggregate the fact table exactly once") {
    Seq("q193_hhi", "q195_price_index").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q planned a product join:\n" + p.take(1200))
      // the fact scan appears once — a second scan would mean the firm/
      // item aggregate was recomputed per consumer
      val fact = if (q == "q193_hhi") "orders" else "lineitem"
      val scans = p.sliding(s"$fact.parquet".length).count(_ == s"$fact.parquet")
      assert(scans <= 2, s"$q re-scans $fact $scans times:\n" + p.take(1200))
    }
  }

  test("Jaro-Winkler similarity join stays inside whole-stage codegen") {
    val p = plan("q369_jw_linkage")
    // the blocked self-join must be a hash equi-join with the JW kernel
    // evaluated in a codegen'd projection — no product join, no fallback
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q369 planned a product join:\n" + p.take(1200))
    assert(p.contains("jaro_winkler"), "JW expression missing from plan")
    assert(p.contains("BroadcastHashJoin"), "block join lost broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-k lost TakeOrdered")
    // the kernel expression has doGenCode (no CodegenFallback marker) —
    // the projection stays codegen-eligible; AQE hides the span string
    // pre-execution, so assert the expression form, not the wrapper
  }

  test("linkage pattern aggregates collapse BEFORE any pair materialization") {
    // blockingQuality must contain no join at all (three aggregates over
    // group sizes — a pair join would be quadratic at scale)
    val p = plan("q360_blocking_quality")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "q360 materialized pairs:\n" + p.take(1200))
  }

  test("zone-map audit is one partial-combining aggregate over the scan") {
    val p = plan("q350_zonemap_audit")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "q350 plans a join:\n" + p.take(1200))
    assert(p.contains("partial_min") || p.contains("partial_"),
      "zone stats lack a map-side partial phase:\n" + p.take(1200))
  }

  test("Mahalanobis scoring ranks with TakeOrdered, never a global sort") {
    val p = plan("q381_mahalanobis_diag")
    assert(p.contains("TakeOrderedAndProject"),
      "q381 lost the top-k plan:\n" + p.take(1200))
  }

  test("sorted-neighborhood linkage joins on rank buckets, never a rank theta-join") {
    // the |Δrank| ≤ w predicate must ride an EQUI-join on the bucket key;
    // a theta-only join plans BroadcastNestedLoopJoin/CartesianProduct
    val p = plan("q401_fs_snm")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q401 degraded to an all-pairs rank join:\n" + p.take(1200))
  }

  test("ROUGE clip join is an equi-join on (pair, gram hash)") {
    val p = plan("q397_rouge2")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q397 planned a product join:\n" + p.take(1200))
  }

  test("TextRank window build is equi-joins on (doc, pos+d) — no theta join") {
    val p = plan("q411_textrank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q411 co-occurrence build planned a product join:\n" + p.take(1200))
  }

  test("wedge joins (Adamic-Adar, local clustering) stay equi-joins on the center") {
    Seq("q413_adamic_adar", "q417_local_clustering").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q wedge join degraded to a product join:\n" + p.take(1200))
    }
  }

  test("multimodal downsample is map-only: no exchange before the stats") {
    val p = plan("q416_ppm_downsample")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "q416 planned a join:\n" + p.take(800))
  }
}
