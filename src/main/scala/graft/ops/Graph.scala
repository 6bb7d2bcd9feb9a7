package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Dedup.unpersistCheckpoint

/** Iterative graph centrality over an edge table — the remaining graph
  * primitive next to the two connected-components variants
  * (`Dedup.connectedComponents` / `connectedComponentsStar`): PageRank
  * over the near-dup graph ranks each cluster's documents by how central
  * they are to their duplication neighborhood (a far better "canonical
  * document" pick than min-id when clusters are star-shaped around a
  * popular source — the scraped original outranks its mirrors).
  *
  * Arithmetic contract — INTEGER fixed-point throughout, so the result is
  * bit-identical on any partitioning, any retry, and any engine:
  * ranks live in `scale` fixed-point (default 2^40); every division is
  * integral (`DIV`); the damping 0.85 is applied as ×85 then DIV 100.
  * Double-based PageRank sums contributions in shuffle order and is NOT
  * reproducible across runs — the same reasoning that put the k-means
  * update and `centroidSim` on 2^40 fixed-point (q80/q89).
  *
  * Per iteration (T fixed, no convergence test — the standard
  * fixed-iteration formulation):
  *   rank'(v) = 15·r0 DIV 100  +  85·(inMass(v) + dangling DIV n) DIV 100
  * where r0 = scale DIV n, inMass(v) = Σ_{u→v} rank(u) DIV outdeg(u),
  * and `dangling` is the total rank held by vertices with no out-edges
  * (redistributed uniformly — the textbook dangling-node treatment).
  * Total mass stays ≈ `scale` (integral truncation leaks ≤ 1 unit per
  * division — bounded and identical in both engines).
  *
  * Scale shape (the 100 TB story):
  *  - edges persist once; out-degrees materialize once (one partial-agg
  *    pass, O(non-dangling vertices) rows);
  *  - each iteration is ONE join (ranks ⋈ edges on src — both sides hash
  *    on uniform ids) + ONE partial-combining aggregation on dst: the
  *    shuffle carries per-partition partial sums, never the edge list;
  *  - the dangling mass is a driver-side SCALAR (one partial-agg job per
  *    iteration, 1 row collected — same driver-small contract as the
  *    k-means fit);
  *  - rank snapshots are `localCheckpoint`ed per iteration and the
  *    previous iteration's blocks released, exactly like the CC loop —
  *    lineage stays O(1) deep, ≤ 2 snapshots live at any time.
  *
  * No overflow at any n: every rank ≤ scale (mass conservation), so
  * 85·(inMass + dShare) ≤ 85·scale ≈ 2^47 ≪ 2^63.
  */
object Graph {

  /** PageRank over directed `edges` (callers symmetrize for undirected
    * graphs). Returns (idCol, rank_fp) with rank_fp in `scale`
    * fixed-point; Σ rank_fp ≈ scale. */
  def pageRank(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst", iters: Int = 3,
      scale: Long = 1L << 40): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val od = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
      .localCheckpoint(eager = true)
    val n = vertices.count()
    require(n > 0, "pageRank needs a non-empty vertex set")
    val r0 = scale / n
    val base = 15L * r0 / 100L
    var ranks = vertices.select(col(idCol).as("id"), lit(r0).as("rank"))
      .localCheckpoint(eager = true)
    for (_ <- 0 until iters) {
      val withOd = ranks.join(od, ranks("id") === od("src"), "left")
      val dangling = withOd.filter(col("odeg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
        .first().getLong(0)
      val dShare = dangling / n
      val contrib = withOd.filter(col("odeg").isNotNull)
        .select(col("src"), expr("rank DIV odeg").as("c"))
      val inMass = e.join(contrib, Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("im"))
      val next = vertices.select(col(idCol).as("id"))
        .join(inMass, Seq("id"), "left")
        .select(col("id"),
          (lit(base) +
            expr(s"(85 * (coalesce(im, 0L) + ${dShare}L)) DIV 100")).as("rank"))
        .localCheckpoint(eager = true)
      unpersistCheckpoint(ranks)
      ranks = next
    }
    e.unpersist()
    ranks.select(col("id").as(idCol), col("rank").as("rank_fp"))
  }

  /** Personalized PageRank (Page et al. 1999 §6; the seed-biased walk
    * behind "related docs" expansion and dedup-cluster seeding): same
    * integer fixed-point recursion as [[pageRank]], but BOTH the 15 %
    * restart mass and the dangling mass return to the SEED set only —
    * rank measures proximity to the seeds, not global centrality.
    * rank_i = [seed]·(15·(scale⫽|S|))⫽100
    *        + (85·(in_i + [seed]·(dangling⫽|S|)))⫽100.
    * Pure integer arithmetic — engine-exact, no float discipline needed.
    *
    * Scale shape: identical to pageRank — one edge⋈rank join per
    * iteration, localCheckpoint'ed frontiers, a 1-row dangling
    * aggregate per iteration (driver scalar, not data-scaled). */
  def personalizedPageRank(vertices: DataFrame, idCol: String,
      seedPred: Column, edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iters: Int = 3,
      scale: Long = 1L << 40): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val od = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
      .localCheckpoint(eager = true)
    val verts = vertices.select(col(idCol).as("id"), seedPred.as("seed"))
      .localCheckpoint(eager = true)
    val nS = verts.filter(col("seed")).count()
    require(nS > 0, "personalizedPageRank needs a non-empty seed set")
    val r0 = scale / nS
    var ranks = verts.select(col("id"),
        when(col("seed"), lit(r0)).otherwise(lit(0L)).as("rank"))
      .localCheckpoint(eager = true)
    for (_ <- 0 until iters) {
      val withOd = ranks.join(od, ranks("id") === od("src"), "left")
      val dangling = withOd.filter(col("odeg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0L)).as("dm"))
        .first().getLong(0)
      val dShare = dangling / nS
      val contrib = withOd.filter(col("odeg").isNotNull)
        .select(col("src"), expr("rank DIV odeg").as("c"))
      val inMass = e.join(contrib, Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("im"))
      val next = verts
        .join(inMass, Seq("id"), "left")
        .select(col("id"),
          (when(col("seed"), lit((15L * r0) / 100L)).otherwise(lit(0L)) +
            expr(s"(85 * (coalesce(im, 0L) + " +
              s"IF(seed, ${dShare}L, 0L))) DIV 100")).as("rank"))
        .localCheckpoint(eager = true)
      unpersistCheckpoint(ranks)
      ranks = next
    }
    e.unpersist()
    ranks.select(col("id").as(idCol), col("rank").as("rank_fp"))
  }

  /** Global triangle count of an undirected graph given as CANONICAL
    * edges (src < dst, deduplicated — exactly what `Dedup.minhashPairs`
    * emits). Two equi-joins: wedges a<b<c from edge pairs sharing the
    * middle vertex, closed by the (a, c) edge — each triangle counted
    * exactly once because every triangle has exactly one vertex-ordered
    * traversal. Returns one row: (n_triangles).
    *
    * Scale shape: both joins shuffle on single vertex keys. Hot vertices
    * quadratically inflate the wedge side — the standard fix at scale is
    * DEGREE ordering (orient each edge from the lower-degree endpoint,
    * Suri & Vassilvitskii WWW'11: wedge count drops to O(m^{3/2})); that
    * reorientation is one degree-count + relabel pass, kept out of this
    * id-ordered variant so the oracle stays a 3-line join — swap the
    * comparator when a corpus's dup graph develops hubs. */
  def triangleCount(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b"): DataFrame = {
    val ed = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val wedges = ed.join(
      ed.select(col("a").as("b"), col("b").as("c")), "b")
    wedges.join(ed.select(col("a"), col("b").as("c")), Seq("a", "c"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** k-core of an undirected edge list by `rounds` peeling iterations:
    * repeatedly delete vertices with degree < k (and their edges) — the
    * classic dense-substructure extractor (a near-dup cluster's k-core
    * is its "everybody-matches-everybody" heart; the peeled fringe is
    * incidental one-off collisions). FIXED iteration count, not a
    * convergence test: the result equals the true k-core for any graph
    * whose peel depth ≤ `rounds` (documented contract — raise it for
    * adversarial chain graphs), and a fixed count keeps the op
    * bit-reproducible and oracle-replayable.
    *
    * Scale shape: per round ONE degree count (edge-keyed,
    * partial-combining) + two vertex-keyed semi-joins; the edge set
    * only shrinks. Checkpoint-per-round with eager unpersist of the
    * previous round (the connected-components discipline). Output:
    * (node, core_degree) for surviving vertices. */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 15): DataFrame = {
    require(k >= 1 && rounds >= 1, "k >= 1, rounds >= 1")
    var ed = edges.select(col("id_a").as("a"), col("id_b").as("b"))
      .localCheckpoint(false)
    var edCount = ed.count()
    var i = 0
    // early exit at the fixpoint: once a round removes nothing, the
    // remaining rounds are no-ops — the result still EQUALS the full
    // `rounds`-round (oracle-replayed) computation
    var stable = false
    while (i < rounds && !stable) {
      val deg = ed.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("v"))
        .localCheckpoint(false) // both semi-joins read it
      val next = ed
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint(false)
      val nextCount = next.count()
      unpersistCheckpoint(ed)
      unpersistCheckpoint(keep)
      stable = nextCount == edCount
      ed = next
      edCount = nextCount
      i += 1
    }
    ed.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("core_degree"))
  }

  /** Degree assortativity of an undirected edge list — the Pearson
    * correlation of endpoint degrees over the SYMMETRIZED edge set
    * (each edge contributes (d_a, d_b) and (d_b, d_a), the standard
    * Newman 2002 formulation). r > 0: hubs attach to hubs (mirror
    * farms); r < 0: star-shaped dup neighborhoods around canonical
    * originals — a one-number structural read on the near-dup graph
    * next to the degree histogram.
    *
    * Exact-sum discipline (the `Profile.corrPerKey` contract): Σx, Σxy,
    * Σx² accumulate as DECIMAL(38,0) from integer degrees; the one
    * double expression runs once on identical sums in any engine.
    *
    * Scale shape: one explode + degree count (edge-keyed,
    * partial-combining), two id-keyed joins decorating the edge list,
    * ONE 1-row aggregate. Output: (n_edges, assortativity — NULL when
    * degenerate, e.g. a regular graph). */
  def degreeAssortativity(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b"): DataFrame = {
    val ed = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .localCheckpoint(false) // 3 consumers: degree count + both union legs
    val deg = ed.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val sym = ed.unionByName(ed.select(col("b").as("a"), col("a").as("b")))
    val x = col("__da"); val y = col("__db")
    val agg = sym
      .join(deg.select(col("v").as("a"), col("d").as("__da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("__db")), "b")
      .agg(count(lit(1)).as("__m"),
        sum(x.cast("decimal(38,0)")).as("__sx"),
        sum(y.cast("decimal(38,0)")).as("__sy"),
        sum((x * y).cast("decimal(38,0)")).as("__sxy"),
        sum((x * x).cast("decimal(38,0)")).as("__sxx"),
        sum((y * y).cast("decimal(38,0)")).as("__syy"))
    def d(c: String) = col(c).cast("double")
    val m = d("__m")
    val vx = m * d("__sxx") - d("__sx") * d("__sx")
    val vy = m * d("__syy") - d("__sy") * d("__sy")
    val cov = m * d("__sxy") - d("__sx") * d("__sy")
    agg.select((col("__m") / 2).cast("long").as("n_edges"),
      when(col("__m") >= 2 && vx > 0.0 && vy > 0.0,
        round(cov / (sqrt(vx) * sqrt(vy)), 6)).as("assortativity"))
  }

  /** Newman modularity of a GIVEN partition of an undirected graph —
    * the one-number "are these communities real" score read over the
    * output of connected components or [[labelPropagation]]:
    *   Q = Σ_c [ L_c/m − (d_c/(2m))² ]
    * with m total edges, L_c intra-community edges, d_c the summed
    * degree of community c. Q ≈ 0: no better than random wiring;
    * Q ≥ ~0.3: substantive structure worth sharding by.
    *
    * `edges` is one row per unordered pair (no self-loops); `assign`
    * maps idCol → commCol.
    *
    * Determinism: per-community terms are exact-integer ratios pushed
    * through ONE double expression each, rounded to 9 dp, summed as
    * DECIMAL (the lmEntropyRate discipline), headline round-6.
    *
    * Scale shape: two id-keyed equi-joins decorate the edge list with
    * endpoint communities (both data-scaled but hash-partitioned on
    * uniform ids); degrees are one endpoint-explode count; everything
    * after is community-table-sized. Output: one row
    * (n_edges, n_communities, modularity). */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      assign: DataFrame, idCol: String, commCol: String): DataFrame = {
    val ed = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .localCheckpoint(false) // consumers: m count, intra join, degree count
    val as = assign.select(col(idCol).as("v"), col(commCol).as("c"))
    val m = ed.count()
    require(m > 0, "modularity needs a non-empty edge set")
    val intra = ed
      .join(as.select(col("v").as("a"), col("c").as("__ca")), "a")
      .join(as.select(col("v").as("b"), col("c").as("__cb")), "b")
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("c")).agg(count(lit(1)).as("__lc"))
    val degC = ed.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("__d"))
      .join(as, "v")
      .groupBy(col("c")).agg(sum(col("__d")).as("__dc"))
    val mD = lit(m.toDouble); val m2D = lit(2.0 * m)
    val term = col("__lc").cast("double") / mD -
      (col("__dc").cast("double") / m2D) * (col("__dc").cast("double") / m2D)
    val out = degC.join(intra, Seq("c"), "left")
      .na.fill(0L, Seq("__lc"))
      .select(round(term, 9).cast("decimal(18,9)").as("__t"))
      .agg(count(lit(1)).as("n_communities"),
        round(sum(col("__t")).cast("double"), 6).as("modularity"))
    out.select(lit(m).as("n_edges"), col("n_communities"), col("modularity"))
    // n_communities counts communities that own ≥ 1 edge endpoint —
    // singletons with no edges contribute 0 to Q and are excluded,
    // matching the standard edge-graph formulation
  }

  /** HITS hubs/authorities (Kleinberg 1999) over a DIRECTED edge list —
    * on the customer→part purchase graph, hub(c) scores breadth-buyers
    * and auth(p) scores parts bought by good hubs; the classic bipartite
    * ranking next to [[pageRank]]'s global centrality.
    *
    * Arithmetic contract — INTEGER fixed-point, L1-normalized (the
    * pageRank discipline; L2 would need a sqrt and break engine
    * exactness): per iteration, authorities update FIRST from the
    * previous hubs, then hubs from the NEW authorities (the standard
    * sequencing):
    *   a_raw(p) = Σ_{c→p} h(c);  a(p) = a_raw(p)·scale DIV Σa_raw
    *   h_raw(c) = Σ_{c→p} a(p);  h(c) = h_raw(c)·scale DIV Σh_raw
    * Resolution: the integer renorm needs ≥ 1 unit per vertex, so when
    * either side exceeds `scale` the EFFECTIVE scale auto-widens to the
    * next power of two ≥ the larger side (graceful degradation, not a
    * throw) — callers sizing downstream arithmetic must use the
    * RETURNED score magnitudes, which can exceed the requested `scale`
    * when auto-widening engages. Overflow: the Σraw sums and the
    * raw·scale products run in DECIMAL(38,0) — exact integer
    * arithmetic whose envelope is the decimal precision cap, not Long:
    * the renorm product raw·effScale is bounded by ≈
    * effScale²·maxdeg and must stay under 10^38 (at the default 2^20
    * scale that allows maxdeg·effScale ≲ 10^32 — far beyond any real
    * graph; a product past the cap would null the score under
    * non-ANSI decimal overflow rather than corrupt it silently).
    *
    * Scale shape: edges persist once; per iteration ONE rank⋈edge join
    * + ONE partial-combining aggregate per side, plus a 1-row total
    * (driver scalar, the dangling-mass pattern). Snapshots
    * localCheckpoint'ed, previous iteration released. Output:
    * (kind 'hub'|'auth', id, score_fp), Σscore_fp per kind ≈ scale. */
  def hits(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      iters: Int = 3, scale: Long = 1L << 20): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(scale >= 1, s"scale must be >= 1, got $scale")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val srcs = e.select(col("src").as("id")).distinct()
      .localCheckpoint(eager = true)
    val nS = srcs.count()
    val nD = e.select(col("dst")).distinct().count()
    require(nS > 0 && nD > 0, "hits needs a non-empty edge set")
    // integer renorm needs ≥ 1 unit of resolution per vertex: with more
    // vertices than `scale` the init would floor every score to 0, so
    // the effective scale auto-widens to the next power of two ≥ the
    // larger side (the DECIMAL renorm below makes the wider products
    // overflow-free — no envelope to trade away)
    var effScale = scale
    while (effScale < math.max(nS, nD)) effScale <<= 1
    // the multiply is precision-capped at DECIMAL(38): an overflow
    // nulls it under non-ANSI mode — fail loudly instead of silently
    // nulling the score
    def renorm(raw: String, tot: java.math.BigInteger) =
      expr(s"CASE WHEN $raw IS NOT NULL AND ($raw * ${effScale}L) IS NULL" +
        " THEN raise_error('hits: renorm product overflowed" +
        " DECIMAL(38,0) — lower scale or prune degree')" +
        s" ELSE (coalesce($raw, CAST(0 AS DECIMAL(38,0))) * ${effScale}L)" +
        s" DIV CAST($tot AS DECIMAL(38,0)) END")
    var hubs = srcs.select(col("id"), lit(effScale / nS).as("h"))
      .localCheckpoint(eager = true)
    // the checkpointed frame whose blocks currently back `hubs`/`auths`
    // (the renormed views below stay LAZY over the raw-sum snapshots)
    var hubsBacking: DataFrame = hubs
    var auths: DataFrame = null
    var authsBacking: DataFrame = null
    for (_ <- 0 until iters) {
      // raw sums are snapshotted once per half-step: the Σraw scalar,
      // the next half-step's join, and the final output all read the
      // SAME materialization. The renorm is a lazy projection of it —
      // the old dsts/srcs renorm left-joins were provably no-ops
      // (every dst of e appears in aRaw because hubs always covers
      // every src, and vice versa: the join never fired its
      // null-filling branch), so each half-step is now ONE join + ONE
      // aggregate + one scalar, with no renorm materialization job.
      val aRaw = e.join(hubs.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(col("h").cast("decimal(38,0)")).as("ar"))
        .localCheckpoint(eager = true)
      val aTot = aRaw.agg(sum(col("ar"))).first().getDecimal(0)
        .toBigInteger
      // the previous auths' backing blocks are dead once the new aRaw
      // has materialized (its only mid-loop consumer was last
      // iteration's hRaw)
      if (authsBacking != null) unpersistCheckpoint(authsBacking)
      auths = aRaw.select(col("id"), renorm("ar", aTot).as("a"))
      authsBacking = aRaw
      val hRaw = e.join(auths.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(sum(col("a").cast("decimal(38,0)")).as("hr"))
        .localCheckpoint(eager = true)
      val hTot = hRaw.agg(sum(col("hr"))).first().getDecimal(0)
        .toBigInteger
      unpersistCheckpoint(hubsBacking)
      hubs = hRaw.select(col("id"), renorm("hr", hTot).as("h"))
      hubsBacking = hRaw
    }
    e.unpersist()
    // the final hubs/auths stay lazy over their raw-sum snapshots;
    // those blocks release via the ContextCleaner once the caller's
    // action has consumed the returned frame (the eager-checkpoint
    // output contract of the old shape, minus two materializations
    // per iteration)
    val out = hubs
      .select(lit("hub").as("kind"), col("id"), col("h").as("score_fp"))
      .unionByName(auths.select(lit("auth").as("kind"), col("id"),
        col("a").as("score_fp")))
    unpersistCheckpoint(srcs)
    out
  }

  /** Synchronous label propagation (Raghavan et al. 2007) over an
    * undirected SYMMETRIZED edge list — community detection one rung
    * cheaper than connected components when the graph is dense: labels
    * start as vertex ids and each round every vertex adopts its
    * neighborhood's plurality label. DETERMINISTIC variant: ties break
    * by (count desc, label asc) and updates are synchronous over a
    * FIXED `iters` (async/random-order LPA is run-dependent and
    * unreplayable — the same reasoning that fixed the k-means and
    * pageRank iteration counts). Isolated vertices keep their label.
    *
    * Scale shape: per iteration ONE label⋈edge join + ONE
    * (dst, label) partial-combining count + a neighborhood-bounded
    * window (partitioned by vertex — never global); frontiers
    * localCheckpoint'ed with the previous round released. Output:
    * (idCol, label). */
  def labelPropagation(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = vertices.select(col(idCol).as("id"), col(idCol).as("label"))
      .localCheckpoint(eager = true)
    for (_ <- 0 until iters) {
      val counts = e.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("__n"))
      val w = Window.partitionBy(col("id"))
        .orderBy(col("__n").desc, col("label").asc)
      val pick = counts.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("id"), col("label").as("__new"))
      val next = labels.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("__new"), col("label")).as("label"))
        .localCheckpoint(eager = true)
      unpersistCheckpoint(labels)
      labels = next
    }
    e.unpersist()
    labels.select(col("id").as(idCol), col("label"))
  }

  /** Multi-source BFS shortest hop-distance, capped at `maxHops`
    * (parallel breadth-first relaxation — the bounded-depth form of
    * Bellman-Ford over unit weights): dist(v) = 0 on the seed set,
    * min hops to a seed otherwise, -1 if unreached within the cap.
    * The cap is the 100 TB contract: each round is ONE edges⋈frontier
    * equi-join + ONE min-aggregate, so cost is maxHops bounded scans,
    * never a transitive closure. A labeled vertex never relabels
    * (BFS layers are monotone), so the frontier join filters to the
    * PREVIOUS layer only — frontier size tracks the BFS wavefront,
    * not the labeled set. Integer hop counts — engine-exact.
    *
    * Edge contract (the [[labelPropagation]] convention): edges relax
    * src→dst ONLY — for undirected distance the CALLER symmetrizes
    * (union both directions). Canonical id_a < id_b pair lists (the
    * shape every Dedup pair op emits) passed raw give one-directional
    * distances. Output: (idCol, dist). */
  def bfsDistances(vertices: DataFrame, idCol: String, seedPred: Column,
      edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = vertices.select(col(idCol).as("id"),
        when(seedPred, lit(0)).otherwise(lit(null).cast("int")).as("dist"))
      .localCheckpoint(eager = true)
    for (i <- 1 to maxHops) {
      val reached = e.join(dist.filter(col("dist") === i - 1),
          e("src") === dist("id"))
        .select(col("dst")).distinct()
        .withColumn("__nd", lit(i))
      val next = dist.join(reached, dist("id") === reached("dst"), "left")
        .select(col("id"), coalesce(col("dist"), col("__nd")).as("dist"))
        .localCheckpoint(eager = true)
      unpersistCheckpoint(dist)
      dist = next
    }
    e.unpersist()
    dist.select(col("id").as(idCol),
      coalesce(col("dist"), lit(-1)).as("dist"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over canonical
    * undirected edges (id_a < id_b): for each NON-adjacent pair (u, w)
    * sharing ≥ 1 neighbor, common-neighbor count and
    * score = Σ_{z ∈ N(u)∩N(w)} 1/ln(deg z) — wedge centers always have
    * deg ≥ 2, so ln > 0. The per-z terms fold through 2^40 fixed-point
    * BEFORE the sum (the q80 construction), so shuffle order can't
    * reorder double adds; candidate pairs come from the WEDGE join
    * (adjacency ⋈ adjacency on the shared center, nbr_a < nbr_b) —
    * O(Σ deg²) like triangle counting, never all-pairs — minus an
    * anti-join against the edge set. Top-`topK` by (score desc, pair).
    * Output: (id_a, id_b, common_neighbors, adamic_adar). */
  def adamicAdar(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b", topK: Int = 20): DataFrame = {
    val fix = (1L << 40).toDouble
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b")).distinct()
      .localCheckpoint(eager = true) // read by adj, wedge AND the anti-join
    val adj = e.select(col("a").as("v"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("v"), col("a").as("nbr")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("__deg"))
    // wedge centers need deg >= 2; filtering BEFORE the 1/ln(deg) term
    // also keeps ANSI mode off the ln(1) = 0 division
    val adjd = adj.join(deg, Seq("v")).filter(col("__deg") >= 2)
      .withColumn("__term", round(lit(fix) / log(col("__deg").cast("double")))
        .cast("long"))
    val wedges = adjd.select(col("v"), col("nbr").as("u"), col("__term"))
      .join(adjd.select(col("v"), col("nbr").as("w")), Seq("v"))
      .filter(col("u") < col("w"))
    val cand = wedges
      .join(e, wedges("u") === e("a") && wedges("w") === e("b"), "left_anti")
      .groupBy(col("u").as(srcCol), col("w").as(dstCol))
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(col("__term")).cast("double") / fix, 6).as("adamic_adar"))
    cand.orderBy(col("adamic_adar").desc, col(srcCol), col(dstCol))
      .limit(topK)
  }

  /** Local clustering coefficient (Watts & Strogatz '98) per vertex of
    * degree ≥ 2 over canonical undirected edges (id_a < id_b):
    * cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), with T(v) = closed wedges at
    * v — "how clique-like is each document's near-dup neighborhood"
    * (cc ≈ 1 = true duplicate cluster; cc ≈ 0 = a hub stitching
    * unrelated docs, the chain-collapse smell q393 audits globally).
    * Same wedge join as [[triangleCount]]/[[adamicAdar]] — O(Σ deg²),
    * never all-pairs — closed by ONE semi-join against the edge set;
    * integer counts make the division engine-exact.
    * Output: (id, deg, triangles, clustering). */
  def localClustering(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b"): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b")).distinct()
      .localCheckpoint(eager = true) // read by adj AND the wedge-close probe
    val adj = e.select(col("a").as("v"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("v"), col("a").as("nbr")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = adj.select(col("v"), col("nbr").as("u"))
      .join(adj.select(col("v"), col("nbr").as("w")), Seq("v"))
      .filter(col("u") < col("w"))
    val tri = wedges
      .join(e, wedges("u") === e("a") && wedges("w") === e("b"), "left_semi")
      .groupBy(col("v")).agg(count(lit(1)).as("triangles"))
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("v"), "left")
      .na.fill(0L, Seq("triangles"))
      .select(col("v").as("id"), col("deg"), col("triangles"),
        round(lit(2.0) * col("triangles").cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double"), 6).as("clustering"))
      .orderBy(col("id"))
  }

  /** Power-law degree exponent MLE (Clauset, Shalizi & Newman 2009,
    * eq. 3.7 continuous approximation): α = 1 + n / Σ ln(d_i/(dmin−½))
    * over vertices with degree ≥ dmin — the "is this near-dup graph
    * scale-free or mirror-farm" diagnostic (α ≈ 2–3 is organic,
    * α → 1 means a few mega-hubs dominate). Per-vertex ln terms fold
    * through 2^40 fixed-point before the sum (the q80 construction);
    * everything else is the one degree aggregate.
    * Output: one row (n_vertices, dmin, alpha). */
  def powerLawAlpha(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b", dmin: Int = 1): DataFrame = {
    require(dmin >= 1, s"dmin must be >= 1, got $dmin")
    val fix = (1L << 40).toDouble
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b")).distinct()
    val adj = e.select(col("a").as("v"), col("b").as("nbr"))
      .unionByName(e.select(col("b").as("v"), col("a").as("nbr")))
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= dmin)
      .select(round(log(col("deg").cast("double") / lit(dmin - 0.5)) * fix)
        .cast("long").as("__t"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("__t")).as("__s"))
      .select(col("n_vertices"), lit(dmin).as("dmin"),
        round(lit(1.0) +
          col("n_vertices").cast("double") / (col("__s").cast("double") / fix), 6)
          .as("alpha"))
  }
}
