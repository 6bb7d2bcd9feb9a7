package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * All hashing is md5-derived (engine-portable, seedable, deterministic) so
  * results reproduce across engines and cluster runs — no JVM-specific
  * hashCode in any output. Shapes are chosen for 100 TB:
  *   - exact dedup: one shuffle (groupBy hash);
  *   - MinHash LSH: per-row signature (no shuffle) → explode bands →
  *     band-bucket self-join (shuffle on band key, NOT all-pairs) →
  *     exact-Jaccard verify on the candidates only.
  */
object Dedup {

  /** 60-bit stable hash of a string with a seed: first 15 hex digits of
    * md5("<seed>|<s>"). Portable to any engine with md5. */
  def seededHash(seed: Int, s: Column): Column =
    conv(substring(md5(concat(lit(seed + "|"), s)), 1, 15), 16, 10).cast("long")

  /** Unseeded 60-bit md5 hash — the single expensive hash per shingle;
    * seed variants derive from it via `mixHash` (16× fewer md5 calls). */
  def baseHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  private val Mask60 = (1L << 60) - 1

  /** Per-seed rotation amount and xor constant (pure function of the seed,
    * computed driver-side; also embedded into the DuckDB oracle SQL). */
  def mixRot(seed: Int): Int = seed * 7 % 59 + 1
  def mixConst(seed: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"mix:$seed".getBytes("UTF-8"))
    java.lang.Long.parseLong(md.map("%02x".format(_)).mkString.substring(0, 15), 16)
  }

  /** Bijective 60-bit mix: rotate-left by `mixRot(seed)` then xor
    * `mixConst(seed)`. No multiplication → no bigint overflow in any
    * engine (DuckDB errors on int64 overflow; Java wraps — this avoids
    * the divergence entirely). */
  def mixHash(h: Column, seed: Int): Column = {
    val r = mixRot(seed)
    // keep the to-be-shifted bits below 2^60 BEFORE shifting: stays in
    // int64 range in every engine (DuckDB errors on shift overflow)
    val low = h.bitwiseAND(lit((1L << (60 - r)) - 1))
    val rotated = shiftleft(low, r).bitwiseOR(shiftright(h, 60 - r))
    rotated.bitwiseXOR(lit(mixConst(seed)))
  }

  /** Whitespace word shingles of size `k` (distinct set) from a text col —
    * fused single-pass expression (functions.ShinglesExpr); bit-identity
    * with the declarative form is spec-proven. */
  def shingles(text: Column, k: Int = 3): Column =
    graft.functions.Shingles.wordShingles(text, k)

  /** The declarative formulation (kept for the equivalence spec).
    *
    * Built from k shifted `slice`s zipped together — NOT an index lambda
    * doing `toks[i+o]`: expressions inside lambda bodies are exempt from
    * Catalyst subexpression elimination, so a `get(toks, i+o)` form would
    * re-split the whole text per token (O(n²) in the text length). All
    * repeated subtrees here sit outside the lambdas, where CSE merges
    * them. */
  def shinglesDeclarative(text: Column, k: Int = 3): Column = {
    val toks = split(lower(text), " ")
    val len = greatest(size(toks) - (k - 1), lit(0))
    val parts = (1 to k).map(o => slice(toks, lit(o), len))
    array_distinct(parts.reduce((a, b) => zip_with(a, b, (x, y) => concat_ws(" ", x, y))))
  }

  /** Normalized-text exact-duplicate groups: md5 over lower/trimmed/
    * whitespace-collapsed text → (hash, n_docs, canonical doc). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__h", md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")))
      .groupBy(col("__h").as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("canonical_id"))

  /** MinHash signature from an ALREADY-MATERIALIZED base-hash array.
    * Each of the `numHashes` variants is rotate-xor integer mixing only.
    * Callers must materialize the md5 base hashes into a real column first
    * (see `minhashPairs`): lambda bodies are exempt from Catalyst
    * subexpression elimination, so embedding the md5 subtree here would
    * re-hash every shingle once per seed — a silent 16× md5 blowup. */
  def minhashSignatureFromHashes(hashes: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      coalesce(array_min(transform(hashes, h => mixHash(h, i))), lit(0L))): _*)

  /** MinHash signature straight from the shingle set (convenience; for the
    * hot path use the FromHashes variant on a materialized hash column). */
  def minhashSignature(sh: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(transform(sh, s => baseHash(s)), numHashes)

  /** LSH band keys: split the signature into `bands` bands of
    * `numHashes/bands` rows; key = md5 of the comma-joined band slice. */
  def bandKeys(sig: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    array((0 until bands).map { b =>
      val slice = (0 until r).map(j => get(sig, lit(b * r + j)).cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(",", slice: _*)).as("key"))
    }: _*)
  }

  /** Near-duplicate pairs via MinHash LSH + exact-Jaccard verification.
    * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.
    *
    * At scale: the only shuffles are the band-bucket join (keys are
    * md5-uniform → no skew) and the two shingle-set lookups for the
    * candidate pairs (a tiny fraction of all pairs). Never computes the
    * quadratic all-pairs product.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 8,
      shingleK: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // shared by the band explode AND both sides of the verify join —
    // persist so the shingle + md5 base-hash expressions evaluate once.
    // Hashing runs through the primitive-loop kernels (HashOps) — same
    // values as the transform-lambda forms, no per-element boxing.
    // Only the HASH array persists (8 bytes/shingle, not the ~20-char
    // strings), sorted ONCE per document: the signature is min-over-set
    // (order-independent) and the verify step's two-pointer merge kernel
    // needs sorted-distinct inputs (`shingles` is distinct by
    // construction; hash-set identity == string-set identity is the
    // library's standing 60-bit contract, oracle-gated per corpus).
    val withSh = df.select(col(idCol).as("__id"),
        array_sort(graft.functions.HashOps.md5Prefix60Array(
          shingles(col(textCol), shingleK))).as("__hs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withBands = withSh
      .withColumn("__sig", graft.functions.HashOps.minhashSigFast(col("__hs"), numHashes))
      .select(col("__id"),
        explode(bandKeys(col("__sig"), numHashes, bands)).as("__b"))
      .select(col("__id"), col("__b.band").as("__band"), col("__b.key").as("__key"))
    val a = withBands.select(col("__id").as("id_a"), col("__band"), col("__key"))
    val b = withBands.select(col("__id").as("id_b"), col("__band"), col("__key"))
    val cand = a.join(b, Seq("__band", "__key")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val shA = withSh.select(col("__id").as("id_a"), col("__hs").as("__hs_a"))
    val shB = withSh.select(col("__id").as("id_b"), col("__hs").as("__hs_b"))
    cand.join(shA, "id_a").join(shB, "id_b")
      .withColumn("__inter", graft.functions.HashOps.sortedIntersectCount(
        col("__hs_a"), col("__hs_b")))
      // |A∪B| = |A| + |B| − |A∩B| on distinct sets — no union array built
      .withColumn("jaccard", col("__inter") /
        (size(col("__hs_a")) + size(col("__hs_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** INCREMENTAL near-dup: MinHash-LSH pairs between a new `batch` and
    * the existing `corpus` ONLY — the daily-ingest shape where
    * [[minhashPairs]]'s all-pairs-within-one-set contract would redo
    * corpus×corpus work that is already deduplicated. Same signatures,
    * banding, and verify kernel as the batch op (the q25 constructions),
    * but the band join is STRICTLY cross-set.
    *
    * At 100 TB the corpus side is a materialized band index (bucketed by
    * the md5-uniform key, appended per ingest); the batch explodes its
    * own bands and probes — cost tracks the BATCH, not the corpus.
    * Output: (corpus_id, batch_id, jaccard ≥ threshold). */
  def minhashPairsIncremental(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 16, bands: Int = 8,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    // Eager checkpoint, not persist: both shingle caches are RELEASED
    // below once the (output-sized) pair list is materialised, so the
    // call holds no signature storage for the session lifetime — the
    // simhashDupPairs discipline (`checkpoint` on a cluster).
    def prep(df: DataFrame) = df.select(col(idCol).as("__id"),
        array_sort(graft.functions.HashOps.md5Prefix60Array(
          shingles(col(textCol), shingleK))).as("__hs"))
      .localCheckpoint(eager = true)
    def bandsOf(withSh: DataFrame, out: String) = withSh
      .withColumn("__sig",
        graft.functions.HashOps.minhashSigFast(col("__hs"), numHashes))
      .select(col("__id").as(out),
        explode(bandKeys(col("__sig"), numHashes, bands)).as("__b"))
      .select(col(out), col("__b.band").as("__band"), col("__b.key").as("__key"))
    val shC = prep(corpus); val shB = prep(batch)
    val cand = bandsOf(shC, "corpus_id")
      .join(bandsOf(shB, "batch_id"), Seq("__band", "__key"))
      .select("corpus_id", "batch_id").distinct()
    val out = cand
      .join(shC.select(col("__id").as("corpus_id"), col("__hs").as("__hs_a")), "corpus_id")
      .join(shB.select(col("__id").as("batch_id"), col("__hs").as("__hs_b")), "batch_id")
      .withColumn("__inter", graft.functions.HashOps.sortedIntersectCount(
        col("__hs_a"), col("__hs_b")))
      .withColumn("jaccard", col("__inter") /
        (size(col("__hs_a")) + size(col("__hs_b")) - col("__inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("batch_id"), col("jaccard"))
      .localCheckpoint(eager = true) // output-sized (cross-set dups only)
    unpersistCheckpoint(shC)
    unpersistCheckpoint(shB)
    out
  }

  /** Near-dup CLUSTERS from a pair list: connected components by
    * iterative min-label propagation — each vertex repeatedly takes the
    * smallest label among itself and its neighbors until fixpoint, so
    * `label` = min doc id of the component (the canonical doc).
    *
    * Scale shape: per iteration one join + one partial-aggregating groupBy
    * over the LABEL table (O(docs) rows, not O(pairs²)); lineage is cut
    * per iteration (eager localCheckpoint → `checkpoint` on a cluster).
    * Converges in ≤ component-diameter iterations — near-dup components
    * are shallow (dups of a common source), so a handful in practice; for
    * adversarially long chains swap in the large-star/small-star variant.
    * Deterministic: min is order-independent. */
  def connectedComponents(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String = "id_a", dstCol: String = "id_b",
      maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Iterate over edge-TOUCHED vertices only: an isolated vertex is its
    // own component by definition and can never change label, so it has
    // no business in the propagation joins. For a near-dup graph over a
    // large corpus touched ≪ vertices (most docs have no dup), which
    // shrinks every per-iteration join/agg input from O(corpus) to
    // O(touched); the untouched rest union back in at the end as id→id.
    // Eagerly materialized: the RETURNED plan references touched in its
    // final anti-join, which runs after sym.unpersist() — an un-cut
    // lineage would silently recompute the whole edge derivation (for
    // minhash pairs, the full shingle/band chain) on every caller action.
    val touched = sym.select(col("src").as("id")).distinct()
      .localCheckpoint(eager = true)
    var labels = vertices.select(col(idCol).as("id"))
      .join(touched, Seq("id"), "left_semi")
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(eager = true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val bySrc = labels.select(col("id").as("src"), col("label").as("slabel"))
      val neighborMin = sym.join(bySrc, "src")
        .groupBy(col("dst").as("id")).agg(min("slabel").as("nlabel"))
      // ONE materialized pass per iteration: both the fixpoint test and the
      // next label table read the same checkpointed join output
      val joined = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          coalesce(col("nlabel"), col("label")).as("cand"))
        .localCheckpoint(eager = true)
      // labels only ever decrease → fixpoint when no candidate is smaller
      converged = joined.filter(col("cand") < col("label")).isEmpty
      // previous iteration's checkpoint blocks are dead now — release them
      // so ≤2 label snapshots (not maxIter) sit in the block manager
      unpersistCheckpoint(labels)
      labels = joined.select(col("id"), least(col("label"), col("cand")).as("label"))
      i += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — a " +
          "component's diameter exceeds maxIter; raise it (labels would be " +
          "silently inconsistent otherwise)")
    // untouched vertices are their own singletons — one anti-join, no
    // participation in any iteration
    vertices.select(col(idCol).as("id"))
      .join(touched, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
      .unionByName(labels)
  }

  /** The documented escape hatch of `connectedComponents`: alternating
    * large-star / small-star contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14 — public algorithm),
    * which converges in O(log² n) rounds on ANY component shape, vs
    * min-label propagation's O(diameter). Same output contract:
    * (id, label) with label = component min.
    *
    * Edges are kept canonical (child, parent) with parent < child.
    * Per round:
    *  - large-star: every node u computes m = min({u} ∪ Γ(u)) over the
    *    SYMMETRIZED neighborhood and re-parents its strictly-larger
    *    neighbors to m;
    *  - small-star: every node u re-parents its smaller-side neighborhood
    *    (its parents) and itself to their collective min.
    * Both are one groupBy + one join over the edge table — O(edges)
    * shuffles on uniform keys, lineage cut per round, previous round's
    * blocks released. Fixpoint = the canonical edge set stops changing;
    * at fixpoint every non-root points DIRECTLY at its component min. */
  def connectedComponentsStar(vertices: DataFrame, idCol: String, edges: DataFrame,
      srcCol: String = "id_a", dstCol: String = "id_b",
      maxIter: Int = 32): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    def largeStar(ed: DataFrame): DataFrame = {
      val sym = ed.union(ed.select(col("v").as("u"), col("u").as("v")))
      val mm = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.filter(col("v") > col("u")).join(mm, "u")
        .select(col("v").as("u"), col("m").as("v")) // (child, parent), parent ≤ u < child
        .distinct()
    }
    def smallStar(ed: DataFrame): DataFrame = {
      // ed is canonical: v < u, i.e. v = a parent of u
      val mm = ed.groupBy(col("u")).agg(min(col("v")).as("m"))
      val reparented = ed.join(mm, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v")) // sibling parents → min
      val self = mm.select(col("u"), col("m").as("v"))
      reparented.union(self).distinct()
    }
    var e = canon(edges.select(col(srcCol).as("u"), col(dstCol).as("v")))
      .localCheckpoint(eager = true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(eager = true)
      // canonical-set fixpoint: same size and nothing new on either side
      converged = next.count() == e.count() && next.exceptAll(e).isEmpty
      unpersistCheckpoint(e)
      e = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds")
    vertices.select(col(idCol).as("id"))
      .join(e.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Release the block-manager storage behind a localCheckpoint'ed frame
    * (Dataset.unpersist only covers cache-manager entries). No-op when the
    * plan isn't a checkpoint scan. */
  private[ops] def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Apply near-dup clusters: keep only each component's canonical
    * document (id == label, i.e. the component's min id). Inner join on
    * the O(docs) label table — AQE broadcasts it when the cluster table is
    * small relative to the corpus; otherwise it's one co-partitioned
    * shuffle on the id. */
  def keepCanonical(df: DataFrame, idCol: String, clusters: DataFrame): DataFrame =
    df.join(
      clusters.filter(col("id") === col("label")).select(col("id").as(idCol)),
      idCol)

  /** Apply near-dup clusters keeping each cluster's BEST document by an
    * arbitrary score column (ties → lowest id) — the production
    * representative choice (keep the longest / highest-quality copy),
    * where `keepCanonical`'s min-id is the arbitrary-but-cheap default.
    * Arg-max AGGREGATION over the scored label table (map-side partial
    * max per cluster — one candidate per (cluster, partition) crosses
    * the exchange), never a per-cluster window sort. */
  def keepBest(df: DataFrame, idCol: String, clusters: DataFrame,
      score: Column): DataFrame = {
    val scored = df.withColumn("__score", score)
      .join(clusters.select(col("id").as(idCol), col("label")), Seq(idCol))
    val best = scored.groupBy(col("label"))
      .agg(max(struct(col("__score"), (lit(0L) - col(idCol)).as("__negid"))).as("__b"))
      .select((lit(0L) - col("__b.__negid")).as(idCol))
    df.join(best, Seq(idCol))
  }

  /** 48-bit SimHash over the token multiset (48 ≤ the 60 bits of
    * `seededHash`, and keeps the result positive in any engine's bigint).
    * Bit k is set when the majority of token-hashes have bit k set.
    * Per-row expression — no shuffle. */
  def simhash(text: Column, bits: Int = 48): Column = {
    val toks = split(lower(text), " ")
    val hashes = transform(toks, t => seededHash(777, t))
    (0 until bits).map { k =>
      val ones = aggregate(hashes, lit(0L),
        (acc, h) => acc + shiftright(h, k).bitwiseAND(1L))
      when(ones * 2 > size(toks).cast("long"), shiftleft(lit(1L), k)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`,
    * found by Manku/Jain/Das Sarma-style bit-block blocking (WWW 2007,
    * the published web-dedup method): split the `bits`-bit signature
    * into maxHamming+1 equal blocks — two signatures within distance d
    * must agree EXACTLY on at least one block (pigeonhole), so a
    * self-join on (block index, block bits) finds every qualifying pair
    * with zero false negatives. Candidates verify with one codegen'd
    * `bit_count(xor)`; a pair agreeing on several blocks dedups in the
    * final distinct.
    *
    * Scale shape: map-only signatures, a (maxHamming+1)-way explode, ONE
    * bucketed self-join. Block bits are majority votes over md5-derived
    * token hashes — near-uniform across unrelated docs, so bucket sizes
    * concentrate at N/2^width; only true near-dup clusters share
    * buckets, giving the band-join fanout contract (Σ cluster², never
    * N²). The verify predicate stays in whole-stage codegen. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      bits: Int = 48, maxHamming: Int = 3): DataFrame = {
    val blocks = maxHamming + 1
    require(bits % blocks == 0,
      s"bits=$bits must split evenly into ${blocks} blocks (maxHamming+1)")
    val width = bits / blocks
    val mask = (1L << width) - 1
    // Signature via the one-pass kernels (seeded md5 array + SimhashKernel
    // — same values as the declarative `simhash`, spec-pinned), cut with
    // an EAGER localCheckpoint (16 bytes/doc) before the explode/join:
    // without the cut, Catalyst inlines the signature expression into
    // every block-key reference and both join sides — 10× recomputation
    // of the md5 pass (the minhashPairs discipline, Dedup.scala:114).
    // Checkpoint, not persist: the checkpoint is RELEASED below once the
    // (output-sized) pair list is materialised, so the call holds no
    // signature storage for the session lifetime (`checkpoint` on a
    // cluster — the connectedComponents discipline, Dedup.scala:163).
    val sig = docs.select(col(idCol).as("__id"),
        coalesce(graft.functions.HashOps.simhashFast(
          graft.functions.HashOps.md5Prefix60Array(
            split(lower(col(textCol)), " "), seed = 777), bits),
          lit(0L)).as("__sig"))
      .localCheckpoint(eager = true)
    val keyed = sig.select(col("__id"), col("__sig"),
      explode(array((0 until blocks).map { blk =>
        struct(lit(blk).as("blk"),
          shiftright(col("__sig"), blk * width).bitwiseAND(mask).as("key"))
      }: _*)).as("__bk"))
      .select(col("__id"), col("__sig"),
        col("__bk.blk").as("__blk"), col("__bk.key").as("__key"))
    val l = keyed.select(col("__blk"), col("__key"),
      col("__id").as("id_a"), col("__sig").as("__sa"))
    val r = keyed.select(col("__blk"), col("__key"),
      col("__id").as("id_b"), col("__sig").as("__sb"))
    val out = l.join(r, Seq("__blk", "__key")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__sa").bitwiseXOR(col("__sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .localCheckpoint(eager = true) // output-sized (near-dup pairs only)
    unpersistCheckpoint(sig)
    out
  }

  /** Embedding-cosine near-duplicate pairs: candidates from a sign-LSH
    * bucket self-join (Σ bucket² ≈ N²/2^planes pairs, never the full
    * quadratic product), verified with exact cosine ≥ `threshold`.
    * Returns (id_a, id_b, sim) with id_a < id_b — dedup convention: keep
    * the smaller id, drop the larger. Recall < 1 by design (bucket-local
    * candidates); more planes = cheaper + lower recall. */
  def embedDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      dim: Int, planes: Int, threshold: Double): DataFrame = {
    val b = emb.withColumn("__bucket", Similarity.lshBucket(col(vecCol), dim, planes))
    val l = b.select(col(idCol).as("id_a"), col(vecCol).as("__va"), col("__bucket"))
    val r = b.select(col(idCol).as("id_b"), col(vecCol).as("__vb"), col("__bucket"))
    l.join(r, Seq("__bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("__va"), col("__vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    * method): partition the embedding space into k-means cells, then
    * within each cell drop every vector whose cosine to a LOWER-id
    * cell-mate exceeds `threshold` (keep = the min-id representative of
    * each semantic near-dup group, transitively within the cell).
    * Returns (idCol, cell, keep).
    *
    * Scale shape: the quadratic comparison runs per CELL, never globally —
    * the self-join shuffles on the cell id, so pair count is Σ cell² ≈
    * N²/k, and k grows with the corpus (N/k vectors per cell is the knob).
    * The centroid set is a driver-side literal (k×dim floats — the same
    * contract as the IVF family; a 100 TB run fits it from a sample once
    * per corpus version). Cell assignment is the literal-expression
    * `ivfCell` argmax — zero shuffle, gated by q89's fit audit. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Array[Float])], threshold: Double): DataFrame = {
    val assigned = emb.select(col(idCol), col(vecCol))
      .withColumn("cell", Similarity.ivfCell(col(vecCol), centroids))
    val l = assigned.select(col(idCol).as("__ia"), col(vecCol).as("__va"), col("cell"))
    val r = assigned.select(col(idCol).as("__ib"), col(vecCol).as("__vb"), col("cell"))
    val dups = l.join(r, Seq("cell")).filter(col("__ia") < col("__ib"))
      .filter(Similarity.cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("__ib").as(idCol)).distinct()
    assigned.join(dups.withColumn("__dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("__dup").isNull.as("keep"))
  }

  /** Exact n-gram Jaccard over ALL pairs of a (bounded) document set —
    * the correctness baseline the LSH path approximates. Quadratic, so the
    * input bound is ENFORCED, not just documented: the call counts the
    * input and refuses more than `maxRows` rows (default 10k ⇒ ≤ 50M
    * comparisons) — a caller auditing a bigger set must either sample it
    * or opt in explicitly by raising `maxRows`; the scalable exact twin
    * is `prefixJaccardPairs`. The extra count is one pass over an input
    * that is small by contract. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.5,
      maxRows: Long = 10000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"jaccardPairs is a quadratic audit baseline: input has $n rows > maxRows=$maxRows" +
        " — sample the input, raise maxRows explicitly, or use prefixJaccardPairs")
    val withSh = df.select(col(idCol).as("__id"), shingles(col(textCol), shingleK).as("__sh"))
    val a = withSh.select(col("__id").as("id_a"), col("__sh").as("__sh_a"))
    val b = withSh.select(col("__id").as("id_b"), col("__sh").as("__sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("__sh_a"), col("__sh_b"))) /
          size(array_union(col("__sh_a"), col("__sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT thresholded Jaccard self-join WITHOUT the quadratic product —
    * prefix filtering (Chaudhuri/Ganti/Kaushik ICDE'06, the PPJoin family):
    * order every set by global token frequency (rarest first, ties token
    * asc), take each set's first |S| − ⌈τ|S|⌉ + 1 tokens as its PREFIX,
    * and generate candidates only from pairs sharing a prefix token. The
    * prefix-filtering lemma guarantees completeness: |A∩B| ≥ c implies the
    * length-(|A|−c+1) and (|B|−c+1) prefixes intersect under any shared
    * total order, and J ≥ τ forces |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉. Candidates
    * then verify by exact intersection — so the OUTPUT is identical to
    * `jaccardPairs` (same contract, no recall loss), which is exactly how
    * it's gated (q108 vs the all-pairs oracle; property-spec equivalence
    * on random corpora).
    *
    * The threshold is a RATIONAL tNum/tDen so the prefix length is pure
    * integer arithmetic (c = (tNum·|S| + tDen − 1) DIV tDen) — a float
    * ⌈τ|S|⌉ one ulp short would silently break the completeness lemma.
    *
    * Scale shape: the candidate join shuffles on PREFIX tokens only —
    * rarest-first ordering makes those the lowest-frequency keys in the
    * corpus (the hot head tokens never enter a prefix unless a set is
    * almost all head tokens), so the join avoids the skew that kills a
    * naive token-join; the verify step touches candidate pairs only. This
    * is the exact-output counterpart of MinHash-LSH (`minhashPairs`):
    * LSH when approximate recall is acceptable, prefix join when the
    * contract is exact. */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0, 1]: $tNum/$tDen")
    val tau = tNum.toDouble / tDen
    // the whole chain runs on 60-bit md5 shingle HASHES, not the shingle
    // strings: 8-byte join/sort keys and long-array verify instead of
    // ~20-char strings (measured ≈6 s → ≈2.7 s at sf0.1). Hash equality
    // as set identity is the library's standing contract (q24's exact
    // dedup keys on md5(text), decontamination joins on the same 60-bit
    // hash); the string-exact oracle gates it per corpus.
    // sorted-distinct ONCE per document: the verify step's two-pointer
    // merge kernel (sortedIntersectCount) needs sorted inputs, and the
    // per-pair cost drops from hash-set build + intersection array
    // allocation to a single allocation-free merge (measured below)
    val withSh = df.select(col(idCol).as("__id"),
        array_sort(array_distinct(graft.functions.HashOps.md5Prefix60Array(
          shingles(col(textCol), shingleK)))).as("__hs"))
      .filter(size(col("__hs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = withSh.select(col("__id"), explode(col("__hs")).as("__s"))
    val dfreq = tok.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
    val ranked = tok.join(dfreq, Seq("__s"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))
          .orderBy(col("__df"), col("__s"))))
    val prefix = ranked
      .join(withSh.select(col("__id"), size(col("__hs")).as("__sz")), Seq("__id"))
      .filter(col("__rn") <=
        col("__sz") - expr(s"(__sz * $tNum + ${tDen - 1}) DIV $tDen") + 1)
      .select(col("__id"), col("__s"), col("__rn"), col("__sz"))
    // candidate pruning BEFORE the distinct + verify joins (PPJoin's two
    // filters — both completeness-preserving, so the output contract is
    // untouched; on a shared-boilerplate-heavy corpus they cut the
    // candidate set ~3×):
    //  - length: J ≥ τ forces τ·|A| ≤ |B| and τ·|B| ≤ |A|;
    //  - positional, applied at the pair's FIRST shared prefix token
    //    (every common element sits at or after it in both orders):
    //    overlap ≤ 1 + min(|A|−pA, |B|−pB), and J ≥ τ needs overlap ≥
    //    ⌈τ(|A|+|B|)/(1+τ)⌉. Integer arithmetic throughout.
    val a = prefix.select(col("__id").as("id_a"), col("__s"),
      col("__rn").as("__rna"), col("__sz").as("__sza"))
    val b = prefix.select(col("__id").as("id_b"), col("__s"),
      col("__rn").as("__rnb"), col("__sz").as("__szb"))
    val cand = a.join(b, Seq("__s"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__sza") * tDen >= col("__szb") * tNum &&
        col("__szb") * tDen >= col("__sza") * tNum)
      .filter(lit(1) + least(col("__sza") - col("__rna"), col("__szb") - col("__rnb")) >=
        expr(s"($tNum * (__sza + __szb) + ${tNum + tDen - 1}) DIV ${tNum + tDen}"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(withSh.select(col("__id").as("id_a"), col("__hs").as("__hs_a")), Seq("id_a"))
      .join(withSh.select(col("__id").as("id_b"), col("__hs").as("__hs_b")), Seq("id_b"))
      .withColumn("__inter", graft.functions.HashOps.sortedIntersectCount(
        col("__hs_a"), col("__hs_b")))
      // |A∪B| = |A| + |B| − |A∩B| on distinct sets — no union array built
      .withColumn("jaccard", col("__inter") /
        (size(col("__hs_a")) + size(col("__hs_b")) - col("__inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Scalable twin of `containmentPairs` (q82's documented-quadratic
    * audit baseline): EXACT containment join |A∩B|/min(|A|,|B|) ≥ τ
    * via the asymmetric prefix scheme for overlap joins — the required
    * overlap o = ⌈τ·min⌉ equals ⌈τ·|small|⌉, so only the SMALLER set
    * needs a prefix (its rarest |X|−o+1 shingle hashes, rarest-first
    * like PPJoin) while the larger side is probed through its FULL
    * token index; if overlap ≥ o, some common element must sit in the
    * small side's prefix (≤ o−1 common elements fit outside it) and
    * every element of the large side is indexed, so no qualifying pair
    * is missed. Candidates verify with the allocation-free sorted-hash
    * two-pointer kernel. Output == the brute join: (id_a < id_b,
    * containment ≥ τ).
    *
    * Scale shape: one df-rank window + ONE token-keyed candidate join
    * where the prefix side carries only RARE tokens (a stopword never
    * enters any prefix, so its bucket is probe-only and produces no
    * pairs) + the two set-lookup joins for verify. Thresholds are exact
    * rationals (tNum/tDen), all pruning in integer arithmetic. */
  def prefixContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, tNum: Int = 1, tDen: Int = 2): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0, 1]: $tNum/$tDen")
    val tau = tNum.toDouble / tDen
    val withSh = df.select(col(idCol).as("__id"),
        array_sort(array_distinct(graft.functions.HashOps.md5Prefix60Array(
          shingles(col(textCol), shingleK)))).as("__hs"))
      .filter(size(col("__hs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tok = withSh.select(col("__id"), explode(col("__hs")).as("__s"))
    val dfreq = tok.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
    val ranked = tok.join(dfreq, Seq("__s"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__id"))
          .orderBy(col("__df"), col("__s"))))
      .join(withSh.select(col("__id"), size(col("__hs")).as("__sz")), Seq("__id"))
    // small side: rarest-first prefix of length |X| − ⌈τ|X|⌉ + 1
    val prefix = ranked
      .filter(col("__rn") <=
        col("__sz") - expr(s"(__sz * $tNum + ${tDen - 1}) DIV $tDen") + 1)
      .select(col("__id").as("id_s"), col("__s"), col("__sz").as("__szs"))
    val full = ranked.select(col("__id").as("id_l"), col("__s"),
      col("__sz").as("__szl"))
    val cand = prefix.join(full, Seq("__s"))
      // the prefix side must be the smaller set (ties break by id so each
      // unordered pair is generated from exactly one direction)
      .filter(col("__szs") < col("__szl") ||
        (col("__szs") === col("__szl") && col("id_s") < col("id_l")))
      .filter(col("id_s") =!= col("id_l"))
      .select(least(col("id_s"), col("id_l")).as("id_a"),
        greatest(col("id_s"), col("id_l")).as("id_b"))
      .distinct()
    cand
      .join(withSh.select(col("__id").as("id_a"), col("__hs").as("__hs_a")), Seq("id_a"))
      .join(withSh.select(col("__id").as("id_b"), col("__hs").as("__hs_b")), Seq("id_b"))
      .withColumn("__inter", graft.functions.HashOps.sortedIntersectCount(
        col("__hs_a"), col("__hs_b")))
      .withColumn("containment", col("__inter") /
        least(size(col("__hs_a")), size(col("__hs_b"))))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Benchmark DECONTAMINATION: which training docs share at least one
    * `k`-gram with the held-out/eval set? The standard guard against
    * benchmark leakage into a training corpus — any shared shingle flags
    * the training doc for exclusion or audit. Returns
    * (idCol, n_shared) for CONTAMINATED docs only, where n_shared counts
    * the distinct shingles the doc shares with the entire eval set.
    *
    * Scale shape: both sides explode to (shingleHash, id) rows and meet
    * in ONE bucketed join on the 60-bit md5 hash (uniform keys, no skew);
    * the eval side is typically tiny and broadcasts. Never a doc×doc
    * comparison. */
  def contaminatedDocs(train: DataFrame, eval_ : DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3): DataFrame = {
    def grams(df: DataFrame, out: String) = df
      .select(col(idCol).as(out), explode(shingles(col(textCol), shingleK)).as("__s"))
      .withColumn("__hs", baseHash(col("__s"))).drop("__s")
    grams(train, "__tid")
      .join(grams(eval_, "__eid").select(col("__hs")).distinct(), Seq("__hs"))
      .groupBy(col("__tid").as(idCol))
      .agg(countDistinct(col("__hs")).as("n_shared"))
  }

  /** Rare-shingle co-occurrence edges: canonical (id_a < id_b) document
    * pairs sharing at least one shingle whose document frequency lies in
    * [dfMin, dfMax] — the richer "weak textual kinship" graph the
    * wedge-based audits (Adamic–Adar, local clustering, degree power
    * law) read, where the thresholded near-dup graph is too sparse to
    * have hubs.
    *
    * Scale shape: the df filter bounds every shingle group to ≤ dfMax
    * docs, so each shingle emits ≤ C(dfMax, 2) pairs — the PPJoin
    * rare-token discipline: frequent shingles (the skew) are dropped
    * BEFORE the self-join, which is then an equi-join on the md5-uniform
    * 60-bit hash. Never doc×doc. */
  def rareShingleEdges(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, dfMin: Int = 2, dfMax: Int = 4): DataFrame = {
    require(dfMin >= 2 && dfMax >= dfMin,
      s"need 2 <= dfMin <= dfMax, got [$dfMin, $dfMax]")
    val g = df.select(col(idCol).as("__id"),
        explode(shingles(col(textCol), shingleK)).as("__s"))
      .withColumn("__hs", baseHash(col("__s")))
      .select(col("__id"), col("__hs"))
      .localCheckpoint(eager = false) // df count + both join sides
    val rare = g.groupBy(col("__hs")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= dfMin && col("__df") <= dfMax)
      .select(col("__hs"))
    val gr = g.join(rare, Seq("__hs"))
    gr.select(col("__hs"), col("__id").as("id_a"))
      .join(gr.select(col("__hs"), col("__id").as("id_b")), Seq("__hs"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Contamination MATRIX: `contaminatedDocs` generalized to many eval
    * suites at once — for each (train group, eval set), how many train
    * docs share a shingle with that set and how many distinct shingles
    * leak. The per-(source × suite) view is what actually drives a
    * release decision (which source leaks which benchmark), where q85's
    * flat list only says who leaks something.
    *
    * Scale shape: identical to `contaminatedDocs` — every side explodes
    * to (hash, …) rows, ONE bucketed join on the md5-uniform key; eval
    * suites contribute distinct hashes only (tiny; AQE broadcasts). */
  def contaminationMatrix(train: DataFrame, evals: Seq[(String, DataFrame)],
      idCol: String, textCol: String, groupCol: String,
      shingleK: Int = 3): DataFrame = {
    require(evals.nonEmpty, "contaminationMatrix needs at least one eval set")
    val tg = train.select(col(idCol).as("__tid"), col(groupCol).as("__grp"),
        explode(shingles(col(textCol), shingleK)).as("__s"))
      .withColumn("__hs", baseHash(col("__s"))).drop("__s")
    val ev = evals.map { case (name, df) =>
      df.select(explode(shingles(col(textCol), shingleK)).as("__s"))
        .select(baseHash(col("__s")).as("__hs")).distinct()
        .withColumn("__set", lit(name))
    }.reduce(_ unionByName _)
    tg.join(ev, Seq("__hs"))
      .groupBy(col("__grp").as(groupCol), col("__set").as("eval_set"))
      .agg(countDistinct(col("__tid")).as("n_docs"),
        countDistinct(col("__hs")).as("n_shingles"))
  }

  /** MinHash-LSH RECALL AUDIT against exact all-pairs ground truth →
    * one row (n_truth, n_found, n_hit, recall). LSH candidates are
    * exact-verified, so precision is 1.0 by construction — recall is the
    * number the (numHashes, bands) choice actually buys, and this op
    * MEASURES it instead of trusting the S-curve estimate.
    *
    * Scale shape: the truth side is `prefixJaccardPairs` — EXACT output
    * through the PPJoin prefix filter, so the audit is NOT quadratic and
    * needs no sampling contract: ground truth costs one rarest-first
    * candidate join + a kernel verify (measured 328 s → ~3 s at sf0.1
    * when this replaced the brute-force `jaccardPairs` truth side); the
    * found side is the production LSH path. One key join + a 1-row
    * aggregate on top. The threshold is the prefix join's rational
    * `tNum/tDen` (a float ⌈τ|S|⌉ would break its completeness lemma);
    * `minhashPairs` receives the same ratio as a double. */
  def lshRecallAudit(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 8, shingleK: Int = 3,
      tNum: Int = 1, tDen: Int = 2): DataFrame = {
    val threshold = tNum.toDouble / tDen
    val truth = prefixJaccardPairs(df, idCol, textCol, shingleK, tNum, tDen)
      .select(col("id_a"), col("id_b"))
    val found = minhashPairs(df, idCol, textCol, numHashes, bands,
        shingleK, threshold)
      .select(col("id_a"), col("id_b"), lit(1).as("__hit"))
    truth.join(found, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_truth"), sum(col("__hit")).as("__s"))
      .withColumn("n_hit", coalesce(col("__s"), lit(0L))).drop("__s")
      .crossJoin(found.agg(count(lit(1)).as("n_found")))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_truth").cast("double"))
      .select(col("n_truth"), col("n_found"), col("n_hit"), col("recall"))
  }

  /** Cross-SOURCE shingle-overlap matrix: for every source pair, the
    * Jaccard of their distinct-shingle SETS → (src_a, src_b, n_a, n_b,
    * n_common, jaccard) — the mixture-design evidence ("how much of
    * source X is already in source Y" decides whether adding X buys new
    * tokens or re-weights old ones). Source-level, not doc-level: q27's
    * quadratic contract doesn't apply — the pair grid is #sources².
    *
    * Scale shape: one explode → per-source DISTINCT (map-side partial on
    * the md5-uniform hash) → ONE self-join on the hash key whose fanout
    * per hash is bounded by #sources; set sizes ride along as a
    * sources-row aggregate. Zero-overlap pairs are zero-filled from the
    * size grid (a #sources² literal-scale cross join). */
  def sourceOverlap(df: DataFrame, sourceCol: String, textCol: String,
      shingleK: Int = 3): DataFrame = {
    val ds = df.select(col(sourceCol).as("__src"),
        explode(shingles(col(textCol), shingleK)).as("__s"))
      .select(col("__src"), baseHash(col("__s")).as("__hs"))
      .distinct()
    val sizes = ds.groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    val inter = ds.select(col("__src").as("src_a"), col("__hs"))
      .join(ds.select(col("__src").as("src_b"), col("__hs")), Seq("__hs"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("__common"))
    sizes.select(col("__src").as("src_a"), col("__n").as("n_a"))
      .join(sizes.select(col("__src").as("src_b"), col("__n").as("n_b")),
        col("src_a") < col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_common", coalesce(col("__common"), lit(0L)))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard"))
  }

  /** Exact n-gram CONTAINMENT over all pairs: |A∩B| / min(|A|,|B|) —
    * the asymmetric near-dup signal. A short document quoted wholesale
    * inside a long one has high containment but LOW Jaccard (the union is
    * dominated by the long side), so Jaccard-threshold dedup never sees
    * it; containment is how quote-inclusion and boilerplate-wrapping get
    * caught. Quadratic like `jaccardPairs` and under the same ENFORCED
    * bound: refuses inputs over `maxRows` (scalable exact twin:
    * `prefixContainmentPairs`). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.8,
      maxRows: Long = 10000L): DataFrame = {
    val n = df.count()
    require(n <= maxRows,
      s"containmentPairs is a quadratic audit baseline: input has $n rows > maxRows=$maxRows" +
        " — sample the input, raise maxRows explicitly, or use prefixContainmentPairs")
    val withSh = df.select(col(idCol).as("__id"), shingles(col(textCol), shingleK).as("__sh"))
    val a = withSh.select(col("__id").as("id_a"), col("__sh").as("__sh_a"))
    val b = withSh.select(col("__id").as("id_b"), col("__sh").as("__sh_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("containment",
        size(array_intersect(col("__sh_a"), col("__sh_b"))) /
          least(size(col("__sh_a")), size(col("__sh_b"))))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Incremental dedup: which BATCH docs are genuinely new against an
    * existing CORPUS? An incremental corpus is never re-deduped whole —
    * each incoming batch is checked against what's already in. Two stages,
    * both batch-vs-corpus only (dedup the batch against ITSELF separately
    * with `exactDupGroups`/`minhashPairs` first):
    *   1. exact: normalized-content md5 anti-join;
    *   2. near: MinHash band keys on both sides, band-bucket join
    *      batch→corpus, exact-Jaccard verify ≥ `threshold` on the
    *      candidates, anti-join the flagged batch ids.
    *
    * Scale shape: the corpus is never pairwise-compared — it contributes
    * one hash row plus `bands` band rows per doc, and both stages are
    * bucketed joins on md5-uniform keys (no skew). In production the
    * corpus's hash/band tables are written once as an index and reused
    * per batch instead of recomputed (they're pure per-row derivations,
    * so the index is a plain projection of the corpus). */
  def newAgainstCorpus(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 16, bands: Int = 8,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    // band rows carry the sorted HASH array (8 bytes/shingle), never the
    // shingle strings — the band explode duplicates the carried column
    // `bands`× into the bucket-join shuffle, so its width is the dominant
    // shuffle cost; the verify is the two-pointer merge kernel over the
    // sorted-distinct arrays (the minhashPairs/prefixJaccardPairs shape)
    def prep(df: DataFrame): DataFrame = df
      .withColumn("__h", md5(regexp_replace(trim(lower(col(textCol))), "\\s+", " ")))
      .withColumn("__hs", array_sort(graft.functions.HashOps.md5Prefix60Array(
        shingles(col(textCol), shingleK))))
      .withColumn("__sig", graft.functions.HashOps.minhashSigFast(col("__hs"), numHashes))
    def bandRows(df: DataFrame): DataFrame = df
      .select(col(idCol), col("__hs"),
        explode(bandKeys(col("__sig"), numHashes, bands)).as("__b"))
      .select(col(idCol), col("__hs"), col("__b.band").as("__band"), col("__b.key").as("__key"))
    val b = prep(batch).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c = prep(corpus)
    // stage 1: exact content match anywhere in the corpus
    val afterExact = b.join(c.select(col("__h")), Seq("__h"), "left_anti")
    // stage 2: near-dup candidates via shared band keys, verified exactly
    val candIds = bandRows(afterExact)
      .join(bandRows(c).select(col("__band"), col("__key"), col("__hs").as("__hs_c")),
        Seq("__band", "__key"))
      .withColumn("__inter", graft.functions.HashOps.sortedIntersectCount(
        col("__hs"), col("__hs_c")))
      .withColumn("__j", col("__inter") /
        (size(col("__hs")) + size(col("__hs_c")) - col("__inter")))
      .filter(col("__j") >= threshold)
      .select(col(idCol)).distinct()
    afterExact.join(candIds, Seq(idCol), "left_anti")
      .drop("__h", "__hs", "__sig")
  }

  /** Sub-document (CCNet-style paragraph/line) dedup: split every
    * document into consecutive `segTokens`-token segments, count each
    * distinct segment's occurrences across the WHOLE corpus, drop
    * segments occurring more than `maxOccurrences` times (boilerplate:
    * headers, footers, licence blocks, injected duplicates), and
    * reassemble each document from its surviving segments in original
    * order. Documents whose every segment is boilerplate drop out
    * entirely. (CCNet dedups on real paragraph breaks; this corpus is
    * flat space-separated text, so the fixed token window plays the role
    * of the paragraph — the operator shape is identical.)
    *
    * Scale shape: the segment explode is map-only; the occurrence count
    * is ONE partial-combining shuffle on the md5 segment hash (uniform
    * keys — no skew even when the raw segment texts skew); the keep-join
    * co-partitions on the same hash (the counts table is corpus-sized —
    * it must NOT broadcast and is not hinted); the reassembly is one
    * shuffle back on the doc id with collect_list + array_sort on the
    * (seg_idx, seg) struct — deterministic regardless of arrival order.
    * Nothing in the chain is quadratic and no state outlives a stage. */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 8, maxOccurrences: Long = 1L): DataFrame = {
    require(maxOccurrences >= 1, s"maxOccurrences must be >= 1, got $maxOccurrences")
    // segs feeds the counts agg AND the keep-join, so the explode runs
    // twice — DELIBERATE: at corpus scale a second map pass over
    // compressed parquet beats materializing the exploded corpus
    // (segments ≈ corpus-sized).
    val segs = segmentRows(df, idCol, textCol, segTokens)
    val counts = segs.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
    reassembleSegments(
      segs.join(counts.filter(col("__n") <= maxOccurrences).select(col("__h")), "__h"),
      idCol)
  }

  /** The map-only half of segment dedup: one (id, n_segs, seg_idx, seg,
    * __h=md5(seg)) row per `segTokens`-token window. */
  private def segmentRows(df: DataFrame, idCol: String, textCol: String,
      segTokens: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    // Let-bound: `slice(toks, …)` in the per-segment lambda would
    // otherwise re-run the split per segment (lambda bodies are
    // CSE-exempt) — O(segments·len) per row
    val segsCol = graft.functions.Let.bindOnce(split(col(textCol), " ")) {
      toks =>
        val nSegs = ceil(size(toks) / lit(segTokens.toDouble)).cast("int")
        struct(nSegs.as("n"), transform(sequence(lit(0), nSegs - 1),
          i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " "))
          .as("segs"))
    }
    df.select(col(idCol), segsCol.getField("n").as("n_segs"),
        posexplode(segsCol.getField("segs")).as(Seq("seg_idx", "seg")))
      .withColumn("__h", md5(col("seg")))
  }

  /** The reassembly half: surviving segment rows → one row per doc with
    * the segments re-joined in original order (deterministic regardless
    * of arrival order). */
  private def reassembleSegments(kept: DataFrame, idCol: String): DataFrame =
    kept.groupBy(col(idCol))
      .agg(first(col("n_segs")).as("n_segs"),
        count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg")), " ").as("clean_text"))

  /** STRIDE-1 repeated-window statistics: for every document, how many of
    * its `L`-token sliding windows occur more than once ANYWHERE in the
    * corpus (including elsewhere in the same document) → (id, n_windows,
    * n_repeated, repeat_frac). This is the measurement half of exact
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22): high repeat_frac docs are
    * the memorization-risk tail that doc-level Jaccard (stride-L q92
    * segments, LSH pairs) under-counts, because overlapping windows catch
    * repeats at ANY alignment, not just segment-aligned ones.
    *
    * Scale shape: the window explode is map-only off a MATERIALIZED token
    * array (the token split must not sit inside the window lambda —
    * lambda bodies are exempt from subexpression elimination, so an
    * inlined split would re-tokenize per window); windows carry 8-byte
    * 60-bit hashes, never the window strings; ONE partial-combining count
    * shuffle on the md5-uniform hash + one join back + a per-doc agg.
    * Docs shorter than L tokens have zero windows and report 0/0/0.0. */
  def repeatedWindowStats(df: DataFrame, idCol: String, textCol: String,
      L: Int = 8): DataFrame = {
    require(L >= 1, s"window length must be >= 1, got $L")
    val wins = df
      .withColumn("__tk", split(col(textCol), " "))
      .withColumn("__nw", greatest(size(col("__tk")) - (L - 1), lit(0)))
      .select(col(idCol),
        explode(when(col("__nw") > 0,
          transform(sequence(lit(0), col("__nw") - 1),
            i => baseHash(array_join(slice(col("__tk"), i + 1, lit(L)), " "))))
          .otherwise(array().cast("array<long>"))).as("__h"))
    val counts = wins.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
    val perDoc = wins.join(counts, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        count(when(col("__n") > 1, lit(1))).as("n_repeated"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_windows", coalesce(col("n_windows"), lit(0L)))
      .withColumn("n_repeated", coalesce(col("n_repeated"), lit(0L)))
      .withColumn("repeat_frac",
        when(col("n_windows") > 0,
          col("n_repeated").cast("double") / col("n_windows").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** WINNOWING fingerprints (Schleimer-Wilkerson-Aiken, SIGMOD 2003 —
    * the MOSS algorithm, public literature): hash every k-token gram,
    * slide a w-hash window, and in each window select the RIGHTMOST
    * minimal hash; the distinct (position, hash) selections are the
    * document's fingerprints. Guarantees every shared substring of
    * length ≥ k + w − 1 tokens produces at least one shared fingerprint
    * (the winnowing theorem), at ~2/(w+1) selection density — a LOCAL
    * fingerprinting scheme: unlike MinHash (a global per-doc sketch), a
    * plagiarized PARAGRAPH inside an otherwise-unrelated doc still
    * collides.
    *
    * Output: (id, pos, fp) scalar rows, pos = the selected k-gram's
    * 0-based token offset. Docs with < k tokens have no k-grams and emit
    * nothing; docs with 1 ≤ grams < w winnow a single short window.
    *
    * Scale shape: map-only end to end — token array and k-gram hash
    * array each MATERIALIZE in their own projection before the lambda
    * that consumes them (the repeatedWindowStats CSE discipline); per
    * window the argmin reads an O(w) slice of the materialized hash
    * array (O(grams·w) per doc, w is a small constant); fingerprints are
    * 8-byte hashes, never strings. Zero joins, zero shuffles. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"need k >= 1 and w >= 1, got k=$k w=$w")
    val kh = col("__kh")
    df
      .withColumn("__tk", split(lower(col(textCol)), " "))
      .withColumn("__kh", when(size(col("__tk")) >= k,
        transform(sequence(lit(0), size(col("__tk")) - k),
          i => baseHash(array_join(slice(col("__tk"), i + 1, lit(k)), " "))))
        .otherwise(array().cast("array<long>")))
      .withColumn("__nw", greatest(size(kh) - (w - 1), least(size(kh), lit(1))))
      .select(col(idCol),
        // explode_OUTER + null filter, NOT plain explode: non-outer
        // Generate triggers InferFiltersFromGenerate, whose pushed
        // condition re-derives this whole winnow transform (split inside
        // the lambda → O(tokens²)/doc) inside a Filter — see
        // gramOccurrences for the measured effect.
        explode_outer(when(col("__nw") > 0,
          array_distinct(transform(sequence(lit(0), col("__nw") - 1), i => {
            val s = slice(kh, i + 1, lit(w))
            val m = array_min(s)
            // rightmost occurrence of the window minimum
            val pos = i + size(s) - array_position(reverse(s), m).cast("int")
            struct(pos.cast("int").as("pos"), m.as("fp"))
          })))
          .otherwise(array().cast("array<struct<pos:int,fp:bigint>>"))).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col(idCol), col("__s.pos").as("pos"), col("__s.fp").as("fp"))
  }

  /** Winnowing-overlap candidate pairs: docs sharing ≥ `minShared`
    * distinct fingerprint hashes, with the shared count. The pair
    * semantics of `winnowFingerprints` — by the winnowing theorem a
    * shared run of ≥ k+w−1 tokens is guaranteed represented, so this is
    * the copied-PASSAGE detector (vs MinHash's whole-doc similarity).
    *
    * Scale shape: one distinct + ONE fingerprint-keyed bucket join +
    * one pair-keyed count — the minhash-pair plan shape; fingerprint
    * keys are md5-uniform, with the same hot-boilerplate caveat as LSH
    * band buckets (a k-gram shared by everything makes a hot bucket —
    * run `dedupSegments` first, same as the minhash family). */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 2): DataFrame = {
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol), col("fp")).distinct()
    val a = fp.toDF("id_a", "fp")
    val b = fp.toDF("id_b", "fp")
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** k-gram occurrence frame: one row per (id, pos, h) where `h` is the
    * 60-bit md5 base hash of the lowercased k-token gram starting at
    * 0-based token offset `pos`. The token and gram-hash arrays each
    * MATERIALIZE in their own projection (the repeatedWindowStats CSE
    * discipline — lambda bodies are exempt from Catalyst subexpression
    * elimination). Docs with < k tokens emit nothing.
    *
    * posexplode_OUTER on purpose: for a non-outer Generate, Catalyst's
    * InferFiltersFromGenerate pushes `size(arr) > 0 AND isnotnull(arr)`
    * below the materializing projections, re-deriving the WHOLE gram
    * transform inside a Filter where the tokenizing `split` lands inside
    * the lambda — O(tokens²) per doc, evaluated twice per condition
    * (measured 9.4 s → 0.7 s on q165 at sf0.1). Outer generates are
    * exempt from that rule; the cheap post-generate null filter keeps
    * the row semantics identical. */
  private def gramOccurrences(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    df
      .withColumn("__tk", split(lower(col(textCol)), " "))
      .withColumn("__kh", when(size(col("__tk")) >= k,
        transform(sequence(lit(0), size(col("__tk")) - k),
          i => baseHash(array_join(slice(col("__tk"), i + 1, lit(k)), " "))))
        .otherwise(array().cast("array<long>")))
      .select(col(idCol), posexplode_outer(col("__kh")).as(Seq("pos", "h")))
      .filter(col("pos").isNotNull)
  }

  /** EXACT duplicated-substring extents (the detection half of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better" —
    * re-expressed relationally instead of via a monolithic suffix array):
    * a k-token gram is corpus-duplicated iff its hash occurs at ≥ 2
    * positions anywhere in the corpus (cross-doc or intra-doc); per doc,
    * consecutive duplicated gram positions merge into MAXIMAL spans.
    * Returns (id, span_start, span_end, n_grams) with token-offset
    * half-open extents [span_start, span_end) and span length ≥
    * `minTokens` (≥ k always holds by construction).
    *
    * Scale shape: ONE gram-hash-keyed shuffle (md5-uniform keys) where a
    * partition-only window counts each hash's occurrences — a window,
    * not a groupBy+join-back, so the gram derivation runs ONCE and no
    * second scan of the corpus exists — then one doc-keyed
    * gaps-and-islands window/agg. Spans, not positions, travel out —
    * output is bounded by duplicated-region count, not token count. The
    * suffix-array formulation needs a global sort of every suffix; this
    * shape needs no global order at all. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minTokens: Int = 5): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val occ = gramOccurrences(df, idCol, textCol, k)
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    occ.withColumn("__cnt", count(lit(1)).over(wh))
      .filter(col("__cnt") >= 2)
      .withColumn("__island", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"),
        count(lit(1)).as("n_grams"))
      .filter(col("span_end") - col("span_start") >= minTokens)
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** The REMOVAL half of exact-substring dedup, keep-first semantics: for
    * every corpus-duplicated k-gram hash the canonical occurrence is the
    * lexicographically smallest (id, pos); every NON-canonical duplicated
    * occurrence marks its k covered token offsets for removal. Returns
    * one row per doc: (id, n_tokens, n_removed, cleaned_hash) where
    * cleaned_hash = md5 of the surviving tokens re-joined with single
    * spaces (lowercased — the same normalization the gram keys use), so
    * exact copies collapse to the FIRST occurrence and every later copy
    * loses the duplicated region, exactly the Lee et al. contract.
    *
    * Scale shape: one gram-hash shuffle computing (count, row_number)
    * per hash in the SAME window pass; non-canonical occurrences explode
    * to covered positions (≤ k rows each, distinct-merged per doc); kept
    * tokens reassemble via a doc-keyed sort-struct agg. No per-token
    * membership scans against a removal set — coverage is a linear
    * anti-join on (id, token offset), so a doc that is 99 % duplicated
    * region costs O(tokens), not O(tokens²). */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val occ = gramOccurrences(df, idCol, textCol, k)
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val whOrd = wh.orderBy(col(idCol), col("pos"))
    val nonCanon = occ
      .withColumn("__cnt", count(lit(1)).over(wh))
      .withColumn("__rn", row_number().over(whOrd))
      .filter(col("__cnt") >= 2 && col("__rn") > 1)
    val covered = nonCanon
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (k - 1))).as("__t"))
      .distinct()
    val toks = df
      .withColumn("__tk", split(lower(col(textCol)), " "))
      .select(col(idCol), posexplode(col("__tk")).as(Seq("__t", "__tok")))
    val kept = toks.join(covered, Seq(idCol.replace("`", ""), "__t"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("__t"), col("__tok")))),
          s => s.getField("__tok")), " ").as("__cleaned"))
    df.select(col(idCol), size(split(lower(col(textCol)), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol.replace("`", "")), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        md5(coalesce(col("__cleaned"), lit(""))).as("cleaned_hash"))
  }

  /** Decorate candidate pairs with the EXACT tf-weighted Jaccard
    *   wJ(a,b) = Σ_t min(tf_a(t), tf_b(t)) / Σ_t max(tf_a(t), tf_b(t))
    * — the multiset refinement of set Jaccard (a doc that repeats a
    * template paragraph 10× looks very different under weights), used
    * to re-score the (already bucketed) minhash candidates before a
    * keep/drop call.
    *
    * Scale shape: the tf table is ONE (doc, token) count; each pair
    * side joins it on the DOC id, the union-of-tokens merge is ONE
    * (pair, token)-keyed outer join; per-pair cost is bounded by doc
    * lengths and pair count is bounded by the upstream LSH threshold —
    * never corpus-quadratic. Output: (id_a, id_b, w_jaccard). */
  def weightedJaccardDecorate(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    val tf = df.select(col(idCol).as("__doc"),
        explode(split(lower(col(textCol)), " ")).as("__t"))
      .where(col("__t") =!= "")
      .groupBy(col("__doc"), col("__t")).agg(count(lit(1)).as("__tf"))
      .localCheckpoint(false) // both pair sides read it
    val p = pairs.select(col("id_a"), col("id_b"))
    val aSide = p.join(tf.select(col("__doc").as("id_a"), col("__t"),
      col("__tf").as("__tfa")), Seq("id_a"))
    val bSide = p.join(tf.select(col("__doc").as("id_b"), col("__t"),
      col("__tf").as("__tfb")), Seq("id_b"))
    aSide.join(bSide, Seq("id_a", "id_b", "__t"), "full_outer")
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(least(coalesce(col("__tfa"), lit(0L)),
          coalesce(col("__tfb"), lit(0L)))).as("__wmin"),
        sum(greatest(coalesce(col("__tfa"), lit(0L)),
          coalesce(col("__tfb"), lit(0L)))).as("__wmax"))
      .select(col("id_a"), col("id_b"),
        round(col("__wmin").cast("double") / col("__wmax").cast("double"), 6)
          .as("w_jaccard"))
  }

  /** LSH parameter planner over the MEASURED candidate-pair similarity
    * spectrum: for each (bands b, rows r) config, the S-curve capture
    * probability 1 − (1 − s^r)^b integrates against the observed
    * Jaccard histogram of the current corpus's candidate pairs —
    * "which banding would a re-index actually want" answered from data
    * rather than the textbook curve alone. The spectrum covers the
    * CANDIDATE pairs of the loosest probe (the measurable population;
    * the never-candidates the planner can't see are exactly what a
    * looser config would add — documented bias).
    *
    * Scale shape: the pair pass is the gated minhash chain; the
    * histogram is ONE 10-bin aggregate; per-config capture probs are
    * driver literals folded against bin counts as 9-dp decimal terms.
    * Output per config: (bands, rows, n_pairs, expected_captured,
    * expected_recall). */
  /** Capture probability of an (s ≈ bin midpoint) pair under (b, r)
    * banding — shared with the oracle so both engines inline identical
    * literals. */
  def lshCaptureProb(b: Int, r: Int, bin: Int): Double = {
    val m = (bin + 0.5) / 10.0
    1.0 - math.pow(1.0 - math.pow(m, r), b)
  }

  def lshPlanner(df: DataFrame, idCol: String, textCol: String,
      configs: Seq[(Int, Int)], probeThreshold: Double = 0.3): DataFrame = {
    require(configs.nonEmpty, "at least one config")
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = minhashPairs(df, idCol, textCol, threshold = probeThreshold)
    val hist = pairs.select(
        least(floor(col("jaccard") * 10).cast("int"), lit(9)).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .localCheckpoint(false) // one fold per config
    configs.map { case (b, r) =>
      val probs = (0 to 9).map(bin => bin -> lshCaptureProb(b, r, bin)).toMap
      val pCol = element_at(
        array((0 to 9).map(bin => lit(probs(bin))): _*), col("__b") + 1)
      hist.select(col("__n"),
          round(col("__n").cast("double") * pCol, 9)
            .cast("decimal(28,9)").as("__t"))
        .agg(sum(col("__n")).as("n_pairs"), sum(col("__t")).as("__cap"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_pairs"),
          round(col("__cap").cast("double"), 6).as("expected_captured"),
          round(col("__cap").cast("double") /
            col("n_pairs").cast("double"), 6).as("expected_recall"))
    }.reduce(_.unionByName(_))
  }

  /** Cluster-coherence audit: after transitive closure, how similar are
    * cluster members REALLY? Transitive chaining (a~b~c) can glue pairs
    * far below the edge threshold into one cluster — this audit
    * measures the dilution by bucketing clusters by size and reporting
    * the mean/min verified Jaccard over intra-cluster candidate pairs.
    * A low min in the 5+ bucket is the "chain collapse" smell that
    * argues for the star-CC variant or a higher threshold.
    *
    * Scale shape: the gated pair + CC passes; label decoration is two
    * id-keyed joins; the rollup runs on candidate pairs (LSH-bounded).
    * Output per size bucket: (size_bucket, n_clusters, n_pairs,
    * mean_jaccard, min_jaccard). */
  def clusterCoherence(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    // UN-thresholded candidates: the dilution signal lives in the
    // sub-threshold pairs transitivity glued into one cluster
    val pairs = minhashPairs(df, idCol, textCol, threshold = 0.0)
      .localCheckpoint(false) // consumers: edges (via CC) + coherence join
    val cl = connectedComponents(df.select(col(idCol)), idCol,
        pairs.where(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b")))
      .localCheckpoint(false) // consumers: sizes + both pair sides
    val sizes = cl.groupBy(col("label")).agg(count(lit(1)).as("__sz"))
      .where(col("__sz") >= 2)
    val bucket = when(col("__sz") === 2, "2")
      .when(col("__sz") <= 4, "3-4").otherwise("5+")
    val intra = pairs
      .join(cl.select(col("id").as("id_a"), col("label")), Seq("id_a"))
      .join(cl.select(col("id").as("id_b"), col("label").as("__lb")),
        Seq("id_b"))
      .where(col("label") === col("__lb"))
      .join(sizes, Seq("label"))
    intra.groupBy(bucket.as("size_bucket"))
      .agg(countDistinct(col("label")).as("n_clusters"),
        count(lit(1)).as("n_pairs"),
        round(sum(round(col("jaccard"), 9).cast("decimal(18,9)"))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_jaccard"),
        round(min(col("jaccard")), 6).as("min_jaccard"))
  }

  /** Dedup aggressiveness sweep: ONE MinHash candidate pass, then the
    * connected-components clustering replayed at each Jaccard
    * threshold — the "how much does the corpus shrink at 0.3 vs 0.5 vs
    * 0.7" table a curation owner reads before picking the q81 pipeline
    * knob. Output per threshold: (threshold, n_edges, n_clusters,
    * n_docs_clustered, max_cluster) — clusters = components of size ≥ 2.
    *
    * Scale shape: the candidate pairs (with exact verified Jaccard)
    * materialize ONCE at the loosest threshold; each sweep point is a
    * pair-table filter + the gated CC loop (iterates on touched
    * vertices only) + cluster-sized aggregates. */
  def thresholdSweep(df: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double], numHashes: Int = 16, bands: Int = 8,
      shingleK: Int = 3): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold")
    val pairs = minhashPairs(df, idCol, textCol, numHashes, bands,
        shingleK, threshold = thresholds.min)
      .localCheckpoint(false) // re-filtered once per sweep point
    val verts = df.select(col(idCol))
    thresholds.sorted.map { t =>
      val e = pairs.where(col("jaccard") >= t)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint(false) // consumers: edge count + CC
      val ne = e.agg(count(lit(1)).as("n_edges"))
      val sizes = connectedComponents(verts, idCol, e)
        .groupBy(col("label")).agg(count(lit(1)).as("__sz"))
        .where(col("__sz") >= 2)
      val agg = sizes.agg(
        count(lit(1)).as("n_clusters"),
        coalesce(sum(col("__sz")), lit(0L)).as("n_docs_clustered"),
        coalesce(max(col("__sz")), lit(0L)).as("max_cluster"))
      ne.crossJoin(agg).select(lit(t).as("threshold"), col("n_edges"),
        col("n_clusters"), col("n_docs_clustered"), col("max_cluster"))
    }.reduce(_.unionByName(_))
  }
}
