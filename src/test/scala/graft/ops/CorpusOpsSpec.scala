package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val snap = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)
  ).toDF("k", "status", "price")

  test("latest change per key wins; deletes remove; untouched keys keep snapshot") {
    val changes = Seq(
      (1L, "u1", 11.0, 1L, 1L, "upsert"),  // superseded by ts=2
      (1L, "u2", 12.0, 2L, 2L, "upsert"),  // winner for key 1
      (2L, "x", 0.0, 5L, 1L, "delete"),    // key 2 gone
      (3L, "u3", 33.0, 1L, 1L, "upsert")   // winner for key 3
    ).toDF("k", "status", "price", "ts", "seq", "op")
    val got = Cdc.applyChanges(snap, changes, "k")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "u2", 12.0), (3L, "u3", 33.0), (4L, "d", 40.0)))
  }

  test("same-timestamp ties break by seq; a change always beats the snapshot") {
    val changes = Seq(
      (1L, "lo", 1.0, 7L, 1L, "upsert"),
      (1L, "hi", 2.0, 7L, 9L, "upsert"),   // same ts, higher seq → wins
      (4L, "re", 44.0, 0L, 0L, "upsert")   // ts 0 still beats snapshot
    ).toDF("k", "status", "price", "ts", "seq", "op")
    val got = Cdc.applyChanges(snap, changes, "k")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "hi", 2.0), (2L, "b", 20.0),
      (3L, "c", 30.0), (4L, "re", 44.0)))
  }

  test("a delete then a later re-upsert resurrects the key") {
    val changes = Seq(
      (2L, "x", 0.0, 1L, 1L, "delete"),
      (2L, "back", 21.0, 2L, 1L, "upsert")
    ).toDF("k", "status", "price", "ts", "seq", "op")
    val got = Cdc.applyChanges(snap, changes, "k")
      .filter($"k" === 2L).as[(Long, String, Double)].collect()
    assert(got.toSeq == Seq((2L, "back", 21.0)))
  }

  test("chained merges: deleting every key leaves an empty snapshot a later upsert builds on") {
    def change(k: Long, status: String, price: Double, ts: Long, op: String) =
      (k, status, price, ts, 1L, op)
    def merge(cur: org.apache.spark.sql.DataFrame, rows: (Long, String, Double, Long, Long, String)*) =
      Cdc.applyChanges(cur, rows.toDF("k", "status", "price", "ts", "seq", "op"), "k")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Double)].collect().sortBy(_._1).toSeq
    val v1 = merge(snap, change(1, "x", 0.0, 1, "delete"), change(2, "x", 0.0, 1, "delete"),
      change(3, "c2", 33.0, 1, "upsert"))
    assert(rowsOf(v1) == Seq((3L, "c2", 33.0), (4L, "d", 40.0)))
    val v2 = merge(v1, change(3, "x", 0.0, 2, "delete"), change(4, "x", 0.0, 2, "delete"))
    assert(v2.isEmpty, "an all-deleted merge should yield an empty snapshot")
    assert(rowsOf(merge(v2, change(9, "new", 99.0, 3, "upsert"))) == Seq((9L, "new", 99.0)))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val oldV = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "text")
    val newV = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "text")
    val m = Cdc.snapshotDiff(oldV, newV, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(m == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("scd2Build: collapses re-emits, versions intervals, flags current") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, "a"),
      (1L, ts("2024-01-01 00:00:02"), 2L, "a"), // re-emit: NOT a version
      (1L, ts("2024-01-01 00:00:03"), 3L, "b"),
      (1L, ts("2024-01-01 00:00:04"), 4L, "a")).toDF("k", "ts", "id", "v")
    val out = Cdc.scd2Build(log, "k", "ts", "v", "id")
      .as[(Long, java.sql.Timestamp, Option[java.sql.Timestamp], String, Long, Boolean)]
      .collect().sortBy(_._5)
    assert(out.length == 3)
    assert(out(0)._4 == "a" && out(0)._3.contains(ts("2024-01-01 00:00:03")))
    assert(out(1)._4 == "b" && out(1)._3.contains(ts("2024-01-01 00:00:04")))
    assert(out(2)._4 == "a" && out(2)._3.isEmpty && out(2)._6)
    // intervals tile: each valid_to == next valid_from
    assert(out(0)._3.contains(out(1)._2) && out(1)._3.contains(out(2)._2))
  }

  test("weightedJaccardDecorate: multiset min/max over the token union") {
    val docs = Seq((1L, "a a b"), (2L, "a b b"), (3L, "c")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.weightedJaccardDecorate(docs, "doc_id", "text", pairs)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 2L)) == 0.5) // min 1+1 / max 2+2
    assert(out((1L, 3L)) == 0.0) // disjoint: min mass 0
  }

  test("dwellProfile: closed-interval dwell means per state") {
    val ts = (s: String) => java.sql.Timestamp.valueOf(s)
    val log = Seq(
      (1L, ts("2024-01-01 00:00:01"), 1L, "a"),
      (1L, ts("2024-01-01 00:00:03"), 2L, "b"),
      (1L, ts("2024-01-01 00:00:04"), 3L, "a")).toDF("k", "ts", "id", "v")
    val out = Cdc.dwellProfile(log, "k", "ts", "v", "id")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out("a") == (("a", 2L, 1L, 2.0))) // one 2 s interval + one open
    assert(out("b") == (("b", 1L, 0L, 1.0)))
  }

  test("lshRecallAudit: found pairs are a verified subset of truth") {
    val docs = graft.Tables.documents(spark, sfTiny)
    val row = Dedup.lshRecallAudit(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].head()
    val (nTruth, nFound, nHit, recall) = row
    // exact verification makes precision 1.0 structurally
    assert(nHit == nFound, "a found pair failed exact verification")
    assert(nHit <= nTruth && recall == nHit.toDouble / nTruth.toDouble)
    assert(nTruth > 0, "audit fixture must contain true pairs")
  }
}

class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives: every inserted key probes true") {
    val keys = (1L to 2000L).map(_ * 17).toDF("k")
    val bits = Bloom.buildBits(keys, $"k")
    val misses = keys.crossJoin(broadcast(bits))
      .filter(!Bloom.mightContain($"bloom_bits", $"k")).count()
    assert(misses == 0L)
  }

  test("false-positive rate is bounded (m=65536, k=3, n=2000 → fpr ≈ 0.2%)") {
    val keys = (1L to 2000L).toDF("k")
    val bits = Bloom.buildBits(keys, $"k")
    val probes = (1000001L to 1020000L).toDF("k")  // disjoint from inserted
    val fp = probes.crossJoin(broadcast(bits))
      .filter(Bloom.mightContain($"bloom_bits", $"k")).count()
    // theoretical fpr (1-e^{-kn/m})^k ≈ 0.0006; allow generous slack
    assert(fp < 200, s"fpr ${fp / 20000.0} suspiciously high")
  }

  test("semiJoinPruned result equals the exact semi-join") {
    val fact = Tables.lineitem(spark, sfTiny)
    val dim = Tables.orders(spark, sfTiny)
      .filter($"o_totalprice" > 300000.0).select($"o_orderkey")
    val pruned = Bloom.semiJoinPruned(fact, $"l_orderkey", dim, $"o_orderkey")
    val exact = fact.join(dim, $"l_orderkey" === $"o_orderkey", "left_semi")
    assert(pruned.count() == exact.count())
    assert(pruned.exceptAll(exact).isEmpty && exact.exceptAll(pruned).isEmpty)
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._

  /** Reference next-fit fold, driver-side. */
  private def refPack(sizes: Seq[(Long, Long)], cap: Long): Seq[(Long, Long)] = {
    var fill = 0L; var bin = 0L
    sizes.sortBy(_._1).map { case (id, sz) =>
      if (bin >= 1 && fill + sz <= cap) { fill += sz } else { bin += 1; fill = sz }
      id -> bin
    }
  }

  test("matches the sequential reference fold per stratum") {
    val rows = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 60L),  // 100+100 | 60...
      ("a", 4L, 50L), ("a", 5L, 300L),                   // oversized → own bin
      ("b", 10L, 256L), ("b", 11L, 1L)
    ).map { case (s, i, n) => (i, s, n) }.toDF("id", "stratum", "sz")
    val got = Packing.packNextFit(rows, "id", "stratum", "sz", 256L)
      .select($"stratum", $"id", $"bin").as[(String, Long, Long)]
      .collect().groupBy(_._1).map { case (s, xs) =>
        s -> xs.map(x => x._2 -> x._3).sortBy(_._1).toSeq }
    val wantA = refPack(Seq(1L -> 100L, 2L -> 100L, 3L -> 60L, 4L -> 50L, 5L -> 300L), 256L)
    val wantB = refPack(Seq(10L -> 256L, 11L -> 1L), 256L)
    assert(got("a") == wantA && got("b") == wantB)
    // spot-check the interesting decisions: 3 opens bin 2 (260 > 256),
    // 4 rides with it (110), the 300-token doc gets its own bin
    assert(got("a") == Seq(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 3L))
    // exactly-full bin then next doc opens a new one
    assert(got("b") == Seq(10L -> 1L, 11L -> 2L))
  }

  test("pack offsets tile each bin contiguously from zero") {
    val d = Tables.documents(spark, sfTiny).select($"doc_id", $"lang",
      size(split($"text", " ")).cast("long").as("nt"))
    val rows = Packing.packWithOffsets(d, "doc_id", "lang", "nt", 256L)
      .select($"lang", $"bin", $"doc_id", $"nt", $"off_start", $"off_end")
      .as[(String, Long, Long, Long, Long, Long)].collect()
    rows.groupBy(r => (r._1, r._2)).foreach { case (key, xs) =>
      val sorted = xs.sortBy(_._3)
      var expect = 0L
      sorted.foreach { case (_, _, _, nt, s0, e0) =>
        assert(s0 == expect && e0 == s0 + nt, s"gap in $key at offset $expect")
        expect = e0
      }
    }
    assert(rows.nonEmpty)
  }

  test("no bin exceeds capacity except oversized singletons") {
    val d = Tables.documents(spark, sfTiny).select($"doc_id", $"lang",
      size(split($"text", " ")).cast("long").as("nt"))
    val packed = Packing.packNextFit(d, "doc_id", "lang", "nt", 256L)
    val over = packed.groupBy($"lang", $"bin")
      .agg(sum($"nt").as("tot"), count(lit(1)).as("n"))
      .filter($"tot" > 256L && $"n" > 1L)
    assert(over.isEmpty, "a multi-doc bin exceeded capacity")
  }

  test("bins are dense per stratum: 1..max with no gaps") {
    val d = Tables.documents(spark, sfTiny).select($"doc_id", $"lang",
      size(split($"text", " ")).cast("long").as("nt"))
    val stats = Packing.packNextFit(d, "doc_id", "lang", "nt", 256L)
      .groupBy($"lang").agg(min($"bin").as("lo"), max($"bin").as("hi"),
        countDistinct($"bin").as("n"))
      .as[(String, Long, Long, Long)].collect()
    stats.foreach { case (lang, lo, hi, n) =>
      assert(lo == 1L && n == hi, s"$lang bins not dense: lo=$lo hi=$hi n=$n")
    }
  }
}

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dups, near dups drop; novel docs survive; batch-internal dups are kept") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val batch = Seq(
      // exact copy of corpus doc 1 (modulo case/whitespace normalization)
      (10L, "  Alpha beta gamma   delta epsilon zeta eta theta "),
      // near-dup of corpus doc 2 (one word changed → high jaccard)
      (11L, "one two three four five six seven eight nine zzz"),
      // novel
      (12L, "totally different content with no overlap whatsoever at all"),
      // exact dup of ANOTHER BATCH doc — contract: kept (batch-internal
      // dedup is a separate pass)
      (13L, "totally different content with no overlap whatsoever at all")
    ).toDF("doc_id", "text")
    val kept = Dedup.newAgainstCorpus(corpus, batch, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L))
  }

  test("agrees with minhashPairs verdicts on the shared corpus") {
    // any batch doc the pairwise operator links to a corpus doc at the
    // same threshold must be dropped here, and vice versa
    val docs = Tables.documents(spark, sfTiny)
    val batch = docs.filter($"doc_id" % 5 === 0)
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val kept = Dedup.newAgainstCorpus(corpus, batch, "doc_id", "text")
      .select($"doc_id").as[Long].collect().toSet
    val crossPairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, _) =>
        if (a % 5 == 0 && b % 5 != 0) Some(a)
        else if (b % 5 == 0 && a % 5 != 0) Some(b) else None
      }.toSet
    val exactHash = docs
      .withColumn("__h", md5(regexp_replace(trim(lower($"text")), "\\s+", " ")))
      .select($"doc_id", $"__h").as[(Long, String)].collect()
    val corpusHashes = exactHash.filter(_._1 % 5 != 0).map(_._2).toSet
    val exactDups = exactHash.filter { case (id, h) =>
      id % 5 == 0 && corpusHashes.contains(h) }.map(_._1).toSet
    val batchIds = batch.select($"doc_id").as[Long].collect().toSet
    assert(kept == batchIds -- crossPairs -- exactDups)
  }
}

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Tables.documents(spark, sfTiny)
  lazy val out = CorpusPipeline.run(docs).persist()

  test("surviving docs pass the quality gate and carry no mutual near-dups") {
    val keptIds = out.select($"doc_id").distinct().as[Long].collect().toSet
    assert(keptIds.nonEmpty)
    val keptDocs = docs.filter($"doc_id".isin(keptIds.toSeq: _*))
    // every survivor passes quality
    val failing = keptDocs.filter(!TextStats.qualityKeep($"text", Seq("the", "a")))
    assert(failing.isEmpty)
    // deterministic self-consistency: re-running the SAME LSH pass over
    // the survivors finds no pair — any such pair would have been found
    // in the pipeline's own pass (same md5 bands) and collapsed by CC
    val residualPairs = Dedup.minhashPairs(keptDocs, "doc_id", "text", threshold = 0.5)
    assert(residualPairs.isEmpty, "near-dup pair survived cluster canonicalization")
    // and something was actually dropped at each stage on this corpus
    assert(keptIds.size < docs.count())
  }

  test("attrition stages are monotone and consistent with the pipeline") {
    val att = CorpusPipeline.attrition(docs)
      .orderBy($"stage_idx")
      .as[(Int, String, Long, Long, Double)].collect()
    assert(att.map(_._2).toSeq ==
      Seq("input", "quality", "exact_dedup", "near_dedup"))
    // survivor counts never increase; drops reconcile exactly
    att.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur._3 <= prev._3, s"stage ${cur._2} grew the corpus")
      assert(cur._4 == prev._3 - cur._3, s"stage ${cur._2} drop mismatch")
      assert(cur._5 == cur._4.toDouble / prev._3.toDouble)
    }
    assert(att.head._3 == docs.count() && att.head._4 == 0L)
    // the final stage's survivors = the docs the pipeline actually kept
    val keptIds = out.select($"doc_id").distinct().count()
    assert(att.last._3 == keptIds)
  }

  test("source overlap: self-consistent sizes, symmetric-free pair grid") {
    val ov = Dedup.sourceOverlap(docs.limit(200), "source", "text")
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(ov.nonEmpty)
    ov.foreach { case (a, b, na, nb, common, j) =>
      assert(a < b, "pair grid must be upper-triangular")
      assert(common <= math.min(na, nb))
      assert(j == common.toDouble / (na + nb - common).toDouble)
    }
  }

  test("chunks tile each kept doc and bins are dense per stratum") {
    // chunk_idx runs 0..nc-1 per doc with the q73 window arithmetic
    val perDoc = out.groupBy($"doc_id").agg(max($"chunk_idx").as("maxi"),
      count(lit(1)).as("n")).as[(Long, Int, Long)].collect()
    perDoc.foreach { case (id, maxi, n) => assert(n == maxi + 1, s"doc $id chunk gap") }
    val stats = out.groupBy($"lang").agg(min($"bin").as("lo"),
      max($"bin").as("hi"), countDistinct($"bin").as("nb"))
      .as[(String, Long, Long, Long)].collect()
    stats.foreach { case (lang, lo, hi, nb) =>
      assert(lo == 1L && nb == hi, s"$lang bins not dense") }
    // capacity respected for multi-chunk bins
    val over = out.groupBy($"lang", $"bin")
      .agg(sum($"n_tokens").as("tot"), count(lit(1)).as("n"))
      .filter($"tot" > 256L && $"n" > 1L)
    assert(over.isEmpty)
  }
}

class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  test("containment: every item above n/(k+1) survives; weights never overcount") {
    val rnd = new scala.util.Random(42)
    // 3 planted heavy hitters in a long tail of 200 rare items
    val stream = Seq.fill(400)("hh1") ++ Seq.fill(250)("hh2") ++ Seq.fill(120)("hh3") ++
      (1 to 600).map(_ => s"tail${rnd.nextInt(200)}")
    val shuffled = rnd.shuffle(stream)
    val n = shuffled.size
    val k = 10
    val truth = shuffled.groupBy(identity).map { case (i, xs) => i -> xs.size.toLong }
    // run THROUGH Spark with many partitions so map-side partials merge
    val got = shuffled.toDF("item").repartition(8)
      .agg(Sketches.misraGries($"item", k).as("mg"))
      .as[Map[String, Long]].collect()(0)
    assert(got.size <= k)
    val bound = n.toDouble / (k + 1)
    truth.filter(_._2 > bound).keys.foreach { hh =>
      assert(got.contains(hh), s"heavy hitter $hh (freq=${truth(hh)}) missing")
    }
    got.foreach { case (i, w) =>
      assert(w <= truth(i), s"$i overcounted: $w > ${truth(i)}")
      assert(truth(i) - w <= bound + 1, s"$i undercounted past the bound")
    }
  }

  test("per-group sketch agrees with exact top terms on the documents corpus") {
    val exact = Tables.documents(spark, sfTiny)
      .select($"lang", explode(split(lower($"text"), " ")).as("term"))
      .groupBy($"lang", $"term").count()
    val n = exact.groupBy($"lang").agg(sum($"count").as("n"))
      .as[(String, Long)].collect().toMap
    val sketch = Tables.documents(spark, sfTiny)
      .select($"lang", explode(split(lower($"text"), " ")).as("term"))
      .groupBy($"lang").agg(Sketches.misraGries($"term", 20).as("mg"))
      .as[(String, Map[String, Long])].collect().toMap
    exact.as[(String, String, Long)].collect().foreach { case (lang, term, c) =>
      if (c > n(lang) / 21.0)
        assert(sketch(lang).contains(term), s"$lang/$term freq=$c missing from sketch")
    }
  }
}

class CentroidSimSpec extends SparkSpec {
  import spark.implicits._

  test("identical vectors in a group have centroid_sim exactly 1-ish; own centroid beats foreign") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.0f, 0.9f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidSim(emb, "vec_id", "embedding", "label")
      .select($"vec_id", $"centroid_sim").as[(Long, Double)].collect().toMap
    // group 0's centroid IS the shared vector → cosine 1 (within fp eps)
    assert(math.abs(got(1L) - 1.0) < 1e-12 && math.abs(got(2L) - 1.0) < 1e-12)
    // group 1 members are close to but not on the centroid
    assert(got(3L) > 0.9 && got(3L) < 1.0 && got(4L) > 0.9)
  }

  test("centroid matches the plain float average within fp tolerance") {
    val emb = Tables.embeddings(spark, sfTiny)
    val sims = Similarity.centroidSim(emb, "vec_id", "embedding", "label")
      .select($"centroid_sim").as[Double].collect()
    assert(sims.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
    // within a synthetic clustered corpus, most vectors should sit near
    // their own centroid — sanity that the join keyed the right group
    assert(sims.count(_ > 0.0) > sims.length / 2)
  }
}

class PackingPropertySpec extends SparkSpec {
  import spark.implicits._
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Driver-side reference: the definition from the scaladoc, verbatim. */
  private def refPack(sorted: Seq[(Long, Long)], cap: Long): Map[Long, Long] = {
    var fill = 0L; var bin = 0L
    sorted.map { case (id, sz) =>
      if (bin >= 1 && fill + sz <= cap) fill += sz else { bin += 1; fill = sz }
      id -> bin
    }.toMap
  }

  test("property: packNextFit equals the sequential fold for arbitrary sizes and capacities") {
    val stratum: Gen[(String, Long, List[Long])] = for {
      name <- Gen.identifier.map(_.take(6))
      cap <- Gen.chooseNum(1L, 300L)
      sizes <- Gen.nonEmptyListOf(Gen.chooseNum(1L, 400L)) // some exceed cap
    } yield (name, cap, sizes.take(40))
    samples(stratum, 60).zipWithIndex.foreach { case ((name, cap, sizes), i) =>
      val rows = sizes.zipWithIndex.map { case (sz, j) => (j.toLong, s"$name$i", sz) }
      val got = Packing.packNextFit(rows.toDF("id", "stratum", "sz"),
          "id", "stratum", "sz", cap)
        .select($"id", $"bin").as[(Long, Long)].collect().toMap
      val want = refPack(rows.map(r => (r._1, r._3)).sortBy(_._1), cap)
      assert(got == want, s"stratum $name$i cap=$cap sizes=$sizes")
    }
  }
}

class BloomPropertySpec extends SparkSpec {
  import spark.implicits._
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  test("property: never a false negative across m/k settings and key distributions") {
    val cfgs = for {
      mExp <- Seq(10, 13, 16)
      k <- Seq(1, 3, 5)
    } yield (1 << mExp, k)
    val keyGen = Gen.chooseNum(Long.MinValue, Long.MaxValue)
    val keys = (0 until 500)
      .flatMap(i => keyGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    val df = keys.toDF("k")
    cfgs.foreach { case (m, k) =>
      val bits = lit(Bloom.buildBitsLocal(df, $"k", m, k))
      val missed = df.filter(!Bloom.mightContain(bits, $"k", m, k)).count()
      assert(missed == 0L, s"false negative at m=$m k=$k")
    }
  }
}

class QuantizeSpec extends SparkSpec {
  import spark.implicits._

  test("int8 range, zero-vector guard, and reconstruction error bound") {
    val emb = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // zero vector
      (3L, Array(1e-4f, -1e-4f, 5e-5f, 0.0f)) // tiny magnitudes still span ±127
    ).toDF("vec_id", "embedding")
    val got = Quantize.quantizeStats(emb, "vec_id", "embedding")
      .as[(Long, Int, Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    // vec 1: max|v| = 1.0 → q = (64, -127, 32, 0)
    assert(got(1L)._2 == -127 && got(1L)._3 == 64 && got(1L)._4 == (64 - 127 + 32).toLong)
    assert(got(2L) == ((2L, 0, 0, 0L, 0.0)))
    assert(got(3L)._2 == -127 && got(3L)._3 == 127)
    // per-element error of symmetric int8 is bounded by m/254 → mse ≤ (m/254)²
    got.values.foreach { case (_, _, _, _, mse) => assert(mse >= 0.0 && mse <= (1.0 / 254) * (1.0 / 254) + 1e-12) }
  }

  test("quantized corpus dot products approximate float cosine ordering") {
    val emb = Tables.embeddings(spark, sfTiny)
    val stats = Quantize.quantizeStats(emb, "vec_id", "embedding")
    assert(stats.count() == emb.count())
    val mses = stats.select($"mse").as[Double].collect()
    assert(mses.forall(m => m >= 0 && m < 1e-4), s"max mse ${mses.max}")
  }
}

class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  test("a planted benchmark phrase flags the training doc; clean docs stay silent") {
    val benchPhrase = "what is the capital of france answer paris obviously"
    val eval_ = Seq((100L, benchPhrase)).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"some scraped page containing $benchPhrase verbatim and more text"),
      (2L, "an entirely unrelated document about excavators and mobile cranes")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminatedDocs(train, eval_, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got.contains(1L) && got(1L) >= 5, s"leak not flagged: $got")
    assert(!got.contains(2L))
  }
}

class MixingSpec extends SparkSpec {
  import spark.implicits._

  test("epoch weights replicate deterministically: floor copies + stable fractional subset") {
    val docs = Tables.documents(spark, sfTiny)
    val weights = Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0)
    val mixed = Mixing.epochWeightedRepeat(docs, "doc_id", "source", weights)
      .select($"doc_id", $"source", $"copy").persist()
    val perDoc = mixed.groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n"), max($"copy").as("mx"))
      .as[(Long, String, Long, Int)].collect()
    perDoc.foreach { case (id, src, n, mx) =>
      assert(n == mx, s"doc $id copies not dense 1..$mx")
      src match {
        case "src0" => assert(n == 2 || n == 3)
        case "src1" => assert(n == 1) // only the u < 0.25 subset appears at all
        case "src2" => fail(s"weight-0 source emitted doc $id")
        case _      => assert(n == 1)
      }
    }
    val src0Counts = perDoc.filter(_._2 == "src0").map(_._3)
    assert(src0Counts.contains(2L) && src0Counts.contains(3L),
      "fractional 0.5 should split src0 docs between 2 and 3 copies")
    // reproducibility: a second evaluation is row-identical
    val again = Mixing.epochWeightedRepeat(docs, "doc_id", "source", weights)
      .select($"doc_id", $"source", $"copy")
    assert(mixed.exceptAll(again).isEmpty && again.exceptAll(mixed).isEmpty)
    mixed.unpersist()
  }

  test("quantileCalibrateSampled tracks the exact calibration within DKW error") {
    val docs = Tables.documents(spark, sfTiny)
      .select($"doc_id", $"lang", length($"text").as("score"))
    val exact = Mixing.quantileCalibrate(docs, "doc_id", "lang", "score")
      .select($"doc_id", $"calibrated".as("ex"))
    val sampled = Mixing.quantileCalibrateSampled(docs, "doc_id", "lang", "score", 0.5)
      .select($"doc_id", $"calibrated".as("sm"))
    val joined = exact.join(sampled, "doc_id")
      .select($"ex", $"sm").as[(Double, Option[Double])].collect()
    assert(joined.forall(_._2.isDefined), "every stratum sampled at f=0.5")
    val maxGap = joined.map { case (e, s) => math.abs(e - s.get) }.max
    assert(maxGap < 0.25, s"sampled calibration drifted $maxGap from exact")
  }

  test("quantileCalibrateSampled: unsampled stratum calibrates to NULL, not a guess") {
    // stratum 'z' has one row whose draw is above the tiny fraction
    val df = Seq((1L, "a", 5.0), (2L, "a", 7.0), (3L, "z", 1.0))
      .toDF("id", "g", "sc")
    val fraction = 0.000001 // nothing samples
    val out = Mixing.quantileCalibrateSampled(df, "id", "g", "sc", fraction)
      .select($"calibrated").as[Option[Double]].collect()
    assert(out.forall(_.isEmpty))
  }

  test("curriculumPhases cuts near-equal token budgets, easy-first") {
    // one stratum, scores descending with id; 10 docs × 10 tokens each,
    // 4 phases over 100 tokens → phases of 3/2/3/2 docs (integer cuts at
    // 25/50/75)
    val df = (1L to 10L).map(i => (i, "s", (100 - i).toInt, 10L))
      .toDF("id", "g", "score", "toks")
    val out = Mixing.curriculumPhases(df, "id", "g", "score", "toks", phases = 4)
      .select($"id", $"phase").as[(Long, Int)].collect().toMap
    // ordering is score desc = id asc here; cum_before = (id-1)*10
    assert(out == Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1, 5L -> 1,
      6L -> 2, 7L -> 2, 8L -> 2, 9L -> 3, 10L -> 3), out.toString)
    // phase token masses: 30/20/30/20 — every phase within one doc of
    // the 25-token ideal; monotone in the score order
    val withTok = (1L to 10L).map(i => out(i))
    assert(withTok.sorted == withTok, "phases must be monotone in score order")
  }

  test("curriculumPhases: strata phase independently") {
    val df = Seq((1L, "a", 5, 100L), (2L, "a", 4, 100L),
      (3L, "b", 9, 1L), (4L, "b", 8, 1L))
      .toDF("id", "g", "score", "toks")
    val out = Mixing.curriculumPhases(df, "id", "g", "score", "toks", phases = 2)
      .select($"id", $"phase").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 0, 4L -> 1))
  }

  test("shardManifest: totals add up and the fingerprint is order-independent") {
    val docs = graft.Tables.documents(spark, sfTiny).select($"doc_id", $"text")
    val m1 = Mixing.shardManifest(docs, "doc_id", "text", nShards = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(m1.map(_._1) == (0L until 4L), s"every shard present: $m1")
    assert(m1.map(_._2).sum == docs.count())
    // reversed input order and different partitioning → identical manifest
    val m2 = Mixing.shardManifest(
        docs.orderBy($"doc_id".desc).repartition(7), "doc_id", "text", nShards = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(m1 == m2)
    // changing one doc's text changes exactly that shard's fingerprint
    val mutated = docs.withColumn("text",
      when($"doc_id" === 3L, concat($"text", lit(" tampered"))).otherwise($"text"))
    val m3 = Mixing.shardManifest(mutated, "doc_id", "text", nShards = 4)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(m1.zip(m3).count { case (a, b) => a._4 != b._4 } == 1)
    assert(m1.map(x => (x._1, x._2)) == m3.map(x => (x._1, x._2)))
  }
}

class LmScoreSpec extends SparkSpec {
  import spark.implicits._

  test("common transitions score above unique ones; bigram counts and absences are right") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the rug"),
      (3L, "the cat sat on the mat"),   // reinforces doc 1's transitions
      (4L, "zqx wvu tsr qpo nml kji"),  // every transition unique
      (5L, "single")                    // no bigram → absent
    ).toDF("doc_id", "text")
    val got = TextStats.lmScore(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(!got.contains(5L))
    assert(got(1L)._1 == 5L && got(4L)._1 == 5L) // 6 tokens → 5 bigrams
    assert(got(1L)._2 > got(4L)._2,
      s"corpus-typical doc must outscore gibberish: ${got(1L)._2} vs ${got(4L)._2}")
    assert(got(1L)._2 == got(3L)._2) // identical docs, identical score
  }

  test("scores are valid probabilities and vary across the corpus") {
    val s = TextStats.lmScore(Tables.documents(spark, sfTiny), "doc_id", "text")
      .select($"mean_p").as[Double].collect()
    assert(s.forall(p => p >= 0.0 && p <= 1.0))
    assert(s.distinct.length > 10)
  }

  test("Kneser-Ney: P(·|w1) sums to 1 over the seen vocabulary (full model)") {
    // Score a probe corpus whose bigrams enumerate {a,b,c} × continuations
    // observed in the base corpus; per-history KN mass must total 1.
    // Base corpus: histories a (3 continuations), b (1), c (2).
    val base = Seq((1L, "a b a c a b b c c a")).toDF("doc_id", "text")
    // One doc per (history, continuation) pair → each doc has exactly the
    // one bigram, so mean_p == P(w2|w1); summing over w2 per w1 tests the
    // normalization property Σ_w2 P(w2|w1) over the SEEN vocab = 1 − the
    // unseen-w2 continuation mass, which for the full-vocab probe is 1.
    val vocab = Seq("a", "b", "c")
    val probes = for {
      (w1, i) <- vocab.zipWithIndex; (w2, j) <- vocab.zipWithIndex
    } yield ((i * 3 + j + 10).toLong, s"$w1 $w2")
    val all = base.union(probes.toDF("doc_id", "text"))
    val got = TextStats.lmScoreKneserNey(all, "doc_id", "text")
      .filter($"doc_id" >= 10L)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // NOTE: probe docs also contribute bigram counts; the property still
    // holds because KN is normalized for ANY count table — per history,
    // Σ_w2 [max(c12−D,0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/B] where Σ_w2
    // N1+(·w2) = B makes the continuation term contribute exactly
    // D·N1+(w1·)/c1, and Σ max(c12−D,0) = c1 − D·N1+(w1·) when every
    // observed continuation has c12 ≥ 1. All w2 are observed here.
    vocab.zipWithIndex.foreach { case (_, i) =>
      val mass = (0 until 3).map(j => got((i * 3 + j + 10).toLong)).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"history $i mass $mass")
    }
  }

  test("trigram backoff: exact on seen trigrams, chained alpha on unseen") {
    // corpus: "a b c" ×3 and "a b d" ×1 → c(a b)=4, c(a b c)=3, c(a b d)=1
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "a b d"))
      .toDF("doc_id", "text")
    // topK=1 per history: "a b c" kept, "a b d" pruned → doc 4 backs off
    val got = TextStats.lmScoreBackoffTrigram(docs, "doc_id", "text",
        backoff = 0.4, topK = 1)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val fix = (1L << 40).toDouble
    def q(x: Double) = math.rint(x * fix) / fix
    // docs 1-3: S = c123/c12 = 3/4
    assert(got(1L) == ((1L, q(0.75))))
    // doc 4: trigram pruned → 0.4 · S(d|b); bigram "b d" also pruned at
    // topK=1 (b c wins: count 3 vs 1) → 0.4 · 0.4 · c(d)/N, N=12, c(d)=1
    assert(got(4L) == ((1L, q(0.4 * (0.4 * 1.0 / 12.0)))))
  }

  test("Kneser-Ney pruning hides counts but not the smoothing distribution") {
    val docs = Tables.documents(spark, sfTiny)
    val full = TextStats.lmScoreKneserNey(docs, "doc_id", "text")
      .select($"doc_id", $"mean_p").as[(Long, Double)].collect().toMap
    val pruned = TextStats.lmScoreKneserNey(docs, "doc_id", "text", topK = 2)
      .select($"doc_id", $"mean_p").as[(Long, Double)].collect().toMap
    // pruning can only REMOVE explicit-count mass → scores never increase
    assert(full.keySet == pruned.keySet)
    assert(full.forall { case (id, p) => pruned(id) <= p + 1e-12 })
    assert(full.exists { case (id, p) => pruned(id) < p }, "pruning must bite")
  }
}

class ContainmentSpec extends SparkSpec {
  import spark.implicits._

  test("full quote-inclusion scores containment 1.0 where jaccard stays low") {
    val short = "alpha beta gamma delta epsilon zeta"
    val long = s"intro words before the quote $short and many many trailing words " +
      "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(cont.length == 1 && cont(0)._3 == 1.0, s"containment missed: ${cont.toSeq}")
    // the same pair is INVISIBLE to jaccard at the usual 0.5 threshold
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5).collect()
    assert(jac.isEmpty, "jaccard unexpectedly caught the asymmetric pair")
  }

  test("prefix containment join equals the brute join on the corpus") {
    val docs = Tables.documents(spark, sfTiny)
    def norm(rows: Array[(Long, Long, Double)]) =
      rows.map { case (a, b, c) => (a, b, math.round(c * 1e9)) }.toSet
    val brute = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleK = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val fast = Dedup.prefixContainmentPairs(docs, "doc_id", "text",
        shingleK = 3, tNum = 1, tDen = 2)
      .as[(Long, Long, Double)].collect()
    assert(norm(fast) == norm(brute),
      s"prefix path diverged: ${fast.length} vs ${brute.length} pairs")
    assert(brute.nonEmpty, "fixture must actually produce containment pairs")
  }
}

class SplitAssignSpec extends SparkSpec {
  import spark.implicits._

  private val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  test("splits are exhaustive, disjoint, and roughly honor the fractions") {
    val d = Tables.documents(spark, sfTiny)
      .select($"doc_id", TextStats.assignSplit($"doc_id", splits).as("split"))
    val counts = d.groupBy($"split").count().as[(String, Long)].collect().toMap
    val n = counts.values.sum
    assert(counts.keySet == Set("train", "val", "test"))
    assert(counts("train").toDouble / n > 0.7 && counts("train").toDouble / n < 0.9)
  }

  test("corpus growth never moves an existing document between splits") {
    val all = Tables.documents(spark, sfTiny)
    val subset = all.filter($"doc_id" % 3 === 0)
    val aAll = all.select($"doc_id", TextStats.assignSplit($"doc_id", splits).as("s"))
      .as[(Long, String)].collect().toMap
    val aSub = subset.select($"doc_id", TextStats.assignSplit($"doc_id", splits).as("s"))
      .as[(Long, String)].collect().toMap
    aSub.foreach { case (id, s) => assert(aAll(id) == s) }
  }

  test("rejects fractions that do not sum to 1") {
    intercept[IllegalArgumentException] {
      TextStats.assignSplit(lit(1L), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }
}

class QualityKeepSpec extends SparkSpec {
  import spark.implicits._

  test("keep is the conjunction of its named component signals") {
    val sw = Seq("the", "a")
    val d = Tables.documents(spark, sfTiny).select($"doc_id",
      TextStats.wsTokenCount($"text").as("nt"),
      TextStats.meanTokenLen($"text").as("ml"),
      TextStats.stopwordRatio($"text", sw).as("sr"),
      TextStats.wordRepetition($"text").as("wr"),
      TextStats.qualityKeep($"text", sw).as("keep"))
    val bad = d.filter($"keep" =!=
      ($"nt".between(20, 100000) && $"ml".between(3.0, 10.0) &&
        $"sr" >= 0.01 && $"wr" <= 0.6))
    assert(bad.isEmpty)
    // the gate must actually separate the corpus, not rubber-stamp it
    val counts = d.groupBy($"keep").count().as[(Boolean, Long)].collect().toMap
    assert(counts.getOrElse(true, 0L) > 0 && counts.getOrElse(false, 0L) > 0)
  }
}

class BottomKSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.expressions.Window

  test("aggregator equals the window-rank formulation on any partitioning") {
    val docs = Tables.documents(spark, sfTiny)
      .select($"lang", TextStats.hashUniform($"doc_id").as("draw"), $"doc_id")
    val viaWindow = docs
      .withColumn("rk", row_number().over(
        Window.partitionBy($"lang").orderBy($"draw".asc, $"doc_id".asc)))
      .filter($"rk" <= 7)
      .select($"lang", $"rk", $"doc_id")
      .as[(String, Int, Long)].collect().toSet
    // many small partitions → partial buffers must merge correctly
    val viaAgg = docs.repartition(16)
      .groupBy($"lang").agg(Sketches.bottomK($"draw", $"doc_id", 7).as("ids"))
      .select($"lang", posexplode($"ids").as(Seq("pos", "doc_id")))
      .select($"lang", ($"pos" + 1).as("rk"), $"doc_id")
      .as[(String, Int, Long)].collect().toSet
    assert(viaAgg == viaWindow)
  }

  test("groups smaller than k return the whole group in draw order") {
    val tiny = Seq(("g", 0.9, 1L), ("g", 0.1, 2L), ("g", 0.5, 3L))
      .toDF("g", "draw", "id")
    val out = tiny.groupBy($"g").agg(Sketches.bottomK($"draw", $"id", 10).as("ids"))
      .select($"ids").as[Seq[Long]].collect()(0)
    assert(out == Seq(2L, 3L, 1L))
  }

  test("equal draws tie-break by id") {
    val tie = Seq(("g", 0.5, 9L), ("g", 0.5, 1L), ("g", 0.5, 4L))
      .toDF("g", "draw", "id")
    val out = tie.groupBy($"g").agg(Sketches.bottomK($"draw", $"id", 2).as("ids"))
      .select($"ids").as[Seq[Long]].collect()(0)
    assert(out == Seq(1L, 4L))
  }
}

class SegmentDedupSpec extends SparkSpec {
  import spark.implicits._

  test("round-trip: with an unreachable threshold every doc reassembles to its original text") {
    val docs = Tables.documents(spark, sfTiny).select($"doc_id", $"text")
    val out = Dedup.dedupSegments(docs, "doc_id", "text",
        segTokens = 8, maxOccurrences = Long.MaxValue)
      .join(docs, "doc_id")
    assert(out.count() == docs.count())
    val broken = out.filter($"clean_text" =!= $"text")
    assert(broken.isEmpty, s"reassembly mangled ${broken.count()} docs")
    assert(out.filter($"n_kept" =!= $"n_segs").isEmpty)
  }

  test("maxOccurrences=2 keeps segments occurring exactly twice") {
    val a = "x1 x2 x3 x4 x5 x6 x7 x8"
    val docs = Seq((1L, a), (2L, a), (3L, a)).toDF("doc_id", "text")
    // threshold 2: the segment occurs 3 times -> dropped everywhere
    assert(Dedup.dedupSegments(docs, "doc_id", "text", 8, 2L).isEmpty)
    // threshold 3: kept everywhere
    assert(Dedup.dedupSegments(docs, "doc_id", "text", 8, 3L).count() == 3)
  }
}

class TokenBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("selection is the maximal quality-ordered prefix within budget") {
    val d = Seq(
      (1L, "s", 40L, 3.0), (2L, "s", 40L, 2.0), (3L, "s", 40L, 1.0),
      (4L, "t", 90L, 9.0), (5L, "t", 30L, 8.0)
    ).toDF("doc_id", "source", "n_tokens", "score")
    val kept = Mixing.tokenBudgetSelect(d, "doc_id", "source", "n_tokens", "score", 100L)
      .select($"doc_id", $"cum_tokens").as[(Long, Long)].collect().toMap
    // s: 40+40 fits, third 40 would make 120 > 100; t: 90 fits, +30 = 120 > 100
    assert(kept == Map(1L -> 40L, 2L -> 80L, 4L -> 90L))
  }

  test("budget 0 keeps nothing") {
    val d = Seq((1L, "s", 1L, 1.0)).toDF("doc_id", "source", "n_tokens", "score")
    assert(Mixing.tokenBudgetSelect(d, "doc_id", "source", "n_tokens", "score", 0L).isEmpty)
  }

  test("tokenBudgetSelectBy (mega-stratum hatch) == the window form") {
    // two strata big enough to straddle range partitions
    val d = spark.range(600).select($"id",
      when($"id" % 3 === 0, "a").otherwise("b").as("source"),
      ($"id" % 7 + 1).as("n_tokens"),
      ($"id" % 13).cast("double").as("score"))
    val a = Mixing.tokenBudgetSelect(d, "id", "source", "n_tokens", "score", 300L)
    val b = Mixing.tokenBudgetSelectBy(d, "id", "source", "n_tokens", "score", 300L)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "hatch form diverged from the window form")
    assert(b.count() > 0)
  }
}

class StarCcSpec extends SparkSpec {
  import spark.implicits._

  test("star CC equals min-label CC on the corpus near-dup graph") {
    val docs = Tables.documents(spark, sfTiny)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text")
      .select($"id_a", $"id_b").persist()
    val viaProp = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id", pairs)
      .as[(Long, Long)].collect().toSet
    val viaStar = Dedup.connectedComponentsStar(docs.select($"doc_id"), "doc_id", pairs)
      .as[(Long, Long)].collect().toSet
    pairs.unpersist()
    assert(viaStar == viaProp)
  }

  test("star CC converges on a 128-node path where min-label propagation cannot") {
    // path 0-1-2-…-127: diameter 127 > min-label's maxIter=20 default;
    // large-star/small-star needs O(log² n) rounds
    val verts = (0L until 128L).toDF("doc_id")
    val edges = (0L until 127L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(verts, "doc_id", edges)
        .count()
    }
    val labels = Dedup.connectedComponentsStar(verts, "doc_id", edges)
      .as[(Long, Long)].collect()
    assert(labels.length == 128 && labels.forall(_._2 == 0L))
  }
}

class CcPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: plain sequential union-find. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress to the component min (roots are mins by construction)
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("both CC implementations match union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 10 + rnd.nextInt(30)
      val m = rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expect = unionFind(n, edges)
      val verts = (0L until n.toLong).toDF("doc_id")
      val edf = edges.toDF("id_a", "id_b")
      val viaProp = Dedup.connectedComponents(verts, "doc_id", edf, maxIter = 64)
        .as[(Long, Long)].collect().toMap
      val viaStar = Dedup.connectedComponentsStar(verts, "doc_id", edf)
        .as[(Long, Long)].collect().toMap
      assert(viaProp == expect, s"trial $trial (n=$n m=$m): min-label != union-find")
      assert(viaStar == expect, s"trial $trial (n=$n m=$m): star != union-find")
    }
  }

  test("winnowing theorem: a shared run of >= k+w-1 tokens shares a fingerprint") {
    // k=4, w=4: any common substring of >= 7 tokens must collide
    val shared = "p q r s t u v" // 7 tokens
    val docs = Seq(
      (1L, s"alpha beta gamma $shared delta epsilon"),
      (2L, s"one two $shared three four five six"),
      (3L, "totally unrelated words with nothing in common at all today"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", k = 4, w = 4,
        minShared = 1)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed collision missing: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc collided: $pairs")
  }

  test("winnowing selects the rightmost minimum per window, deduped") {
    // hashes are md5-opaque; pin the mechanics on a tiny doc: 5 tokens,
    // k=4 -> 2 k-grams, w=4 -> one short window of 2 -> exactly 1 selection
    val one = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(one, "doc_id", "text", k = 4, w = 4)
      .as[(Long, Int, Long)].collect()
    assert(fps.length == 1 && (fps(0)._2 == 0 || fps(0)._2 == 1))
    // and a doc below k tokens emits nothing
    val short = Seq((1L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.winnowFingerprints(short, "doc_id", "text", 4, 4).count() == 0)
  }

  test("PqEncodeExpr kernel equals the declarative least(struct) chain") {
    val emb = graft.Tables.embeddings(spark, sfTiny)
    val cb = emb.orderBy($"vec_id").limit(16)
      .select($"embedding").collect()
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Float](0).toArray }.toSeq
    val viaKernel = Similarity.pqEncode(emb, "vec_id", "embedding", cb, 8)
      .as[(Long, Seq[Int], Double)].collect()
      .map { case (id, c, e) => id -> ((c, e)) }.toMap
    val perSub = Similarity.pqPerSub("embedding", cb, 8)
    val viaChain = emb.select($"vec_id",
        org.apache.spark.sql.functions.array(perSub.map(_._1): _*).as("codes"),
        perSub.map(_._2).reduce(_ + _).as("recon_err"))
      .as[(Long, Seq[Int], Double)].collect()
      .map { case (id, c, e) => id -> ((c, e)) }.toMap
    assert(viaKernel == viaChain) // codes AND recon_err bit-identical
  }

  test("PQ Lloyd refinement reduces total quantization distortion") {
    val emb = graft.Tables.embeddings(spark, sfTiny)
    def totalErr(iters: Int): Double = {
      val cb = Similarity.pqLloydCodebook(emb, "vec_id", "embedding",
        k = 16, subspaces = 8, iters = iters)
      Similarity.pqEncode(emb, "vec_id", "embedding", cb, subspaces = 8)
        .agg(org.apache.spark.sql.functions.sum($"recon_err")).as[Double].head()
    }
    val init = totalErr(0) // iters=0 == the static q112 codebook
    val refined = totalErr(2)
    assert(refined < init * 0.9,
      s"2 Lloyd iterations should cut distortion well below init: $refined vs $init")
  }

  test("dupSpans finds the maximal cross-doc duplicated run and nothing else") {
    // 8-token run shared by docs 1 and 2; with k=3 positions 2..7 of doc 1
    // (grams 2,3,4,5) are duplicated -> ONE maximal span, not four
    val run = "c1 c2 c3 c4 c5 c6 c7 c8"
    val docs = Seq(
      (1L, s"u1 u2 $run u3 u4"),
      (2L, s"w1 $run w2 w3 w4 w5"),
      (3L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"))
      .toDF("doc_id", "text")
    val spans = Dedup.dupSpans(docs, "doc_id", "text", k = 3, minTokens = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1: run occupies token offsets [2, 10) -> 6 duplicated grams
    // doc 2: run occupies token offsets [1, 9)
    assert(spans == Set((1L, 2L, 10L, 6L), (2L, 1L, 9L, 6L)), spans.toString)
  }

  test("dupSpans merges intra-doc repeats and respects minTokens") {
    // the 3-gram "r1 r2 r3" occurs twice WITHIN one doc -> both positions
    // duplicated; minTokens=4 then filters the 3-token spans out
    val doc = Seq((1L, "r1 r2 r3 zz r1 r2 r3")).toDF("doc_id", "text")
    val spans3 = Dedup.dupSpans(doc, "doc_id", "text", k = 3, minTokens = 3)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans3 == Set((1L, 0L, 3L, 1L), (1L, 4L, 7L, 1L)), spans3.toString)
    assert(Dedup.dupSpans(doc, "doc_id", "text", k = 3, minTokens = 4).count() == 0)
  }

  test("dedupSpans keeps the first occurrence and strips later copies") {
    val run = "c1 c2 c3 c4 c5"
    val docs = Seq(
      (1L, s"$run a b"),    // canonical: untouched
      (2L, s"p q $run r"),  // later copy: loses the 5 run tokens
      (3L, "n1 n2 n3 n4 n5 n6"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", k = 5)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((7L, 0L, h(s"$run a b"))))
    assert(out(2L) == ((8L, 5L, h("p q r"))))
    assert(out(3L) == ((6L, 0L, h("n1 n2 n3 n4 n5 n6"))))
  }

  test("dedupSpans: a doc that is one whole duplicated run empties to md5('')") {
    val docs = Seq((1L, "d1 d2 d3 d4 d5"), (2L, "d1 d2 d3 d4 d5"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", k = 5)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L)._2 == 0L)
    assert(out(2L) == ((5L, 5L, "d41d8cd98f00b204e9800998ecf8427e")))
  }

  test("lshPlanner: finer banding lifts expected recall, probs sane") {
    val docs = Tables.documents(spark, sfTiny)
    val out = Dedup.lshPlanner(docs, "doc_id", "text",
        configs = Seq((4, 4), (8, 2), (16, 1)))
      .as[(Int, Int, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // same candidate population for every config
    assert(out.values.map(_._3).toSet.size == 1)
    // with r=1 every band is a 1-row signature → highest capture
    assert(out((16, 1))._5 > out((8, 2))._5)
    assert(out((8, 2))._5 > out((4, 4))._5)
    assert(out.values.forall(r => r._5 >= 0.0 && r._5 <= 1.0))
  }

  test("clusterCoherence: chain collapse shows sub-threshold intra pairs") {
    val docs = Tables.documents(spark, sfTiny)
    val out = Dedup.clusterCoherence(docs, "doc_id", "text", threshold = 0.5)
      .as[(String, Long, Long, Double, Double)].collect()
    assert(out.nonEmpty)
    // buckets carry positive pair counts and jaccard in [0, 1]
    assert(out.forall(r => r._2 >= 1 && r._3 >= 1))
    assert(out.forall(r => r._4 >= 0.0 && r._4 <= 1.0 &&
      r._5 <= r._4 + 1e-12))
  }

  test("thresholdSweep: edges and clustered docs shrink as the bar rises") {
    val docs = Tables.documents(spark, sfTiny)
    val out = Dedup.thresholdSweep(docs, "doc_id", "text",
        thresholds = Seq(0.3, 0.5, 0.7))
      .as[(Double, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(0.3, 0.5, 0.7))
    // monotone: a higher threshold can only REMOVE edges/clustered docs
    assert(out.map(_._2).sliding(2).forall(p => p(1) <= p(0)))
    assert(out.map(_._4).sliding(2).forall(p => p(1) <= p(0)))
    // every cluster has ≥ 2 members and max ≤ total clustered
    assert(out.forall(r => r._5 <= r._4 && (r._3 == 0 || r._5 >= 2)))
  }
}

class BurrowsDeltaSpec extends SparkSpec {
  import spark.implicits._

  test("stylistic twins pair closest; the odd-one-out pairs farthest") {
    // sources a and b share one word distribution; c is disjoint
    val docs = Seq(
      ("a", "the cat sat on the mat"), ("a", "the cat on the mat"),
      ("b", "the cat sat on the mat"), ("b", "the cat on a mat"),
      ("c", "zebra quokka axolotl wombat zebra quokka axolotl wombat")
    ).toDF("source", "text")
    val got = TextStats.burrowsDelta(docs, "source", "text",
        topK = 8, topPairs = 3)
      .as[(String, String, Double)].collect().toSeq
    assert(got.size == 3)
    assert((got.head._1, got.head._2) == ("a", "b"),
      s"twins should pair first, got $got")
    assert(got.head._3 < got.last._3, s"no separation: $got")
    // symmetric-by-construction: every pair appears once, a < b order
    assert(got.forall(p => p._1 < p._2))
  }
}

class DivergenceTokensSpec extends SparkSpec {
  import spark.implicits._

  test("the planted drift token tops the attribution; shared tokens sink") {
    val ref = Seq.fill(50)("common").toDF("t")
    val cur = (Seq.fill(40)("common") ++ Seq.fill(10)("drifted")).toDF("t")
    val got = TextStats.divergenceTokens(ref, cur, "t", topK = 5)
      .as[(String, Double, Double, Double)].collect().toSeq
    assert(got.head._1 == "drifted", s"got $got")
    assert(got.head._2 == 0.0 && got.head._3 == 0.2,
      "one-sided token carries p_ref=0, p_cur=0.2")
    assert(got.head._4 > got.last._4, s"no separation: $got")
  }
}
