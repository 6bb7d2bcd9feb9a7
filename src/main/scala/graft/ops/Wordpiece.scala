package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup.unpersistCheckpoint

/** WordPiece-style greedy subword tokenization (Wu et al. 2016 §4.1;
  * the BERT tokenizer's inference rule) — the third tokenizer next to
  * [[Bpe]]'s merge learner and the unigram-Viterbi segmenter: given a
  * unit vocabulary, each word is consumed LEFT TO RIGHT taking the
  * LONGEST vocabulary unit at every position ("maximum munch"), with
  * mid-word units carrying the `##` continuation prefix.
  *
  * Vocabulary here is learned frequency-first (a deterministic,
  * oracle-replayable stand-in for the likelihood-driven WordPiece
  * trainer, which needs an inner EM loop): every length-1 unit seen in
  * the corpus, plus the `topMulti` most frequent multi-character units
  * (occurrence-weighted, ties broken by unit string). Because all
  * singles are in-vocab, greedy matching always advances and no [UNK]
  * can arise on the training corpus; on FOREIGN text a position whose
  * single char is unseen still advances by one (the unmatched char
  * passes through as its own token) — both engines share that fallback.
  *
  * Scale shape: tokenization runs on DISTINCT words only (the pandas
  * "vectorize over the vocabulary, not the corpus" trick, relationally)
  * — the fact table contributes one (lang, word) count shuffle and one
  * final join. The greedy loop does ≤ maxWordLen rounds; each round is
  * a length-explode (× maxLen, a constant) + ONE broadcast hash join
  * against the vocab (vocab is topMulti + alphabet rows — KB-sized by
  * construction) + a (word,pos) max-aggregate. Frontiers are
  * localCheckpoint'ed and the previous round's blocks released — O(1)
  * lineage, ≤ 3 snapshots live (the kCore discipline). Nothing in the
  * loop ever touches the corpus again.
  */
object Wordpiece {

  /** Per-(lang, word) occurrence counts of whitespace-split lowercase
    * words — the single corpus-scaled pass everything else reads. */
  private def wordCounts(df: DataFrame, langCol: String,
      textCol: String): DataFrame =
    df.select(col(langCol).as("lang"),
        explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("freq"))

  /** Frequency-first unit vocabulary: all length-1 units ∪ the
    * `topMulti` most frequent units of length 2..maxLen (occurrence ×
    * word-frequency weighted; ties by unit string asc). Start-of-word
    * units are the raw substring; continuations carry `##`. Output:
    * one `unit` column. */
  def learnVocab(wordFreq: DataFrame, maxLen: Int,
      topMulti: Int): DataFrame = {
    require(maxLen >= 2 && topMulti >= 0, "maxLen >= 2, topMulti >= 0")
    val units = wordFreq.select(col("word"), col("freq"),
        explode(flatten(transform(
          sequence(lit(1), length(col("word"))),
          i => transform(
            sequence(lit(1), least(lit(maxLen), length(col("word")) - i + 1)),
            l => struct(l.as("l"),
              when(i === 1, col("word").substr(i, l))
                .otherwise(concat(lit("##"), col("word").substr(i, l)))
                .as("unit")))))).as("u"))
      .groupBy(col("u.unit").as("unit"), col("u.l").as("l"))
      .agg(sum(col("freq")).as("cnt"))
    val singles = units.filter(col("l") === 1).select(col("unit")).distinct()
    val multis = units.filter(col("l") >= 2)
      .orderBy(col("cnt").desc, col("unit").asc)
      .limit(topMulti).select(col("unit"))
    singles.unionByName(multis).distinct()
  }

  /** Greedy longest-match segmentation of DISTINCT `words` (one `word`
    * column) against `vocab` (one `unit` column). A position with no
    * vocab match (foreign single char) advances by 1. Output:
    * (word, n_tokens). */
  def segmentWords(words: DataFrame, vocab: DataFrame,
      maxLen: Int): DataFrame = {
    require(maxLen >= 1, "maxLen >= 1")
    val v = broadcast(vocab.select(col("unit")))
    var active = words.select(col("word"), length(col("word")).as("len"),
        lit(1).as("pos"), lit(0L).as("ntok"))
      .localCheckpoint(eager = true)
    var results: DataFrame = null
    var activeCount = active.count()
    while (activeCount > 0) {
      val cand = active
        .withColumn("l", explode(array((1 to maxLen).map(lit): _*)))
        .filter(col("pos") + col("l") - 1 <= col("len"))
        .withColumn("unit",
          when(col("pos") === 1, col("word").substr(col("pos"), col("l")))
            .otherwise(concat(lit("##"),
              col("word").substr(col("pos"), col("l")))))
      val matched = cand.join(v, Seq("unit"))
        .groupBy(col("word"), col("pos")).agg(max(col("l")).as("__best"))
      val stepped = active.join(matched, Seq("word", "pos"), "left")
        .select(col("word"), col("len"),
          (col("pos") + coalesce(col("__best"), lit(1))).as("pos"),
          (col("ntok") + 1L).as("ntok"))
        .localCheckpoint(eager = true)
      val done = stepped.filter(col("pos") > col("len"))
        .select(col("word"), col("ntok").as("n_tokens"))
      val nextResults =
        (if (results == null) done else results.unionByName(done))
          .localCheckpoint(eager = true)
      val nextActive = stepped.filter(col("pos") <= col("len"))
        .localCheckpoint(eager = true)
      unpersistCheckpoint(active)
      unpersistCheckpoint(stepped)
      if (results != null) unpersistCheckpoint(results)
      results = nextResults
      active = nextActive
      activeCount = active.count()
    }
    unpersistCheckpoint(active)
    if (results == null) // empty word set: loop never ran
      words.select(col("word"), lit(0L).as("n_tokens")).limit(0)
    else results
  }

  /** Corpus fertility rollup: learn the vocab, segment the distinct
    * words, join back to per-language occurrence counts. Output per
    * lang: (lang, n_words, n_tokens, fertility ← round 6,
    * single_token_share ← round 6). */
  def fertility(df: DataFrame, langCol: String, textCol: String,
      maxLen: Int = 4, topMulti: Int = 20): DataFrame = {
    val wt = wordCounts(df, langCol, textCol)
      .localCheckpoint(eager = true) // read by vocab, seg AND the rollup
    val wf = wt.groupBy(col("word")).agg(sum(col("freq")).as("freq"))
    val vocab = learnVocab(wf, maxLen, topMulti)
    val seg = segmentWords(wf.select(col("word")), vocab, maxLen)
    val out = wt.join(seg, Seq("word"))
      .groupBy(col("lang"))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * col("n_tokens")).as("n_tokens"),
        sum(when(col("n_tokens") === 1L, col("freq")).otherwise(lit(0L)))
          .as("__single"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("__single").cast("double") / col("n_words").cast("double"), 6)
          .as("single_token_share"))
    out
  }
}
