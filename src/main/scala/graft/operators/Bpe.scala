package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ckpt.PinOps

/** Byte-pair-encoding tokenizer TRAINING and application — the
  * tokenizer-fitting step of a training-data pipeline, run over the corpus
  * the engine curates (Sennrich, Haddow & Birch 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — the public algorithm;
  * beyond-reference scope like the rest of the LLM-pipeline family).
  *
  * Scale shape — the classic reduction, then the adaptive split used by
  * [[Graph.connectedComponents]]:
  *
  *  1. ONE corpus-linear pass collapses the corpus to the distinct
  *     (word, freq) table ([[wordFrequencies]]). Every merge iteration
  *     thereafter touches only that table: even a 100 TB web corpus has a
  *     bounded distinct-word count (tens of millions), a ~10^6× row
  *     reduction before the first iteration.
  *  2. `distinct words ≤ maxDriverWords`: collect the bounded table and
  *     run the exact merge loop on the driver (microseconds per round) —
  *     the same justification as a broadcast join's bounded build side.
  *     Above the threshold: the distributed loop — per round one
  *     pair-count aggregate (shuffle on the pair key, map-side partial
  *     sums), a 1-row argmax collect (the round's DRIVER DECISION, like
  *     CC's convergence check), and a map-only greedy re-segmentation;
  *     `localCheckpoint` per round caps lineage growth.
  *
  *     The threshold is a MEMORY guard, not a speed crossover — measured
  *     from above in round 16 (2.5M distinct words, local[32]): the
  *     driver loop still beats the distributed one 1.7×
  *     for BPE (11.8 vs 20.2 s) and 21× for unigram (whose spans table
  *     shuffle-amplifies ~40× per EM round). Default re-pinned 2M → 4M
  *     accordingly: a 4M-word collect measured comfortably inside an
  *     8 GiB driver (the 2.5M run held ~0.5 GiB of word tuples), and the
  *     distributed path remains the correctness-identical fallback for
  *     the genuinely driver-exceeding vocabularies (tens of millions)
  *     a 100 TB corpus produces.
  *
  * Both paths compute the identical merge list: pair counts weight every
  * adjacent symbol occurrence by word frequency (overlaps included, as in
  * the reference implementation's `get_stats`), the argmax tie-break is
  * total (count DESC, left ASC, right ASC — binary string order in both
  * engines), and application is greedy left-to-right without intra-round
  * cascading. That determinism is what lets a DuckDB oracle replay the
  * whole training run round for round (`SparkEntry.oracleSql("bpe_train")`).
  *
  * Encoding reuses the training artifact: after k merges the vocab table's
  * symbol column IS the encoding of every in-corpus word, so
  * [[encodeViaVocab]] is a words→vocab equi-join (broadcast — the vocab is
  * small by construction) instead of a per-document merge replay. For text
  * outside the training corpus, [[encodeWord]] applies the merge list
  * directly (and equals the trained segmentation on in-vocab words — see
  * `BpeSpec`).
  */
object Bpe {

  /** Distinct (w, freq) over single-space tokenization, empty tokens
    * dropped — the corpus-linear pass everything else iterates on. */
  def wordFrequencies(df: DataFrame, textCol: String): DataFrame =
    Par.spread(df)
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Learn `numMerges` BPE merges from the corpus. Returns
    * (rank, left_sym, right_sym) sorted by rank — rank is application
    * order. Fewer rows than `numMerges` iff the vocabulary ran out of
    * adjacent pairs first. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxDriverWords: Long = 1L << 22): DataFrame = {
    val spark = df.sparkSession
    val wf = wordFrequencies(df, textCol)
    val merges: Seq[(Int, String, String)] =
      if (maxDriverWords > 0 && wf.count() <= maxDriverWords)
        trainLocal(wf.collect().map(r => (r.getString(0), r.getLong(1))).toSeq,
          numMerges)
      else trainLoop(wf, numMerges)
    import spark.implicits._
    merges.toDF("rank", "left_sym", "right_sym")
  }

  /** Exact in-memory merge loop over the collected vocab (driver path). */
  private[operators] def trainLocal(words: Seq[(String, Long)],
      numMerges: Int): Seq[(Int, String, String)] = {
    var reprs = words.map { case (w, f) => (splitChars(w), f) }
    val out = Seq.newBuilder[(Int, String, String)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      reprs.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val (l, r) = counts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }._1
        out += ((rank, l, r))
        reprs = reprs.map { case (syms, f) => (greedyMerge(syms, l, r), f) }
        rank += 1
      }
    }
    out.result()
  }

  /** Distributed merge loop: per round one pair-count shuffle + a 1-row
    * argmax collect + a map-only re-segmentation of the vocab table.
    *
    * Scale note on the per-round argmax: `numMerges` Spark jobs total, one
    * per merge rank — strictly sequential by the BPE definition (rank k+1's
    * counts depend on rank k's re-segmentation), so the jobs cannot fuse.
    * Fine for the contract's tens of merges; a vocab-scale tokenizer
    * (30k–50k merges) on this path would pay ~30k job round-trips and
    * should batch merge selection instead: take the top-B non-overlapping
    * pairs per round (pairs sharing no symbol commute — applying them in
    * one re-segmentation pass is order-independent), collapsing the round
    * count by ~B at the cost of occasionally selecting a pair whose count
    * was stale (standard fast-BPE trade, e.g. the tokenizers library's
    * batched trainer). Registered queries stay on the exact path. */
  private def trainLoop(wf: DataFrame, numMerges: Int): Seq[(Int, String, String)] = {
    val out = Seq.newBuilder[(Int, String, String)]
    val rot = Ckpt.rotator() // bounds reliable-checkpoint storage to 2 rounds
    var reprs = rot.pin(wf
      .withColumn("syms", transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1)))))
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val best = reprs
        .select(col("freq"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
        .groupBy(col("p.0").as("l"), col("p.1").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val l = best(0).getString(0); val r = best(0).getString(1)
        out += ((rank, l, r))
        reprs = rot.pin(reprs
          .withColumn("syms", applyMergeCol(l, r)))
        rank += 1
      }
    }
    out.result()
  }

  /** Greedy left-to-right application of one merge to the `syms` array —
    * a codegen'd `aggregate` fold carrying (emitted, pending) so a run of
    * `l l l` merges every other occurrence, exactly like the in-memory
    * loop and the oracle's gaps-and-islands selection. No cascading: a
    * symbol produced this round is emitted, never reconsidered. */
  private def applyMergeCol(l: String, r: String) = {
    val acc0 = struct(array().cast("array<string>").as("out"), lit("").as("pend"))
    aggregate(col("syms"), acc0,
      (acc, s) => when(acc("pend") === lit(l) && s === lit(r),
          struct(concat(acc("out"), array(lit(l + r))).as("out"),
            lit("").as("pend")))
        .otherwise(struct(
          when(acc("pend") === lit(""), acc("out"))
            .otherwise(concat(acc("out"), array(acc("pend")))).as("out"),
          s.as("pend"))),
      acc => when(acc("pend") === lit(""), acc("out"))
        .otherwise(concat(acc("out"), array(acc("pend")))))
  }

  /** Per-document BPE token stats via the trained vocab table: explode
    * words → broadcast-join the (word → symbols) artifact → re-aggregate.
    * The corpus is touched once, map-side; the only shuffle is the final
    * per-doc aggregate on `idCol`. Words are in-vocab by construction when
    * `vocab` was trained on (a superset of) `df`. */
  def encodeViaVocab(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val words = Par.spread(df)
      .select(col(idCol), explode(split(col(textCol), " ")).as("w"))
      .where(col("w") =!= "")
    words.join(broadcast(vocab.select(col("w"), col("syms"))), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_tokens"),
        sum(length(col("w"))).as("n_chars"))
  }

  /** The trained (w, syms, freq) vocabulary table: word frequencies
    * re-segmented by the merge list in rank order. `merges` is the
    * collected output of [[train]]. */
  def vocabulary(df: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    wordFrequencies(df, textCol)
      .withColumn("syms", udfFreeEncode(merges)(col("w")))

  /** Column expression segmenting a word by a LITERAL merge list — the
    * merge folds compose as nested `aggregate` calls, all codegen'd, no
    * UDF. Suited to small k (each merge adds a plan node); at
    * tokenizer-scale k (tens of thousands) encode via the vocab join
    * ([[encodeViaVocab]]) or a custom Expression holding the rank map. */
  private def udfFreeEncode(merges: Seq[(String, String)]) = (w: org.apache.spark.sql.Column) => {
    val chars = transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))
    merges.foldLeft(chars) { case (syms, (l, r)) =>
      val acc0 = struct(array().cast("array<string>").as("out"), lit("").as("pend"))
      aggregate(syms, acc0,
        (acc, s) => when(acc("pend") === lit(l) && s === lit(r),
            struct(concat(acc("out"), array(lit(l + r))).as("out"),
              lit("").as("pend")))
          .otherwise(struct(
            when(acc("pend") === lit(""), acc("out"))
              .otherwise(concat(acc("out"), array(acc("pend")))).as("out"),
            s.as("pend"))),
        acc => when(acc("pend") === lit(""), acc("out"))
          .otherwise(concat(acc("out"), array(acc("pend")))))
    }
  }

  /** Driver-side single-word encode with a trained merge list — the
    * classic inference-time algorithm; equals the trained vocab's
    * segmentation for any in-vocab word (property-tested). */
  def encodeWord(merges: Seq[(String, String)], word: String): Seq[String] =
    merges.foldLeft(splitChars(word)) { case (syms, (l, r)) =>
      greedyMerge(syms, l, r)
    }

  private def splitChars(w: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      b += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    b.result()
  }

  private def greedyMerge(syms: Seq[String], l: String, r: String): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += syms(i); i += 1 }
    }
    b.result()
  }
}
