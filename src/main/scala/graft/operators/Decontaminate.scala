package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: drop (or flag) training documents that share
  * any word n-gram with an evaluation/test set — the standard guard against
  * benchmark leakage when assembling an LLM training corpus (the reference
  * pipeline has no equivalent; this is part of the beyond-reference
  * LLM-pipeline surface, SURVEY.md §7.5).
  *
  * Scale shape: the benchmark side is small by definition (an eval set),
  * so its distinct shingle set is broadcast and the corpus-side probe is
  * map-side only — the corpus is never shuffled on text. The corpus DOES
  * explode to one row per (doc, shingle) before the probe, but the probe
  * filters that stream in place (no exchange) and only matching
  * (doc, shingle) rows reach the one aggregation shuffle, which is sized
  * by the CONTAMINATION (tiny), not the corpus.
  */
object Decontaminate {

  /** Per-document contamination stats against `benchmark`: every corpus row
    * with `n_overlap` = how many distinct benchmark n-grams it contains and
    * a `contaminated` flag. `n = 3` (13-gram in production; 3 here matches
    * the test corpora's short documents — the operator is n-agnostic).
    */
  def flag(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3): DataFrame = {
    // probe key = the portable 64-bit shingle hash: the broadcast side
    // shrinks to 8 bytes per benchmark shingle and the corpus-side explode
    // carries longs, not text; the oracle hashes identically in SQL
    val benchShingles = Dedup.withShingles(benchmark, benchTextCol, n)
      .select(explode(transform(col("shingles"), s => graft.functions.F.mix64(s)))
        .as("sh64")).distinct()
    val corpusShingles = Dedup.withShingles(Par.spread(corpus), textCol, n)
      .select(col(idCol),
        explode(transform(col("shingles"), s => graft.functions.F.mix64(s))).as("sh64"))
    val overlaps = corpusShingles
      .join(broadcast(benchShingles), "sh64")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
    corpus.join(overlaps, Seq(idCol), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** The corpus with contaminated documents removed. Same plan as [[flag]]
    * but the overlap side collapses to distinct ids before a LEFT ANTI
    * join, so the only shuffled data is the contaminated id set. */
  def clean(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3): DataFrame = {
    val benchShingles = Dedup.withShingles(benchmark, benchTextCol, n)
      .select(explode(transform(col("shingles"), s => graft.functions.F.mix64(s)))
        .as("sh64")).distinct()
    val contaminatedIds = Dedup.withShingles(Par.spread(corpus), textCol, n)
      .select(col(idCol),
        explode(transform(col("shingles"), s => graft.functions.F.mix64(s))).as("sh64"))
      .join(broadcast(benchShingles), "sh64")
      .select(idCol).distinct()
    corpus.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** SPAN-level exact-substring decontamination — the surgical upgrade
    * over [[flag]]/[[clean]]'s document-level verdicts: locate every
    * verbatim `w`-token overlap with the benchmark as merged CHARACTER
    * spans in the corpus text (Lee et al.'s suffix-window form, the
    * passage-dedup machinery pointed across sets), so the caller can cut
    * the leaked passage with [[Dedup.removeSpans]] and KEEP the rest of
    * the document — flag-and-drop wastes the whole doc when one quoted
    * benchmark item leaks into otherwise-good text. A contaminated
    * passage of L ≥ w tokens is covered by its L − w + 1 matching
    * windows, which merge back into the full passage; benchmark items
    * SHORTER than `w` tokens produce no windows and are invisible here —
    * that short tail stays [[flag]]'s job (n-gram overlap), which is why
    * both operators exist.
    *
    * Output: `(doc_id, span_start, span_end, n_windows)` —
    * `[span_start, span_end)` char offsets, [[Dedup.removeSpans]]-ready.
    *
    * Scale shape: corpus windowing is the passage family's one doc-keyed
    * exchange; the benchmark's distinct window hashes broadcast (eval
    * sets are small by contract) and the hit join is map-side, so — like
    * [[flag]] — only MATCHING windows reach the merge shuffle, sized by
    * contamination, never the corpus. */
  def contaminatedSpans(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchIdCol: String, benchTextCol: String,
      w: Int = 8): DataFrame = {
    val wins = Dedup.windowHashes(corpus, idCol, textCol, w)
    val benchWins = Dedup.windowHashes(benchmark, benchIdCol, benchTextCol, w)
      .select("winh").distinct()
    Dedup.mergeSpans(wins.join(broadcast(benchWins), "winh"))
  }

  /** The benchmark's distinct shingle hashes, MATERIALIZED (eager
    * checkpoint): three consumers follow — the sizing count, the Bloom
    * build, and the exact verify join — and each would otherwise re-run
    * the shingle+hash+distinct lineage. Small by definition (an eval
    * set), so the checkpoint is cheap. */
  private def benchShingleHashes(benchmark: DataFrame,
      benchTextCol: String, n: Int): DataFrame =
    Dedup.withShingles(benchmark, benchTextCol, n)
      .select(explode(transform(col("shingles"), s => graft.functions.F.mix64(s)))
        .as("sh64")).distinct().localCheckpoint()

  /** Serialized Bloom filter over a distinct shingle-hash frame — built
    * distributed (`stat.bloomFilter` aggregates per partition and
    * merges), sized from the observed distinct count. */
  private def bloomOf(hashes: DataFrame, fpp: Double): Array[Byte] = {
    val bloom = hashes.stat.bloomFilter("sh64", math.max(hashes.count(), 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** [[flag]] with a BLOOM prefilter — for when the benchmark outgrows
    * [[flag]]'s broadcast-the-exact-hash-set plan. The exact set costs
    * 64 bits per shingle; the Bloom costs ~10 bits at fpp=1% (~6×), so
    * the thing broadcast to every executor stays cheap while the probe
    * stays map-side and codegen'd ([[graft.functions.BloomMightContain]]).
    * Bloom hits — true contamination plus an fpp-sized false-positive
    * trickle — then verify against the benchmark shingles in an ordinary
    * EQUI-join (shuffle sized by contamination + fpp·corpus-shingles, and
    * Spark is free to pick broadcast when the benchmark is actually
    * small). No false negatives, so the verified result EQUALS [[flag]]
    * exactly — which is what lets `decon_bloom` carry an exact oracle. */
  def flagBloom(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val benchShingles = benchShingleHashes(benchmark, benchTextCol, n)
    val bloomBytes = bloomOf(benchShingles, fpp)
    val candidates = Dedup.withShingles(Par.spread(corpus), textCol, n)
      .select(col(idCol),
        explode(transform(col("shingles"), s => graft.functions.F.mix64(s))).as("sh64"))
      .where(graft.functions.F.bloomMightContain(lit(bloomBytes), col("sh64")))
    val overlaps = candidates.join(benchShingles, "sh64")
      .groupBy(idCol).agg(count(lit(1)).as("n_overlap"))
    corpus.join(overlaps, Seq(idCol), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** The corpus with Bloom-flagged-then-verified contaminated documents
    * removed — equals [[clean]] exactly (no false negatives; false
    * positives die in the verify join). */
  def cleanBloom(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int = 3,
      fpp: Double = 0.01): DataFrame = {
    val contaminatedIds = flagBloom(corpus, idCol, textCol, benchmark,
      benchTextCol, n, fpp)
      .where(col("contaminated")).select(idCol).distinct()
    corpus.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** SEMANTIC decontamination: corpus rows whose embedding is
    * near-duplicate (cosine ≥ `threshold`) of ANY benchmark embedding —
    * catches paraphrased/translated leakage that n-gram overlap ([[flag]])
    * misses. Returns one row per contaminated corpus id with `max_cos`
    * (closest benchmark similarity) and `n_bench` (distinct benchmark
    * rows matched). Rows sharing an id with a benchmark row are exempt
    * (that is the same document, not leakage).
    *
    * Scale shape mirrors [[Dedup.cosineNearDupPairsLsh]]: both sides get
    * `tables` SRP-LSH buckets from ONE projection each; the benchmark —
    * small by definition — is broadcast, so the corpus is probed MAP-SIDE
    * (no corpus shuffle on vectors); only verified (id, bid, cos) scalars
    * reach the two aggregation shuffles, which are sized by the
    * contamination, not the corpus. */
  def flagSemantic(corpus: DataFrame, idCol: String, vecCol: String,
      benchmark: DataFrame, benchIdCol: String, benchVecCol: String,
      threshold: Double, dim: Int, planes: Int = 4, tables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val corpusB = Dedup.withSrpBuckets(Par.spread(corpus), vecCol,
        planes, seed, dim, tables)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        posexplode(col("__buckets")).as(Seq("__table", "__bucket")))
    val benchB = Dedup.withSrpBuckets(benchmark, benchVecCol,
        planes, seed, dim, tables)
      .select(col(benchIdCol).as("__bid"), col(benchVecCol).as("__bv"),
        posexplode(col("__buckets")).as(Seq("__table", "__bucket")))
    corpusB.join(broadcast(benchB), Seq("__table", "__bucket"))
      .where(col("__id") =!= col("__bid"))
      .withColumn("cos", graft.functions.F.cosineSim(col("__v"), col("__bv")))
      .where(col("cos") >= threshold)
      // a pair found by several tables must count once
      .groupBy(col("__id"), col("__bid")).agg(max(col("cos")).as("cos"))
      .groupBy(col("__id").as(idCol))
      .agg(max(col("cos")).as("max_cos"), count(lit(1)).as("n_bench"))
  }

  /** The corpus with semantically contaminated rows removed — LEFT ANTI
    * against [[flagSemantic]]'s id set. */
  def cleanSemantic(corpus: DataFrame, idCol: String, vecCol: String,
      benchmark: DataFrame, benchIdCol: String, benchVecCol: String,
      threshold: Double, dim: Int, planes: Int = 4, tables: Int = 4,
      seed: Long = 42L): DataFrame =
    corpus.join(
      flagSemantic(corpus, idCol, vecCol, benchmark, benchIdCol, benchVecCol,
        threshold, dim, planes, tables, seed).select(idCol),
      Seq(idCol), "left_anti")
}
