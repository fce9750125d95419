package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.operators.{Anomaly, Correlate, CountMin, DailyCounts, Experiment, Hnsw, IndexStore, TextIndex, TimeSeries, Web, Bpe, Cardinality, Clustering, Cooccur, Decontaminate, Dedup, EditDistance, Embeddings, Extract, Frequencies, Funnel, Graph, Ivf, Joins, Multimodal, Pq, Quantiles, Sampling, Scd2, Sessionize, Similarity, Sketch, TextAnalysis, Upsert, Validate}
import graft.streaming.IncrementalStream
import graft.SparkEntry._

/** Text analysis: tokenizers, quality scoring, language id, lexical
  * statistics, BM25/TF-IDF retrieval.
  *
  * One registry tier of [[SparkEntry]]'s driver contract (split from the
  * single 7k-line object in round 14): `queries` and `oracles` compose into
  * [[SparkEntry.queries]] / [[SparkEntry.oracleSql]] unchanged — entry text
  * is byte-identical to the pre-split map literals. Shared helpers (ts6,
  * shared builds, oracle CTE builders) stay on [[SparkEntry]] and arrive via
  * the wildcard import. */
private[graft] object TierText extends Registry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Fixed-token sliding-window chunking with stride (the op that
    // produces the chunks an embeddings pipeline embeds); pure scan-stage.
    "chunk_documents" -> ((s, dir) =>
      TextAnalysis.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32, stride = 24)),

    // Sentence-boundary-aware RAG chunking: whole sentences pack
    // greedily into ~24-token chunks by starting offset — no sentence
    // ever splits mid-way; the synthetic enders give every doc a
    // multi-sentence page plus an ender-less trailing fragment.
    "sentence_chunks" -> ((s, dir) =>
      TextAnalysis.sentenceChunks(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(". End of doc "), col("doc_id"),
            lit("? Yes! trailing bit")).as("page")),
        "doc_id", "page", budgetTokens = 24)),

    // Mojibake repair (ftfy-lite): corrupt a unicode-bearing text into
    // its UTF-8-read-as-cp1252 artifacts, then repair through the
    // TextAnalysis.MojibakeTable replace chain — both directions mirrored
    // in the oracle, so the driver checks the full corrupt→repair
    // pipeline char-for-char. (The corpus itself is ASCII; the appended
    // suffix carries the unicode the table exists for. Roundtrip
    // inversion is asserted separately in TextAnalysisSpec.)
    "mojibake_fix" -> ((s, dir) => {
      val corrupted = TextAnalysis.corruptToMojibake(
        concat(col("text"), lit(MojibakeSuffix)))
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.fixMojibake(corrupted).as("repaired"),
        (length(corrupted) - length(TextAnalysis.fixMojibake(corrupted)))
          .cast("long").as("chars_recovered"))
    }),

    // Per-source vocabulary cardinality via Datasketches HLL — the
    // mergeable-sketch profile (Cardinality.update maintains it
    // incrementally through IndexStore; spec-tested). At this
    // cardinality (~31/source) the sketch is in its coupon regime —
    // exact up to coupon-hash collisions, deterministic on fixed data —
    // so the estimate carries a full count(DISTINCT) oracle.
    "vocab_cardinality" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      Cardinality.estimate(Cardinality.sketch(toks, "source", "tok"))
        .select(col("key").as("source"), col("estimate").cast("long").as("vocab"),
          col("n_rows").as("n_tokens"))
    }),

    // Count-Min point-frequency estimates over the corpus word table —
    // the bounded-memory frequency sketch next to HLL/KLL/Misra-Gries.
    // Buckets come from the portable mix64, so the oracle replays the
    // sketch exactly: the gate measures the estimate's error, never
    // assumes it. Output keeps exact vs estimate vs overestimate per
    // word (estimate >= exact always — spec-pinned with forced
    // collisions at width 4).
    "cm_estimate" -> ((s, dir) =>
      Sketch.countMinEstimates(
        Bpe.wordFrequencies(Tables.documents(s, dir), "text"),
        "w", "freq", depth = 4, width = 256)
        .select(col("item").as("w"), col("exact_cnt"),
          col("cm_estimate"), col("overestimate"))),

    // The PERSISTED-profile twin of cm_estimate (VERDICT r14 #6): per-
    // source Count-Min counter tables built as two doc-parity micro-
    // batches and folded through the mergeable CmUnionAgg — the profile
    // maintenance path — then probed for every distinct (source, word).
    // Counter addition is exact, so the merged profile equals the one-
    // shot sketch and the oracle replays the whole-corpus counters with
    // the same portable mix64 buckets; the measured overestimate is the
    // CM guarantee surfaced, never assumed.
    "cm_profile" -> ((s, dir) => {
      import graft.operators.Ckpt.PinOps
      val toks = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ")).as("item"))
        .where(col("item") =!= "")
        .pin() // feeds both batch sketches, the probe set, and the exact counts
      val prof = CountMin.merge(
        CountMin.sketch(toks.where(pmod(col("doc_id"), lit(2)) === 0),
            "source", "item")
          .unionByName(CountMin.sketch(
            toks.where(pmod(col("doc_id"), lit(2)) === 1), "source", "item")))
      val exact = toks.groupBy(col("source"), col("item"))
        .agg(count(lit(1)).as("n_exact"))
      exact
        .join(CountMin.estimates(prof,
            exact.select(col("source").as("key"), col("item")))
          .withColumnRenamed("key", "source"),
          Seq("source", "item"))
        .select(col("source"), col("item").as("w"), col("n_exact"),
          col("cm_estimate"),
          (col("cm_estimate") - col("n_exact")).as("overestimate"))
    }),

    // Classifier evaluation in-engine: confusion matrix of the lang-ID
    // heuristic against the table's labels (+ integer accuracy signal).
    "langid_confusion" -> ((s, dir) =>
      TextAnalysis.withLangId(Tables.documents(s, dir), "text")
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .withColumn("correct", col("lang") === col("lang_pred"))),

    // Calibration of the lang-ID classifier's stated confidence against
    // its actual accuracy: confidence = best marker score over total
    // marker mass (permille), binned reliability report + exact ECE —
    // the "are these scores probabilities or just rankings" gate before
    // anyone uses classifier scores as sampling weights.
    "langid_calibration" -> ((s, dir) => {
      val ws = split(col("text"), " ")
      val scores = TextAnalysis.LangMarkers.map { case (lang, ms) =>
        F.countInSet(ws, ms).as(s"s_$lang") }
      val withScores = TextAnalysis.withLangId(Tables.documents(s, dir), "text")
        .select(col("lang") +: col("lang_pred") +: scores: _*)
      val sCols = TextAnalysis.LangMarkers.map(m => s"s_${m._1}")
      val base = withScores
        .withColumn("__tot", sCols.map(col).reduce(_ + _))
        .withColumn("__best", greatest(sCols.map(col): _*))
        .withColumn("__conf", expr(
          "CASE WHEN __tot > 0 THEN CAST(__best AS BIGINT) * 1000 div __tot" +
            " ELSE 0 END"))
      Validate.calibrationReport(base, col("__conf"),
        col("lang_pred") === col("lang"), nBins = 10)
    }),

    // Chance-corrected agreement of the lang-ID heuristic vs labels:
    // kappa reads predict-the-majority as ~0 where raw accuracy looks
    // fine — the third leg of the classifier-eval tier next to the
    // confusion matrix and the calibration report.
    "langid_kappa" -> ((s, dir) =>
      Correlate.cohensKappa(
        TextAnalysis.withLangId(Tables.documents(s, dir), "text"),
        col("lang"), col("lang_pred"))),

    // Text quality stats (token counts, ratios) — integer-exact inputs.
    "token_stats" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.withQualityStats(docs, "text")
        .withColumn("n_subwords", TextAnalysis.subwordCount(col("text")))
        .select("doc_id", "n_tokens", "mean_token_len", "n_stopwords",
          "stopword_ratio", "n_punct", "punct_ratio", "n_subwords")
    }),

    // BPE tokenizer training: the corpus collapses to the distinct
    // (word, freq) table in ONE linear pass, then the merge loop runs on
    // that bounded table (driver-exact under the vocab threshold,
    // distributed pair-count rounds above — same adaptive split as
    // connected components). Oracle replays every round in SQL.
    "bpe_train" -> ((s, dir) =>
      Bpe.train(Tables.documents(s, dir), "text", numMerges = 10)),

    // Per-doc token stats under the trained tokenizer: encode is a
    // broadcast vocab join (the training artifact already holds every
    // in-corpus word's segmentation), never a per-doc merge replay.
    "bpe_encode" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Bpe.encodeViaVocab(docs, "doc_id", "text",
        Bpe.vocabulary(docs, "text", bpeMergesShared(s, dir)))
    }),

    // Unigram-LM (SentencePiece-style) tokenizer training — the second
    // widely-used subword family next to BPE (VERDICT r13 stretch).
    // Deterministic Viterbi-EM over the bounded distinct-(word, freq)
    // table with an exact integer Q10 log2, so the DuckDB oracle replays
    // seed, every EM round's DP + backtrack, and the chars-protected
    // final vocab bit for bit (no floats, no libm ln — the exact-TV
    // precedent).
    "unigram_train" -> ((s, dir) =>
      graft.operators.Unigram.train(Tables.documents(s, dir), "text",
        rounds = 2, seedSize = 200, vocabSize = 120)),

    // Per-doc unigram token stats under the shared trained vocab —
    // encode-only cost, the bpe_encode posture (the train bill lands in
    // unigram_train's own entry).
    "unigram_encode" -> ((s, dir) =>
      graft.operators.Unigram.encodeViaVocab(Tables.documents(s, dir),
        "doc_id", "text", unigramVocabShared(s, dir))),

    // Held-out unigram quality — the BPE fertility monitor's twin:
    // train on the even-doc half, score the odd half; words carrying a
    // char outside the trained vocab fall back to per-char tokens
    // deterministically (the coverage gate both sides apply).
    "unigram_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.where(col("doc_id") % 2 === 0)
      val test = docs.where(col("doc_id") % 2 === 1)
      graft.operators.Unigram.fertilityReport(test, "text", "source",
        Bpe.wordFrequencies(train, "text").select("w"),
        unigramFertilityTrain(s, dir))
    }),

    // Held-out tokenizer quality: train BPE on the even-doc half, score
    // the odd half — fertility (subword tokens per word, millitokens)
    // and word-level OOV rate per source, THE pair of metrics a
    // tokenizer-drift monitor watches. Unseen words segment through the
    // same codegen'd merge replay (Bpe.vocabulary re-segments whatever
    // words the scored half has); the oracle replays training on the
    // train half AND the greedy application on held-out words in SQL.
    "tokenizer_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.where(col("doc_id") % 2 === 0)
      val test = docs.where(col("doc_id") % 2 === 1)
      val merges = bpeFertilityTrain(s, dir)
      val segmented = Bpe.vocabulary(test, "text", merges)
      val trainWords = Bpe.wordFrequencies(train, "text").select(col("w"))
        .withColumn("__seen", lit(true))
      test.select(col("source"), explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
        .join(broadcast(segmented.select(col("w"), col("syms"))), "w")
        .join(broadcast(trainWords), Seq("w"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(size(col("syms"))).as("n_tokens"),
          expr("sum(size(syms)) * 1000 div count(1)").as("fertility_milli"),
          expr("sum(case when __seen is null then 1 else 0 end) * 1000 div count(1)")
            .as("oov_permille"))
    }),

    // Composed corpus-health gate: the operational read-path the profile
    // family exists to serve — ONE per-source report joining the three
    // mergeable profiles (HLL vocabulary, KLL length quantiles,
    // Misra-Gries top heavy hitter) with the TV length-drift monitor.
    // The drift slices alternate by WITHIN-SOURCE batch parity
    // ((doc_id div 20) % 2 — the table's source cycle length), because
    // plain doc_id parity is constant inside a source here and would
    // leave one slice empty for every key. Every
    // component runs in its sketch's exact regime at this sf, so the
    // oracle is a splice of the four components' exact mirrors. The joins
    // are |sources|-sized — the cost lives in the profile folds, each one
    // map-side-combined shuffle carrying sketch blobs or bin counts.
    "corpus_health" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("source"),
        explode(split(col("text"), " ")).as("tok"))
      val vocab = Cardinality.estimate(Cardinality.sketch(toks, "source", "tok"))
        .select(col("key").as("source"), col("estimate").cast("long").as("vocab"),
          col("n_rows").as("n_tokens"))
      val lens = docs.select(col("source"), col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("double").as("v"))
      val quant = Quantiles.quantiles(
          Quantiles.sketch(lens, "source", "v"), Seq(0.5, 0.99))
        .select(col("key").as("source"), col("q500").as("len_p50"),
          col("q990").as("len_p99"))
      val items = docs.select(col("source"),
          explode(split(col("text"), " ")).as("item"))
        .where(col("item") =!= "")
      val rankW = Window.partitionBy("key")
        .orderBy(col("estimate").desc, col("item"))
      val top1 = Frequencies.topItems(
          Frequencies.sketch(items, "source", "item", maxMapSize = 64),
          minCount = 1)
        .withColumn("__rn", row_number().over(rankW)).where(col("__rn") === 1)
        .select(col("key").as("source"), col("item").as("top_token"),
          col("estimate").as("top_n"))
      val drift = Validate.driftTv(
          lens.withColumn("cur", expr("(doc_id div 20) % 2 = 1")),
          "source", "v", col("cur"), lo = 0.0, hi = 200.0, nBins = 20)
        .select(col("key").as("source"), col("tv").as("len_drift_tv"))
      vocab.join(quant, "source").join(top1, "source").join(drift, "source")
        .select(col("source"), col("n_tokens"), col("vocab"),
          col("len_p50"), col("len_p99"), col("top_token"), col("top_n"),
          expr("top_n * 1000 div n_tokens").as("top_share_permille"),
          col("len_drift_tv"))
    }),

    // Composite quality bucketing, aggregated.
    "quality_bucket" -> ((s, dir) =>
      TextAnalysis.qualityBucket(Tables.documents(s, dir), "text")
        .groupBy("quality").agg(count(lit(1)).as("n"))),

    // PII redaction over text carrying synthetic emails/URLs (derived
    // deterministically from doc_id so the oracle can rebuild them).
    "redact_pii" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.redact(
            concat(col("text"), lit(" user"), col("doc_id"),
              lit("@example.com via http://site"), col("doc_id"),
              lit(".org/x call +1-555-"), (col("doc_id") + 1000000),
              lit(" from 10.0."), pmod(col("doc_id"), lit(256)),
              lit(".7 then done"))).as("clean"))),

    // Collocation mining (phrase discovery): adjacent pairs >= 5
    // occurrences scored by integer-exact LIFT (PMI without the
    // libm-dependent log) — pair + token counts, vocab-sized broadcast.
    "collocations" -> ((s, dir) =>
      TextAnalysis.collocations(Tables.documents(s, dir), "text", minCount = 5)),

    // Quantized unigram surprisal (CCNet-style LM-quality signal, exact
    // integer log2 — see TextAnalysis.surprisal).
    "surprisal_score" -> ((s, dir) =>
      TextAnalysis.surprisal(Tables.documents(s, dir), "doc_id", "text")),

    // Bigram conditional surprisal — rare CONTINUATIONS, not rare words:
    // the quantized -log2 P(b|a) mean that separates fluent-but-unusual
    // text from shuffled-word gibberish (see TextAnalysis.bigramSurprisal).
    "bigram_surprisal" -> ((s, dir) =>
      TextAnalysis.bigramSurprisal(Tables.documents(s, dir), "doc_id", "text")),

    // Held-out stupid-backoff LM score: train the bigram+unigram counts
    // on the even docs, score the odd half — unseen continuations back
    // off (2 bits + smoothed unigram), the web-scale LM-quality filter
    // with a REAL backoff path (self-scored corpora contain all their
    // own bigrams; held-out is what makes the else-branch live).
    "stupid_backoff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.stupidBackoff(docs.where(col("doc_id") % 2 === 1),
        docs.where(col("doc_id") % 2 === 0), "doc_id", "text")
    }),

    // Entity-resolution fuzzy join: edit-distance <= 2 pairs over the
    // distinct part names via FastSS deletion-neighborhood blocking +
    // exact Levenshtein verify — the record-linkage step of a metadata
    // dedup, as a blocked equi-join on 8-byte variant hashes, never
    // all-pairs (the oracle IS all-pairs: same semantics, naive shape).
    "editdist_pairs" -> ((s, dir) =>
      EditDistance.pairs(
        Tables.part(s, dir).select(col("p_name")).distinct()
          .withColumn("id", col("p_name")),
        "id", "p_name", maxDist = 2)
        .select(col("a_id").as("a_name"), col("b_id").as("b_name"),
          col("dist"))),

    // Composed entity resolution: fuzzy pairs -> connected components ->
    // canonical form (lexicographic component minimum) — the survivorship
    // step that turns pairwise typo matches into one canonical entity per
    // cluster (rides the string-keyed adaptive CC).
    "entity_canonical" -> ((s, dir) => {
      // same scoping filter as EditDistance.pairs' maxLen: out-of-scope
      // strings (null / >64 chars) are excluded from the OUTPUT too, so
      // the engine and the oracle agree on the row set, not just pairs
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
        .where(col("p_name").isNotNull && length(col("p_name")) <= 64)
        .withColumn("id", col("p_name"))
      val pairs = EditDistance.pairs(names, "id", "p_name", maxDist = 2)
      val comp = Graph.connectedComponents(pairs, "a_id", "b_id")
        .select(col("id").as("__cid"), col("label"))
      names.select("p_name").join(comp, names("p_name") === comp("__cid"), "left")
        .select(col("p_name").as("name"),
          coalesce(col("label"), col("p_name")).as("canonical"))
    }),

    // Corpus vocabulary stats: top 20 terms by document frequency
    // (stopword discovery / vocabulary pruning for tokenizer training).
    "top_terms" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(array_distinct(split(col("text"), " "))).as("term"))
        .where(col("term") =!= "")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term"))
        .limit(20)),

    // Language-ID heuristic (marker-word argmax, deterministic ties).
    "lang_id" -> ((s, dir) =>
      TextAnalysis.withLangId(Tables.documents(s, dir), "text")
        .select("doc_id", "lang_pred")),

    // Rolling-hash document fingerprint (pure integer arithmetic).
    "fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))),

    // Gopher-style intra-document repetition counters (native one-pass
    // expression, no shuffle) + integer-exact duplicate-word /
    // top-bigram-coverage ratios in permille.
    "repetition_stats" -> ((s, dir) =>
      TextAnalysis.withRepetitionStats(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          col("top_word_count"), col("n_bigrams"), col("n_distinct_bigrams"),
          col("top_bigram_count"),
          expr("(n_words - n_distinct_words) * 1000 div n_words")
            .as("dup_word_permille"),
          expr("CASE WHEN n_bigrams = 0 THEN 0 " +
            "ELSE top_bigram_count * 1000 div n_bigrams END")
            .as("top_bigram_permille"))),

    // Per-document distinctive terms: TF-IDF's ordering in pure integers
    // (tf DESC, df ASC) — vocabulary df table broadcast, one doc-keyed
    // shuffle shared by the tf agg and the top-k window.
    "tfidf_topk" -> ((s, dir) =>
      TextAnalysis.tfIdfTopK(Tables.documents(s, dir), "doc_id", "text", k = 3)),

    // Quantized BM25 ranked retrieval (RAG / hard-negative mining): exact
    // integer Robertson saturation (k1=6/5, b=3/4 as rationals over the
    // quantized avgdl) × int_log2 idf. Query 2 adds only common terms to
    // query 1 (they carry 0 idf bits and change nothing — the Lucene-clamp
    // semantics); query 3 is all-common and returns no rows.
    "bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        queries = Seq(
          1L -> Seq("dup", "merge", "scan"),
          2L -> Seq("dup", "spark"),
          3L -> Seq("window", "column")),
        k = 5)),

    // Hybrid retrieval: BM25 lexical top-20 and brute-cosine vector
    // top-20 over the same id space (doc i's embedding is vec i — the
    // two-index-one-corpus deployment), fused by integer reciprocal-rank
    // fusion (k=60). Query 3's term list is all-common (BM25 returns no
    // rows — Lucene-clamp semantics), so its fused list is vector-only:
    // the null-rank path is live in the registered query.
    "hybrid_rrf" -> ((s, dir) => {
      val text = TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
          queries = Seq(
            1L -> Seq("dup", "merge", "scan"),
            2L -> Seq("dup", "spark"),
            3L -> Seq("window", "column")),
          k = 20)
        .withColumn("rank", row_number().over(Window.partitionBy("query_id")
          .orderBy(col("score_milli").desc, col("doc_id"))))
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val vec = Similarity.bruteForceTopK(
          emb.where(col("vec_id").isin(1L, 2L, 3L)), emb, k = 20)
        .select(col("query_id"), col("neighbor_id").as("id"), col("rank"))
      Similarity.rrfFuse(Seq("bm25" -> text, "ann" -> vec), k = 10)
    }),

    // The SERVING face of BM25: same queries/arithmetic as bm25_topk but
    // answered from the persisted term-sharded inverted index (build
    // once per corpus fingerprint, probe forever; probes read only the
    // query terms' shards). Oracle identical to bm25_topk's — the gate
    // proves index-served scores equal scan-computed ones bit for bit.
    "bm25_indexed" -> ((s, dir) => {
      val src = new java.io.File(s"$dir/documents.parquet")
      val idx = Ivf.cachedIndexDir(src, root = "/tmp/graft-textidx",
        params = "nShards=16")
      if (!TextIndex.isComplete(s, idx)) {
        Ivf.gcSupersededIndexes(idx)
        TextIndex.buildIndex(s, idx, Tables.documents(s, dir), nShards = 16)
      }
      TextIndex.query(s, idx, queries = Seq(
          1L -> Seq("dup", "merge", "scan"),
          2L -> Seq("dup", "spark"),
          3L -> Seq("window", "column")),
        k = 5)
    }),

    // Corpus-adaptive fluency proxy: distinct-bigram overlap with the
    // corpus's own top-K bigram vocabulary (integer permille — no LM, no
    // float logprobs; broadcast vocab probe).
    "fluency_score" -> ((s, dir) =>
      TextAnalysis.bigramFamiliarity(Tables.documents(s, dir), "doc_id",
        "text", vocabK = 500)),

    // Zipf coverage curve: what permille of token occurrences do the
    // top-N words cover — the tokenizer-vocab budget planner. Bounded
    // TakeOrdered of max(N) rows, no vocab-wide window.
    "vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), "text")),

    // Luhn-validated payment-card redaction: of the two 16-digit
    // candidates planted per doc, the constant one always passes the
    // checksum and the id-varying one passes only when its tail makes
    // the mod-10 sum land — the oracle replays the SAME Luhn fold in
    // SQL, so validity decisions mirror bit for bit. A 12-digit run
    // stays (below the card length band).
    "card_redact" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextAnalysis.redactCards(concat(
          lit("order 41111111111111"),
          lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0"),
          lit(" paid 4242424242424242 ref 123456789012 "),
          col("text"))).as("text_red"))),

    // Flesch reading-ease in exact integer micro-units over a page with
    // synthetic sentence enders — the fluency-adjacent readability
    // filter (ordering is the signal; grade is calibration).
    "readability" -> ((s, dir) =>
      TextAnalysis.readability(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(". End of doc "), col("doc_id"),
            lit("? Yes!")).as("page")),
        "doc_id", "page")),

    // Weighted-keyword topic classification over the corpus vocabulary:
    // broadcast lexicon join → (doc, topic) sum → deterministic argmax;
    // docs with no lexicon hit tag "other".
    "topic_classify" -> ((s, dir) =>
      TextAnalysis.topicClassify(Tables.documents(s, dir), "doc_id", "text",
        GraftLexicon)),

    // Hapax-legomena profile per source: vocabulary size, single-
    // occurrence type count (Good–Turing n₁), and the hapax share —
    // the noisy-source / boilerplate-source gate next to vocab_coverage.
    "hapax_rate" -> ((s, dir) =>
      TextAnalysis.hapaxProfile(Tables.documents(s, dir), "source", "text")
        .withColumnRenamed("key", "source")),

    // Vocabulary-growth curve (empirical Heaps law): distinct types
    // born within the first N corpus token positions, positions from a
    // two-phase distributed prefix sum — no corpus-wide window.
    "vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir), "doc_id", "text")),

    // Yule's K lexical diversity per source (exact ×10⁴ integer units):
    // the length-invariant repetitiveness constant — high K = templated
    // or boilerplate vocabulary — next to hapax_rate's tail read-out.
    "yule_k" -> ((s, dir) =>
      TextAnalysis.yuleK(Tables.documents(s, dir), "source", "text")
        .withColumnRenamed("key", "source")),

    // Zipf rank-band profile of the corpus frequency spectrum: types and
    // token mass per ⌊log₂(rank)⌋ band from run-interval arithmetic —
    // the exact rank/frequency curve with no corpus-sized sort or
    // per-type rank materialization.
    "zipf_bands" -> ((s, dir) =>
      TextAnalysis.zipfBands(Tables.documents(s, dir), "text")),

    // Character-class composition per source (single-pass codegen'd
    // census): letters/digits/spaces/punct/other totals + letter share —
    // the "is this prose" encoding audit at scan cost.
    "char_class_census" -> ((s, dir) =>
      TextAnalysis.charClassProfile(Tables.documents(s, dir), "source", "text")
        .withColumnRenamed("key", "source"))
  )

  val oracles: Map[String, String] = Map(

    "chunk_documents" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws, unnest(range(0, len(ws), 24)) AS st FROM w)
        |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        |  CAST(least(len(ws) - st, 32) AS BIGINT) AS n_tokens,
        |  array_to_string(ws[st + 1 : st + 32], ' ') AS chunk_text
        |FROM c""".stripMargin,

    // Full mirror: same sentence regex, parallel-unnest positions, same
    // prefix-sum chunk assignment and ordered re-assembly.
    "sentence_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    text || '. End of doc ' || doc_id || '? Yes! trailing bit' AS page
        |  FROM documents),
        |w AS (SELECT doc_id,
        |    regexp_extract_all(page, '[^.!?]+[.!?]*') AS ss FROM t),
        |x AS (SELECT doc_id, unnest(range(0, len(ss))) AS sent_id,
        |        unnest(ss) AS s0 FROM w),
        |s AS (SELECT doc_id, CAST(sent_id AS BIGINT) AS sent_id,
        |        trim(s0) AS sentence,
        |        CAST(len([y for y in string_split(trim(s0), ' ') if y <> ''])
        |          AS BIGINT) AS n
        |      FROM x WHERE trim(s0) <> ''),
        |c AS (SELECT doc_id, sent_id, sentence, n,
        |        SUM(n) OVER (PARTITION BY doc_id ORDER BY sent_id) AS cum
        |      FROM s)
        |SELECT doc_id, CAST((cum - n) // 24 AS BIGINT) AS chunk_id,
        |  COUNT(*) AS n_sentences, CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  string_agg(sentence, ' ' ORDER BY sent_id) AS chunk_text
        |FROM c GROUP BY doc_id, (cum - n) // 24""".stripMargin,

    // Generated from the SAME MojibakeTable as the Spark chain: corrupt
    // the suffixed text, then repair; control chars ride through chr().
    "mojibake_fix" ->
      s"""WITH c AS (SELECT doc_id,
         |  ${mojibakeCorruptSql(s"(text || ${sqlStr(MojibakeSuffix)})")} AS ctext
         |  FROM documents)
         |SELECT doc_id, ${mojibakeFixSql("ctext")} AS repaired,
         |  CAST(length(ctext) - length(${mojibakeFixSql("ctext")}) AS BIGINT)
         |    AS chars_recovered
         |FROM c""".stripMargin,

    // Exact mirror: at ~31 distinct tokens/source the HLL sketch is in
    // its coupon regime (collision-free here, deterministically), so
    // count(DISTINCT) reproduces the estimate.
    "vocab_cardinality" ->
      """SELECT source, count(DISTINCT tok) AS vocab, count(*) AS n_tokens
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY source""".stripMargin,

    // The lang_id argmax mirror grouped against the labels.
    "langid_confusion" -> {
      val scores = TextAnalysis.LangMarkers
        .map { case (lang, ms) => s"${langScore(ms)} AS s_$lang" }.mkString(",\n    ")
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
         |s AS (SELECT doc_id, lang,
         |    $scores
         |  FROM w),
         |p AS (SELECT doc_id, lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM s)
         |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n,
         |  lang = lang_pred AS correct
         |FROM p GROUP BY lang, lang_pred""".stripMargin
    },

    // Kappa mirror: the argmax CTE, margin products in HUGEINT, and
    // DuckDB's floor `//` matching the engine's explicit BigInt floorDiv
    // (kappa can be negative; truncate-toward-zero would diverge).
    "langid_kappa" -> {
      val scores = TextAnalysis.LangMarkers
        .map { case (lang, ms) => s"${langScore(ms)} AS s_$lang" }.mkString(",\n    ")
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
         |s AS (SELECT doc_id, lang,
         |    $scores
         |  FROM w),
         |p AS (SELECT lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM s),
         |g AS (SELECT lang AS a, lang_pred AS b, COUNT(*) AS o FROM p GROUP BY 1, 2),
         |t AS (SELECT SUM(o) AS n, SUM(CASE WHEN a = b THEN o ELSE 0 END) AS agree FROM g),
         |rm AS (SELECT a AS k, SUM(o) AS r FROM g GROUP BY 1),
         |cm AS (SELECT b AS k, SUM(o) AS c FROM g GROUP BY 1),
         |sv AS (SELECT SUM(CAST(coalesce(r, 0) AS HUGEINT) * coalesce(c, 0)) AS sm
         |       FROM rm FULL OUTER JOIN cm USING (k)),
         |x AS (SELECT n, agree, sm,
         |    1000000 * (CAST(n AS HUGEINT) * agree - sm) AS ka,
         |    CAST(n AS HUGEINT) * n - sm AS kd
         |  FROM t, sv)
         |SELECT CAST(n AS BIGINT) AS n_rows, CAST(agree AS BIGINT) AS n_agree,
         |  CAST(1000000 * agree // n AS BIGINT) AS po_micro,
         |  CAST(1000000 * sm // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_micro,
         |  CASE WHEN kd <> 0 THEN
         |    CAST((ka - ((ka % kd + kd) % kd)) // kd AS BIGINT)
         |  END AS kappa_micro
         |FROM x""".stripMargin
    },

    // Calibration mirror: the same marker scores, argmax tie rule,
    // best/total confidence, bin clamp, and the one-division ECE.
    "langid_calibration" -> {
      val scores = TextAnalysis.LangMarkers
        .map { case (lang, ms) => s"${langScore(ms)} AS s_$lang" }.mkString(",\n    ")
      val sSum = TextAnalysis.LangMarkers.map(m => s"s_${m._1}").mkString(" + ")
      val sGreatest = TextAnalysis.LangMarkers.map(m => s"s_${m._1}").mkString("greatest(", ", ", ")")
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
         |s AS (SELECT doc_id, lang,
         |    $scores
         |  FROM w),
         |p AS (SELECT lang,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS lang_pred,
         |  CASE WHEN ($sSum) > 0
         |       THEN CAST($sGreatest AS BIGINT) * 1000 // ($sSum)
         |       ELSE 0 END AS conf
         |FROM s),
         |g AS (SELECT greatest(least(conf * 10 // 1000, 9), 0) AS bin,
         |    COUNT(*) AS n_rows,
         |    SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END) AS n_correct,
         |    SUM(conf) AS sconf
         |  FROM p GROUP BY 1),
         |e AS (SELECT CAST(SUM(ABS(CAST(n_correct AS HUGEINT) * 1000 - sconf))
         |    // SUM(n_rows) AS BIGINT) AS ece_milli FROM g)
         |SELECT CAST(bin AS BIGINT) AS bin, CAST(n_rows AS BIGINT) AS n_rows,
         |  CAST(n_correct AS BIGINT) AS n_correct,
         |  CAST(CAST(n_correct AS HUGEINT) * 1000 // n_rows AS BIGINT) AS acc_permille,
         |  CAST(sconf // n_rows AS BIGINT) AS conf_permille,
         |  (SELECT ece_milli FROM e) AS ece_milli
         |FROM g""".stripMargin
    },

    "token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE) /
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
         |  CAST(len(list_filter(string_split(text, ' '), w -> w IN $Stop)) AS BIGINT)
         |    AS n_stopwords,
         |  CAST(len(list_filter(string_split(text, ' '), w -> w IN $Stop)) AS DOUBLE) /
         |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]]', '', 'g')) AS BIGINT)
         |    AS n_punct,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]]', '', 'g')) AS DOUBLE) /
         |    CAST(length(text) AS DOUBLE) AS punct_ratio,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_subwords
         |FROM documents""".stripMargin,

    // Full BPE-training replay: ten merge rounds of pair census → argmax
    // → greedy application, generated CTE chain (see bpeTrainCtes).
    "bpe_train" ->
      s"""WITH ${bpeTrainCtes(10)}
         |SELECT * FROM (
         |${bpeMergesSelect(10)}
         |) ORDER BY rank""".stripMargin,

    // Encode = join against the round-10 segmentation of the vocabulary
    // (training already segmented every in-corpus word).
    "bpe_encode" ->
      s"""WITH ${bpeTrainCtes(10)}
         |SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(len(syms)) AS BIGINT) AS n_tokens,
         |  CAST(sum(len(w)) AS BIGINT) AS n_chars
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |JOIN r10 USING (w) WHERE w <> '' GROUP BY 1""".stripMargin,

    // Full Viterbi-EM replay: seed substrings, per-round integer-log
    // scores, the per-word DP as a list_reduce whose accumulator is the
    // growing best table, pointer-walk backtrack, usage fold, and the
    // chars-protected final ranking.
    "unigram_train" ->
      s"""WITH ${unigramTrainCtes(rounds = 2, seedSize = 200, vocabSize = 120)}
         |$uniFinalSelect""".stripMargin,

    // Train replay + final-vocab Viterbi over the distinct words + the
    // per-doc aggregate (the bpe_encode join posture).
    "unigram_encode" -> unigramEncodeSql(rounds = 2, seedSize = 200,
      vocabSize = 120),

    // Exact sketch replay: the same mix64 buckets (the portable-hash CTE
    // chain), the same depth x width counter sums, min over rows.
    "cm_estimate" ->
      s"""WITH wf AS (SELECT w, count(*) AS freq
         |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |       WHERE w <> '' GROUP BY w),
         |rr AS (SELECT w, freq, r, w || ':cm:' || CAST(r AS VARCHAR) AS s
         |       FROM wf, unnest(generate_series(0, 3)) t(r)),
         |${sqlMix64Ctes("cmh", "rr", "s", "w, freq, r")},
         |bk AS (SELECT w, freq, r, ((sh64 % 256) + 256) % 256 AS b FROM cmh),
         |ctr AS (SELECT r, b, CAST(SUM(freq) AS BIGINT) AS c FROM bk GROUP BY r, b)
         |SELECT w, CAST(freq AS BIGINT) AS exact_cnt,
         |  CAST(MIN(c) AS BIGINT) AS cm_estimate,
         |  CAST(MIN(c) - freq AS BIGINT) AS overestimate
         |FROM bk JOIN ctr USING (r, b) GROUP BY w, freq""".stripMargin,

    // The persisted-profile twin: per-SOURCE counters. Counter addition
    // is exact, so the Spark side's two-batch merge replays as one
    // whole-corpus counter sum — same mix64 bucket chain, counters keyed
    // (source, r, b), min over rows per (source, word).
    "cm_profile" ->
      s"""WITH tf AS (SELECT source, w, count(*) AS freq
         |       FROM (SELECT source, unnest(string_split(text, ' ')) AS w
         |             FROM documents)
         |       WHERE w <> '' GROUP BY source, w),
         |rr AS (SELECT source, w, freq, r,
         |         w || ':cm:' || CAST(r AS VARCHAR) AS s
         |       FROM tf, unnest(generate_series(0, 3)) t(r)),
         |${sqlMix64Ctes("cph", "rr", "s", "source, w, freq, r")},
         |bk AS (SELECT source, w, freq, r, ((sh64 % 256) + 256) % 256 AS b
         |       FROM cph),
         |ctr AS (SELECT source, r, b, CAST(SUM(freq) AS BIGINT) AS c
         |        FROM bk GROUP BY source, r, b)
         |SELECT source, w, CAST(freq AS BIGINT) AS n_exact,
         |  CAST(MIN(c) AS BIGINT) AS cm_estimate,
         |  CAST(MIN(c) - freq AS BIGINT) AS overestimate
         |FROM bk JOIN ctr USING (source, r, b)
         |GROUP BY source, w, freq""".stripMargin,

    // Even-half unigram train replay + coverage-gated held-out DP + the
    // per-source fertility/OOV aggregate.
    "unigram_fertility" -> unigramFertilitySql(rounds = 2, seedSize = 200,
      vocabSize = 120),

    // Train replay on the even half + greedy-application replay on the
    // odd half's distinct words (bpeApplyCtes), then the per-source
    // fertility/OOV aggregate; OOV = absence from the train word table.
    "tokenizer_fertility" ->
      s"""WITH ${bpeTrainCtes(10, "(SELECT * FROM documents WHERE doc_id % 2 = 0)")},
         |${bpeApplyCtes(10,
             """SELECT DISTINCT w FROM (
               |  SELECT unnest(string_split(text, ' ')) AS w
               |  FROM documents WHERE doc_id % 2 = 1) WHERE w <> ''""".stripMargin)},
         |tok AS (SELECT source, w FROM (
         |    SELECT source, unnest(string_split(text, ' ')) AS w
         |    FROM documents WHERE doc_id % 2 = 1) WHERE w <> '')
         |SELECT source, count(*) AS n_words,
         |  CAST(sum(len(tw.syms)) AS BIGINT) AS n_tokens,
         |  CAST((sum(len(tw.syms)) * 1000) // count(*) AS BIGINT) AS fertility_milli,
         |  CAST((count(*) FILTER (wf.w IS NULL) * 1000) // count(*) AS BIGINT)
         |    AS oov_permille
         |FROM tok JOIN tw10 tw USING (w) LEFT JOIN wf ON wf.w = tok.w
         |GROUP BY source""".stripMargin,

    // Splice of the four components' exact-regime mirrors: vocabulary =
    // vocab_cardinality's, quantiles = quantile_profile's ceil-rank order
    // statistic, top hitter = freq_profile's GROUP BY counts (top-1 by
    // count desc, item asc), drift = drift_tv's integer-exact TV over
    // 20 bins of width 10 on [0, 200).
    "corpus_health" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |vocab AS (SELECT source, count(DISTINCT tok) AS vocab,
        |    count(*) AS n_tokens FROM toks GROUP BY source),
        |lens AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS v FROM documents),
        |r AS (SELECT source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v) AS i,
        |    count(*) OVER (PARTITION BY source) AS n FROM lens),
        |quant AS (SELECT source,
        |    max(CASE WHEN i = greatest(1, CAST(ceil(0.50 * n) AS BIGINT)) THEN v END) AS len_p50,
        |    max(CASE WHEN i = greatest(1, CAST(ceil(0.99 * n) AS BIGINT)) THEN v END) AS len_p99
        |  FROM r GROUP BY source),
        |cnt AS (SELECT source, tok AS item, COUNT(*) AS n FROM toks
        |  WHERE tok <> '' GROUP BY 1, 2),
        |top1 AS (SELECT source, item AS top_token, n AS top_n FROM (
        |    SELECT source, item, n,
        |      row_number() OVER (PARTITION BY source ORDER BY n DESC, item) AS rn
        |    FROM cnt) WHERE rn = 1),
        |b AS (SELECT source,
        |    CAST(least(greatest(floor(v / 10.0), 0), 19) AS BIGINT) AS bin,
        |    ((doc_id // 20) % 2 = 1) AS cur FROM lens),
        |c AS (SELECT source, bin,
        |    SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS p,
        |    SUM(CASE WHEN NOT cur THEN 1 ELSE 0 END) AS q
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT source, p, q,
        |    SUM(p) OVER (PARTITION BY source) AS np,
        |    SUM(q) OVER (PARTITION BY source) AS nq FROM c),
        |drift AS (SELECT source,
        |    CASE WHEN np > 0 AND nq > 0 THEN
        |      CAST(SUM(abs(p * nq - q * np)) AS DOUBLE) / (2.0 * np * nq)
        |    END AS len_drift_tv
        |  FROM t GROUP BY source, np, nq)
        |SELECT v.source, CAST(v.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(v.vocab AS BIGINT) AS vocab,
        |  q2.len_p50, q2.len_p99, top1.top_token,
        |  CAST(top1.top_n AS BIGINT) AS top_n,
        |  CAST(top1.top_n * 1000 // v.n_tokens AS BIGINT) AS top_share_permille,
        |  drift.len_drift_tv
        |FROM vocab v JOIN quant q2 USING (source) JOIN top1 USING (source)
        |     JOIN drift USING (source)""".stripMargin,

    "quality_bucket" ->
      s"""WITH s AS (SELECT
         |    len(string_split(text, ' ')) AS n_tok,
         |    len(list_filter(string_split(text, ' '), w -> w IN $Stop)) AS n_stop
         |  FROM documents)
         |SELECT CASE WHEN n_tok < 5 THEN 'too_short'
         |            WHEN n_stop * 10 > n_tok * 8 THEN 'boilerplate'
         |            WHEN n_stop = 0 THEN 'no_stopwords'
         |            ELSE 'ok' END AS quality,
         |  COUNT(*) AS n
         |FROM s GROUP BY 1""".stripMargin,

    "redact_pii" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' user' || doc_id || '@example.com via http://site' || doc_id
        |               || '.org/x call +1-555-' || (doc_id + 1000000)
        |               || ' from 10.0.' || (doc_id % 256) || '.7 then done',
        |          'https?://[^ ]+', '<URL>', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+\d{1,3}-\d{3}-\d{3,10}', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
        |FROM documents""".stripMargin,

    // Same exact-integer lift: HUGEINT products mirror decimal(38,0),
    // floor integral division over non-negatives equals Spark's div.
    "collocations" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |tok AS (SELECT unnest(ws) AS tok FROM w),
        |uni AS (SELECT tok, COUNT(*) AS c FROM tok WHERE tok <> '' GROUP BY 1),
        |tots AS (SELECT SUM(c) AS n FROM uni),
        |big AS (SELECT unnest([struct_pack(a := ws[i], b := ws[i+1])
        |                      for i in range(1, len(ws))]) AS p FROM w),
        |bi AS (SELECT p.a AS a, p.b AS b, COUNT(*) AS c_ab FROM big
        |       WHERE p.a <> '' AND p.b <> '' GROUP BY 1, 2),
        |mt AS (SELECT SUM(c_ab) AS m FROM bi)
        |SELECT bi.a, bi.b, bi.c_ab,
        |  CAST((CAST(bi.c_ab AS HUGEINT) * tots.n * tots.n * 1000)
        |       // (CAST(mt.m AS HUGEINT) * ua.c * ub.c) AS BIGINT)
        |    AS lift_permille
        |FROM bi
        |JOIN uni ua ON ua.tok = bi.a
        |JOIN uni ub ON ub.tok = bi.b
        |CROSS JOIN tots CROSS JOIN mt
        |WHERE bi.c_ab >= 5""".stripMargin,

    // Mirrors TextAnalysis.surprisal exactly: per-token floor(log2(N // c))
    // = length(bin(N // c)) - 1 (pure integers — the quantization is what
    // makes the score engine-portable); per-doc mean in millibits/token.
    "surprisal_score" ->
      """WITH tok AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |vocab AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
        |tot AS (SELECT COUNT(*) AS n FROM tok)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST((SUM(length(bin(n // c)) - 1) * 1000) // COUNT(*) AS BIGINT)
        |    AS surprisal_milli
        |FROM tok JOIN vocab USING (t) CROSS JOIN tot
        |GROUP BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.bigramSurprisal: zipped adjacent-pair unnest,
    // bigram + left-context counts, bits = length(bin(c_a // c_ab)) - 1.
    "bigram_surprisal" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS a,
        |         unnest(ws[2:len(ws)]) AS b
        |       FROM w WHERE len(ws) >= 2),
        |b2 AS (SELECT doc_id, a, b FROM bg WHERE a <> '' AND b <> ''),
        |model AS (SELECT a, b, count(*) AS c_ab FROM b2 GROUP BY 1, 2),
        |lc AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_a FROM model GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST((sum(length(bin(c_a // c_ab)) - 1) * 1000) // count(*) AS BIGINT)
        |    AS surprisal2_milli
        |FROM b2 JOIN model USING (a, b) JOIN lc USING (a)
        |GROUP BY doc_id""".stripMargin,

    // Full stupid-backoff mirror: even-half models (parallel-unnest
    // zipped bigrams, filtered tokens), odd-half scoring with the
    // prepend-NULL trick giving each token its left context (NULL at doc
    // start -> no backoff penalty), bits via length(bin(..))-1. All
    // sums non-negative, so the one division carries no convention risk.
    "stupid_backoff" ->
      """WITH w AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |ttok AS (SELECT unnest(ws) AS t FROM w WHERE doc_id % 2 = 0),
        |uni AS (SELECT t, COUNT(*) AS c_w FROM ttok GROUP BY t),
        |nr AS (SELECT COUNT(*) AS n FROM ttok),
        |tbg AS (SELECT unnest(ws[1:len(ws)-1]) AS a, unnest(ws[2:len(ws)]) AS b
        |        FROM w WHERE doc_id % 2 = 0 AND len(ws) >= 2),
        |model AS (SELECT a, b, COUNT(*) AS c_ab FROM tbg GROUP BY 1, 2),
        |lc AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM model GROUP BY 1),
        |st AS (SELECT doc_id,
        |    unnest(list_prepend(CAST(NULL AS VARCHAR), ws[1:len(ws)-1])) AS a,
        |    unnest(ws) AS b
        |  FROM w WHERE doc_id % 2 = 1 AND len(ws) >= 1),
        |bits AS (SELECT doc_id,
        |    CASE WHEN m.c_ab IS NOT NULL
        |         THEN length(bin(lc.c_a // m.c_ab)) - 1
        |         ELSE (CASE WHEN st.a IS NULL THEN 0 ELSE 2 END)
        |              + length(bin((nr.n + 1) // (COALESCE(u.c_w, 0) + 1))) - 1
        |    END AS bits
        |  FROM st
        |  LEFT JOIN uni u ON st.b = u.t
        |  LEFT JOIN model m ON st.a = m.a AND st.b = m.b
        |  LEFT JOIN lc ON st.a = lc.a
        |  CROSS JOIN nr)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  CAST(SUM(bits) * 1000 // COUNT(*) AS BIGINT) AS backoff_milli
        |FROM bits GROUP BY doc_id""".stripMargin,

    // Semantics-only mirror (deliberately naive all-pairs — the blocked
    // FastSS candidate generation is what the Spark side adds; both must
    // produce the identical verified pair set). maxLen=64 filter mirrored.
    "editdist_pairs" ->
      """WITH d AS (SELECT DISTINCT p_name FROM part
        |           WHERE p_name IS NOT NULL AND length(p_name) <= 64)
        |SELECT a.p_name AS a_name, b.p_name AS b_name,
        |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,

    // Naive-pairs + recursive-CC mirror of the composed ER pipeline;
    // singleton names canonicalize to themselves via the left join.
    "entity_canonical" ->
      """WITH RECURSIVE d AS (SELECT DISTINCT p_name FROM part
        |  WHERE p_name IS NOT NULL AND length(p_name) <= 64),
        |p AS (SELECT a.p_name AS a, b.p_name AS b
        |      FROM d a JOIN d b ON a.p_name < b.p_name
        |      WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |reach(id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        |comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id)
        |SELECT d.p_name AS name, coalesce(c.component, d.p_name) AS canonical
        |FROM d LEFT JOIN comp c ON d.p_name = c.id""".stripMargin,

    "top_terms" ->
      """SELECT term, COUNT(*) AS df FROM (
        |  SELECT unnest(list_distinct(string_split(text, ' '))) AS term
        |  FROM documents)
        |WHERE term <> ''
        |GROUP BY term ORDER BY df DESC, term LIMIT 20""".stripMargin,

    // Full mirror of the native one-pass expression: word and adjacent-
    // bigram count maps as unnest+GROUP BY; ratios use // (floor div) to
    // match Spark's `div` on the same non-negative integers.
    "repetition_stats" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |wc AS (SELECT doc_id, word, COUNT(*) AS c
        |       FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY 1, 2),
        |wa AS (SELECT doc_id, COUNT(*) AS n_distinct_words,
        |              MAX(c) AS top_word_count FROM wc GROUP BY 1),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c
        |       FROM (SELECT doc_id,
        |               unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) AS b
        |             FROM w) GROUP BY 1, 2),
        |ba AS (SELECT doc_id, COUNT(*) AS n_distinct_bigrams,
        |              MAX(c) AS top_bigram_count FROM bc GROUP BY 1)
        |SELECT w.doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(wa.n_distinct_words AS BIGINT) AS n_distinct_words,
        |  CAST(wa.top_word_count AS BIGINT) AS top_word_count,
        |  CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(ba.n_distinct_bigrams, 0) AS BIGINT) AS n_distinct_bigrams,
        |  CAST(COALESCE(ba.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
        |  CAST((len(ws) - wa.n_distinct_words) * 1000 // len(ws) AS BIGINT)
        |    AS dup_word_permille,
        |  CAST(CASE WHEN len(ws) <= 1 THEN 0
        |            ELSE COALESCE(ba.top_bigram_count, 0) * 1000 // (len(ws) - 1)
        |       END AS BIGINT) AS top_bigram_permille
        |FROM w JOIN wa USING (doc_id) LEFT JOIN ba USING (doc_id)""".stripMargin,

    "bm25_topk" ->
      """WITH q(query_id, term) AS (VALUES
        |  (1, 'dup'), (1, 'merge'), (1, 'scan'),
        |  (2, 'dup'), (2, 'spark'),
        |  (3, 'window'), (3, 'column')),
        |tok AS (SELECT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |scal AS (SELECT COUNT(*) AS n, (1000 * SUM(dl)) // COUNT(*) AS a FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM tok JOIN (SELECT DISTINCT term FROM q) qt USING (term)
        |       GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT query_id, doc_id,
        |         (length(bin(n // df)) - 1) *
        |         ((1000 * 44 * tf * a) // (20 * tf * a + 6 * a + 18000 * dl)) AS s
        |       FROM q JOIN tf USING (term) JOIN dfq USING (term)
        |         JOIN dl USING (doc_id) CROSS JOIN scal),
        |agg AS (SELECT query_id, doc_id, SUM(s) AS score FROM sc
        |        GROUP BY 1, 2 HAVING SUM(s) > 0),
        |r AS (SELECT query_id, doc_id, score,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY score DESC, doc_id) AS rn
        |      FROM agg)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |  CAST(score AS BIGINT) AS score_milli
        |FROM r WHERE rn <= 5""".stripMargin,

    // Full mirror of both retrieval legs (bm25_topk's CTE chain at k=20,
    // cosine_topk's at k=20 over queries 1-3) + the integer RRF combine.
    "hybrid_rrf" ->
      """WITH q(query_id, term) AS (VALUES
        |  (1, 'dup'), (1, 'merge'), (1, 'scan'),
        |  (2, 'dup'), (2, 'spark'),
        |  (3, 'window'), (3, 'column')),
        |tok AS (SELECT doc_id, t AS term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> ''),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |scal AS (SELECT COUNT(*) AS n, (1000 * SUM(dl)) // COUNT(*) AS a FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf
        |       FROM tok JOIN (SELECT DISTINCT term FROM q) qt USING (term)
        |       GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT query_id, doc_id,
        |         (length(bin(n // df)) - 1) *
        |         ((1000 * 44 * tf * a) // (20 * tf * a + 6 * a + 18000 * dl)) AS s
        |       FROM q JOIN tf USING (term) JOIN dfq USING (term)
        |         JOIN dl USING (doc_id) CROSS JOIN scal),
        |agg AS (SELECT query_id, doc_id, SUM(s) AS score FROM sc
        |        GROUP BY 1, 2 HAVING SUM(s) > 0),
        |bm AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY score DESC, doc_id) AS rank_bm25
        |       FROM agg
        |       QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY score DESC, doc_id) <= 20),
        |qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings WHERE vec_id IN (1, 2, 3)),
        |cv AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
        |       FROM embeddings),
        |cs AS (SELECT query_id, neighbor_id,
        |         list_cosine_similarity(qv.v, cv.v) AS cos
        |       FROM qv, cv WHERE query_id <> neighbor_id),
        |an AS (SELECT query_id, neighbor_id AS doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY cos DESC, neighbor_id) AS rank_ann
        |       FROM cs
        |       QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY cos DESC, neighbor_id) <= 20),
        |f AS (SELECT COALESCE(bm.query_id, an.query_id) AS query_id,
        |        COALESCE(bm.doc_id, an.doc_id) AS doc_id,
        |        rank_bm25, rank_ann
        |      FROM bm FULL OUTER JOIN an
        |        ON bm.query_id = an.query_id AND bm.doc_id = an.doc_id),
        |r AS (SELECT query_id, doc_id, rank_bm25, rank_ann,
        |        COALESCE(1000000 // (60 + rank_bm25), 0) +
        |        COALESCE(1000000 // (60 + rank_ann), 0) AS rrf
        |      FROM f)
        |SELECT query_id, doc_id, CAST(rank_bm25 AS BIGINT) AS rank_bm25,
        |  CAST(rank_ann AS BIGINT) AS rank_ann, CAST(rrf AS BIGINT) AS rrf_micro
        |FROM r
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
        |  ORDER BY rrf DESC, doc_id) <= 10""".stripMargin,

    "tfidf_topk" ->
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  WHERE term <> '' GROUP BY 1, 2),
        |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |        ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf DESC, dfq.df ASC, tf.term ASC) AS rn
        |      FROM tf JOIN dfq USING (term))
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
        |FROM r WHERE rn <= 3""".stripMargin,

    "fluency_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (SELECT doc_id,
        |    unnest(list_distinct([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])) AS b
        |  FROM w),
        |vocab AS (SELECT b FROM (SELECT b, COUNT(*) AS df FROM bg GROUP BY 1)
        |          ORDER BY df DESC, b LIMIT 500),
        |fam AS (SELECT doc_id, COUNT(*) AS n_familiar
        |        FROM bg JOIN vocab USING (b) GROUP BY 1),
        |base AS (SELECT doc_id,
        |    len(list_distinct([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]))
        |      AS n_bigrams_distinct
        |  FROM w)
        |SELECT base.doc_id,
        |  CAST(n_bigrams_distinct AS BIGINT) AS n_bigrams_distinct,
        |  CAST(COALESCE(n_familiar, 0) AS BIGINT) AS n_familiar,
        |  CAST(CASE WHEN n_bigrams_distinct = 0 THEN 0
        |            ELSE COALESCE(n_familiar, 0) * 1000 // n_bigrams_distinct
        |       END AS BIGINT) AS familiar_permille
        |FROM base LEFT JOIN fam USING (doc_id)""".stripMargin,

    "lang_id" -> {
      val scores = TextAnalysis.LangMarkers
        .map { case (lang, ms) => s"${langScore(ms)} AS s_$lang" }.mkString(",\n    ")
      // First language (list order de,en,es,fr,zh) >= all later ones ==
      // the running strict-max argmax the Spark reduce computes.
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |s AS (SELECT doc_id,
         |    $scores
         |  FROM w)
         |SELECT doc_id,
         |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |       WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |       WHEN s_fr >= s_zh THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM s""".stripMargin
    },

    "fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_transform(string_split(text, ' '),
         |      w -> list_reduce([CAST(ascii(w[i:i]) AS BIGINT) for i in range(1, len(w) + 1)],
         |                       (acc, c) -> (acc * 31 + c) % ${TextAnalysis.FingerprintMod})),
         |    (acc, wv) -> (acc * 131 + wv) % ${TextAnalysis.FingerprintMod}) AS fingerprint
         |FROM documents""".stripMargin,

    // Full mirror: same candidate regex, the SAME Luhn fold as a SQL
    // list comprehension, sorted-distinct replace order.
    "card_redact" ->
      """WITH t AS (SELECT doc_id,
        |    'order 41111111111111' ||
        |      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
        |      ' paid 4242424242424242 ref 123456789012 ' || text AS txt
        |  FROM documents),
        |c AS (SELECT doc_id, txt,
        |    regexp_extract_all(txt, '\b\d{13,19}\b') AS cands FROM t),
        |x AS (SELECT doc_id, unnest(cands) AS cand FROM c),
        |lv AS (SELECT doc_id, cand FROM x WHERE
        |  list_sum([CASE WHEN i % 2 = 0 THEN
        |      CASE WHEN 2 * CAST(reverse(cand)[i:i] AS BIGINT) > 9
        |           THEN 2 * CAST(reverse(cand)[i:i] AS BIGINT) - 9
        |           ELSE 2 * CAST(reverse(cand)[i:i] AS BIGINT) END
        |      ELSE CAST(reverse(cand)[i:i] AS BIGINT) END
        |    for i in range(1, len(cand) + 1)]) % 10 = 0),
        |a AS (SELECT doc_id, list(DISTINCT cand ORDER BY cand) AS vc
        |      FROM lv GROUP BY doc_id)
        |SELECT t.doc_id, CASE WHEN a.vc IS NULL THEN t.txt
        |  ELSE list_reduce(list_prepend(t.txt, a.vc),
        |         (acc, x) -> replace(acc, x, '<CARD>')) END AS text_red
        |FROM t LEFT JOIN a USING (doc_id)""".stripMargin,

    // Full mirror: same tokenization, sentence-ender and vowel-group
    // regexes, same integer truncation points.
    "readability" ->
      """WITH t AS (SELECT doc_id,
        |    text || '. End of doc ' || CAST(doc_id AS VARCHAR) || '? Yes!'
        |      AS page
        |  FROM documents),
        |w AS (SELECT doc_id, page,
        |    [x for x in string_split(page, ' ') if x <> ''] AS ws FROM t),
        |m AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(greatest(1, len(regexp_extract_all(page, '[.!?]+'))) AS BIGINT)
        |      AS n_sentences,
        |    CAST(coalesce(list_sum([greatest(1,
        |        len(regexp_extract_all(lower(x), '[aeiouy]+'))) for x in ws]), 0)
        |      AS BIGINT) AS n_syllables
        |  FROM w)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(CASE WHEN n_words > 0 THEN 206835000
        |      - (1015000 * n_words) // n_sentences
        |      - (84600000 * n_syllables) // n_words END AS BIGINT)
        |    AS flesch_micro
        |FROM m""".stripMargin,

    // Full mirror from the SAME lexicon definition (generated VALUES
    // clause): unnest-join-sum, row_number argmax with the engine's
    // exact (score DESC, topic ASC) tie-break, "other"/0 via left join.
    "topic_classify" -> {
      val vals = GraftLexicon
        .map { case (t, p, w) => s"('$t', '$p', $w)" }.mkString(", ")
      s"""WITH lex(term, topic, w) AS (VALUES $vals),
         |t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
         |      FROM documents),
         |sc AS (SELECT doc_id, topic, SUM(w) AS score
         |       FROM t JOIN lex USING (term) WHERE term <> '' GROUP BY 1, 2),
         |b AS (SELECT doc_id, topic, score, row_number() OVER (
         |        PARTITION BY doc_id ORDER BY score DESC, topic) AS rn
         |      FROM sc)
         |SELECT d.doc_id, coalesce(b.topic, 'other') AS topic,
         |  CAST(coalesce(b.score, 0) AS BIGINT) AS score_micro
         |FROM documents d
         |LEFT JOIN (SELECT * FROM b WHERE rn = 1) b USING (doc_id)""".stripMargin
    },

    "hapax_rate" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |c AS (SELECT source, w, count(*) AS c FROM t WHERE w <> ''
        |      GROUP BY 1, 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000 // count(*)
        |    AS BIGINT) AS hapax_permille
        |FROM c GROUP BY 1""".stripMargin,

    // Parallel-unnest positions (the bpeTrainCtes alignment idiom) over
    // the same whitespace split; birth position = MIN global position.
    "vocab_growth" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |o AS (SELECT doc_id, ws,
        |        SUM(len(ws)) OVER (ORDER BY doc_id) - len(ws) AS off FROM w),
        |ex AS (SELECT off, unnest(ws) AS tok,
        |         unnest(range(1, len(ws) + 1)) AS i FROM o),
        |f AS (SELECT tok, MIN(off + i) AS fp FROM ex WHERE tok <> '' GROUP BY 1)
        |SELECT c.cut AS first_n_tokens,
        |  CAST(SUM(CASE WHEN f.fp <= c.cut THEN 1 ELSE 0 END) AS BIGINT)
        |    AS vocab_size
        |FROM (VALUES (CAST(1000 AS BIGINT)), (5000), (20000), (100000))
        |  c(cut) CROSS JOIN f
        |GROUP BY 1""".stripMargin,

    // The same frequency spectrum; HUGEINT keeps Σc² and the ×10⁴
    // product exact, `//` on non-negatives matches the engine's
    // decimal floor-div.
    "yule_k" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |c AS (SELECT source, w, count(*) AS c FROM t WHERE w <> ''
        |      GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS sum_c2,
        |  CAST((SUM(CAST(c AS HUGEINT) * c) - SUM(c)) * 10000
        |    // (SUM(CAST(c AS HUGEINT)) * SUM(c)) AS BIGINT) AS yule_k_x10k
        |FROM c GROUP BY 1""".stripMargin,

    // Count runs → rank intervals → band overlap (the trimmed_stats
    // histogram-band idiom); floor(log₂) via bin-string length, bands
    // per run via range() exactly like the engine's intLog2 sequence.
    "zipf_bands" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS c FROM t WHERE w <> '' GROUP BY 1),
        |runs AS (SELECT c, count(*) AS v FROM c GROUP BY 1),
        |s AS (SELECT c, v, SUM(v) OVER (ORDER BY c DESC) - v AS strt FROM runs),
        |b AS (SELECT c, v, strt,
        |        unnest(range(length(bin(strt + 1)) - 1,
        |                     length(bin(strt + v)))) AS band FROM s),
        |k AS (SELECT band, c,
        |        LEAST(strt + v, (CAST(1 AS BIGINT) << (band + 1)) - 1)
        |        - GREATEST(strt + 1, CAST(1 AS BIGINT) << band) + 1 AS kept
        |      FROM b)
        |SELECT CAST(band AS BIGINT) AS band,
        |  CAST(CAST(1 AS BIGINT) << band AS BIGINT) AS rank_lo,
        |  CAST(SUM(kept) AS BIGINT) AS n_types,
        |  CAST(SUM(CAST(kept AS HUGEINT) * c) AS BIGINT) AS token_mass,
        |  CAST(MAX(c) AS BIGINT) AS max_freq,
        |  CAST(MIN(c) AS BIGINT) AS min_freq
        |FROM k GROUP BY band""".stripMargin,

    // Four regex class counts + subtraction for punct mirror the
    // expression's fixed ASCII-anchored classes; length() counts
    // codepoints on both engines.
    "char_class_census" ->
      """WITH c AS (SELECT source, length(text) AS t,
        |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS l,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS d,
        |    length(regexp_replace(text, '[^ \t\n\r]', '', 'g')) AS s,
        |    length(regexp_replace(text, '[\t\n\r -~]', '', 'g')) AS o
        |  FROM documents)
        |SELECT source, CAST(SUM(t) AS BIGINT) AS n_chars,
        |  CAST(SUM(l) AS BIGINT) AS n_letters,
        |  CAST(SUM(d) AS BIGINT) AS n_digits,
        |  CAST(SUM(s) AS BIGINT) AS n_spaces,
        |  CAST(SUM(t - l - d - s - o) AS BIGINT) AS n_punct,
        |  CAST(SUM(o) AS BIGINT) AS n_other,
        |  CASE WHEN SUM(t) = 0 THEN NULL ELSE
        |    CAST(SUM(CAST(l AS HUGEINT)) * 1000 // SUM(t) AS BIGINT)
        |  END AS letter_permille
        |FROM c GROUP BY 1""".stripMargin,

    // Rank words by (count desc, word asc), sum the top-N mass per cut.
    "vocab_coverage" ->
      """WITH t AS (SELECT w, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |r AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w ASC) AS rn FROM t),
        |tot AS (SELECT SUM(n) AS total FROM t),
        |cuts(top_n) AS (VALUES (10), (100), (1000), (10000))
        |SELECT CAST(top_n AS BIGINT) AS top_n,
        |  CAST(SUM(CASE WHEN rn <= top_n THEN n ELSE 0 END) AS BIGINT) AS covered,
        |  CAST(total AS BIGINT) AS total,
        |  CAST((1000 * SUM(CASE WHEN rn <= top_n THEN n ELSE 0 END)) // total
        |    AS BIGINT) AS coverage_permille
        |FROM cuts CROSS JOIN r CROSS JOIN tot
        |GROUP BY top_n, total""".stripMargin
  )
}
