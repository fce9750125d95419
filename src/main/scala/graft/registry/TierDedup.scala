package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.operators.{Anomaly, Correlate, DailyCounts, Experiment, Hnsw, IndexStore, TextIndex, TimeSeries, Web, Bpe, Cardinality, Clustering, Cooccur, Decontaminate, Dedup, EditDistance, Embeddings, Extract, Frequencies, Funnel, Graph, Ivf, Joins, Multimodal, Pq, Quantiles, Sampling, Scd2, Sessionize, Similarity, Sketch, TextAnalysis, Upsert, Validate}
import graft.streaming.IncrementalStream
import graft.operators.Ckpt.PinOps
import graft.SparkEntry._

/** Exact + near deduplication, decontamination and the pair->component
  * closure family.
  *
  * One registry tier of [[SparkEntry]]'s driver contract (split from the
  * single 7k-line object in round 14): `queries` and `oracles` compose into
  * [[SparkEntry.queries]] / [[SparkEntry.oracleSql]] unchanged — entry text
  * is byte-identical to the pre-split map literals. Shared helpers (ts6,
  * shared builds, oracle CTE builders) stay on [[SparkEntry]] and arrive via
  * the wildcard import. */
private[graft] object TierDedup extends Registry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Near-dup pairs → duplicate groups: weakly-connected components by
    // min-label propagation over a deterministic edge set.
    // Edge shape mirrors real near-dup output: small dense clusters
    // (5-blocks chained to their block leader) — min-label converges in
    // ~2 rounds. Long-chain graphs are the documented large-star/small-star
    // upgrade path, not the dedup regime.
    "connected_components" -> ((s, dir) => {
      val edges = Tables.documents(s, dir)
        .select(col("doc_id").as("a"),
          (col("doc_id") - pmod(col("doc_id"), lit(5))).as("b"))
        .where(col("a") =!= col("b"))
      Graph.connectedComponents(edges, "a", "b")
        .select(col("id"), col("label").as("component"))
    }),

    // Persisted INCREMENTAL components: the same edge family folded in
    // TWO batches (even ids, then odd — whose edges land on even heads,
    // forcing cross-batch merges and relabels) through the IndexStore-
    // committed mapping. The final mapping must equal one-shot CC over
    // the full edge stream plus self-labeled singletons — per-batch cost
    // is O(ids + batch pairs), never O(history pairs).
    "cc_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id")
      val root = java.nio.file.Files
        .createTempDirectory("graft-ccinc").toString + "/cc"
      Seq(0, 1).foreach { par =>
        val batch = docs.where(pmod(col("doc_id"), lit(2)) === par)
        val edges = batch
          .select(col("doc_id").as("a"),
            (col("doc_id") - pmod(col("doc_id"), lit(5))).as("b"))
          .where(col("a") =!= col("b"))
        Graph.updateComponents(s, root, batch, "doc_id", edges, "a", "b")
      }
      // eager checkpoint, then drop the per-invocation store — repeated
      // bench/verify runs must not accumulate temp snapshots
      val out = Graph.readComponents(s, root)
        .select(col("id").as("doc_id"), col("component")).localCheckpoint()
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(root).getParentFile)
      out
    }),

    // C4-style cross-document boilerplate-line removal. The synthetic
    // corpus is single-line, so the query builds a 3-line page per doc
    // (header/text/footer) whose header+footer lines repeat across docs —
    // real cross-doc removal, exactly mirrored by the oracle.
    "boilerplate_lines" -> ((s, dir) => {
      val pages = Tables.documents(s, dir).select(col("doc_id"),
        concat_ws("\n", concat(lit("src: "), col("source")), col("text"),
          concat(lit("lang: "), col("lang"))).as("page"))
      TextAnalysis.removeBoilerplateLines(pages, "doc_id", "page", minDocs = 3)
    }),

    // Exact dedup with deterministic tie-break.
    "exact_dedup" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), Seq("source", "lang"), col("doc_id"))
        .select("doc_id", "source", "lang", "n_chars")),

    // n-gram Jaccard near-dup pairs (integer-exact threshold), blocked by source.
    "ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "source", n = 3, thresholdNum = 1, thresholdDen = 10)),

    // Prefix-filtered Jaccard (PPJoin-style) at a high threshold — same
    // exact semantics as the exhaustive join, ~25x fewer candidates.
    "ngram_jaccard_prefix" -> ((s, dir) =>
      Dedup.ngramJaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "source", n = 3, thresholdNum = 4, thresholdDen = 5)),

    // Exact repeated-span stats (aggregate-form exact-substring dedup):
    // per doc, distinct 3-token spans and how many appear in other docs.
    "repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpanStats(Tables.documents(s, dir), "doc_id", "text", k = 3)),

    // Asymmetric containment pairs: |A∩B| / min(|A|,|B|) ≥ 0.8 — the
    // quote/subset near-dup Jaccard structurally misses (a fragment
    // contained in a long doc has low union overlap but containment ~1).
    "containment_pairs" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 3, thresholdNum = 4, thresholdDen = 5)),

    // Exact duplicated-PASSAGE spans (Lee et al. suffix-window form of
    // exact-substring dedup): merged character ranges covered by 8-token
    // windows occurring ≥2× corpus-wide — the locate/merge transform the
    // aggregate-only repeated_spans can't do.
    "dup_passages" -> ((s, dir) => passageSpansShared(s, dir)),

    // End-to-end passage REMOVAL: splice the merged spans out with the
    // codegen'd aggregate-HOF (Dedup.removeSpans). The oracle derives the
    // cleaned length INDEPENDENTLY (original length − Σ span widths), so
    // the driver cross-checks the splice against arithmetic it never ran.
    "dup_passage_clean" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val spans = passageSpansShared(s, dir)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
            .as("spans"),
          count(lit(1)).as("n_spans"))
      docs.join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          length(Dedup.removeSpans(col("text"), col("spans")))
            .cast("long").as("clean_len"))
    }),

    // End-to-end dedup: Jaccard pairs -> connected components -> keep the
    // minimum id per duplicate cluster; unpaired docs pass through. The
    // component table is SHARED with dedup_survivors_best (the pair stage
    // and CC are identical — only the survivor rank differs), so the
    // family pays the iterative CC driver loop once, not per policy.
    "dedup_survivors" -> ((s, dir) =>
      Dedup.survivorsFromComponents(Tables.documents(s, dir), "doc_id",
          ccSharedBuild(s, dir))
        .select("doc_id", "source", "lang", "n_chars")),

    // Quality-policy dedup: same clusters as dedup_survivors, but the
    // LONGEST member (n_chars, tie: min id) survives each cluster.
    "dedup_survivors_best" -> ((s, dir) =>
      Dedup.survivorsFromComponentsBest(Tables.documents(s, dir), "doc_id",
          "n_chars", ccSharedBuild(s, dir))
        .select("doc_id", "source", "lang", "n_chars")),

    // Crawl-refresh census: per source, how many of the "new" (odd-id)
    // docs near-duplicate some "old" (even-id) doc at the survivors
    // family's Jaccard threshold — the snapshot-overlap number a crawl
    // pipeline reads first. New-vs-new dups don't count.
    "cross_dup_rate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.crossDupRate(docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
        blockCol = "source", rateKeyCol = "source",
        n = 3, thresholdNum = 1, thresholdDen = 50)
    }),

    // Duplicate-cluster census over the REAL near-dup clusters (rides
    // the family's one shared CC materialization): how many clusters of
    // each size, singletons included — the dedup-rate dashboard number
    // that tells a curation team whether duplication mass sits in a few
    // mega-clusters or a long tail. Two component-keyed aggregations
    // over the |docs|-sized label table; the corpus is never rescanned.
    "dup_cluster_sizes" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val cc = ccSharedBuild(s, dir)
      docs.join(cc, col("doc_id") === col("id"), "left")
        .select(coalesce(col("label"), col("doc_id")).as("component"))
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    }),

    // Benchmark decontamination: per-doc count of n-grams shared with a
    // held-out eval set (docs where doc_id % 50 == 0 stand in for the
    // benchmark). The eval shingle set is broadcast — the corpus is never
    // shuffled on text.
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 0)
      Decontaminate.flag(corpus, "doc_id", "text", bench, "text", n = 3)
        .select("doc_id", "source", "n_overlap", "contaminated")
    }),

    // Span-level exact-substring decontamination: verbatim benchmark
    // overlaps located as merged char spans (Lee-style windows pointed
    // across sets) so the leaked passage can be cut and the rest of the
    // doc kept. w=4 because the synthetic corpus's verbatim overlaps are
    // short; production uses w~8-13 (the operator is w-agnostic, and the
    // sub-w tail stays `decontaminate`'s n-gram job).
    // r18: the span table is computed once and shared with
    // decon_span_clean (the dup_passages family pattern); Bench bills
    // the build as the labeled `decon_spans_shared` entry.
    "decon_spans" -> ((s, dir) => deconSpansShared(s, dir)),

    // End-to-end span REMOVAL for the contaminated passages: splice the
    // located spans out with the codegen'd aggregate-HOF (removeSpans).
    // The oracle derives the cleaned length INDEPENDENTLY (original
    // length - sum of span widths), cross-checking the splice against
    // arithmetic it never ran — the dup_passage_clean pattern.
    "decon_span_clean" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 0)
      val spans = deconSpansShared(s, dir)
        .groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
            .as("spans"),
          count(lit(1)).as("n_spans"))
      corpus.join(spans, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          length(when(col("spans").isNotNull,
              Dedup.removeSpans(col("text"), col("spans")))
            .otherwise(col("text"))).cast("long").as("clean_len"))
    }),

    // Bloom-prefiltered decontamination (the scale path for a benchmark
    // too big to broadcast as an exact hash set): ~10-bit/shingle Bloom
    // broadcast + codegen'd map-side probe, then an exact verify join —
    // no false negatives, so the CLEANED corpus equals the exact plan's
    // and the oracle needs no Bloom replay.
    "decon_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bench = docs.where(pmod(col("doc_id"), lit(50)) === 0)
      val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 0)
      Decontaminate.cleanBloom(corpus, "doc_id", "text", bench, "text",
          n = 3, fpp = 0.01)
        .select("doc_id", "source", "n_chars")
    }),

    // MinHash-LSH near-dup pairs. The portable shingle hash + seed-derived
    // permutation coefficients make the signature (and so the band
    // collisions) exactly recomputable in SQL — the oracle mirrors the
    // whole LSH algorithm, candidates and all, so the match is exact
    // regardless of recall.
    "minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 128, bands = 32, threshold = 0.1)),

    // Index-verified MinHash pairs: the same LSH candidate machinery, but
    // verification is the ESTIMATED Jaccard (fraction of agreeing
    // signature components) — the math the streaming near-dup index uses
    // (Dedup.minHashPairsAgainstIndex) so the corpus text is read once to
    // build the index and never again. Self-indexed here, ordered a < b.
    // agreement/128 is a dyadic rational, so the double compares exactly
    // against the SQL mirror.
    "minhash_lsh_est" -> ((s, dir) => {
      val (sigs, bandRows) = Dedup.minHashIndex(Tables.documents(s, dir),
        "doc_id", "text", n = 3, numHashes = 128, bands = 32)
      Dedup.minHashPairsAgainstIndex(sigs, bandRows, sigs, bandRows,
          numHashes = 128, threshold = 0.1)
        .where(col("batch_id") < col("index_id"))
        .select(col("batch_id").as("a_id"), col("index_id").as("b_id"),
          col("est_jaccard"))
    }),

    // SimHash near-dup pairs. Banding has GUARANTEED recall at Hamming<=3
    // (pigeonhole), so with the portable word hash the oracle is simply
    // the exact all-pairs Hamming join over mirrored signatures.
    "simhash_pairs" -> ((s, dir) =>
      Dedup.simHashPairs(Tables.documents(s, dir), "doc_id", "text", maxHamming = 3)),

    // Exact cosine near-duplicate pairs — crossJoin, quadratic BY DESIGN:
    // the verification-scale ground truth. The registered scale path is
    // cosine_neardup_lsh below.
    "cosine_neardup_exact" -> ((s, dir) =>
      Dedup.cosineNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding", 0.4)),

    // SRP-LSH cosine near-dup — the 100 TB path: bucketed candidates, no
    // cartesian product anywhere in the plan. The hyperplanes are a pure
    // function of the seed, so the oracle interpolates them as literals
    // and mirrors bucketing + verification exactly (recall does not need
    // to be 1 for the oracle to match — it recomputes the same buckets).
    // planes/tables are sized for the sf corpus (wider corpora take more
    // planes: bucket occupancy ~ n / 2^planes per table).
    "cosine_neardup_lsh" -> ((s, dir) =>
      Dedup.cosineNearDupPairsLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.4, dim = 64, planes = 4, tables = 4)),

    // The PRODUCTION shape of the query above: planes = AutoPlanes sizes
    // the bucket granularity from plan statistics (zero jobs at
    // construction, PlanSpec-asserted), so doubling the corpus adds one
    // plane and per-bucket candidate volume stays flat — the 10×-exponent-
    // 0.23 plan from SURVEY §6.-2n, now correctness-gated: the oracle's
    // hyperplane literals are generated at Verify-dump time from the SAME
    // deterministic stats-derived count (SparkEntry.dataDependentOracles).
    "cosine_neardup_auto" -> ((s, dir) =>
      Dedup.cosineNearDupPairsLsh(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.4, dim = 64, planes = Dedup.AutoPlanes, tables = 4)),

    // Empirical SRP-LSH calibration: bucket occupancy + candidate
    // volume per plane count on the ACTUAL corpus geometry — the
    // measured "what does doubling planes buy" table next to the
    // recall harnesses; one scan emits all three configs.
    "lsh_calibration" -> ((s, dir) =>
      Dedup.lshCalibration(Tables.embeddings(s, dir), "embedding",
        planesOptions = Seq(4, 8, 12))),

    // In-engine recall evaluation of the LSH near-dup path against the
    // exact ground truth — the tuning harness for planes/tables (run at
    // sample scale: the exact side is the labeled quadratic operator).
    "lsh_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // single-pass recall: ONE shared recallVsExact helper (r19, the
      // ADVICE dedup) — one full-outer join + one aggregate, each pair
      // set (the quadratic exact pass, the LSH bucket join) evaluated
      // exactly once; both sides are distinct-by-construction (the
      // helper's uniqueness precondition).
      recallVsExact(
        Dedup.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4),
        Dedup.cosineNearDupPairsLsh(emb, "vec_id", "embedding",
          threshold = 0.4, dim = 64, planes = 4, tables = 4),
        keys = Seq("a_id", "b_id"), approxCountName = "n_lsh")
    }),

    // SemDeDup-style semantic dedup: LSH cosine pairs -> components ->
    // keep min id per semantic cluster; the corpus minus the drop list.
    "semdedup_survivors" -> ((s, dir) =>
      Dedup.semanticDedupSurvivors(Tables.embeddings(s, dir), "vec_id",
          "embedding", threshold = 0.4, dim = 64, planes = 4, tables = 4)
        .select("vec_id", "label")),

    // C4-style line cleaning. The synthetic corpus is single-line,
    // punctuation-free text, so the registered rules are the ones that
    // vary here (min words per line + a blocklist word present in ~half
    // the docs); the terminal-punctuation rule and multi-line re-join are
    // covered by TextAnalysisSpec on crafted documents.
    "line_clean" -> ((s, dir) =>
      TextAnalysis.lineClean(Tables.documents(s, dir), "doc_id", "text",
        lineSep = "\n", minWordsPerLine = 30, requireTerminalPunct = false,
        blockWords = Seq("customer"))),

    // Near-dup-aware split: the split key is the duplicate-CLUSTER
    // representative (shared CC table; singletons key on themselves), so
    // every member of a near-dup cluster lands in the same split — the
    // contamination channel a per-doc split leaves open even after
    // source-level splitting.
    "split_by_component" -> ((s, dir) => {
      val comp = ccSharedBuild(s, dir)
        .select(col("id").as("doc_id"), col("label"))
      Tables.documents(s, dir).join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("split_key"),
          Sampling.splitAssign(coalesce(col("label"), col("doc_id")),
            Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), "split42")
            .as("split"))
    }),

    // Semantic decontamination: corpus embeddings near-duplicate of any
    // benchmark embedding (SRP-bucketed broadcast probe — the paraphrase
    // leakage the n-gram `decontaminate` query can't see).
    "decon_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Decontaminate.flagSemantic(emb, "vec_id", "embedding",
        emb.where(col("vec_id") < 20), "vec_id", "embedding",
        threshold = 0.4, dim = 64, planes = 4, tables = 4)
    }),

    // Corpus-global exact line dedup (Lee et al. line tier): every
    // non-blank line keeps only its first (doc_id, pos) occurrence —
    // the syndicated-content counterpart of boilerplate_lines (which
    // drops frequent lines from EVERY doc). Full-algorithm oracle: the
    // engine's 64-bit portable line hash recomputed in SQL.
    "line_dedup" -> ((s, dir) =>
      TextAnalysis.dedupLinesGlobal(
        Tables.documents(s, dir).select(col("doc_id"),
          concat_ws("\n", concat(lit("src: "), col("source")), col("text"),
            concat(lit("lang: "), col("lang"))).as("page")),
        "doc_id", "page"))
  )

  val oracles: Map[String, String] = Map(

    "connected_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS a, doc_id - (doc_id % 5) AS b FROM documents
        |  WHERE doc_id <> doc_id - (doc_id % 5)),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a)
        |SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id""".stripMargin,

    // One-shot mirror of the two-batch incremental fold: same recursive
    // CC over the full edge stream, singletons self-labeled via the
    // left-join coalesce.
    "cc_incremental" ->
      """WITH RECURSIVE e AS (
        |  SELECT doc_id AS a, doc_id - (doc_id % 5) AS b FROM documents
        |  WHERE doc_id <> doc_id - (doc_id % 5)),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach(id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        |comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id)
        |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin,

    "exact_dedup" ->
      """SELECT doc_id, source, lang, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) = 1""".stripMargin,

    "boilerplate_lines" ->
      """WITH d AS (SELECT doc_id,
        |        'src: ' || source || chr(10) || text || chr(10) || 'lang: ' || lang AS page
        |      FROM documents),
        |w AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, unnest(ls) AS line FROM w),
        |f AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |        string_agg(line, chr(10) ORDER BY pos) AS text_clean
        |      FROM l ANTI JOIN f USING (line) GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ls) AS BIGINT) AS n_lines,
        |  coalesce(k.n_kept, 0) AS n_kept, coalesce(k.text_clean, '') AS text_clean
        |FROM w LEFT JOIN k USING (doc_id)""".stripMargin,

    "ngram_jaccard" ->
      s"""WITH ${jaccardPairCtes("source")}
        |SELECT a_id, b_id,
        |  CAST(inter AS DOUBLE) / CAST(a_n + b_n - inter AS DOUBLE) AS jaccard
        |FROM p WHERE 10 * inter >= 1 * (a_n + b_n - inter)""".stripMargin,

    "repeated_spans" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
        |       FROM w),
        |ex AS (SELECT doc_id, unnest(sh) AS span FROM sh),
        |${sqlMix64Ctes("e", "ex", "span", "doc_id")},
        |f AS (SELECT sh64, count(*) AS n_docs FROM e GROUP BY 1),
        |d AS (SELECT e.doc_id, count(*) AS n_shared
        |      FROM e JOIN f USING (sh64) WHERE f.n_docs > 1 GROUP BY 1)
        |SELECT s.doc_id, CAST(len(s.sh) AS BIGINT) AS n_spans,
        |  coalesce(d.n_shared, 0) AS n_shared,
        |  len(s.sh) > 0 AND 2 * coalesce(d.n_shared, 0) >= len(s.sh) AS mostly_duplicated
        |FROM sh s LEFT JOIN d USING (doc_id)""".stripMargin,

    // The ngram_jaccard CTEs with the containment threshold/score.
    "containment_pairs" ->
      s"""WITH ${jaccardPairCtes("lang", nonEmpty = true)}
        |SELECT a_id, b_id,
        |  CAST(inter AS DOUBLE) / CAST(least(a_n, b_n) AS DOUBLE) AS containment
        |FROM p WHERE 5 * inter >= 4 * least(a_n, b_n)""".stripMargin,

    // Full mirror of the windowed passage pipeline: token prefix-sum
    // offsets, 8-token frame aggregates, duplicate census, span merge.
    "dup_passages" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |toks AS (SELECT doc_id, unnest(ts) AS tok,
         |           unnest(generate_series(1, len(ts))) AS i FROM base),
         |$dupPassageWindowCtes
         |SELECT doc_id, min(start_char) AS span_start,
         |  CAST(max(end_char) AS BIGINT) AS span_end, count(*) AS n_windows
         |FROM g2 GROUP BY doc_id, grp""".stripMargin,

    // Cleaned length derived WITHOUT the splice: original − Σ span widths.
    "dup_passage_clean" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |toks AS (SELECT doc_id, unnest(ts) AS tok,
         |           unnest(generate_series(1, len(ts))) AS i FROM base),
         |$dupPassageWindowCtes,
         |sp AS (SELECT doc_id, min(start_char) AS s, max(end_char) AS e
         |       FROM g2 GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, count(*) AS n_spans, sum(e - s) AS removed
         |        FROM sp GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans,
         |  CAST(length(d.text) - coalesce(a.removed, 0) AS BIGINT) AS clean_len
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // The jaccard-pair + recursive-CC CTEs (as in dedup_survivors), then
    // the md5 split keyed on the component representative.
    "split_by_component" ->
      s"""WITH RECURSIVE ${jaccardPairCtes("source")},
         |pr AS (SELECT a_id, b_id FROM p WHERE 50 * inter >= 1 * (a_n + b_n - inter)),
         |sym AS (SELECT a_id AS a, b_id AS b FROM pr UNION SELECT b_id, a_id FROM pr),
         |reach(id, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
         |comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id)
         |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS split_key,
         |  CASE WHEN substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR) || ':split42'), 1, 8) < '${splitThresholds(0)}' THEN 'train'
         |       WHEN substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR) || ':split42'), 1, 8) < '${splitThresholds(1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin,

    // Full-pipeline mirror: the ngram_jaccard pair CTEs at 1/50, the
    // connected_components recursive CTE, then the anti-joined survivors.
    "dedup_survivors" ->
      s"""WITH RECURSIVE ${jaccardPairCtes("source")},
        |pr AS (SELECT a_id, b_id FROM p WHERE 50 * inter >= 1 * (a_n + b_n - inter)),
        |sym AS (SELECT a_id AS a, b_id AS b FROM pr UNION SELECT b_id, a_id FROM pr),
        |reach(id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        |drops AS (SELECT id FROM (SELECT id, LEAST(id, MIN(r)) AS component
        |                          FROM reach GROUP BY id) WHERE id <> component)
        |SELECT d.doc_id, d.source, d.lang, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM drops)""".stripMargin,

    // Same jaccard-pair CTEs over the whole table (old ∪ new IS
    // documents); a new doc is dup iff some pair endpoint pairs it with
    // an even id. LEFT JOIN + COUNT(col) keeps zero-dup sources.
    "cross_dup_rate" ->
      s"""WITH ${jaccardPairCtes("source")},
        |pr AS (SELECT a_id, b_id FROM p WHERE 50 * inter >= 1 * (a_n + b_n - inter)),
        |de AS (SELECT a_id AS x, b_id AS y FROM pr
        |       UNION ALL SELECT b_id, a_id FROM pr),
        |dup AS (SELECT DISTINCT x AS doc_id FROM de
        |        WHERE x % 2 = 1 AND y % 2 = 0)
        |SELECT d.source, COUNT(*) AS n_new,
        |  CAST(COUNT(dup.doc_id) AS BIGINT) AS n_dup,
        |  CAST(COUNT(dup.doc_id) * 1000 // COUNT(*) AS BIGINT) AS dup_permille
        |FROM documents d LEFT JOIN dup USING (doc_id)
        |WHERE d.doc_id % 2 = 1
        |GROUP BY d.source""".stripMargin,

    // Same jaccard-pair + recursive-CC CTEs; singletons self-label via
    // the left-join coalesce, then two size aggregations.
    "dup_cluster_sizes" ->
      s"""WITH RECURSIVE ${jaccardPairCtes("source")},
        |pr AS (SELECT a_id, b_id FROM p WHERE 50 * inter >= 1 * (a_n + b_n - inter)),
        |sym AS (SELECT a_id AS a, b_id AS b FROM pr UNION SELECT b_id, a_id FROM pr),
        |reach(id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        |comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id),
        |lab AS (SELECT COALESCE(c.component, d.doc_id) AS component
        |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |sz AS (SELECT component, COUNT(*) AS cluster_size FROM lab GROUP BY component)
        |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(COUNT(*) AS BIGINT) AS n_clusters
        |FROM sz GROUP BY cluster_size""".stripMargin,

    // Same recursive-CC tail as dedup_survivors; the survivor rank swaps
    // min-id for (n_chars DESC, id).
    "dedup_survivors_best" ->
      s"""WITH RECURSIVE ${jaccardPairCtes("source")},
        |pr AS (SELECT a_id, b_id FROM p WHERE 50 * inter >= 1 * (a_n + b_n - inter)),
        |sym AS (SELECT a_id AS a, b_id AS b FROM pr UNION SELECT b_id, a_id FROM pr),
        |reach(id, r) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
        |comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id),
        |m AS (SELECT comp.id, comp.component, d.n_chars
        |      FROM comp JOIN documents d ON comp.id = d.doc_id),
        |drops AS (SELECT id FROM (
        |    SELECT id, row_number() OVER (PARTITION BY component
        |      ORDER BY n_chars DESC, id) AS rn FROM m) WHERE rn > 1)
        |SELECT d.doc_id, d.source, d.lang, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT id FROM drops)""".stripMargin,

    "decontaminate" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, source,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
        |       FROM w),
        |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |${sqlMix64Ctes("eh", "ex", "shingle", "doc_id")},
        |bench AS (SELECT DISTINCT sh64 FROM eh WHERE doc_id % 50 = 0),
        |corp AS (SELECT doc_id, sh64 FROM eh WHERE doc_id % 50 <> 0),
        |ov AS (SELECT doc_id, count(*) AS n_overlap
        |       FROM corp JOIN bench USING (sh64) GROUP BY 1)
        |SELECT d.doc_id, d.source,
        |  coalesce(ov.n_overlap, 0) AS n_overlap,
        |  coalesce(ov.n_overlap, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN ov USING (doc_id)
        |WHERE d.doc_id % 50 <> 0""".stripMargin,

    // The Bloom path's verified result is exactly the exact-plan clean:
    // corpus minus every doc sharing any shingle hash with the benchmark.
    // Full mirror of the cross-set window pipeline (shared deconSpanCtes).
    "decon_spans" ->
      s"""WITH $deconSpanCtes
         |SELECT doc_id, min(start_char) AS span_start,
         |  CAST(max(end_char) AS BIGINT) AS span_end, count(*) AS n_windows
         |FROM g2 GROUP BY doc_id, grp""".stripMargin,

    // Cleaned length derived WITHOUT the splice: original - sum of span
    // widths over the same shared CTE chain.
    "decon_span_clean" ->
      s"""WITH $deconSpanCtes,
         |sp AS (SELECT doc_id, min(start_char) AS s, max(end_char) AS e
         |       FROM g2 GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, count(*) AS n_spans, sum(e - s) AS removed
         |        FROM sp GROUP BY 1)
         |SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans,
         |  CAST(length(d.text) - coalesce(a.removed, 0) AS BIGINT) AS clean_len
         |FROM (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0) d
         |LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "decon_bloom" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
        |       FROM w),
        |ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        |${sqlMix64Ctes("eh", "ex", "shingle", "doc_id")},
        |bench AS (SELECT DISTINCT sh64 FROM eh WHERE doc_id % 50 = 0),
        |bad AS (SELECT DISTINCT doc_id FROM eh
        |        WHERE doc_id % 50 <> 0 AND sh64 IN (SELECT sh64 FROM bench))
        |SELECT d.doc_id, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id % 50 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    "ngram_jaccard_prefix" ->
      s"""WITH ${jaccardPairCtes("source")}
        |SELECT a_id, b_id,
        |  CAST(inter AS DOUBLE) / CAST(a_n + b_n - inter AS DOUBLE) AS jaccard
        |FROM p WHERE 5 * inter >= 4 * (a_n + b_n - inter)""".stripMargin,

    // Full MinHash-LSH mirror: portable shingle hash, literal-interpolated
    // permutation coefficients, band collisions re-derived by comparing the
    // signature slices themselves (band-hash equality <=> slice equality up
    // to a 2^-64 collision), then exact-Jaccard verification — so the
    // match is exact regardless of LSH recall. Two DuckDB cost lessons are
    // baked in (round-5 gate timeout, >10 CPU-min): (1) CTEs referenced
    // more than once are MATERIALIZED — DuckDB inlines plain CTEs, so the
    // signature pass would otherwise run once per reference; (2) the
    // signature itself is RELATIONAL (unnest shingle hashes × a 128-row
    // perm series → vectorized min + list(ORDER BY) reassembly) instead of
    // nested list lambdas — lambda evaluation is row-at-a-time AND a
    // 500-row table is one row group, i.e. single-threaded (105 s → <1 s).
    "minhash_lsh" -> {
      val (a, b) = graft.functions.MinHashSig.coeffs(128, 42L)
      val aLit = a.mkString("[", ",", "]")
      val bLit = b.mkString("[", ",", "]")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id,
         |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
         |       FROM w),
         |hs AS (SELECT doc_id,
         |         list_transform(sh, s ->
         |           list_reduce([CAST(ascii(s[i:i]) AS BIGINT) for i in range(1, len(s) + 1)],
         |                       (acc, c) -> (acc * 31 + c) % ${graft.functions.MinHashSig.HashMod})) AS hv
         |       FROM sh),
         |hrows AS (SELECT doc_id, unnest(hv) AS h FROM hs),
         |perms AS (SELECT unnest(generate_series(1, 128)) AS j),
         |sigrows AS (SELECT doc_id, j,
         |              min(($aLit[j] * h + $bLit[j]) % ${graft.functions.MinHashSig.P}) AS m
         |            FROM hrows CROSS JOIN perms GROUP BY doc_id, j),
         |sgl AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM sigrows GROUP BY doc_id),
         |sg AS MATERIALIZED (SELECT sh.doc_id,
         |        coalesce(sgl.sig,
         |                 list_transform(generate_series(1, 128), j -> 9223372036854775807)) AS sig
         |      FROM sh LEFT JOIN sgl ON sh.doc_id = sgl.doc_id),
         |bands AS MATERIALIZED (
         |          SELECT doc_id, bs.b, list_slice(sig, bs.b * 4 + 1, bs.b * 4 + 4) AS slice
         |          FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bs),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |         FROM bands a JOIN bands b
         |           ON a.b = b.b AND a.slice = b.slice AND a.doc_id < b.doc_id),
         |v AS (SELECT a_id, b_id,
         |        CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS inter,
         |        CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) AS tot
         |      FROM cand JOIN sh sa ON sa.doc_id = cand.a_id
         |                JOIN sh sb ON sb.doc_id = cand.b_id)
         |SELECT a_id, b_id, inter / (tot - inter) AS jaccard
         |FROM v WHERE tot - inter > 0 AND inter / (tot - inter) >= 0.1""".stripMargin
    },

    // minhash_lsh_est: same signature + band pipeline, but verification is
    // the estimated Jaccard — the agreeing-component fraction of the two
    // 128-long signatures (the streaming index's verification math).
    "minhash_lsh_est" -> {
      val (a, b) = graft.functions.MinHashSig.coeffs(128, 42L)
      val aLit = a.mkString("[", ",", "]")
      val bLit = b.mkString("[", ",", "]")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |sh AS MATERIALIZED (SELECT doc_id,
         |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
         |       FROM w),
         |hs AS (SELECT doc_id,
         |         list_transform(sh, s ->
         |           list_reduce([CAST(ascii(s[i:i]) AS BIGINT) for i in range(1, len(s) + 1)],
         |                       (acc, c) -> (acc * 31 + c) % ${graft.functions.MinHashSig.HashMod})) AS hv
         |       FROM sh),
         |hrows AS (SELECT doc_id, unnest(hv) AS h FROM hs),
         |perms AS (SELECT unnest(generate_series(1, 128)) AS j),
         |sigrows AS (SELECT doc_id, j,
         |              min(($aLit[j] * h + $bLit[j]) % ${graft.functions.MinHashSig.P}) AS m
         |            FROM hrows CROSS JOIN perms GROUP BY doc_id, j),
         |sgl AS (SELECT doc_id, list(m ORDER BY j) AS sig FROM sigrows GROUP BY doc_id),
         |sg AS MATERIALIZED (SELECT sh.doc_id,
         |        coalesce(sgl.sig,
         |                 list_transform(generate_series(1, 128), j -> 9223372036854775807)) AS sig
         |      FROM sh LEFT JOIN sgl ON sh.doc_id = sgl.doc_id),
         |bands AS MATERIALIZED (
         |          SELECT doc_id, bs.b, list_slice(sig, bs.b * 4 + 1, bs.b * 4 + 4) AS slice
         |          FROM sg CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) bs),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |         FROM bands a JOIN bands b
         |           ON a.b = b.b AND a.slice = b.slice AND a.doc_id < b.doc_id),
         |v AS (SELECT a_id, b_id,
         |        CAST(list_sum(list_transform(list_zip(sa.sig, sb.sig),
         |               p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE) / 128 AS est_jaccard
         |      FROM cand JOIN sg sa ON sa.doc_id = cand.a_id
         |                JOIN sg sb ON sb.doc_id = cand.b_id)
         |SELECT a_id, b_id, est_jaccard FROM v WHERE est_jaccard >= 0.1""".stripMargin
    },

    // Exact SimHash mirror (portable word hash splitmix-finalized in
    // HUGEINT/UBIGINT arithmetic). No banding needed here: the Spark
    // operator's 16-bit-chunk candidates have guaranteed recall at
    // Hamming<=3 (pigeonhole), so its output IS the all-pairs answer.
    "simhash_pairs" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |h0 AS (SELECT doc_id, list_transform(ws, s ->
         |        CAST((CASE WHEN len(s) = 0 THEN 0 ELSE
         |          list_reduce([CAST(ascii(s[i:i]) AS HUGEINT) for i in range(1, len(s) + 1)],
         |                      (acc, c) -> (acc * 31 + c) % 18446744073709551616) END) AS UBIGINT)) AS z
         |       FROM w),
         |h1 AS (SELECT doc_id, list_transform(z, x -> xor(x, x >> 30)) AS z FROM h0),
         |h2 AS (SELECT doc_id, list_transform(z, x -> ${sqlMulMod64("x", "13787848793156543929")}) AS z FROM h1),
         |h3 AS (SELECT doc_id, list_transform(z, x -> xor(x, x >> 27)) AS z FROM h2),
         |h4 AS (SELECT doc_id, list_transform(z, x -> ${sqlMulMod64("x", "10723151780598845931")}) AS z FROM h3),
         |h5 AS (SELECT doc_id, list_transform(z, x -> xor(x, x >> 31)) AS wh FROM h4),
         |sig AS (SELECT doc_id,
         |  list_reduce(list_transform(generate_series(0, 63), j ->
         |    CASE WHEN list_sum(list_transform(wh,
         |           x -> CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN (CAST(1 AS UBIGINT) << j) ELSE CAST(0 AS UBIGINT) END),
         |    (a, b) -> a | b) AS sig
         |  FROM h5)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3""".stripMargin,

    "cosine_neardup_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  list_cosine_similarity(a.v, b.v) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4""".stripMargin,

    // Full algorithm mirror: the seed-derived hyperplanes are interpolated
    // as literals, bucketing + sign rule + verification recomputed in SQL —
    // so the oracle matches the LSH output exactly whatever its recall.
    // Single-sourced with the AutoPlanes twin: cosine_neardup_auto's
    // oracle is the SAME builder at the stats-derived plane count,
    // emitted at Verify-dump time (SparkEntry.dataDependentOracles).
    "cosine_neardup_lsh" -> cosineNearDupLshSql(planes = 4),

    // Per-option replay of the SAME hyperplane doubles (generated
    // VALUES), bit-sum buckets, occupancy census, UNION ALL.
    "lsh_calibration" -> {
      def one(p: Int): String =
        s"""SELECT CAST($p AS BIGINT) AS planes, COUNT(*) AS n_buckets,
           |  CAST(SUM(c) AS BIGINT) AS n_vectors,
           |  CAST(MAX(c) AS BIGINT) AS max_bucket,
           |  CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
           |  CAST(1000 * SUM(c * (c - 1) // 2) // greatest(SUM(c), 1)
           |    AS BIGINT) AS probes_per_kvec
           |FROM (SELECT bucket, COUNT(*) AS c FROM (
           |  SELECT vec_id,
           |    SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS bucket
           |  FROM (SELECT e.vec_id, hp.p,
           |          list_reduce(list_transform(generate_series(1, 64),
           |            i -> v[i] * pv[i]), (a, b) -> a + b) AS dot
           |        FROM e CROSS JOIN (VALUES
           |          ${srpPlanesValues(p, 64, 42L, 1)}) hp(t, p, pv))
           |  GROUP BY vec_id) GROUP BY bucket)""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings)
         |${Seq(4, 8, 12).map(one).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // Splice of the exact ground-truth CTE and the literal-hyperplane LSH
    // mirror, counted: recall is exactly reproducible because both sides
    // run the full algorithms.
    "lsh_recall" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
         |       FROM e a JOIN e b ON a.vec_id < b.vec_id
         |       WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
         |hp AS (SELECT * FROM (VALUES
         |${srpPlanesValues(planes = 4, dim = 64, seed = 42L, tables = 4)}
         |) AS t(t, p, pv)),
         |bits AS (SELECT e.vec_id, hp.t, hp.p,
         |    CASE WHEN list_reduce(
         |           list_transform(generate_series(1, 64), i -> v[i] * pv[i]),
         |           (a, b) -> a + b) >= 0
         |         THEN 1 << hp.p ELSE 0 END AS bit
         |  FROM e CROSS JOIN hp),
         |buck AS (SELECT vec_id, t, sum(bit) AS bucket FROM bits GROUP BY vec_id, t),
         |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |         FROM buck a JOIN buck b
         |           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |ls AS (SELECT a_id, b_id
         |       FROM cand JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id
         |       WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4),
         |hit AS (SELECT * FROM ex SEMI JOIN ls USING (a_id, b_id))
         |SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
         |  CAST((SELECT count(*) FROM ls) AS BIGINT) AS n_lsh,
         |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |  CAST((SELECT count(*) FROM hit) * 1000 //
         |       (SELECT count(*) FROM ex) AS BIGINT) AS recall_permille""".stripMargin,

    // The cosine_neardup_lsh pair mirror (literal hyperplanes) + the
    // recursive-CC survivor tail from dedup_survivors.
    "semdedup_survivors" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |hp AS (SELECT * FROM (VALUES
         |${srpPlanesValues(planes = 4, dim = 64, seed = 42L, tables = 4)}
         |) AS t(t, p, pv)),
         |bits AS (SELECT e.vec_id, hp.t, hp.p,
         |    CASE WHEN list_reduce(
         |           list_transform(generate_series(1, 64), i -> v[i] * pv[i]),
         |           (a, b) -> a + b) >= 0
         |         THEN 1 << hp.p ELSE 0 END AS bit
         |  FROM e CROSS JOIN hp),
         |buck AS (SELECT vec_id, t, sum(bit) AS bucket FROM bits GROUP BY vec_id, t),
         |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |         FROM buck a JOIN buck b
         |           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |pr AS (SELECT a_id, b_id
         |       FROM cand JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id
         |       WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4),
         |sym AS (SELECT a_id AS a, b_id AS b FROM pr UNION SELECT b_id, a_id FROM pr),
         |reach(id, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
         |drops AS (SELECT id FROM (SELECT id, LEAST(id, MIN(r)) AS component
         |                          FROM reach GROUP BY id) WHERE id <> component)
         |SELECT vec_id, label FROM embeddings
         |WHERE vec_id NOT IN (SELECT id FROM drops)""".stripMargin,

    "line_clean" ->
      """WITH l AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents),
        |k AS (SELECT doc_id, lines,
        |        list_filter(lines, x ->
        |          len(string_split(trim(x), ' ')) >= 30
        |          AND NOT contains(lower(trim(x)), 'customer')) AS kept
        |      FROM l)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  coalesce(array_to_string(kept, chr(10)), '') AS text_clean
        |FROM k""".stripMargin,

    // Same literal-hyperplane mirror as cosine_neardup_lsh, restricted to
    // corpus-vs-benchmark candidates with per-pair table dedup.
    "decon_semantic" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |hp AS (SELECT * FROM (VALUES
         |${srpPlanesValues(planes = 4, dim = 64, seed = 42L, tables = 4)}
         |) AS t(t, p, pv)),
         |bits AS (SELECT e.vec_id, hp.t, hp.p,
         |    CASE WHEN list_reduce(
         |           list_transform(generate_series(1, 64), i -> v[i] * pv[i]),
         |           (a, b) -> a + b) >= 0
         |         THEN 1 << hp.p ELSE 0 END AS bit
         |  FROM e CROSS JOIN hp),
         |buck AS (SELECT vec_id, t, sum(bit) AS bucket FROM bits GROUP BY vec_id, t),
         |bench AS (SELECT vec_id AS bid, t, bucket FROM buck WHERE vec_id < 20),
         |cand AS (SELECT DISTINCT c.vec_id AS id, b.bid
         |         FROM buck c JOIN bench b
         |           ON c.t = b.t AND c.bucket = b.bucket AND c.vec_id <> b.bid),
         |sc AS (SELECT id, bid, list_cosine_similarity(ec.v, eb.v) AS cos
         |       FROM cand JOIN e ec ON ec.vec_id = id JOIN e eb ON eb.vec_id = bid
         |       WHERE list_cosine_similarity(ec.v, eb.v) >= 0.4)
         |SELECT id AS vec_id, max(cos) AS max_cos, count(*) AS n_bench
         |FROM sc GROUP BY 1""".stripMargin,

    // Full-algorithm mirror: the engine's portable 64-bit line hash
    // recomputed in SQL (sqlMix64Ctes), first occurrence by
    // (doc_id, pos) per hash, blank lines exempt, positional re-join.
    "line_dedup" ->
      s"""WITH d AS (SELECT doc_id,
        |    'src: ' || source || chr(10) || text || chr(10) || 'lang: ' || lang AS page
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM d),
        |l AS (SELECT doc_id, unnest(range(1, len(ls) + 1)) AS pos, unnest(ls) AS line FROM w),
        |nb AS (SELECT doc_id, pos, line FROM l WHERE trim(line) <> ''),
        |${sqlMix64Ctes("lh", "nb", "line", "doc_id, pos, line")},
        |rw AS (SELECT doc_id, pos, line,
        |        row_number() OVER (PARTITION BY sh64 ORDER BY doc_id, pos) AS rn
        |      FROM lh),
        |kept AS (SELECT doc_id, pos, line FROM l WHERE trim(line) = ''
        |         UNION ALL
        |         SELECT doc_id, pos, line FROM rw WHERE rn = 1),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |        string_agg(line, chr(10) ORDER BY pos) AS text_clean
        |      FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(w.ls) AS BIGINT) AS n_lines,
        |  coalesce(k.n_kept, 0) AS n_kept, coalesce(k.text_clean, '') AS text_clean
        |FROM w LEFT JOIN k USING (doc_id)""".stripMargin
  )
}
