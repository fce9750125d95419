package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.operators.{Anomaly, Correlate, DailyCounts, Experiment, Hnsw, IndexStore, TextIndex, TimeSeries, Web, Bpe, Cardinality, Clustering, Cooccur, Decontaminate, Dedup, EditDistance, Embeddings, Extract, Frequencies, Funnel, Graph, Ivf, Joins, Multimodal, Pq, Quantiles, Sampling, Scd2, Sessionize, Similarity, Sketch, TextAnalysis, Upsert, Validate}
import graft.streaming.IncrementalStream
import graft.SparkEntry._

/** Training-mix curation: sampling, splits, quantile gates, mixture
  * allocation, DSIR.
  *
  * One registry tier of [[SparkEntry]]'s driver contract (split from the
  * single 7k-line object in round 14): `queries` and `oracles` compose into
  * [[SparkEntry.queries]] / [[SparkEntry.oracleSql]] unchanged — entry text
  * is byte-identical to the pre-split map literals. Shared helpers (ts6,
  * shared builds, oracle CTE builders) stay on [[SparkEntry]] and arrive via
  * the wildcard import. */
private[graft] object TierCuration extends Registry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Persisted-profile quantile surface: per-source token-count
    // p50/p90/p99 via the custom KLL TypedImperativeAggregate (Spark has
    // HLL sketch aggs but no quantile ones). Map-side sketch fold — the
    // one shuffle carries ~KB blobs, never values; the driver query runs
    // in the sketch's exact regime (n per source ≤ k), where INCLUSIVE
    // quantiles are order statistics the oracle recomputes in SQL.
    "quantile_profile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), TextAnalysis.tokenCount(col("text"))
          .cast("double").as("v"))
      Quantiles.quantiles(Quantiles.sketch(docs, "source", "v"),
          Seq(0.5, 0.9, 0.99))
        .select(col("key").as("source"), col("n_rows"),
          col("q500"), col("q900"), col("q990"))
    }),

    // Deterministic stratified sample: per-source rates, membership a pure
    // hash function of (doc_id, salt) — reproducible across runs and
    // mirrorable bit-for-bit by the oracle. Scan-stage filter, no shuffle.
    "stratified_sample" -> ((s, dir) =>
      Sampling.stratified(Tables.documents(s, dir), "source", "doc_id",
          rates = Map("src0" -> 0.05, "src1" -> 0.9, "src2" -> 0.5),
          defaultRate = 0.25, salt = "graft")
        .select("doc_id", "source")),

    // Sequence packing: cut fixed-token-budget training bins per source by
    // prefix sum (ONE shuffle; the window and the per-bin agg share the
    // source-hash exchange).
    "pack_sequences" -> ((s, dir) =>
      Sampling.packSequences(Tables.documents(s, dir), "source", "doc_id",
        TextAnalysis.tokenCount(col("text")), capTokens = 512)),

    // Deterministic global shuffle into training shards (engine-portable
    // Knuth hash rank; one shuffle on shard, per-shard positions).
    "global_shuffle" -> ((s, dir) =>
      Sampling.globalShuffle(Tables.documents(s, dir), "doc_id",
          numShards = 8, seed = 42L)
        .select("doc_id", "shard", "pos")),

    // Corpus analytics: cross-source shared-shingle matrix (mixture
    // design / leak tracing) — no shingle self-join, set-bounded pairs.
    "source_overlap" -> ((s, dir) =>
      TextAnalysis.sourceOverlapMatrix(Tables.documents(s, dir), "source",
        "text", n = 3)),

    // Corpus analytics: per-source lexical diversity (type-token ratio).
    "source_diversity" -> ((s, dir) =>
      TextAnalysis.sourceDiversity(Tables.documents(s, dir), "source",
        "doc_id", "text", n = 3)),

    // Quantile sketch: p10/p50/p90 of token count from a deterministic
    // bottom-256 sample (mergeable, one bounded pass; exact oracle
    // because the sample itself is hash-deterministic).
    "bottomk_quantiles" -> ((s, dir) =>
      Sketch.bottomKQuantiles(Tables.documents(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), k = 256,
        qs = Seq(10, 50, 90), seed = 42L)),

    // Importance sampling by token count: expected-100-doc weighted
    // Bernoulli, pure integer arithmetic, scan-stage predicate.
    "weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id",
          TextAnalysis.tokenCount(col("text")), expectK = 100L,
          maxWeight = 1000L, seed = 42L)
        .select(col("doc_id"), col("__w").as("weight"))),

    // Quantile gate: drop the shortest ~10% of documents by token count
    // (integer-exact histogram quantile, ties kept).
    "quantile_filter" -> ((s, dir) =>
      Sampling.quantileFilter(Tables.documents(s, dir),
          TextAnalysis.tokenCount(col("text")), qNum = 1, qDen = 10,
          out = "n_tokens")
        .select("doc_id", "n_tokens")),

    // Per-source quantile gate: each source drops ITS bottom quartile by
    // token count (a global cut would gut the lower-scoring sources).
    "quantile_filter_by_source" -> ((s, dir) =>
      Sampling.quantileFilterPerKey(Tables.documents(s, dir), "source",
          TextAnalysis.tokenCount(col("text")), qNum = 1, qDen = 4,
          out = "n_tokens")
        .select("doc_id", "source", "n_tokens")),

    // Data-mixture sampling: 50/30/20 across three sources under a 2000-
    // token budget; greedy deterministic selection, unlisted sources out.
    "mix_sources" -> ((s, dir) =>
      Sampling.mixSources(Tables.documents(s, dir), "doc_id", "source",
        TextAnalysis.tokenCount(col("text")),
        weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        totalTokens = 2000L, seed = 42L)),

    // DSIR-style targeted-selection scores: hashed unigram+bigram bucket
    // models (portable mix64 → 512 buckets), target = the English docs,
    // score = Σ quantized (bits_raw − bits_target) per feature occurrence
    // — positive looks-like-target, negative unlike it. Both models are
    // ≤512-row broadcasts; the corpus pays one scan + one doc-keyed agg.
    "dsir_scores" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.dsirScores(docs, docs.where(col("lang") === "en"),
        "doc_id", "text", buckets = 512)
    }),

    // The selection step: 50 most-target-like docs, deterministic rank
    // (dsir_bits DESC, doc_id) — DSIR resampling as a reproducible top-k.
    "dsir_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.dsirSelect(docs, docs.where(col("lang") === "en"),
        "doc_id", "text", k = 50, buckets = 512)
    }),

    // Exact-k deterministic uniform sample per stratum (k smallest md5
    // per source — distributed reservoir sampling, reproducible).
    "sample_k_per_key" -> ((s, dir) =>
      Sampling.exactKPerKey(Tables.documents(s, dir), k = 5, "source", "doc_id")
        .select("doc_id", "source")),

    // Leakage-safe train/val/test split: assignment keyed on the GROUP
    // (source), not the document — near-identical docs from one source
    // can never straddle the train/eval boundary. Pure scan-stage CASE
    // over md5 thresholds; deterministic across runs, engines, and
    // repartitioning.
    "group_split" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        Sampling.splitAssign(col("source"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), "split42")
          .as("split"))),

    // Mixture budget planning under availability caps: 8-round integer
    // waterfill of a 20k-token budget over the 20 sources with weights
    // (N mod 7)+1 — heavy-weight sources cap at their availability and
    // their shortfall cascades onto the open ones.
    "mixture_alloc" -> ((s, dir) => {
      val stats = Tables.documents(s, dir)
        .groupBy(col("source").as("key"))
        .agg(sum(TextAnalysis.tokenCount(col("text"))).as("avail"))
      val weights = (0 until 20)
        .map(i => s"src$i" -> ((i % 7) + 1).toLong).toMap
      Sampling.waterfillBudgets(stats, weights, budget = 20000L)
    }),

    // Epoch/repetition budgeting at a FIXED mixture: per source, the
    // tokens the mixture demands vs what it holds — repeat factor and
    // epoch count, the data-constrained-scaling table read before
    // deciding which sources to cap (waterfill's complement). Weights
    // (i%5)+1 by source index; the oracle derives the same weight from
    // the source NAME — independent formulations.
    "epoch_budget" -> ((s, dir) =>
      Sampling.epochBudget(
        Tables.documents(s, dir)
          .groupBy(col("source").as("key"))
          .agg(sum(size(filter(split(col("text"), " "), w => w =!= ""))
            .cast("long")).as("avail")),
        weights = (0 until 20).map(i => s"src$i" -> ((i % 5) + 1L)).toMap,
        budget = 1000000L)),

    // Exact decile assignment for a per-doc quality metric via the
    // two-phase distributed ranking — the percentile feature a gate
    // thresholds, with deterministic tie handling at every boundary.
    "quality_deciles" -> ((s, dir) =>
      Correlate.rankBuckets(Tables.documents(s, dir), "doc_id",
        col("n_chars").cast("long"), buckets = 10)),

    // Deterministic curriculum layout: exact difficulty deciles
    // (n_chars), within-bucket Knuth shuffle, sharded positions — the
    // easy→hard training order a reader replays round-robin, no
    // rand() anywhere.
    "curriculum_order" -> ((s, dir) =>
      Sampling.curriculumOrder(Tables.documents(s, dir), "doc_id",
        col("n_chars").cast("long"), buckets = 10, numShards = 8,
        seed = 7L)),

    // Exact top-20 key-skew census over the event log's user key — the
    // "should this shuffle key be salted" diagnostic, map-side-combined
    // counts + bounded TakeOrdered, no full sort.
    "skew_census" -> ((s, dir) =>
      Frequencies.keySkewCensus(
        Tables.events(s, dir).select(col("user_id")), "user_id", k = 20)),

    // Borda rank-average quality blend: three incomparable signals
    // (chars, tokens, distinct tokens) each contribute exactly their
    // ORDERING via an exact distributed rank; rank_sum is the ensemble
    // score a curation gate thresholds — no calibration, no fat-tail
    // domination. Two-phase histogram ranking per metric, no
    // single-partition window.
    "quality_blend" -> ((s, dir) =>
      Correlate.rankBlend(Tables.documents(s, dir), "doc_id", Seq(
        col("n_chars"),
        size(split(col("text"), " ")),
        size(array_distinct(split(col("text"), " ")))))),

    // Cross-split contamination census: near-dup clusters (the shared
    // CC table) whose members land in DIFFERENT doc-keyed train/val/test
    // splits — the leakage channel a per-doc split leaves open and
    // split_by_component closes. Reports component and member-pair
    // counts per split pair.
    "split_leakage" -> ((s, dir) => {
      val comp = ccSharedBuild(s, dir)
        .select(col("id").as("doc_id"), col("label"))
      val assigned = Tables.documents(s, dir).select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(
          coalesce(col("label"), col("doc_id")).as("component"),
          Sampling.splitAssign(col("doc_id"),
            Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)), "leak42")
            .as("split"))
      val m = assigned.groupBy("component", "split")
        .agg(count(lit(1)).as("m"))
      val a = m.select(col("component"), col("split").as("split_a"),
        col("m").as("m_a"))
      val b = m.select(col("component"), col("split").as("split_b"),
        col("m").as("m_b"))
      a.join(b, Seq("component"))
        .where(col("split_a") < col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_components"),
          sum(col("m_a") * col("m_b")).as("n_leaked_pairs"))
    })
  )

  val oracles: Map[String, String] = Map(

    // md5-threshold CASE — the exact expression splitAssign builds.
    "group_split" ->
      s"""SELECT doc_id, source,
         |  CASE WHEN substr(md5(source || ':split42'), 1, 8) < '${splitThresholds(0)}' THEN 'train'
         |       WHEN substr(md5(source || ':split42'), 1, 8) < '${splitThresholds(1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin,

    // KLL exact-regime mirror: INCLUSIVE quantile at rank r over n <= k
    // retained values = the sorted value at 1-based index ceil(r*n).
    "quantile_profile" ->
      """WITH s AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS v FROM documents),
        |r AS (SELECT source, v,
        |    row_number() OVER (PARTITION BY source ORDER BY v) AS i,
        |    count(*) OVER (PARTITION BY source) AS n FROM s)
        |SELECT source, CAST(any_value(n) AS BIGINT) AS n_rows,
        |  max(CASE WHEN i = greatest(1, CAST(ceil(0.50 * n) AS BIGINT)) THEN v END) AS q500,
        |  max(CASE WHEN i = greatest(1, CAST(ceil(0.90 * n) AS BIGINT)) THEN v END) AS q900,
        |  max(CASE WHEN i = greatest(1, CAST(ceil(0.99 * n) AS BIGINT)) THEN v END) AS q990
        |FROM r GROUP BY source""".stripMargin,

    // Same md5-hex threshold literals the Spark predicate uses
    // (Sampling.hexThreshold), so membership matches bit-for-bit.
    "stratified_sample" ->
      s"""SELECT doc_id, source FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 8) <
         |  CASE source
         |    WHEN 'src0' THEN '${graft.operators.Sampling.hexThreshold(0.05)}'
         |    WHEN 'src1' THEN '${graft.operators.Sampling.hexThreshold(0.9)}'
         |    WHEN 'src2' THEN '${graft.operators.Sampling.hexThreshold(0.5)}'
         |    ELSE '${graft.operators.Sampling.hexThreshold(0.25)}' END""".stripMargin,

    "sample_k_per_key" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id) AS rn
        |  FROM documents) WHERE rn <= 5""".stripMargin,

    "pack_sequences" ->
      """WITH t AS (SELECT source, doc_id,
        |    len(string_split(text, ' ')) AS tok FROM documents),
        |c AS (SELECT source, doc_id, tok,
        |    SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT source, CAST((cum - tok) // 512 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS total_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,

    "source_overlap" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT source, doc_id,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
        |       FROM w),
        |ex AS (SELECT source, unnest(sh) AS shingle FROM sh),
        |${sqlMix64Ctes("eh", "ex", "shingle", "source")},
        |d AS (SELECT DISTINCT source, sh64 FROM eh),
        |p AS (SELECT a.source AS sa, b.source AS sb
        |      FROM d a JOIN d b ON a.sh64 = b.sh64 AND a.source < b.source)
        |SELECT sa AS source_a, sb AS source_b,
        |  count(*) AS n_shared_shingles
        |FROM p GROUP BY 1, 2""".stripMargin,

    "source_diversity" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT source, doc_id,
        |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
        |       FROM w),
        |ex AS (SELECT source, doc_id, unnest(sh) AS shingle FROM sh),
        |${sqlMix64Ctes("e", "ex", "shingle", "source, doc_id")}
        |SELECT source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(DISTINCT sh64) AS BIGINT) AS n_distinct_shingles,
        |  CAST(count(DISTINCT sh64) * 1000 // count(*) AS BIGINT) AS ttr_permille
        |FROM e GROUP BY 1""".stripMargin,

    // The bottom-256 sample is deterministic (same Knuth ranks), so the
    // oracle rebuilds the identical sample and nearest-rank positions.
    "bottomk_quantiles" ->
      """WITH s AS (SELECT doc_id AS id, len(string_split(text, ' ')) AS v,
        |    (((doc_id % 4294967296 + 42) % 4294967296 % 65536) * 2654435761
        |     + (((doc_id % 4294967296 + 42) % 4294967296 // 65536) * 2654435761 % 65536) * 65536)
        |    % 4294967296 AS rank
        |  FROM documents ORDER BY rank, id LIMIT 256),
        |r AS (SELECT v, row_number() OVER (ORDER BY v, id) AS i,
        |             count(*) OVER () AS cnt FROM s)
        |SELECT
        |  CAST(max(CASE WHEN i = 1 + (10 * (cnt - 1)) // 100 THEN v END) AS BIGINT) AS p10,
        |  CAST(max(CASE WHEN i = 1 + (50 * (cnt - 1)) // 100 THEN v END) AS BIGINT) AS p50,
        |  CAST(max(CASE WHEN i = 1 + (90 * (cnt - 1)) // 100 THEN v END) AS BIGINT) AS p90
        |FROM r""".stripMargin,

    // Same seeded Knuth rank; threshold in exact integer // arithmetic.
    "weighted_sample" ->
      """WITH m AS (SELECT doc_id,
        |    least(len(string_split(text, ' ')), 1000) AS w FROM documents),
        |t AS (SELECT SUM(w) AS totalW FROM m WHERE w > 0)
        |SELECT doc_id, CAST(w AS BIGINT) AS weight FROM m, t
        |WHERE w > 0 AND
        |  (((doc_id % 4294967296 + 42) % 4294967296 % 65536) * 2654435761
        |   + (((doc_id % 4294967296 + 42) % 4294967296 // 65536) * 2654435761 % 65536) * 65536)
        |  % 4294967296 < (100 * 4294967296 * w) // totalW""".stripMargin,

    "quantile_filter" ->
      """WITH m AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT n_tokens, count(*) AS c FROM m GROUP BY 1),
        |cu AS (SELECT n_tokens, SUM(c) OVER (ORDER BY n_tokens
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
        |t AS (SELECT min(n_tokens) AS thr FROM cu
        |      WHERE cum * 10 >= (SELECT count(*) FROM m) * 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM m, t WHERE m.n_tokens >= t.thr""".stripMargin,

    "quantile_filter_by_source" ->
      """WITH m AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT source, n_tokens, count(*) AS c FROM m GROUP BY 1, 2),
        |cu AS (SELECT source, n_tokens,
        |         SUM(c) OVER (PARTITION BY source ORDER BY n_tokens
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(c) OVER (PARTITION BY source) AS n FROM c),
        |t AS (SELECT source, min(n_tokens) AS thr FROM cu
        |      WHERE cum * 4 >= n * 1 GROUP BY source)
        |SELECT m.doc_id, m.source, CAST(m.n_tokens AS BIGINT) AS n_tokens
        |FROM m JOIN t USING (source) WHERE m.n_tokens >= t.thr""".stripMargin,

    // Budgets are integer literals (⌊w·2000⌋ precomputed) so the oracle
    // never touches a float; rank = the same seeded Knuth-hash form.
    "mix_sources" ->
      """WITH b AS (SELECT * FROM (VALUES ('src0', 1000), ('src1', 600),
        |                                 ('src2', 400)) AS t(source, budget)),
        |r AS (SELECT doc_id, source, len(string_split(text, ' ')) AS tok,
        |    (((doc_id % 4294967296 + 42) % 4294967296 % 65536) * 2654435761
        |     + (((doc_id % 4294967296 + 42) % 4294967296 // 65536) * 2654435761 % 65536) * 65536)
        |    % 4294967296 AS rank
        |  FROM documents),
        |c AS (SELECT r.doc_id, r.source, r.tok, b.budget,
        |    SUM(tok) OVER (PARTITION BY r.source ORDER BY rank, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok AS strt
        |  FROM r JOIN b USING (source))
        |SELECT doc_id, source, CAST(tok AS BIGINT) AS tokens,
        |  CAST(strt AS BIGINT) AS tok_start
        |FROM c WHERE strt < budget""".stripMargin,

    "dsir_scores" -> dsirScoresSql,

    // The same pipeline ranked + limited: deterministic (score, id) order.
    "dsir_select" ->
      s"""SELECT * FROM ($dsirScoresSql)
         |ORDER BY dsir_bits DESC, doc_id LIMIT 50""".stripMargin,

    // Same overflow-free Knuth-hash form as cap_per_key, seed folded in.
    "global_shuffle" ->
      """WITH r AS (SELECT doc_id,
        |    (((doc_id % 4294967296 + 42) % 4294967296 % 65536) * 2654435761
        |     + (((doc_id % 4294967296 + 42) % 4294967296 // 65536) * 2654435761 % 65536) * 65536)
        |    % 4294967296 AS rank
        |  FROM documents)
        |SELECT doc_id, CAST(rank % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY rank % 8 ORDER BY rank, doc_id)
        |       AS BIGINT) AS pos
        |FROM r""".stripMargin,

    // Unrolled 8-round waterfill: each round caps every open source
    // whose proportional share R*w // W covers its availability; open
    // rows carry alloc NULL until capped; final split over what's left.
    "mixture_alloc" -> {
      val (budget, rounds) = (20000L, 8)
      val values = (0 until 20)
        .map(i => s"('src$i', ${(i % 7) + 1})").mkString(", ")
      val peel = (1 to rounds).map { r =>
        val p = s"s${r - 1}"
        s"""s$r AS MATERIALIZED (SELECT key, avail, w,
           |  CASE WHEN alloc IS NOT NULL THEN alloc
           |       WHEN w > 0
           |        AND (SELECT COALESCE(SUM(w), 0) FROM $p
           |             WHERE alloc IS NULL AND w > 0) > 0
           |        AND ((CAST($budget AS HUGEINT)
           |              - (SELECT COALESCE(SUM(alloc), 0) FROM $p
           |                 WHERE alloc IS NOT NULL)) * w)
           |            // (SELECT SUM(w) FROM $p WHERE alloc IS NULL AND w > 0)
           |            >= avail
           |       THEN avail ELSE NULL END AS alloc
           |  FROM $p)""".stripMargin
      }.mkString(",\n")
      s"""WITH stats AS MATERIALIZED (SELECT source AS key,
         |    SUM(length(string_split(text, ' '))) AS avail
         |  FROM documents GROUP BY 1),
         |wt(key, w) AS (VALUES $values),
         |s0 AS MATERIALIZED (SELECT key, avail, w,
         |  CAST(NULL AS BIGINT) AS alloc FROM stats JOIN wt USING (key)),
         |$peel,
         |fin AS (SELECT
         |    COALESCE(SUM(CASE WHEN alloc IS NULL AND w > 0 THEN w END), 0)
         |      AS wfin,
         |    $budget - COALESCE(SUM(alloc), 0) AS rfin
         |  FROM s$rounds)
         |SELECT key, CAST(avail AS BIGINT) AS avail,
         |  CAST(w AS BIGINT) AS weight,
         |  CAST(CASE WHEN alloc IS NOT NULL THEN alloc
         |       WHEN w = 0 OR wfin = 0 THEN 0
         |       ELSE LEAST((CAST(rfin AS HUGEINT) * w) // wfin, avail)
         |       END AS BIGINT) AS allocated,
         |  alloc IS NOT NULL AS capped
         |FROM s$rounds CROSS JOIN fin""".stripMargin
    },

    // Weight recomputed from the source NAME (substr → index → (i%5)+1)
    // instead of the engine's weights map; Σw = 60 from the same map.
    "epoch_budget" ->
      """WITH s AS (SELECT source AS key,
        |    CAST(SUM(len([x for x in string_split(text, ' ') if x <> '']))
        |      AS BIGINT) AS avail
        |  FROM documents GROUP BY 1),
        |w AS (SELECT key, avail,
        |    CAST(CAST(substr(key, 4) AS BIGINT) % 5 + 1 AS BIGINT) AS weight,
        |    (CAST(1000000 AS HUGEINT) *
        |     (CAST(substr(key, 4) AS BIGINT) % 5 + 1)) // 60 AS a
        |  FROM s)
        |SELECT key, avail, weight, CAST(a AS BIGINT) AS allocated,
        |  CAST(CASE WHEN avail > 0
        |    THEN CAST(1000000 AS HUGEINT) * a // avail ELSE 0 END AS BIGINT)
        |    AS repeat_micro,
        |  CAST(CASE WHEN avail > 0
        |    THEN (a + avail - 1) // avail ELSE 0 END AS BIGINT) AS n_epochs
        |FROM w""".stripMargin,

    // Same (value, id) total order, same integer-floor bucket formula.
    "quality_deciles" ->
      """WITH r AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rank,
        |    COUNT(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, rank,
        |  CAST((rank - 1) * 10 // n + 1 AS BIGINT) AS bucket
        |FROM r""".stripMargin,

    // The rankBuckets mirror composed with the knuthRank closed form
    // (the global_shuffle mirror, seed 7) and the same sharded window.
    "curriculum_order" ->
      """WITH b AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    CAST((rk - 1) * 10 // n + 1 AS BIGINT) AS bucket,
        |    (((doc_id % 4294967296 + 7) % 4294967296 % 65536) * 2654435761
        |     + (((doc_id % 4294967296 + 7) % 4294967296 // 65536)
        |        * 2654435761 % 65536) * 65536)
        |    % 4294967296 AS rank
        |  FROM b)
        |SELECT doc_id, bucket, CAST(rank % 8 AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY rank % 8
        |         ORDER BY bucket, rank, doc_id) AS BIGINT) AS pos
        |FROM r""".stripMargin,

    // Exact census mirror: group-count, share, deterministic top-20.
    "skew_census" ->
      """WITH c AS (SELECT user_id AS key, COUNT(*) AS n
        |           FROM events GROUP BY 1),
        |t AS (SELECT COUNT(*) AS tt FROM events)
        |SELECT key, n, CAST(1000 * n // tt AS BIGINT) AS permille
        |FROM c, t ORDER BY n DESC, key LIMIT 20""".stripMargin,

    // Same three metrics, row_number ranks under the same (value, id)
    // total order, summed.
    "quality_blend" ->
      """WITH m AS (SELECT doc_id, n_chars AS m1,
        |    len(string_split(text, ' ')) AS m2,
        |    len(list_distinct(string_split(text, ' '))) AS m3
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    ROW_NUMBER() OVER (ORDER BY m1, doc_id) AS rank_1,
        |    ROW_NUMBER() OVER (ORDER BY m2, doc_id) AS rank_2,
        |    ROW_NUMBER() OVER (ORDER BY m3, doc_id) AS rank_3 FROM m)
        |SELECT doc_id, rank_1, rank_2, rank_3,
        |  rank_1 + rank_2 + rank_3 AS rank_sum FROM r""".stripMargin,

    // The near-dup CC CTEs (as in split_by_component), a doc-keyed md5
    // split, then the per-split-pair cross counts within components.
    "split_leakage" ->
      s"""WITH RECURSIVE ${jaccardPairCtes("source")},
         |pr AS (SELECT a_id, b_id FROM p WHERE 50 * inter >= 1 * (a_n + b_n - inter)),
         |sym AS (SELECT a_id AS a, b_id AS b FROM pr UNION SELECT b_id, a_id FROM pr),
         |reach(id, r) AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a),
         |comp AS (SELECT id, LEAST(id, MIN(r)) AS component FROM reach GROUP BY id),
         |asg AS (SELECT coalesce(c.component, d.doc_id) AS component,
         |  CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || ':leak42'), 1, 8) < '${splitThresholds(0)}' THEN 'train'
         |       WHEN substr(md5(CAST(d.doc_id AS VARCHAR) || ':leak42'), 1, 8) < '${splitThresholds(1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |m AS (SELECT component, split, count(*) AS m FROM asg GROUP BY 1, 2)
         |SELECT a.split AS split_a, b.split AS split_b,
         |  CAST(count(*) AS BIGINT) AS n_components,
         |  CAST(SUM(a.m * b.m) AS BIGINT) AS n_leaked_pairs
         |FROM m a JOIN m b ON a.component = b.component AND a.split < b.split
         |GROUP BY 1, 2""".stripMargin
  )
}
