package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.operators.{Anomaly, Correlate, DailyCounts, Experiment, Hnsw, IndexStore, TextIndex, TimeSeries, Web, Bpe, Cardinality, Clustering, Cooccur, Decontaminate, Dedup, EditDistance, Embeddings, Extract, Frequencies, Funnel, Graph, Ivf, Joins, Multimodal, Pq, Quantiles, Sampling, Scd2, Sessionize, Similarity, Sketch, TextAnalysis, Upsert, Validate}
import graft.operators.Ckpt.PinOps
import graft.streaming.IncrementalStream

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extension operators), each with an
  * equivalent DuckDB oracle in [[oracleSql]].
  *
  * Determinism rules applied throughout (the driver hash-compares values):
  *  - aggregates over doubles go through exact DECIMAL arithmetic and are
  *    cast to double only at the very end (float summation order would
  *    otherwise diverge between engines);
  *  - timestamps are emitted as formatted strings (Spark writes
  *    UTC-adjusted parquet timestamps, DuckDB reads naive ones — strings
  *    sidestep the logical-type mismatch);
  *  - every ranking has a total order (explicit tie-break columns);
  *  - cosine scores are bit-identical by construction: the Spark kernel
  *    widens float elements to double and accumulates ascending
  *    (VectorExprs.scala), exactly like DuckDB's
  *    `list_cosine_similarity(CAST(... AS DOUBLE[]), ...)`.
  */
/** One registry tier of the driver contract: a slice of
  * [[SparkEntry.queries]] with its matching [[SparkEntry.oracleSql]] slice.
  * The per-tier objects live under `graft.registry` (round-14 split of the
  * former 7k-line single-object map literals). */
private[graft] trait Registry {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

object SparkEntry {

  /** Flagship query (reference merge-source, `embeddings-pipeline.py:297-326`)
    * on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("merge_source")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- helpers

  private[graft] def ts6(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Stand-in country_code on the documents table: null for "en" docs so the
    * reference's `"(None)"` display-name quirk (P6) is exercised. */
  private[graft] def docCountry: Column = when(col("lang") =!= "en", col("lang"))

  /** The documents table re-cast as the reference's source-document shape:
    * source→cleaned_ref-ish key parts, lang→color, doc_id→recency. */
  private[graft] def docRecord(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      Extract.mainRefco(col("source"), col("lang")).as("main_refco"),
      Extract.displayName(col("source"), docCountry).as("display_name"),
      col("n_chars"))

  // ---------------------------------------------------------- shared builds
  //
  // Session-keyed builds that several queries read ([[SharedBuild]]).
  // Each row states its knobs once: a labeled row's plan frame is the
  // same lazy stage its build runs, so a knob or operator change in a
  // build moves its bench fingerprint (VERDICT r14 #1) even though the
  // build is cached while timed.

  /** A pinned row: the build is its plan frame, `localCheckpoint`ed so
    * reuse is a flat file-backed scan instead of a lineage replay. */
  private def pinnedRow(name: String, consumers: Set[String],
      frame: (SparkSession, String) => DataFrame): SharedBuild[DataFrame] =
    new SharedBuild[DataFrame](name, consumers, Some(frame),
      (s, d) => frame(s, d).localCheckpoint())

  /** The even-doc half the held-out tokenizer monitors train on (scoring
    * must never see the odd half). */
  private def evenHalfDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).where(col("doc_id") % 2 === 0)

  /** The corpus-facing stage of both even-half tokenizer trains (their
    * merge/EM rounds are adaptive loops that run jobs at construction);
    * the two labels intentionally share this plan. */
  private def evenHalfWordFreqFrame(s: SparkSession, dir: String): DataFrame =
    Bpe.wordFrequencies(evenHalfDocs(s, dir), "text")

  private def bpeMerges(docs: DataFrame): Seq[(String, String)] =
    Bpe.train(docs, "text", numMerges = 10)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq

  private def unigramVocab(docs: DataFrame): Map[String, Long] =
    graft.operators.Unigram.vocabCounts(graft.operators.Unigram.train(
      docs, "text", rounds = 2, seedSize = 200, vocabSize = 120))

  /** The pair stage feeding the CC fold (the fold itself is an adaptive
    * loop that runs jobs at construction). */
  private def ccPairsFrame(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
      blockCol = "source", n = 3, thresholdNum = 1, thresholdDen = 50)

  /** The value-shift monitors' shared arguments: events, event_type,
    * cents, final week. */
  private def onWeekValues[T](
      f: (DataFrame, String, Column, Column, Int) => T): (SparkSession, String) => T =
    (s, d) => f(weekValuedEvents(s, d), "event_type", col("cents"), col("__day"), 7)

  /** ONE pair→connected-components materialization: the survivor
    * policies and the component splits all run the identical
    * n-gram-Jaccard pair stage and CC, so each paying the CC loop's
    * fixed per-round cost is pure waste (VERDICT r7 #3). */
  private[graft] val ccSharedBuild = new SharedBuild[DataFrame]("cc_shared_build",
    Set("dedup_survivors", "dedup_survivors_best", "dup_cluster_sizes",
      "split_by_component", "split_leakage"),
    Some(ccPairsFrame _),
    (s, d) => Graph.connectedComponents(ccPairsFrame(s, d), "a_id", "b_id")
      .localCheckpoint())

  /** ONE token-window span table: `dup_passages` returns it and
    * `dup_passage_clean` splices by it — the window exchange + census is
    * the family's whole cost. */
  private[graft] val passageSpansShared = pinnedRow("passage_spans_shared",
    Set("dup_passages", "dup_passage_clean"),
    (s, d) => Dedup.duplicatedPassageSpans(Tables.documents(s, d), "doc_id", "text", w = 8))

  /** The BPE fertility monitor's even-half training pass; billed here so
    * `tokenizer_fertility` reads score-only. */
  private[graft] val bpeFertilityTrain = new SharedBuild[Seq[(String, String)]](
    "bpe_fertility_train", Set("tokenizer_fertility"),
    Some(evenHalfWordFreqFrame _), (s, d) => bpeMerges(evenHalfDocs(s, d)))

  /** The unigram twin of [[bpeFertilityTrain]]. */
  private[graft] val unigramFertilityTrain = new SharedBuild[Map[String, Long]](
    "unigram_fertility_train", Set("unigram_fertility"),
    Some(evenHalfWordFreqFrame _), (s, d) => unigramVocab(evenHalfDocs(s, d)))

  private def hnswEdgesRow(name: String, consumers: Set[String], planes: Int) =
    pinnedRow(name, consumers, (s, d) => Hnsw.knnEdges(Tables.embeddings(s, d),
      "vec_id", "embedding", dim = 64, m = 8, maxLevel = 3, planes = planes, tables = 4))

  /** ONE layered-edge graph: `ann_hnsw` and `hnsw_recall` search the
    * identical graph (the recall harness measures the search brute force
    * is compared against). */
  private[graft] val hnswEdgesShared = hnswEdgesRow("hnsw_edges_shared",
    Set("ann_hnsw", "hnsw_recall"), planes = 4)

  /** The AutoPlanes gate entry's graph (stats-derived plane count, so a
    * different graph than [[hnswEdgesShared]]). */
  private[graft] val hnswAutoEdgesShared = hnswEdgesRow("hnsw_auto_edges_shared",
    Set("ann_hnsw_auto"), planes = Dedup.AutoPlanes)

  /** ONE pinned two-slice (key, value) histogram (round 18): the three
    * value-shift monitors are read-outs of one monitoring decision over
    * identical arguments, so each pinning its own tripled the family's
    * corpus scans. */
  private[graft] val twosliceHistShared = new SharedBuild[DataFrame](
    "twoslice_hist_shared", Set("ks_value_shift", "ranksum_shift", "median_shift"),
    Some(onWeekValues(Validate.twoSliceHistogramByDayFrame)),
    onWeekValues(Validate.twoSliceHistogramByDay(_, _, _, _, _)))

  /** ONE exact ground-truth ranking (first-20-queries cosine top-5, the
    * deliberately quadratic pass) shared by the ANN recall harnesses
    * (round 18) — one ground truth amortized over a knob sweep.
    * `cosine_topk` stays independent: it gates the operator itself. */
  private[graft] val bruteTopkShared = pinnedRow("brute_topk_shared",
    Set("ivf_recall", "hnsw_recall", "binary_recall", "pq_recall"), (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 20), emb, k = 5)
    })

  /** ONE contaminated-span table (round 18): `decon_spans` returns it and
    * `decon_span_clean` splices by it — the passage-span precedent. */
  private[graft] val deconSpansShared = pinnedRow("decon_spans_shared",
    Set("decon_spans", "decon_span_clean"), (s, d) => {
      val docs = Tables.documents(s, d)
      Decontaminate.contaminatedSpans(
        docs.where(pmod(col("doc_id"), lit(50)) =!= 0), "doc_id", "text",
        docs.where(pmod(col("doc_id"), lit(50)) === 0), "doc_id", "text", w = 4)
    })

  /** The full-corpus BPE merges `bpe_encode` applies. Training is
    * deterministic, so reuse changes nothing; the train cost is
    * `bpe_train`'s own entry. */
  private[graft] val bpeMergesShared = new SharedBuild[Seq[(String, String)]](
    "bpe_merges_shared", Set("bpe_encode"), None,
    (s, d) => bpeMerges(Tables.documents(s, d)))

  /** The full-corpus unigram vocab `unigram_encode` applies — the
    * [[bpeMergesShared]] posture. */
  private[graft] val unigramVocabShared = new SharedBuild[Map[String, Long]](
    "unigram_vocab_shared", Set("unigram_encode"), None,
    (s, d) => unigramVocab(Tables.documents(s, d)))

  /** Every shared build: the labeled rows in bench order, then the
    * unlabeled ones. */
  private[graft] val sharedBuilds: Seq[SharedBuild[_ <: AnyRef]] = Seq(
    ccSharedBuild, passageSpansShared, bpeFertilityTrain, unigramFertilityTrain,
    hnswEdgesShared, hnswAutoEdgesShared, twosliceHistShared, bruteTopkShared,
    deconSpansShared, bpeMergesShared, unigramVocabShared)

  // perfbench/ bills these three builds by name inside its query mix
  private[graft] def buildSharedCc(s: SparkSession, dir: String): Unit =
    ccSharedBuild.build(s, dir)
  private[graft] def buildSharedHnswEdges(s: SparkSession, dir: String): Unit =
    hnswEdgesShared.build(s, dir)
  private[graft] def buildSharedBpeEven(s: SparkSession, dir: String): Unit =
    bpeFertilityTrain.build(s, dir)

  // ---------------------------------------------------------------- queries

  /** Recall combinator shared by the recall harnesses (`ivf_recall` /
    * `binary_recall` / …, and `lsh_recall` via the key/name overrides):
    * permille of the exact pairs the approximate ranking recovered.
    *
    * PRECONDITION (ADVICE r18): both inputs must be duplicate-free on
    * `keys` — the full-outer join multiplies duplicate keys, inflating
    * every count, where the pre-r18 independent count(*) form did not.
    * Every call site is distinct-by-construction (row_number top-k
    * rankings, groupBy'd LSH pair sets); a new caller must be too.
    *
    * Single-pass shape (round 18): ONE full-outer join of the two pair
    * sets and ONE aggregate computes all three counts. The previous form
    * (a semi join + three crossJoined 1-row counts) referenced each
    * ranking TWICE, so each reference re-ran the full ranking — the
    * exact side is the deliberately-quadratic brute-force pass, and the
    * r18 plan audit read 12 copies of the embeddings scan in
    * pq_recall/binary_recall (runtime exchange reuse recovered only the
    * exchange-identical parts). Now each ranking is evaluated exactly
    * once, at any scale, with no checkpoint job. Counts coalesce to 0 on
    * an empty side, matching the old count(*) semantics. */
  private[graft] def recallVsExact(exact: DataFrame, approx: DataFrame,
      keys: Seq[String] = Seq("query_id", "neighbor_id"),
      approxCountName: String = "n_approx"): DataFrame = {
    val ex = exact.select(keys.map(col) :+ lit(1L).as("__e"): _*)
    val ap = approx.select(keys.map(col) :+ lit(1L).as("__a"): _*)
    ex.join(ap, keys, "full_outer")
      .agg(coalesce(sum("__e"), lit(0L)).as("n_exact"),
        coalesce(sum("__a"), lit(0L)).as(approxCountName),
        coalesce(sum(when(col("__e").isNotNull && col("__a").isNotNull, 1L)),
          lit(0L)).as("n_hit"))
      .withColumn("recall_permille", expr("n_hit * 1000 div n_exact"))
  }

  /** The registered demo lexicon for `topic_classify`: terms drawn from
    * the synthetic corpus vocabulary so every topic actually wins on
    * some documents; ONE definition feeds both the Spark query and the
    * generated VALUES clause of its oracle — no drift. */
  private[graft] val GraftLexicon: Seq[(String, String, Long)] = Seq(
    ("spark", "compute", 1000000L), ("query", "compute", 800000L),
    ("join", "compute", 600000L), ("scan", "compute", 500000L),
    ("customer", "commerce", 1000000L), ("order", "commerce", 800000L),
    ("part", "commerce", 500000L), ("line", "commerce", 400000L),
    ("window", "analytics", 700000L), ("data", "analytics", 500000L),
    ("row", "analytics", 400000L), ("table", "analytics", 300000L))

  /** Deterministic synthetic URL per doc id, shared by domain_census
    * and domain_cap (and mirrored closed-form by both oracles — one
    * definition, no drift): scheme-less for id%7=0, `:8080` port for
    * id%5=0, always a subdomain, `co.uk` multi-label suffix for
    * id%4=3. */
  private[graft] def syntheticUrl(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val tld = element_at(
      array(lit("com"), lit("org"), lit("io"), lit("co.uk")),
      (pmod(id, lit(4)) + 1).cast("int"))
    concat(
      when(pmod(id, lit(7)) === 0, lit("")).otherwise(lit("https://")),
      lit("sub"), pmod(id, lit(3)),
      lit(".site"), pmod(id, lit(97)), lit("."), tld,
      when(pmod(id, lit(5)) === 0, lit(":8080")).otherwise(lit("")),
      lit("/p/"), id)
  }

  /** Deterministic MESSY synthetic URL per doc id for the
    * canonicalization gates — every alias class the canonicalizer
    * handles, keyed off id arithmetic so the oracle can emit the
    * expected canonical closed-form: mixed-case scheme+host (id%2),
    * default `:443` port (id%5=0) vs real `:8080` (id%5=1), tracking
    * params in unsorted company (id%4=0), tracking-only query (id%4=1),
    * unsorted clean params (id%4=2), fragment (id%6=0), empty path
    * (id%9=0). */
  private[graft] def syntheticTrackedUrl(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val scheme = when(pmod(id, lit(2)) === 0, lit("HTTPS://"))
      .otherwise(lit("https://"))
    val host = concat(
      when(pmod(id, lit(2)) === 0, lit("SITE")).otherwise(lit("site")),
      pmod(id, lit(97)), lit(".com"))
    val port = when(pmod(id, lit(5)) === 0, lit(":443"))
      .when(pmod(id, lit(5)) === 1, lit(":8080")).otherwise(lit(""))
    val path = when(pmod(id, lit(9)) === 0, lit(""))
      .otherwise(concat(lit("/p/"), id))
    val query = when(pmod(id, lit(4)) === 0, lit("?utm_source=x&b=2&a=1"))
      .when(pmod(id, lit(4)) === 1, lit("?gclid=z"))
      .when(pmod(id, lit(4)) === 2, lit("?z=9&y=8"))
      .otherwise(lit(""))
    val frag = when(pmod(id, lit(6)) === 0, lit("#frag")).otherwise(lit(""))
    concat(scheme, host, port, path, query, frag)
  }

  /** All registry tiers, in gate order. Composed with `++` — a duplicate
    * key across tiers would silently drop an entry, so [[queries]] and
    * [[oracleSql]] both require the tier sizes to sum exactly. */
  // lazy: tier init calls SparkEntry oracle helpers that read SparkEntry
  // vals — an eager Seq here would force tier init DURING SparkEntry's own
  // init and those vals would still be null.
  private[graft] lazy val tiers = Seq(TierCore, TierTpch, TierDedup, TierAnn, TierText, TierWeb, TierCuration, TierMonitor, TierGraph, TierMultimodal)

  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val merged = tiers.iterator.map(_.queries).reduce(_ ++ _)
    require(merged.size == tiers.map(_.queries.size).sum,
      "duplicate query key across registry tiers")
    merged
  }

  // ------------------------------------------------------------- oracle SQL

  private[graft] val NormalizedKey =
    "substring(lower(rtrim(translate(strip_accents(%s), '.$', ''))), 1, 100)"
  private[graft] val Stop =
    TextAnalysis.Stopwords.map(w => s"'$w'").mkString("(", ",", ")")
  /** DuckDB rendering of `z * c mod 2^64` for `z` held in UBIGINT: HUGEINT
    * is signed-128 so `z·c` can overflow it — split `z` at 2^32 and
    * recombine (`lo·c + ((hi·c) mod 2^32)·2^32`, all < 2^97). Mirrors the
    * wrapping Long multiply in [[graft.functions.PortableHash.mix64]]. */
  private[graft] def sqlMulMod64(z: String, c: String): String =
    s"CAST(((CAST($z AS HUGEINT) % 4294967296) * $c" +
      s" + ((CAST($z AS HUGEINT) // 4294967296) * $c % 4294967296) * 4294967296)" +
      s" % 18446744073709551616 AS UBIGINT)"

  /** VALUES rows `(table, plane, hyperplane_vector)` for the SRP-LSH
    * oracle — the exact doubles the Spark expression uses
    * ([[graft.functions.SrpBucket.hyperplanes]]), shortest-roundtrip
    * formatted so SQL parses back the identical bits. */
  private[graft] def srpPlanesValues(planes: Int, dim: Int, seed: Long, tables: Int): String =
    (0 until tables).flatMap { t =>
      val h = graft.functions.SrpBucket.hyperplanes(planes, dim, seed + t)
      (0 until planes).map { p =>
        val vec = h.slice(p * dim, (p + 1) * dim).mkString("[", ",", "]")
        s"($t, $p, CAST($vec AS DOUBLE[]))"
      }
    }.mkString(",\n")

  /** Full-algorithm mirror of [[graft.operators.Hnsw]] as a CTE chain
    * ending in the final layer-0 beam `s${3 + rounds}` (query_id, node):
    * SRP buckets from the interpolated hyperplane literals,
    * mix64-trailing-zero levels (the halfSampleCi hash chain),
    * bucket-candidate top-`m` edges per layer, deterministic entry
    * point, three greedy upper-layer steps (layers 3→1, beam 1), then
    * `rounds` beam-`beam` layer-0 rounds (both registered oracles call
    * it with beam = 16, rounds = 3 and read from `s6`). Every step is a
    * finite join, so the approximate search replays EXACTLY — no recall
    * assumption.
    *
    * `planes` sizes the SRP candidate generator: 4 for the fixed-shape
    * oracles; the AutoPlanes gate entries pass the stats-derived count
    * via [[dataDependentOracles]] so the gated plan is the production
    * occupancy-matched shape (VERDICT r13 #1). */
  private[graft] def hnswSearchCtes(m: Int, beam: Int, rounds: Int,
      planes: Int = 4): String = {
    // one search step: expand the frontier's layer-`layer` edges, union
    // the frontier, dedup, re-score against the query vector, keep `b`
    def step(prev: String, out: String, layer: Int, b: Int): String =
      s"""$out AS MATERIALIZED (SELECT query_id, node FROM (
         |  SELECT d.query_id, d.node,
         |    row_number() OVER (PARTITION BY d.query_id
         |      ORDER BY list_cosine_similarity(q.qv, ev.v) DESC, d.node) AS rn
         |  FROM (SELECT DISTINCT query_id, node FROM (
         |          SELECT query_id, node FROM $prev
         |          UNION ALL
         |          SELECT f.query_id, g.dst AS node
         |          FROM $prev f JOIN edg g ON g.layer = $layer AND g.src = f.node
         |        ) u) d
         |  JOIN qs q ON q.query_id = d.query_id
         |  JOIN e ev ON ev.vec_id = d.node) r
         |WHERE rn <= $b)""".stripMargin
    s"""hp AS (SELECT * FROM (VALUES
       |${srpPlanesValues(planes = planes, dim = 64, seed = 42L, tables = 4)}
       |) AS t(t, p, pv)),
       |bits AS (SELECT e.vec_id, hp.t, hp.p,
       |    CASE WHEN list_reduce(
       |           list_transform(generate_series(1, 64), i -> v[i] * pv[i]),
       |           (a, b) -> a + b) >= 0
       |         THEN 1 << hp.p ELSE 0 END AS bit
       |  FROM e CROSS JOIN hp),
       |buck AS MATERIALIZED (SELECT vec_id, t, sum(bit) AS bucket FROM bits GROUP BY vec_id, t),
       |lz0 AS (SELECT vec_id,
       |  list_reduce([CAST(ascii(s[i:i]) AS HUGEINT) for i in range(1, len(s) + 1)],
       |    (acc, c) -> (acc * 31 + c) % 18446744073709551616) AS z
       |  FROM (SELECT vec_id, CAST(vec_id AS VARCHAR) || ':hnsw' AS s FROM e) t0),
       |lz1 AS (SELECT vec_id, xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 30) AS z FROM lz0),
       |lz2 AS (SELECT vec_id, ${sqlMulMod64("z", "13787848793156543929")} AS z FROM lz1),
       |lz3 AS (SELECT vec_id, xor(z, z >> 27) AS z FROM lz2),
       |lz4 AS (SELECT vec_id, ${sqlMulMod64("z", "10723151780598845931")} AS z FROM lz3),
       |lvl AS (SELECT vec_id,
       |    CASE WHEN (h & 1) <> 0 THEN 0 WHEN (h & 2) <> 0 THEN 1
       |         WHEN (h & 4) <> 0 THEN 2 ELSE 3 END AS level
       |  FROM (SELECT vec_id, xor(z, z >> 31) AS h FROM lz4) t1),
       |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |         FROM buck a JOIN buck b
       |           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |sc AS (SELECT src, dst, list_cosine_similarity(ea.v, eb.v) AS cos,
       |         least(la.level, lb.level) AS plv
       |       FROM cand JOIN e ea ON ea.vec_id = src JOIN e eb ON eb.vec_id = dst
       |                 JOIN lvl la ON la.vec_id = src JOIN lvl lb ON lb.vec_id = dst),
       |edg AS MATERIALIZED (SELECT layer, src, dst, cos FROM (
       |          SELECT src, dst, cos, unnest(generate_series(0, plv)) AS layer
       |          FROM sc) x
       |        QUALIFY row_number() OVER (PARTITION BY layer, src
       |          ORDER BY cos DESC, dst) <= $m),
       |ent AS (SELECT vec_id AS node FROM lvl ORDER BY level DESC, vec_id LIMIT 1),
       |qs AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
       |s0 AS MATERIALIZED (SELECT query_id, node FROM qs CROSS JOIN ent),
       |${step("s0", "s1", 3, 1)},
       |${step("s1", "s2", 2, 1)},
       |${step("s2", "s3", 1, 1)},
       |${(1 to rounds).map(r => step(s"s${2 + r}", s"s${3 + r}", 0, beam))
          .mkString(",\n")}""".stripMargin
  }

  /** The cosine_neardup_lsh oracle, parameterized by plane count: SRP
    * hyperplanes interpolated as literals, sign-bit bucketing, within-
    * bucket candidates, exact cosine verification — the single source for
    * BOTH the fixed-shape gate entry (`planes = 4`) and the AutoPlanes
    * gate entry (stats-derived count via [[dataDependentOracles]]). */
  private[graft] def cosineNearDupLshSql(planes: Int): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |hp AS (SELECT * FROM (VALUES
       |${srpPlanesValues(planes = planes, dim = 64, seed = 42L, tables = 4)}
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
       |           ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT a_id, b_id, list_cosine_similarity(ea.v, eb.v) AS cos
       |FROM cand JOIN e ea ON ea.vec_id = a_id JOIN e eb ON eb.vec_id = b_id
       |WHERE list_cosine_similarity(ea.v, eb.v) >= 0.4""".stripMargin

  /** The ann_hnsw oracle, parameterized by plane count — same single-source
    * contract as [[cosineNearDupLshSql]]. */
  private[graft] def hnswTopKSql(planes: Int): String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${hnswSearchCtes(m = 8, beam = 16, rounds = 3, planes = planes)}
       |SELECT d.query_id,
       |  CAST(row_number() OVER (PARTITION BY d.query_id
       |    ORDER BY list_cosine_similarity(q.qv, ev.v) DESC, d.node) AS BIGINT)
       |    AS rank,
       |  d.node AS neighbor_id, list_cosine_similarity(q.qv, ev.v) AS cos
       |FROM s6 d JOIN qs q ON q.query_id = d.query_id
       |          JOIN e ev ON ev.vec_id = d.node
       |WHERE d.node <> d.query_id
       |QUALIFY row_number() OVER (PARTITION BY d.query_id
       |  ORDER BY list_cosine_similarity(q.qv, ev.v) DESC, d.node) <= 5""".stripMargin

  /** Oracle SQL whose literals derive from CORPUS STATISTICS — generated
    * at oracle-build time (the Verify dump) instead of compile time, and
    * composed into `oracle_sql.json` next to the static [[oracleSql]]
    * entries.
    *
    * This is the AutoPlanes gate family (VERDICT r13 #1): the fixed-shape
    * ANN/near-dup entries pin `planes = 4` because their oracles
    * interpolate hyperplane literals, but the PRODUCTION default sizes the
    * plane count from optimizer statistics ([[Dedup.autoPlanesFor]] —
    * measured 10× exponent 0.23 vs 0.72–0.79 for the fixed shape, SURVEY
    * §6.-2n). These entries gate THAT shape: the Spark side passes
    * [[Dedup.AutoPlanes]], and the oracle's hyperplane VALUES are emitted
    * here from the SAME deterministic stats-derived count, so both sides
    * bucket identically at any corpus size. `autoPlanesFor` reads plan
    * statistics only — zero Spark jobs fire here or at query construction
    * (PlanSpec asserts). */
  def dataDependentOracles(spark: SparkSession, sfDir: String): Map[String, String] = {
    val planes = Dedup.autoPlanesFor(Tables.embeddings(spark, sfDir), dim = 64)
    Map(
      "cosine_neardup_auto" -> cosineNearDupLshSql(planes),
      "ann_hnsw_auto" -> hnswTopKSql(planes))
  }

  /** Exact integer Q10 log2 as a DuckDB fragment — mirrors
    * [[graft.operators.Unigram.ilogQ10]] bit for bit (`length(bin(c))`
    * gives `floor(log2 c) + 1` in both engines; all ops integer). */
  private def uniIlogSql(c: String): String = {
    val m = s"(length(bin($c)) - 1)"
    val p2 = s"(CAST(1 AS BIGINT) << $m)"
    s"($m * 1024 + (($c - $p2) * 1024 // $p2))"
  }

  /** The unigram Viterbi DP as an UNROLLED chain of per-position CTEs —
    * `<tag>0 … <tag>{MaxWordLen}`, each appending position p's best
    * (score, argj) struct to the growing `best` table. The natural
    * nested `list_reduce` (inner candidate-max referencing the outer
    * fold's accumulator) miscomputes NONDETERMINISTICALLY in DuckDB
    * 1.0's vectorized lambda evaluation (measured: per-word
    * segmentations flip between runs, some don't cover the word);
    * single-level lambdas that reference only plain COLUMNS — `best`,
    * `m` — are the proven-reliable pattern (the hash chains, the
    * pointer-walk fold), so each position is its own CTE with the
    * position index interpolated as a constant. The inner max keeps the
    * engine's exact tie-break: higher score, then smaller start (=
    * longer piece). Positions past len(w) append NULL padding the walk
    * never reads. */
  private def uniDpChain(tag: String, src: String): String = {
    val L = graft.operators.Unigram.MaxPieceLen
    val W = graft.operators.Unigram.MaxWordLen
    val b0 =
      s"""${tag}0 AS (SELECT *,
         |  CAST([{s: 0, j: -1}] AS STRUCT(s BIGINT, j INT)[]) AS best FROM $src)""".stripMargin
    val steps = (1 to W).map { p =>
      val lo = math.max(1, p - (L - 1))
      s"""$tag$p AS (SELECT * REPLACE (list_append(best,
         |  CASE WHEN len(w) >= $p THEN
         |    list_reduce(list_transform(generate_series($lo, $p), jj ->
         |      CASE WHEN m[(jj-1)*64 + $p][1] IS NULL OR best[jj] IS NULL THEN NULL
         |           ELSE {s: best[jj].s + m[(jj-1)*64 + $p][1], j: jj-1} END),
         |      (b, c) -> CASE WHEN c IS NULL THEN b WHEN b IS NULL THEN c
         |                     WHEN c.s > b.s OR (c.s = b.s AND c.j < b.j) THEN c ELSE b END)
         |  ELSE NULL END) AS best) FROM $tag${p - 1})""".stripMargin
    }
    (b0 +: steps).mkString(",\n")
  }

  /** The backtrack as a second fold: walk the argj pointers from len(w)
    * collecting VISITED POSITIONS (an INT[] accumulator — a struct
    * accumulator whose fields cross-reference miscomputes in DuckDB
    * 1.0's list_reduce, measured; a flat list is reliable). Pieces are
    * then the substrings between consecutive visited positions. */
  private def uniVisSql: String =
    s"""list_reduce(
       |    list_prepend(CAST([len(w)] AS INT[]),
       |      list_transform(generate_series(1, len(w)), x -> CAST([0] AS INT[]))),
       |    (vis, _x) -> CASE WHEN vis[len(vis)] <= 0 THEN vis
       |                      ELSE list_append(vis, d[vis[len(vis)] + 1].j) END)""".stripMargin

  /** Full-algorithm mirror of [[graft.operators.Unigram.train]]: word
    * freqs → bounded spans (chars-only past MaxWordLen) → seed (all chars
    * + top `seedSize` multi) → `rounds` Viterbi-EM rounds (scores from
    * exact Q10 integer logs, per-word DP + backtrack, usage fold,
    * char-floor/prune) → chars-protected final vocab of `vocabSize`.
    * Ends in CTE `fin` (piece, cnt); [[uniFinalSelect]] ranks it. */
  private[graft] def unigramTrainCtes(rounds: Int, seedSize: Int,
      vocabSize: Int, from: String = "documents"): String = {
    val L = graft.operators.Unigram.MaxPieceLen
    val W = graft.operators.Unigram.MaxWordLen
    val head =
      s"""wf AS MATERIALIZED (SELECT w, count(*) AS freq
         |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $from)
         |       WHERE w <> '' GROUP BY w),
         |sp AS MATERIALIZED (SELECT w, freq, j, p, w[j+1:p] AS piece FROM wf,
         |  unnest(generate_series(0, len(w)-1)) tj(j),
         |  unnest(generate_series(j+1, CASE WHEN len(w) <= $W THEN least(j+$L, len(w)) ELSE j+1 END)) tp(p)),
         |seed AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM sp GROUP BY piece),
         |c0 AS MATERIALIZED (
         |  SELECT piece, cnt FROM seed WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM seed WHERE len(piece) > 1
         |  QUALIFY row_number() OVER (ORDER BY cnt DESC, piece) <= $seedSize)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"c${r - 1}"
      s"""t$r AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM $prev),
         |s$r AS (SELECT piece, ${uniIlogSql("cnt")} - ${uniIlogSql("tt")} AS pscore FROM $prev, t$r),
         |m$r AS MATERIALIZED (SELECT sp.w, sp.freq,
         |        map_from_entries(list(struct_pack(k := sp.j*64+sp.p, v := s.pscore))) AS m
         |      FROM sp JOIN s$r s USING (piece) WHERE len(sp.w) <= $W
         |      GROUP BY sp.w, sp.freq),
         |${uniDpChain(s"b${r}_", s"m$r")},
         |d$r AS MATERIALIZED (SELECT w, freq, best AS d FROM b${r}_$W),
         |v$r AS (SELECT w, freq, $uniVisSql AS vis FROM d$r),
         |g$r AS (SELECT w, freq,
         |        list_transform(generate_series(1, len(vis)-1), i -> w[vis[i+1]+1 : vis[i]]) AS pieces
         |      FROM v$r),
         |u$r AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS usage FROM (
         |        SELECT freq, unnest(pieces) AS piece FROM g$r
         |        UNION ALL
         |        SELECT freq, unnest([w[i:i] for i in range(1, len(w)+1)]) AS piece
         |        FROM wf WHERE len(w) > $W) GROUP BY piece),
         |c$r AS MATERIALIZED (SELECT c.piece,
         |        CASE WHEN len(c.piece) = 1 THEN greatest(coalesce(u.usage, 0), 1)
         |             ELSE coalesce(u.usage, 0) END AS cnt
         |      FROM $prev c LEFT JOIN u$r u USING (piece)
         |      WHERE len(c.piece) = 1 OR coalesce(u.usage, 0) > 0)""".stripMargin
    }.mkString(",\n")
    val fin =
      s"""ch AS (SELECT piece, cnt FROM c$rounds WHERE len(piece) = 1),
         |mu AS (SELECT piece, cnt FROM c$rounds WHERE len(piece) > 1
         |       QUALIFY row_number() OVER (ORDER BY cnt DESC, piece)
         |         <= greatest($vocabSize - (SELECT count(*) FROM ch), 0)),
         |fin AS MATERIALIZED (SELECT piece, cnt FROM ch UNION ALL SELECT piece, cnt FROM mu)""".stripMargin
    s"$head,\n$roundCtes,\n$fin"
  }

  private[graft] def uniFinalSelect: String =
    """SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS BIGINT) AS rank,
      |  piece, cnt FROM fin""".stripMargin

  /** Per-doc unigram token stats under the trained final vocab — the
    * bpe_encode twin: the train chain replays, then every DISTINCT word
    * Viterbi-segments under the FINAL counts and the per-doc aggregate
    * joins words back. */
  private[graft] def unigramEncodeSql(rounds: Int, seedSize: Int,
      vocabSize: Int): String = {
    val W = graft.operators.Unigram.MaxWordLen
    s"""WITH ${unigramTrainCtes(rounds, seedSize, vocabSize)},
       |tf AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM fin),
       |sf AS (SELECT piece, ${uniIlogSql("cnt")} - ${uniIlogSql("tt")} AS pscore FROM fin, tf),
       |mf AS MATERIALIZED (SELECT sp.w, map_from_entries(list(struct_pack(k := sp.j*64+sp.p, v := s.pscore))) AS m
       |      FROM sp JOIN sf s USING (piece) WHERE len(sp.w) <= $W GROUP BY sp.w),
       |${uniDpChain("bf_", "mf")},
       |df_ AS MATERIALIZED (SELECT w, best AS d FROM bf_$W),
       |vf AS (SELECT w, $uniVisSql AS vis FROM df_),
       |np AS (SELECT w, CAST(len(vis) - 1 AS BIGINT) AS n_pieces FROM vf
       |       UNION ALL
       |       SELECT w, CAST(len(w) AS BIGINT) FROM wf WHERE len(w) > $W),
       |dw AS (SELECT doc_id, w FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |       WHERE w <> '')
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(SUM(n_pieces) AS BIGINT) AS n_tokens,
       |  CAST(SUM(len(w)) AS BIGINT) AS n_chars
       |FROM dw JOIN np USING (w) GROUP BY doc_id""".stripMargin
  }

  /** Held-out unigram fertility mirror: train replay on the even half
    * ([[unigramTrainCtes]]), final-vocab scores, a COVERAGE gate (a word
    * carrying a char outside the trained vocab cannot be covered by any
    * piece path and falls back to per-char tokens — the engine's
    * `Unigram.tokenCounts` contract), the held-out words' DP chain, and
    * the per-source fertility/OOV aggregate; OOV = absence from the
    * train half's word table (`wf` IS that table here), the BPE oracle's
    * convention. */
  private[graft] def unigramFertilitySql(rounds: Int, seedSize: Int,
      vocabSize: Int): String = {
    val W = graft.operators.Unigram.MaxWordLen
    val L = graft.operators.Unigram.MaxPieceLen
    s"""WITH ${unigramTrainCtes(rounds, seedSize, vocabSize,
          from = "(SELECT * FROM documents WHERE doc_id % 2 = 0)")},
       |tf AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tt FROM fin),
       |sf AS (SELECT piece, ${uniIlogSql("cnt")} - ${uniIlogSql("tt")} AS pscore FROM fin, tf),
       |hwf AS MATERIALIZED (SELECT w, count(*) AS freq
       |      FROM (SELECT unnest(string_split(text, ' ')) AS w
       |            FROM documents WHERE doc_id % 2 = 1)
       |      WHERE w <> '' GROUP BY w),
       |vch AS (SELECT piece AS c FROM fin WHERE len(piece) = 1),
       |hcov AS MATERIALIZED (SELECT w FROM (
       |        SELECT t.w, ch.c AS hit FROM (
       |          SELECT hwf.w, u.c FROM hwf,
       |            unnest([hwf.w[i:i] for i in range(1, len(hwf.w)+1)]) AS u(c)) t
       |        LEFT JOIN vch ch ON ch.c = t.c)
       |      GROUP BY w HAVING count(*) FILTER (hit IS NULL) = 0),
       |hsp AS (SELECT w, j, p, w[j+1:p] AS piece
       |      FROM (SELECT w FROM hcov WHERE len(w) <= $W) hw,
       |        unnest(generate_series(0, len(w)-1)) tj(j),
       |        unnest(generate_series(j+1, least(j+$L, len(w)))) tp(p)),
       |hm AS MATERIALIZED (SELECT hsp.w,
       |        map_from_entries(list(struct_pack(k := hsp.j*64+hsp.p, v := s.pscore))) AS m
       |      FROM hsp JOIN sf s USING (piece) GROUP BY hsp.w),
       |${uniDpChain("hb_", "hm")},
       |hd AS MATERIALIZED (SELECT w, best AS d FROM hb_$W),
       |hv AS (SELECT w, $uniVisSql AS vis FROM hd),
       |hnp AS (SELECT w, CAST(len(vis) - 1 AS BIGINT) AS n_pieces FROM hv
       |        UNION ALL
       |        SELECT w, CAST(len(w) AS BIGINT) FROM hwf
       |        WHERE len(w) > $W OR w NOT IN (SELECT w FROM hcov)),
       |tok AS (SELECT source, w FROM (
       |        SELECT source, unnest(string_split(text, ' ')) AS w
       |        FROM documents WHERE doc_id % 2 = 1) WHERE w <> '')
       |SELECT source, count(*) AS n_words,
       |  CAST(sum(hnp.n_pieces) AS BIGINT) AS n_tokens,
       |  CAST((sum(hnp.n_pieces) * 1000) // count(*) AS BIGINT) AS fertility_milli,
       |  CAST((count(*) FILTER (wf.w IS NULL) * 1000) // count(*) AS BIGINT)
       |    AS oov_permille
       |FROM tok JOIN hnp USING (w) LEFT JOIN wf ON wf.w = tok.w
       |GROUP BY source""".stripMargin
  }

  /** Shared CTE chain of the duplicated-passage oracles (from a `toks`
    * (doc_id, tok, i) CTE to the merged-span groups `g2`): per-doc char
    * prefix sums, 8-token window frames, the ≥2-occurrence census, and
    * the overlapping/adjacent span merge — mirroring
    * [[graft.operators.Dedup.duplicatedPassageSpans]] step for step. */
  private[graft] def dupPassageWindowCtes: String =
    s"""w0 AS (SELECT doc_id, i,
      |        CAST(coalesce(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_char,
      |        string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS win,
      |        count(tok) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wn
      |      FROM toks),
      |v AS (SELECT doc_id, start_char, start_char + length(win) AS end_char, win
      |      FROM w0 WHERE wn = 8 AND trim(win) <> ''),
      |vz AS (SELECT doc_id, start_char, end_char,
      |        list_reduce([CAST(ascii(win[i:i]) AS HUGEINT) for i in range(1, len(win) + 1)],
      |                    (acc, c) -> (acc * 31 + c) % 18446744073709551616) AS z
      |      FROM v),
      |vz1 AS (SELECT doc_id, start_char, end_char, xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 30) AS z FROM vz),
      |vz2 AS (SELECT doc_id, start_char, end_char, ${sqlMulMod64("z", "13787848793156543929")} AS z FROM vz1),
      |vz3 AS (SELECT doc_id, start_char, end_char, xor(z, z >> 27) AS z FROM vz2),
      |vz4 AS (SELECT doc_id, start_char, end_char, ${sqlMulMod64("z", "10723151780598845931")} AS z FROM vz3),
      |vh AS (SELECT doc_id, start_char, end_char, xor(z, z >> 31) AS winh FROM vz4),
      |dup AS (SELECT winh FROM vh GROUP BY winh HAVING count(*) >= 2),
      |h AS (SELECT doc_id, start_char, end_char FROM vh JOIN dup USING (winh)),
      |g AS (SELECT doc_id, start_char, end_char,
      |        CASE WHEN start_char > coalesce(max(end_char) OVER (PARTITION BY doc_id
      |          ORDER BY start_char, end_char ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |          THEN 1 ELSE 0 END AS ng
      |      FROM h),
      |g2 AS (SELECT doc_id, start_char, end_char,
      |        sum(ng) OVER (PARTITION BY doc_id ORDER BY start_char, end_char
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |      FROM g)""".stripMargin

  /** CTE chain computing the engine-portable signed-64-bit `mix64` hash of
    * `strCol` for every row of `from` (same fold the Spark side's
    * [[graft.functions.Mix64Str]] codegen runs): poly-31 codepoint fold in
    * mod-2^64 arithmetic, splitmix64 finalizer, then a two's-complement
    * reinterpret so the BIGINT value (and its sort order) matches Spark's
    * signed Long exactly. Emits `<name>0..<name>4` and a final
    * MATERIALIZED `<name>` holding `carry` + `sh64` — materialized because
    * the hash table is always joined against itself or probed twice, and
    * DuckDB would otherwise inline (= recompute) the whole chain per
    * reference. */
  /** Shared CTE chain of the decon-span oracles: corpus windows with
    * char offsets + portable hash, benchmark distinct window hashes,
    * hit join, span-merge grouping (final CTE `g2`). w=4 throughout. */
  private[graft] def deconSpanCtes: String =
    s"""cbase AS (SELECT doc_id, string_split(text, ' ') AS ts
         |  FROM documents WHERE doc_id % 50 <> 0),
         |ctoks AS (SELECT doc_id, unnest(ts) AS tok,
         |  unnest(generate_series(1, len(ts))) AS i FROM cbase),
         |cw0 AS (SELECT doc_id, i,
         |  CAST(coalesce(sum(length(tok) + 1) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_char,
         |  string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win,
         |  count(tok) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
         |  FROM ctoks),
         |cv AS (SELECT doc_id, start_char, start_char + length(win) AS end_char, win
         |  FROM cw0 WHERE wn = 4 AND trim(win) <> ''),
         |cz0 AS (SELECT doc_id, start_char, end_char,
         |  list_reduce([CAST(ascii(win[i:i]) AS HUGEINT) for i in range(1, len(win) + 1)],
         |    (acc, c) -> (acc * 31 + c) % 18446744073709551616) AS z FROM cv),
         |cz1 AS (SELECT doc_id, start_char, end_char,
         |  xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 30) AS z FROM cz0),
         |cz2 AS (SELECT doc_id, start_char, end_char, ${sqlMulMod64("z", "13787848793156543929")} AS z FROM cz1),
         |cz3 AS (SELECT doc_id, start_char, end_char, xor(z, z >> 27) AS z FROM cz2),
         |cz4 AS (SELECT doc_id, start_char, end_char, ${sqlMulMod64("z", "10723151780598845931")} AS z FROM cz3),
         |ch AS (SELECT doc_id, start_char, end_char, xor(z, z >> 31) AS winh FROM cz4),
         |bbase AS (SELECT doc_id, string_split(text, ' ') AS ts
         |  FROM documents WHERE doc_id % 50 = 0),
         |btoks AS (SELECT doc_id, unnest(ts) AS tok,
         |  unnest(generate_series(1, len(ts))) AS i FROM bbase),
         |bw0 AS (SELECT doc_id, i,
         |  string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win,
         |  count(tok) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
         |  FROM btoks),
         |bv AS (SELECT win FROM bw0 WHERE wn = 4 AND trim(win) <> ''),
         |bz0 AS (SELECT win,
         |  list_reduce([CAST(ascii(win[i:i]) AS HUGEINT) for i in range(1, len(win) + 1)],
         |    (acc, c) -> (acc * 31 + c) % 18446744073709551616) AS z FROM bv),
         |bz1 AS (SELECT win, xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 30) AS z FROM bz0),
         |bz2 AS (SELECT win, ${sqlMulMod64("z", "13787848793156543929")} AS z FROM bz1),
         |bz3 AS (SELECT win, xor(z, z >> 27) AS z FROM bz2),
         |bz4 AS (SELECT win, ${sqlMulMod64("z", "10723151780598845931")} AS z FROM bz3),
         |bw AS (SELECT DISTINCT xor(z, z >> 31) AS winh FROM bz4),
         |h AS (SELECT doc_id, start_char, end_char FROM ch JOIN bw USING (winh)),
         |g AS (SELECT doc_id, start_char, end_char,
         |  CASE WHEN start_char > coalesce(max(end_char) OVER (PARTITION BY doc_id
         |    ORDER BY start_char, end_char ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |    THEN 1 ELSE 0 END AS ng
         |  FROM h),
         |g2 AS (SELECT doc_id, start_char, end_char,
         |  sum(ng) OVER (PARTITION BY doc_id ORDER BY start_char, end_char
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM g)""".stripMargin

  /** Full-algorithm DSIR mirror (shared by `dsir_scores` and the ranked
    * `dsir_select`): gram explode (unigrams + adjacent bigrams), the
    * portable mix64 chain for the bucket hash, add-1 bucket models over
    * raw/target, bits via the length(bin(..))-1 integer log2, per-doc
    * bit-difference sums. No division anywhere, so negative scores carry
    * no rounding-convention risk. */
  private[graft] lazy val dsirScoresSql: String =
    s"""WITH ws AS (SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |  FROM documents),
       |uni AS (SELECT doc_id, lang, unnest(ws) AS g FROM ws),
       |bi AS (SELECT doc_id, lang,
       |    unnest([ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))]) AS g
       |  FROM ws),
       |grams AS (SELECT doc_id, lang, g FROM uni
       |          UNION ALL SELECT doc_id, lang, g FROM bi),
       |${sqlMix64Ctes("h", "grams", "g", "doc_id, lang")},
       |feat AS (SELECT doc_id, lang, ((sh64 % 512) + 512) % 512 AS b FROM h),
       |raw AS (SELECT b, COUNT(*) AS c_r FROM feat GROUP BY b),
       |tgt AS (SELECT b, COUNT(*) AS c_t FROM feat WHERE lang = 'en' GROUP BY b),
       |nr AS (SELECT COUNT(*) AS n_r FROM feat),
       |nt AS (SELECT COUNT(*) AS n_t FROM feat WHERE lang = 'en'),
       |model AS (SELECT raw.b,
       |    length(bin((n_r + 512) // (c_r + 1))) - 1 AS bits_r,
       |    length(bin((n_t + 512) // (COALESCE(c_t, 0) + 1))) - 1 AS bits_t
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
       |  CROSS JOIN nr CROSS JOIN nt)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       |  CAST(SUM(bits_r - bits_t) AS BIGINT) AS dsir_bits
       |FROM feat JOIN model USING (b)
       |GROUP BY doc_id""".stripMargin

  private[graft] def sqlMix64Ctes(name: String, from: String, strCol: String,
      carry: String): String =
    s"""${name}0 AS (SELECT $carry, CAST(list_reduce(
       |          [CAST(ascii(($strCol)[i:i]) AS HUGEINT) for i in range(1, len($strCol) + 1)],
       |          (acc, c) -> (acc * 31 + c) % 18446744073709551616) AS UBIGINT) AS z FROM $from),
       |${name}1 AS (SELECT $carry, xor(z, z >> 30) AS z FROM ${name}0),
       |${name}2 AS (SELECT $carry, ${sqlMulMod64("z", "13787848793156543929")} AS z FROM ${name}1),
       |${name}3 AS (SELECT $carry, xor(z, z >> 27) AS z FROM ${name}2),
       |${name}3b AS (SELECT $carry, ${sqlMulMod64("z", "10723151780598845931")} AS z FROM ${name}3),
       |${name}4 AS (SELECT $carry, CAST(xor(z, z >> 31) AS HUGEINT) AS z FROM ${name}3b),
       |$name AS MATERIALIZED (SELECT $carry,
       |  CAST(CASE WHEN z > 9223372036854775807 THEN z - 18446744073709551616
       |       ELSE z END AS BIGINT) AS sh64 FROM ${name}4)""".stripMargin

  /** Shared CTE prefix of the blocked-Jaccard oracles: shingle explode,
    * the [[sqlMix64Ctes]] portable-hash chain, then pair intersection
    * counts joined on the HASH — mirroring `ngramJaccardPairs`' hashed
    * equi-join key bit for bit. `block` is the blocking column. */
  private[graft] def jaccardPairCtes(block: String, nonEmpty: Boolean = false): String =
    s"""w AS (SELECT doc_id, $block, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT doc_id, $block,
       |         list_distinct([array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)]) AS sh
       |       FROM w),
       |ex AS (SELECT doc_id, $block, len(sh) AS n, unnest(sh) AS shingle FROM sh${if (nonEmpty) " WHERE len(sh) > 0" else ""}),
       |${sqlMix64Ctes("e", "ex", "shingle", s"doc_id, $block, n")},
       |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       |        any_value(a.n) AS a_n, any_value(b.n) AS b_n, count(*) AS inter
       |      FROM e a JOIN e b ON a.sh64 = b.sh64 AND a.$block = b.$block
       |                       AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2)""".stripMargin

  /** CTE chain replaying [[graft.operators.Bpe.train]] round for round in
    * SQL: `wf` (word frequencies) → `r0` (char segmentation) → per round r
    * the pair census (`p$r`, every adjacent occurrence weighted by word
    * freq), the argmax with the operator's exact tie-break (`b$r`: count
    * DESC, left ASC, right ASC), and the greedy left-to-right application
    * as gaps-and-islands over symbol positions (`x/o/s/t/f$r` → `r${r+1}`):
    * occurrence runs (only possible when left = right) select every other
    * member, the position after a selected one is consumed. A round with
    * no pairs leaves the segmentation unchanged (LEFT JOIN against the
    * empty argmax), mirroring the operator's exhaustion stop. */
  private[graft] def bpeTrainCtes(k: Int, from: String = "documents"): String = {
    val head =
      s"""wf AS MATERIALIZED (SELECT w, count(*) AS freq
        |       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM $from)
        |       WHERE w <> '' GROUP BY w),
        |r0 AS MATERIALIZED (SELECT w, freq, [w[i:i] for i in range(1, len(w) + 1)] AS syms FROM wf)""".stripMargin
    val rounds = (0 until k).map { r =>
      s"""x$r AS MATERIALIZED (SELECT w, freq, len(syms) AS n, unnest(syms) AS s,
         |        unnest(range(1, len(syms) + 1)) AS i FROM r$r),
         |p$r AS MATERIALIZED (SELECT l, r, sum(freq) AS cnt FROM (
         |          SELECT w, freq, i, n, s AS l,
         |                 lead(s) OVER (PARTITION BY w ORDER BY i) AS r
         |          FROM x$r) WHERE i < n AND r IS NOT NULL GROUP BY 1, 2),
         |b$r AS MATERIALIZED (SELECT l, r FROM p$r ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |o$r AS MATERIALIZED (SELECT x.w, x.freq, x.i, x.n, x.s, b.l AS bl, b.r AS br,
         |          CASE WHEN x.i < x.n AND x.s = b.l
         |                AND lead(x.s) OVER (PARTITION BY x.w ORDER BY x.i) = b.r
         |               THEN 1 ELSE 0 END AS occ
         |        FROM x$r x LEFT JOIN b$r b ON true),
         |s$r AS MATERIALIZED (SELECT *, CASE WHEN occ = 1
         |          THEN i - row_number() OVER (PARTITION BY w, occ ORDER BY i)
         |          ELSE NULL END AS isl FROM o$r),
         |t$r AS MATERIALIZED (SELECT *, CASE WHEN occ = 1
         |          AND row_number() OVER (PARTITION BY w, isl ORDER BY i) % 2 = 1
         |          THEN 1 ELSE 0 END AS sel FROM s$r),
         |f$r AS MATERIALIZED (SELECT w, freq, i,
         |          CASE WHEN sel = 1 THEN bl || br ELSE s END AS tok,
         |          coalesce(lag(sel) OVER (PARTITION BY w ORDER BY i), 0) AS consumed
         |        FROM t$r),
         |r${r + 1} AS MATERIALIZED (SELECT w, any_value(freq) AS freq,
         |          list(tok ORDER BY i) AS syms
         |        FROM f$r WHERE consumed = 0 GROUP BY w)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds"
  }

  /** Apply the [[bpeTrainCtes]] merge sequence (`b0..b{k-1}`) to a
    * DIFFERENT word set — the inference-time greedy replay on held-out
    * words, the SQL twin of `Bpe.udfFreeEncode`. `src` selects a `w`
    * column of distinct words; the final CTE `tw$k` holds (w, syms).
    * Each round reuses the train chain's application pattern (occurrence
    * flag → island grouping → odd-position greedy selection → pairwise
    * fold), so overlap semantics match the engine's left-to-right
    * non-overlapping fold exactly. An early-stopped empty `b$r` leaves
    * the round a no-op via the LEFT JOIN, like the train chain. */
  private[graft] def bpeApplyCtes(k: Int, src: String): String = {
    val head =
      s"""tw0 AS MATERIALIZED (SELECT w,
         |  [w[i:i] for i in range(1, len(w) + 1)] AS syms FROM ($src))""".stripMargin
    val rounds = (0 until k).map { r =>
      s"""twx$r AS MATERIALIZED (SELECT w, len(syms) AS n, unnest(syms) AS s,
         |        unnest(range(1, len(syms) + 1)) AS i FROM tw$r),
         |two$r AS MATERIALIZED (SELECT x.w, x.i, x.n, x.s, b.l AS bl, b.r AS br,
         |          CASE WHEN x.i < x.n AND x.s = b.l
         |                AND lead(x.s) OVER (PARTITION BY x.w ORDER BY x.i) = b.r
         |               THEN 1 ELSE 0 END AS occ
         |        FROM twx$r x LEFT JOIN b$r b ON true),
         |tws$r AS MATERIALIZED (SELECT *, CASE WHEN occ = 1
         |          THEN i - row_number() OVER (PARTITION BY w, occ ORDER BY i)
         |          ELSE NULL END AS isl FROM two$r),
         |twt$r AS MATERIALIZED (SELECT *, CASE WHEN occ = 1
         |          AND row_number() OVER (PARTITION BY w, isl ORDER BY i) % 2 = 1
         |          THEN 1 ELSE 0 END AS sel FROM tws$r),
         |twf$r AS MATERIALIZED (SELECT w, i,
         |          CASE WHEN sel = 1 THEN bl || br ELSE s END AS tok,
         |          coalesce(lag(sel) OVER (PARTITION BY w ORDER BY i), 0) AS consumed
         |        FROM twt$r),
         |tw${r + 1} AS MATERIALIZED (SELECT w, list(tok ORDER BY i) AS syms
         |        FROM twf$r WHERE consumed = 0 GROUP BY w)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds"
  }

  /** The learned merge table from [[bpeTrainCtes]]'s per-round argmaxes —
    * rounds the vocabulary exhausted contribute no row, like the
    * operator's early stop. */
  private[graft] def bpeMergesSelect(k: Int): String =
    (0 until k).map { r =>
      if (r == 0) s"SELECT $r AS rank, l AS left_sym, r AS right_sym FROM b$r"
      else s"SELECT $r, l, r FROM b$r"
    }.mkString("\nUNION ALL ")

  /** Unicode-bearing suffix the mojibake query appends to the (ASCII)
    * corpus text before the corrupt→repair roundtrip. */
  private[graft] val MojibakeSuffix = " – “smart quotes” café… naïve touché"

  /** SQL string literal with C0/C1 control characters routed through
    * chr() — the mojibake artifacts contain U+009D, which must not land
    * raw inside oracle_sql.json. */
  private[graft] def sqlStr(s: String): String = {
    val b = s.flatMap {
      case '\'' => "''"
      case c if c.toInt < 0x20 || (c.toInt >= 0x7f && c.toInt <= 0x9f) =>
        s"' || chr(${c.toInt}) || '"
      case c => c.toString
    }
    s"'$b'"
  }

  /** The [[graft.operators.TextAnalysis.MojibakeTable]] replace chains as
    * SQL — generated from the SAME table the Spark expressions fold over,
    * so both engines apply identical pairs in identical order. */
  private[graft] def mojibakeFixSql(inner: String): String =
    TextAnalysis.MojibakeTable.foldLeft(inner) { case (acc, (bad, good)) =>
      s"replace($acc, ${sqlStr(bad)}, ${sqlStr(good)})"
    }
  private[graft] def mojibakeCorruptSql(inner: String): String =
    TextAnalysis.CorruptOrder.foldLeft(inner) { case (acc, (bad, good)) =>
      s"replace($acc, ${sqlStr(good)}, ${sqlStr(bad)})"
    }

  /** Cumulative md5 thresholds of the 80/10/10 split — computed with the
    * SAME double arithmetic `Sampling.splitAssign` uses internally, so the
    * oracle CASE compares against bit-identical hex strings (0.8 + 0.1 is
    * not exactly 0.9 in doubles). */
  /** Unrolled power-iteration mirror of
    * [[graft.operators.Sessionize.transitionStationary]]: the transition
    * census under the same (ts, event_id) order and gap criterion, then
    * `iters` CTEs each computing
    * `v'(j) = Σ (v(i)·c_ij) // r_i + (Σ_dangling v(d)) // n` in
    * HUGEINT — term-for-term the operator's BigInt arithmetic (all
    * quantities non-negative, so floor ≡ truncation). */
  private[graft] def markovStationaryOracle(iters: Int, gap: Long): String = {
    // MATERIALIZED throughout: inlined CTEs would re-expand the whole
    // v-chain at every reference (exponential in iters — the
    // bpeTrainCtes lesson)
    val rounds = (0 until iters).map { k =>
      s"""v${k + 1} AS MATERIALIZED (SELECT s.a,
         |  COALESCE(tr.tv, 0) + dk.ds // n.n AS v
         |  FROM states s
         |  LEFT JOIN (SELECT t.b AS bb, SUM((v$k.v * t.c) // r.rs) AS tv
         |             FROM v$k JOIN t ON v$k.a = t.a JOIN r ON t.a = r.a
         |             GROUP BY 1) tr ON s.a = tr.bb
         |  CROSS JOIN (SELECT COALESCE(SUM(v$k.v), 0) AS ds
         |              FROM v$k JOIN dang ON v$k.a = dang.a) dk
         |  CROSS JOIN n)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (SELECT event_type AS a, lead(event_type) OVER w AS b,
       |    epoch(lead(ts) OVER w) - epoch(ts) AS g
       |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |t AS MATERIALIZED (SELECT a, b, count(*) AS c FROM x
       |       WHERE b IS NOT NULL AND g <= $gap GROUP BY 1, 2),
       |states AS MATERIALIZED (SELECT a FROM t UNION SELECT b FROM t),
       |r AS MATERIALIZED (SELECT a, SUM(c) AS rs FROM t GROUP BY 1),
       |n AS MATERIALIZED (SELECT count(*) AS n FROM states),
       |dang AS MATERIALIZED (SELECT s.a FROM states s
       |       WHERE s.a NOT IN (SELECT a FROM t)),
       |v0 AS MATERIALIZED (SELECT a, CAST(1000000000000 AS HUGEINT) // n AS v
       |       FROM states CROSS JOIN n),
       |$rounds
       |SELECT a AS event_type,
       |  CAST(v // 1000000 AS BIGINT) AS stationary_ppm
       |FROM v$iters""".stripMargin
  }

  /** Shared slice construction of the two-slice value monitors
    * (`ks_value_shift`, `ranksum_shift`, `median_shift`): event values in
    * cents plus the event day. The week anchor (max day) is taken over
    * VALUE-BEARING rows only — the oracles' value-filtered frame — so a
    * trailing day holding only null-valued rows cannot shift the
    * engine's window off the oracle's (review find). Since r19 the
    * anchor is FOLDED into the histogram pass
    * ([[Validate.twoSliceHistogramByDay]]): this helper returns just the
    * slim (event_type, cents, __day) frame, and the max-day aggregate —
    * previously its own corpus scan per build — is derived from the
    * day-level histogram instead (VERDICT r18 #3: one events scan for
    * the whole monitor family). */
  private[graft] def weekValuedEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"),
        expr(TimeSeries.epochDaySql("cast(ts as long)")).as("__day"))
      .where(col("cents").isNotNull)

  /** Mirror of [[graft.operators.Experiment.halfSampleCi]]: the portable
    * mix64 chain over `id:salt` recomputed in UBIGINT (same fold as the
    * SimHash/DSIR oracles), replicate-i membership as bit i of that one
    * hash, every sum/count recomputed, the means list filtered/sorted
    * identically (HUGEINT products mirroring the engine's DECIMAL(38,0)
    * widening), the same 1-based p10/p90 index arithmetic. */
  private[graft] def halfSampleCiOracle(b: Int, salt: String): String = {
    val reps = (0 until b).map { i =>
      val m = s"((h >> $i) & 1) = 1"
      s"SUM(CASE WHEN $m THEN x END) AS s$i, " +
        s"SUM(CASE WHEN $m THEN 1 END) AS n$i"
    }.mkString(",\n")
    val meanList = (0 until b)
      .map(i => s"CASE WHEN n$i > 0 THEN CAST(s$i AS HUGEINT) * 1000 // n$i END")
      .mkString("list_value(", ", ", ")")
    s"""WITH v AS (SELECT event_type AS k,
       |    CAST(event_id AS VARCHAR) || ':$salt' AS s,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
       |  FROM events WHERE value IS NOT NULL),
       |z0 AS (SELECT k, x,
       |  list_reduce([CAST(ascii(s[i:i]) AS HUGEINT) for i in range(1, len(s) + 1)],
       |    (acc, c) -> (acc * 31 + c) % 18446744073709551616) AS z FROM v),
       |z1 AS (SELECT k, x, xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> 30) AS z FROM z0),
       |z2 AS (SELECT k, x, ${sqlMulMod64("z", "13787848793156543929")} AS z FROM z1),
       |z3 AS (SELECT k, x, xor(z, z >> 27) AS z FROM z2),
       |z4 AS (SELECT k, x, ${sqlMulMod64("z", "10723151780598845931")} AS z FROM z3),
       |hv AS (SELECT k, x, xor(z, z >> 31) AS h FROM z4),
       |a AS (SELECT k, COUNT(*) AS n, SUM(x) AS s,
       |$reps
       |  FROM hv GROUP BY 1),
       |m AS (SELECT k, n, s,
       |    list_sort(list_filter($meanList, y -> y IS NOT NULL)) AS ms
       |  FROM a)
       |SELECT k AS event_type, CAST(n AS BIGINT) AS n_rows,
       |  CAST(len(ms) AS BIGINT) AS n_replicates,
       |  CAST(CAST(s AS HUGEINT) * 1000 // n AS BIGINT) AS mean_milli,
       |  CAST(ms[CAST(len(ms) * 100 // 1000 + 1 AS INT)] AS BIGINT)
       |    AS rep_lo_milli,
       |  CAST(ms[CAST(len(ms) - len(ms) * 100 // 1000 AS INT)] AS BIGINT)
       |    AS rep_hi_milli
       |FROM m""".stripMargin
  }

  private[graft] val splitThresholds: Seq[String] = {
    val ws = Seq(0.8, 0.1, 0.1)
    val total = ws.sum
    ws.init.map(_.toDouble).scanLeft(0.0)(_ + _).tail
      .map(c => Sampling.hexThreshold(c / total))
  }

  private[graft] def langScore(markers: Seq[String]): String =
    s"len(list_filter(ws, w -> w IN ${markers.map(m => s"'$m'").mkString("(", ",", ")")}))"

  // bm25_indexed serves the same queries from the persisted inverted
  // index; identical oracle = the gate proves index-served results equal
  // scan-computed ones bit for bit.
  // fano_profiled serves the same dispersion read-out from the persisted
  // DailyCounts fold; identical oracle = the gate proves profile-served
  // results equal scan-computed ones bit for bit.
  def oracleSql: Map[String, String] =
    oracleSqlBase +
      ("bm25_indexed" -> oracleSqlBase("bm25_topk")) +
      ("fano_profiled" -> oracleSqlBase("fano_factor")) +
      ("ann_hnsw_indexed" -> oracleSqlBase("ann_hnsw"))

  private[graft] lazy val oracleSqlBase: Map[String, String] = {
    val merged = tiers.iterator.map(_.oracles).reduce(_ ++ _)
    require(merged.size == tiers.map(_.oracles.size).sum,
      "duplicate oracle key across registry tiers")
    merged
  }
}

