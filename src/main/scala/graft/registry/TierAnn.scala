package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.F
import graft.operators.{Anomaly, Correlate, DailyCounts, Experiment, Hnsw, IndexStore, TextIndex, TimeSeries, Web, Bpe, Cardinality, Clustering, Cooccur, Decontaminate, Dedup, EditDistance, Embeddings, Extract, Frequencies, Funnel, Graph, Ivf, Joins, Multimodal, Pq, Quantiles, Sampling, Scd2, Sessionize, Similarity, Sketch, TextAnalysis, Upsert, Validate}
import graft.streaming.IncrementalStream
import graft.SparkEntry._

/** Embedding similarity: brute-force / LSH / IVF(+PQ) / binary / HNSW
  * ANN and their recall harnesses.
  *
  * One registry tier of [[SparkEntry]]'s driver contract (split from the
  * single 7k-line object in round 14): `queries` and `oracles` compose into
  * [[SparkEntry.queries]] / [[SparkEntry.oracleSql]] unchanged — entry text
  * is byte-identical to the pre-split map literals. Shared helpers (ts6,
  * shared builds, oracle CTE builders) stay on [[SparkEntry]] and arrive via
  * the wildcard import. */
private[graft] object TierAnn extends Registry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Int8 embedding quantization with per-vector scale; codes emitted as
    // an order-sensitive integer checksum (exact in both engines).
    "quantize_embeddings" -> ((s, dir) => {
      val q = Embeddings.quantizeInt8(Tables.embeddings(s, dir), "embedding")
      q.select(col("vec_id"), col("q8_scale"),
        aggregate(
          zip_with(col("q8"), sequence(lit(1), size(col("q8"))),
            (qv, i) => qv.cast("long") * i),
          lit(0L), (a, b) => a + b).as("q_checksum"))
    }),

    // Chunk→document embedding pooling: element-wise sum of fixed-point-
    // scaled vectors per label via the partial-aggregable VectorSumLong
    // (exchange = groups×dim, not rows×dim). Emitted as integer checksums.
    "pool_embeddings" -> ((s, dir) => {
      val pooled = Embeddings.poolEmbeddings(
        Tables.embeddings(s, dir), "embedding", Seq("label"))
      val seqIdx = sequence(lit(1), size(col("pool_sum_q")))
      pooled.select(col("label"), col("n_vecs"),
        size(col("pool_sum_q")).cast("long").as("dim"),
        when(size(col("pool_sum_q")) > 0,
          aggregate(zip_with(col("pool_sum_q"), seqIdx, (v, i) => v * i),
            lit(0L), (a, b) => a + b)).otherwise(0L).as("pool_checksum"),
        aggregate(transform(col("pool_sum_q"), v => abs(v)),
          lit(0L), (a, b) => a + b).as("pool_l1"))
    }),

    // Contrastive embedding-training triplets over the chunk table:
    // adjacent-window positives, deterministic bucket-rotation
    // negatives — replayable training-pair prep (random in-batch
    // negatives belong to training time, not data prep).
    "contrastive_pairs" -> ((s, dir) =>
      TextAnalysis.contrastivePairs(
        TextAnalysis.chunkDocuments(Tables.documents(s, dir), "doc_id",
          "text", chunkTokens = 32, stride = 24), buckets = 32)),

    // JL random projection 64→16 dims (±1 matrix, fixed-point): emitted
    // as order-sensitive integer checksums, exact in both engines.
    "random_projection" -> ((s, dir) => {
      val pr = Embeddings.randomProject(Tables.embeddings(s, dir),
        "embedding", outDim = 16, seed = 77L, dim = 64)
      pr.select(col("vec_id"),
        aggregate(zip_with(col("projected"),
            sequence(lit(1), size(col("projected"))), (v, i) => v * i),
          lit(0L), (a, b) => a + b).as("pr_checksum"),
        aggregate(transform(col("projected"), v => abs(v)),
          lit(0L), (a, b) => a + b).as("pr_l1"))
    }),

    // ANN brute-force cosine top-k (bounded partial-aggregate top-k).
    "cosine_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 20), emb, k = 5)
    }),

    // Hard-negative mining (contrastive training): per query 5 exact
    // cosine near-misses + 5 deterministic hash-ranked random negatives
    // excluding the hard set — the standard two-tier negative mix.
    "hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb.where(col("vec_id") < 8), emb,
        kHard = 5, kRandom = 5)
    }),

    // Labeled retrieval eval (MRR summand / hits@10 / R-capped
    // recall@10 by embedding label) over 50 queries drawn from the
    // corpus — the per-checkpoint metric harness; exact top-k ground
    // truth by the eval-op contract.
    "retrieval_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.retrievalEval(emb.where(col("vec_id") < 50), emb, k = 10)
    }),

    // ANN via a PERSISTED IVF index: build (train on a deterministic 25%
    // sample + write centroid table + cell-partitioned assignments) is a
    // separate job from probe — the 100 TB shape, where the index is built
    // once and maintained incrementally by the merge (Ivf.addToIndex;
    // no-retrain property in IvfSpec). Probing all cells makes the result
    // exactly brute force — that is what the oracle checks; the
    // nprobe < nlist recall + partition-pruned probe paths are tested in
    // IvfSpec.
    "ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // Build-once / probe-many: the index dir is keyed by Ivf
      // .cachedIndexDir's 64-bit (path, mtime, length) fingerprint, so
      // repeated invocations probe the already-built index while a data
      // change forces a rebuild (and GCs the superseded snapshot dirs).
      val src = new java.io.File(s"$dir/embeddings.parquet")
      val idx = Ivf.cachedIndexDir(src, params = "nlist=8:iters=1")
      if (!graft.operators.IndexStore.exists(s, s"$idx/centroids")) {
        Ivf.gcSupersededIndexes(idx)
        val sample = emb.where(pmod(col("vec_id"), lit(4)) === 0)
        Ivf.buildIndex(s, idx, emb, trainOn = sample, nlist = 8, iters = 1)
      }
      Ivf.probeIndex(s, idx, emb.where(col("vec_id") < 20), k = 5, nprobe = 8)
    }),

    // r18 (VERDICT r17 #9 stretch): the SAME persisted IVF index reached
    // from PURE SQL via the injected table function — zero Scala at the
    // query site. Shares ann_ivf's cached index (same fingerprint +
    // params). Degenerate nprobe=nlist ⇒ exact, so the oracle is the
    // one-query brute-force top-5 (self included: a raw query vector has
    // no identity to exclude).
    "ann_sql_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = new java.io.File(s"$dir/embeddings.parquet")
      val idx = Ivf.cachedIndexDir(src, params = "nlist=8:iters=1")
      if (!graft.operators.IndexStore.exists(s, s"$idx/centroids")) {
        Ivf.gcSupersededIndexes(idx)
        val sample = emb.where(pmod(col("vec_id"), lit(4)) === 0)
        Ivf.buildIndex(s, idx, emb, trainOn = sample, nlist = 8, iters = 1)
      }
      graft.functions.F.registerAll(s)
      // the statement a SQL user types: the query vector as an array
      // literal (floats round-trip exactly through their string form)
      val qv = emb.where(col("vec_id") === 7)
        .select("embedding").head.getSeq[Float](0)
      val vecSql = qv.map(v => s"CAST('$v' AS FLOAT)")
        .mkString("array(", ", ", ")")
      s.sql(s"SELECT rank, neighbor_id, cos " +
        s"FROM graft_ann_topk('$idx', 5, 8, $vecSql)")
    }),

    // Persisted IVF-PQ probe (FAISS's workhorse composition): candidates
    // come from a column-pruned codes read + ADC, vectors join back only
    // for survivors. Degenerate knobs (full probe, full candidate budget)
    // make the result exactly brute force — the same oracle convention as
    // ann_ivf; pq_recall pins the lossy regime. Separate cache root so a
    // concurrent ann_ivf build never races this index's rewrites.
    "ann_ivfpq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = new java.io.File(s"$dir/embeddings.parquet")
      val idx = Ivf.cachedIndexDir(src, root = "/tmp/graft-ivfpq",
        params = "nlist=8:iters=1:m=8:ksub=16")
      if (!graft.operators.IndexStore.exists(s, s"$idx/pq")) {
        Ivf.gcSupersededIndexes(idx)
        val sample = emb.where(pmod(col("vec_id"), lit(4)) === 0)
        if (!graft.operators.IndexStore.exists(s, s"$idx/centroids"))
          Ivf.buildIndex(s, idx, emb, trainOn = sample, nlist = 8, iters = 1)
        Ivf.attachPq(s, idx, trainOn = sample, m = 8, ksub = 16)
      }
      Ivf.probeIndexAdc(s, idx, emb.where(col("vec_id") < 20), k = 5,
        nprobe = 8, candidates = emb.count().toInt)
    }),

    // Residual-refined IVF-PQ (FAISS's default composition, round 15):
    // codebooks train and encode on v − centroid[cell], so the ksub
    // codewords per subspace spend entirely on within-cell variation —
    // the accuracy knob at fixed memory; candidates rank by
    // ⟨q, centroid⟩ + ADC(q, residual codes). Same degenerate-knob gate
    // as ann_ivfpq (full probe + full candidates ⇒ the exact-cosine
    // re-rank sees everything ⇒ brute force); the lossy-regime recall
    // ordering (residual ≥ raw on a clustered corpus) is pinned in
    // IvfSpec. Separate cache root: its index layout differs from
    // ann_ivfpq's (residual codes + flag).
    "ann_ivfpq_residual" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = new java.io.File(s"$dir/embeddings.parquet")
      val idx = Ivf.cachedIndexDir(src, root = "/tmp/graft-ivfpqr",
        params = "nlist=8:iters=1:m=8:ksub=16:residual=1")
      if (!graft.operators.IndexStore.exists(s, s"$idx/pq")) {
        Ivf.gcSupersededIndexes(idx)
        val sample = emb.where(pmod(col("vec_id"), lit(4)) === 0)
        if (!graft.operators.IndexStore.exists(s, s"$idx/centroids"))
          Ivf.buildIndex(s, idx, emb, trainOn = sample, nlist = 8, iters = 1)
        Ivf.attachPq(s, idx, trainOn = sample, m = 8, ksub = 16,
          residual = true)
      }
      Ivf.probeIndexAdc(s, idx, emb.where(col("vec_id") < 20), k = 5,
        nprobe = 8, candidates = emb.count().toInt)
    }),

    // IVF-OPQ (round 17, VERDICT r16 #9): a LEARNED orthonormal rotation
    // (Ge et al., CVPR 2013 — alternating PQ-fit / orthogonal Procrustes
    // on a bounded driver sample) in front of PQ, at the SAME m
    // bytes/vector as ann_ivfpq: the rotation re-aims the codeword
    // budget at whatever basis the data's variance actually lives in.
    // Same degenerate-knob gate as the other PQ probes (full probe +
    // full candidates ⇒ exact brute force regardless of the rotation —
    // cosine is rotation-invariant and the re-rank sees everything);
    // the lossy-regime BINDING floor — OPQ rescues a basis-scrambled
    // corpus that raw PQ provably fails — is pinned in IvfSpec.
    "ann_opq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = new java.io.File(s"$dir/embeddings.parquet")
      val idx = Ivf.cachedIndexDir(src, root = "/tmp/graft-opq",
        params = "nlist=8:iters=1:m=8:ksub=16:opq=1")
      if (!graft.operators.IndexStore.exists(s, s"$idx/opq")) {
        Ivf.gcSupersededIndexes(idx)
        val sample = emb.where(pmod(col("vec_id"), lit(4)) === 0)
        if (!graft.operators.IndexStore.exists(s, s"$idx/centroids"))
          Ivf.buildIndex(s, idx, emb, trainOn = sample, nlist = 8, iters = 1)
        Ivf.attachOpq(s, idx, trainOn = sample, m = 8, ksub = 16)
      }
      Ivf.probeIndexAdc(s, idx, emb.where(col("vec_id") < 20), k = 5,
        nprobe = 8, candidates = emb.count().toInt)
    }),

    // IVF-SQ8 (round 16, VERDICT r15 #8): dim uint8 codes per vector —
    // the accuracy-at-fixed-memory point between PQ (m bytes) and the
    // raw floats (4·dim); candidates rank by one HOF dot of the
    // precomputed q⊙span/255 against the int codes (the ⟨q, lo⟩ term is
    // per-query constant, ranking-irrelevant). Same degenerate-knob gate
    // as the PQ probes (full probe + full candidates ⇒ exact brute
    // force); the lossy-regime floor — SQ8 recall ≥ the residual twin's
    // on the planted corpus, both binding — is pinned in IvfSpec.
    "ann_sq8" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val src = new java.io.File(s"$dir/embeddings.parquet")
      val idx = Ivf.cachedIndexDir(src, root = "/tmp/graft-sq8",
        params = "nlist=8:iters=1:sq8=1")
      if (!graft.operators.IndexStore.exists(s, s"$idx/sq8")) {
        Ivf.gcSupersededIndexes(idx)
        val sample = emb.where(pmod(col("vec_id"), lit(4)) === 0)
        if (!graft.operators.IndexStore.exists(s, s"$idx/centroids"))
          Ivf.buildIndex(s, idx, emb, trainOn = sample, nlist = 8, iters = 1)
        Ivf.attachSq8(s, idx, trainOn = emb)
      }
      Ivf.probeIndexSq8(s, idx, emb.where(col("vec_id") < 20), k = 5,
        nprobe = 8, candidates = emb.count().toInt)
    }),

    // Recall harness for the IVF probe, mirroring lsh_recall: nprobe = 2
    // of nlist = 8 makes cell pruning actually lossy, and the measured
    // recall_permille pins the nprobe knob the probe scaladoc justifies
    // analytically. Centroids here are the first 8 corpus vectors (the
    // cluster_purity seed convention) so the ENTIRE pipeline — assignment
    // argmax, probe-cell ranking, candidate top-k — is exactly
    // SQL-mirrorable; the persisted ann_ivf index shares this exact probe
    // math (F.nearestCentroids), differing only in how centroids were
    // trained. IvfSpec pins the persisted path's recall monotonicity.
    "ivf_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.where(col("vec_id") < 20)
      val seeds = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      // r18: exact side = the family's ONE shared ground-truth table
      // (labeled brute_topk_shared build) — the quadratic pass no
      // longer re-runs per harness.
      recallVsExact(
        bruteTopkShared(s, dir),
        Ivf.ivfTopK(queries, emb, k = 5, centroids = seeds, nprobe = 2))
    }),

    // Cluster-based curation analytics: nearest-seed assignment (seeds =
    // the first 8 corpus vectors — deterministic and SQL-mirrorable) then
    // per-cluster label purity. Assignment is a per-row argmax compiled
    // from literal seed vectors: zero shuffle until the slim count agg.
    "cluster_purity" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val seeds = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      Clustering.labelPurity(
        Clustering.assignToSeeds(emb, seeds, "embedding"),
        "cluster_id", "label")
    }),

    // Per-cluster outliers: the 5 members farthest from their seed —
    // the prune-before-trusting-a-cluster curation signal.
    "cluster_outliers" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val seeds = emb.where(col("vec_id") < 8).orderBy("vec_id")
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      Clustering.clusterOutliers(emb, seeds, "embedding", "vec_id", k = 5)
    }),

    // ANN via SRP-LSH buckets. Recall < 1 by construction, but the oracle
    // needs no recall assumption: it mirrors the bucketing with the same
    // literal hyperplanes and ranks the same candidate set.
    "ann_lsh" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb.where(col("vec_id") < 20), emb, k = 5, dim = 64,
        planes = 8, tables = 4)
    }),

    // ANN via the HNSW-style layered neighbor graph (round 13): portable
    // mix64-trailing-zero levels, bucket-bounded top-m edges per layer,
    // greedy upper-layer descent + fixed-round beam search on layer 0.
    // Every stage is deterministic, so the oracle replays levels, graph,
    // and the whole search as a finite CTE chain — recall needs no
    // assumption, the same approximate answer is recomputed exactly.
    "ann_hnsw" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Hnsw.searchTopK(emb.where(col("vec_id") < 20), emb,
        hnswEdgesShared(s, dir), k = 5, maxLevel = 3, beam = 16, rounds = 3)
    }),

    // The PRODUCTION shape of ann_hnsw: the SRP candidate generator's
    // plane count comes from plan statistics (Dedup.AutoPlanes — zero
    // jobs at construction, PlanSpec-asserted) instead of the fixed
    // oracle-literal 4, so bucket occupancy — and the per-node candidate
    // volume the top-m edge window ranks — stays flat as the corpus grows
    // (10× exponent 0.23 vs 0.72–0.79 fixed, SURVEY §6.-2n). Correctness-
    // gated: the oracle's hyperplane literals are generated at Verify-dump
    // time from the SAME stats-derived count (dataDependentOracles).
    // Search over the session-shared AutoPlanes edge graph (billed once
    // as the labeled hnsw_auto_edges_shared bench entry — the same
    // honesty pattern as the fixed-shape trio's hnsw_edges_shared), so
    // this entry reads search-only like its siblings.
    "ann_hnsw_auto" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Hnsw.searchTopK(emb.where(col("vec_id") < 20), emb,
        hnswAutoEdgesShared(s, dir), k = 5, maxLevel = 3,
        beam = 16, rounds = 3)
    }),

    // The same search served from a PERSISTED layer-partitioned graph
    // (built once per corpus fingerprint — the bm25_indexed posture):
    // identical oracle, so the gate proves index-served results equal
    // scan-computed ones bit for bit.
    "ann_hnsw_indexed" -> ((s, dir) => {
      val src = new java.io.File(s"$dir/embeddings.parquet")
      val idx = Ivf.cachedIndexDir(src, root = "/tmp/graft-hnswidx",
        params = "dim=64:m=8:maxLevel=3:planes=4:tables=4")
      if (!IndexStore.exists(s, idx)) {
        Ivf.gcSupersededIndexes(idx)
        Hnsw.buildIndex(s, idx, Tables.embeddings(s, dir), dim = 64,
          m = 8, maxLevel = 3, planes = 4, tables = 4)
      }
      val emb = Tables.embeddings(s, dir)
      Hnsw.searchIndex(s, idx, emb.where(col("vec_id") < 20), k = 5,
        beam = 16, rounds = 3)
    }),

    // In-engine recall of the graph search against exact brute force —
    // the (m, beam, rounds) tuning harness, the lsh/ivf/pq_recall twin.
    "hnsw_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.where(col("vec_id") < 20)
      recallVsExact(
        bruteTopkShared(s, dir),
        Hnsw.searchTopK(queries, emb, hnswEdgesShared(s, dir), k = 5,
          maxLevel = 3, beam = 16, rounds = 3))
    }),

    // Binary-quantized ANN: Hamming prefilter over packed sign bits, then
    // exact cosine re-rank of the surviving candidates.
    "ann_binary" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.binaryRerankTopK(emb.where(col("vec_id") < 20), emb,
        k = 5, dim = 64, candidates = 100)
    }),

    // Recall harness for the binary-quantized path, mirroring lsh_recall:
    // a deliberately TIGHT candidate budget (30, vs ann_binary's 100)
    // makes the Hamming prefilter actually lossy, and the measured
    // recall_permille pins the knob's cost — the number the scaladoc's
    // analytic argument rides on. Run at sample scale by contract (the
    // exact side is the labeled quadratic ground-truth operator).
    "binary_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.where(col("vec_id") < 20)
      recallVsExact(
        bruteTopkShared(s, dir),
        Similarity.binaryRerankTopK(queries, emb, k = 5, dim = 64,
          candidates = 30))
    }),

    // PQ-ADC recall at the same tight 30-candidate budget as the binary
    // tier — seed codebooks (first-16 subvectors) keep assignment + ADC
    // SQL-mirrorable; the trained-codebook path is covered in PqSpec.
    "pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.where(col("vec_id") < 20)
      val cb = Pq.seedCodebooks(emb, m = 8, ksub = 16)
      recallVsExact(
        bruteTopkShared(s, dir),
        Pq.pqRerankTopK(queries, emb, k = 5, codebooks = cb,
          candidates = 30))
    }),

    // Embedding-space drift monitor: per-label centroid L1/max movement
    // between the even- and odd-id corpus halves (standing in for two
    // crawl snapshots / encoder versions) — exact quantized integer
    // centroids, the drift_tv companion for the vector column.
    "centroid_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Embeddings.centroidDrift(emb.where(col("vec_id") % 2 === 0),
        emb.where(col("vec_id") % 2 === 1), "embedding", Seq("label"))
    }),

    // Embedding-norm health: the 10 vectors at each norm extreme in
    // exact fixed-point — collapsed outputs and exploding rows, the
    // encoder-bug tripwires.
    "embedding_norm_outliers" -> ((s, dir) =>
      Embeddings.normOutliers(Tables.embeddings(s, dir)))
  )

  val oracles: Map[String, String] = Map(

    "quantize_embeddings" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS q8_scale
        |      FROM e),
        |q AS (SELECT vec_id, q8_scale,
        |        CASE WHEN q8_scale > 0
        |             THEN list_transform(v, x -> CAST(round(x / q8_scale * 127) AS BIGINT))
        |             ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
        |      FROM s)
        |SELECT vec_id, q8_scale,
        |  CAST(list_sum([qv[i] * i for i in range(1, len(qv) + 1)]) AS BIGINT) AS q_checksum
        |FROM q""".stripMargin,

    // Full-algorithm mirror: the SAME ±1 sign matrix (integer literals
    // from RandomProject.signs) over the same fixed-point inputs —
    // relational join form, no nested list lambdas (round-5 DuckDB cost
    // lesson).
    "random_projection" -> {
      val signsLit = graft.functions.RandomProject.signs(16, 64, 77L)
        .mkString("[", ",", "]")
      s"""WITH e AS (SELECT vec_id,
         |        list_transform(CAST(embedding AS DOUBLE[]),
         |          x -> CAST(round(x * 1048576) AS BIGINT)) AS q
         |      FROM embeddings),
         |u AS (SELECT vec_id, unnest(range(1, least(len(q), 64) + 1)) AS i,
         |             unnest(q[1:64]) AS v FROM e),
         |m AS (SELECT unnest(range(0, 1024)) AS k, unnest($signsLit) AS sgn),
         |d AS (SELECT u.vec_id, m.k // 64 AS j, sum(m.sgn * u.v) AS s
         |      FROM u JOIN m ON m.k % 64 = u.i - 1
         |      GROUP BY 1, 2),
         |p AS (SELECT vec_id, CAST(sum(s * (j + 1)) AS BIGINT) AS pr_checksum,
         |             CAST(sum(abs(s)) AS BIGINT) AS pr_l1 FROM d GROUP BY 1)
         |SELECT e.vec_id, coalesce(p.pr_checksum, 0) AS pr_checksum,
         |  coalesce(p.pr_l1, 0) AS pr_l1
         |FROM e LEFT JOIN p USING (vec_id)""".stripMargin
    },

    "pool_embeddings" ->
      """WITH e AS (SELECT label,
        |        list_transform(CAST(embedding AS DOUBLE[]),
        |          x -> CAST(round(x * 1048576) AS BIGINT)) AS q
        |      FROM embeddings),
        |n AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY label),
        |u AS (SELECT label, unnest(range(1, len(q) + 1)) AS pos, unnest(q) AS v FROM e),
        |s AS (SELECT label, pos, CAST(sum(v) AS BIGINT) AS sv FROM u GROUP BY label, pos),
        |p AS (SELECT label, CAST(max(pos) AS BIGINT) AS dim,
        |        CAST(sum(sv * pos) AS BIGINT) AS pool_checksum,
        |        CAST(sum(abs(sv)) AS BIGINT) AS pool_l1
        |      FROM s GROUP BY label)
        |SELECT n.label, n.n_vecs, coalesce(p.dim, 0) AS dim,
        |  coalesce(p.pool_checksum, 0) AS pool_checksum,
        |  coalesce(p.pool_l1, 0) AS pool_l1
        |FROM n LEFT JOIN p USING (label)""".stripMargin,

    // Full mirror: the chunk CTEs (the chunk_documents mirror), the
    // shifted self-join positive, and the same bucket-rotation negative
    // (lead + first_value wrap) over chunk-0 rows.
    "contrastive_pairs" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws, unnest(range(0, len(ws), 24)) AS st FROM w),
        |ch AS (SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
        |         array_to_string(ws[st + 1 : st + 32], ' ') AS chunk_text
        |       FROM c),
        |p AS (SELECT a.doc_id, a.chunk_id, a.chunk_text AS anchor_text,
        |        b.chunk_text AS positive_text
        |      FROM ch a JOIN ch b ON b.doc_id = a.doc_id
        |        AND b.chunk_id = a.chunk_id + 1),
        |f AS (SELECT doc_id, chunk_text AS t, (doc_id * 31 + 17) % 32 AS b
        |      FROM ch WHERE chunk_id = 0),
        |n AS (SELECT doc_id,
        |        coalesce(lead(doc_id) OVER wo, first_value(doc_id) OVER wa)
        |          AS neg_doc_id,
        |        coalesce(lead(t) OVER wo, first_value(t) OVER wa)
        |          AS negative_text
        |      FROM f WINDOW
        |        wo AS (PARTITION BY b ORDER BY doc_id),
        |        wa AS (PARTITION BY b ORDER BY doc_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING
        |               AND UNBOUNDED FOLLOWING))
        |SELECT p.doc_id, p.chunk_id, p.anchor_text, p.positive_text,
        |  n.neg_doc_id, n.negative_text
        |FROM p JOIN n USING (doc_id) WHERE neg_doc_id <> doc_id""".stripMargin,

    // Same assignment mirror as cluster_purity, then per-cluster bottom-k
    // by the assigned cosine (ascending, tie on id).
    "cluster_outliers" ->
      """WITH seeds AS (SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS sv
        |               FROM embeddings WHERE vec_id < 8),
        |a AS (SELECT e.vec_id, s.cluster_id,
        |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) AS cos_to_seed,
        |        row_number() OVER (PARTITION BY e.vec_id
        |          ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
        |                   s.cluster_id) AS rn
        |      FROM embeddings e, seeds s)
        |SELECT vec_id, cluster_id, cos_to_seed FROM a WHERE rn = 1
        |QUALIFY row_number() OVER (PARTITION BY cluster_id
        |  ORDER BY cos_to_seed ASC, vec_id) <= 5""".stripMargin,

    // Full-algorithm mirror: same seed set (vec_id < 8), same argmax
    // (cosine DESC, seed ASC), same purity arithmetic in integers.
    "cluster_purity" ->
      """WITH seeds AS (SELECT vec_id AS cluster_id, CAST(embedding AS DOUBLE[]) AS sv
        |               FROM embeddings WHERE vec_id < 8),
        |a AS (SELECT e.vec_id, e.label, s.cluster_id,
        |        row_number() OVER (PARTITION BY e.vec_id
        |          ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.sv) DESC,
        |                   s.cluster_id) AS rn
        |      FROM embeddings e, seeds s),
        |b AS (SELECT vec_id, label, cluster_id FROM a WHERE rn = 1),
        |cl AS (SELECT cluster_id, label, count(*) AS n FROM b GROUP BY 1, 2),
        |t AS (SELECT cluster_id, n, label,
        |        row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, label) AS rn,
        |        sum(n) OVER (PARTITION BY cluster_id) AS tot
        |      FROM cl)
        |SELECT cluster_id, CAST(tot AS BIGINT) AS n_vecs, label AS top_label,
        |  CAST(n AS BIGINT) AS top_n, CAST(n * 1000 // tot AS BIGINT) AS purity_permille
        |FROM t WHERE rn = 1""".stripMargin,

    // ann_ivf probes every cell, so its result is exactly brute force —
    // same oracle as cosine_topk.
    "ann_ivf" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
        |    AS rank,
        |  neighbor_id, cos
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // one-query exact probe through the SQL table function: brute-force
    // top-5 against vec 7's embedding, self included (no identity to
    // exclude for a raw query vector)
    "ann_sql_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 7),
        |s AS (SELECT c.vec_id AS neighbor_id,
        |        list_cosine_similarity(q.qv, CAST(c.embedding AS DOUBLE[])) AS cos
        |      FROM embeddings c, q)
        |SELECT CAST(row_number() OVER (ORDER BY cos DESC, neighbor_id) AS BIGINT)
        |    AS rank,
        |  neighbor_id, cos
        |FROM s
        |QUALIFY row_number() OVER (ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // Exact-degenerate IVF-PQ probe (full probe + full candidates ⇒ the
    // re-rank sees everything): oracle = brute-force top-5, like ann_ivf.
    "ann_ivfpq" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
        |    AS rank,
        |  neighbor_id, cos
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // Residual IVF-PQ at degenerate knobs: the exact-cosine re-rank sees
    // every corpus row, so the residual candidate arithmetic only orders
    // a set the re-rank fully rescues — oracle = brute-force top-5.
    "ann_ivfpq_residual" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
        |    AS rank,
        |  neighbor_id, cos
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // IVF-OPQ at degenerate knobs: cosine is rotation-invariant and the
    // exact-cosine re-rank sees every corpus row — oracle = brute-force
    // top-5, like the other PQ probes.
    "ann_opq" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
        |    AS rank,
        |  neighbor_id, cos
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // IVF-SQ8 at degenerate knobs: the exact-cosine re-rank sees every
    // corpus row, so the quantized candidate ranking only orders a set
    // the re-rank fully rescues — oracle = brute-force top-5.
    "ann_sq8" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
        |    AS rank,
        |  neighbor_id, cos
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // Full-algorithm mirror of the lossy IVF probe (seed centroids =
    // first 8 corpus vectors): corpus cell assignment by cosine argmax
    // (tie: lowest cell), per-query top-2 probed cells, candidate top-5
    // re-rank, then recall vs the exact brute-force top-5. Ordering by
    // list_cosine_similarity matches F.nearestCentroids' normalized-dot
    // argmax because the per-row norm factor is order-preserving.
    "ivf_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |seeds AS (SELECT vec_id AS cell, v AS sv FROM e WHERE vec_id < 8),
        |ca AS (SELECT vec_id, cell FROM (
        |    SELECT e.vec_id, s.cell,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, s.sv) DESC, s.cell) AS rn
        |    FROM e, seeds s) WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |probe AS (SELECT query_id, cell FROM (
        |    SELECT q.query_id, s.cell,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, s.sv) DESC, s.cell) AS rn
        |    FROM q, seeds s) WHERE rn <= 2),
        |cand AS (SELECT p.query_id, ca.vec_id AS neighbor_id
        |  FROM probe p JOIN ca ON ca.cell = p.cell
        |  WHERE ca.vec_id <> p.query_id),
        |ap AS (SELECT query_id, neighbor_id FROM (
        |    SELECT c.query_id, c.neighbor_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_cosine_similarity(eq.v, ec.v) DESC, c.neighbor_id) AS rn
        |    FROM cand c JOIN e eq ON eq.vec_id = c.query_id
        |                JOIN e ec ON ec.vec_id = c.neighbor_id) WHERE rn <= 5),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.query_id, e2.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, e2.v) DESC, e2.vec_id) AS rn
        |    FROM q, e e2 WHERE e2.vec_id <> q.query_id) WHERE rn <= 5)
        |SELECT (SELECT count(*) FROM ex) AS n_exact,
        |  (SELECT count(*) FROM ap) AS n_approx,
        |  (SELECT count(*) FROM ex JOIN ap USING (query_id, neighbor_id)) AS n_hit,
        |  CAST((SELECT count(*) FROM ex JOIN ap USING (query_id, neighbor_id)) * 1000
        |       // (SELECT count(*) FROM ex) AS BIGINT) AS recall_permille""".stripMargin,

    "cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 20),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
        |    AS rank,
        |  neighbor_id, cos
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // Exact top-10 by cosine + label-match metrics; n_rel excludes self,
    // recall@10 is R-capped (min(k, n_rel) denominator), integer div.
    "retrieval_eval" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v,
        |           label AS ql FROM embeddings WHERE vec_id < 50),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v,
        |      label AS cl FROM embeddings),
        |s AS (SELECT query_id, ql, neighbor_id, cl,
        |        list_cosine_similarity(q.v, c.v) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id),
        |t AS (SELECT query_id, ql, cl,
        |        ROW_NUMBER() OVER (PARTITION BY query_id
        |          ORDER BY cos DESC, neighbor_id) AS rnk
        |      FROM s
        |      QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cos DESC, neighbor_id) <= 10),
        |hist AS (SELECT label AS ql, COUNT(*) AS n_lab FROM embeddings GROUP BY 1),
        |a AS (SELECT query_id, MIN(CASE WHEN ql = cl THEN rnk END) AS first_rel,
        |        SUM(CASE WHEN ql = cl THEN 1 ELSE 0 END) AS hits,
        |        MAX(ql) AS ql
        |      FROM t GROUP BY 1)
        |SELECT query_id, CAST(first_rel AS BIGINT) AS first_rel,
        |  CAST(COALESCE(1000000 // first_rel, 0) AS BIGINT) AS rr_micro,
        |  CAST(hits AS BIGINT) AS hits,
        |  CAST(n_lab - 1 AS BIGINT) AS n_rel,
        |  CAST(CASE WHEN LEAST(10, n_lab - 1) > 0
        |       THEN (1000 * hits) // LEAST(10, n_lab - 1) ELSE 0 END AS BIGINT)
        |    AS recall_permille
        |FROM a JOIN hist USING (ql)""".stripMargin,

    // Hard tier mirrors cosine_topk; random tier recomputes the identical
    // mix64 pair hash and ranks it, excluding the hard set.
    "hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
        |      FROM q, c WHERE query_id <> neighbor_id),
        |hard AS (SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM s
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5),
        |p AS (SELECT s.query_id, s.neighbor_id,
        |    CAST(s.query_id AS VARCHAR) || ':' || CAST(s.neighbor_id AS VARCHAR) AS pair
        |  FROM s ANTI JOIN hard USING (query_id, neighbor_id)),
        |${sqlMix64Ctes("hh", "p", "pair", "query_id, neighbor_id")},
        |rnd AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sh64, neighbor_id) AS rank
        |  FROM hh
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sh64, neighbor_id) <= 5)
        |SELECT query_id, 'hard' AS neg_type, CAST(rank AS BIGINT) AS rank,
        |  neighbor_id, cos FROM hard
        |UNION ALL
        |SELECT query_id, 'random', CAST(rank AS BIGINT), neighbor_id, NULL FROM rnd""".stripMargin,

    // SRP-LSH ANN mirror: same literal-hyperplane bucketing as
    // cosine_neardup_lsh, then per-query ranking over the candidate set
    // (rank order identical to cosine_topk's proven tie-break).
    "ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |hp AS (SELECT * FROM (VALUES
         |${srpPlanesValues(planes = 8, dim = 64, seed = 42L, tables = 4)}
         |) AS t(t, p, pv)),
         |bits AS (SELECT e.vec_id, hp.t, hp.p,
         |    CASE WHEN list_reduce(
         |           list_transform(generate_series(1, 64), i -> v[i] * pv[i]),
         |           (a, b) -> a + b) >= 0
         |         THEN 1 << hp.p ELSE 0 END AS bit
         |  FROM e CROSS JOIN hp),
         |buck AS (SELECT vec_id, t, sum(bit) AS bucket FROM bits GROUP BY vec_id, t),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |         FROM buck q JOIN buck c ON q.t = c.t AND q.bucket = c.bucket
         |         WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |s AS (SELECT query_id, neighbor_id,
         |        list_cosine_similarity(eq.v, ec.v) AS cos
         |      FROM cand JOIN e eq ON eq.vec_id = query_id
         |                JOIN e ec ON ec.vec_id = neighbor_id)
         |SELECT query_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
         |    AS rank,
         |  neighbor_id, cos
         |FROM s
         |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // Full HNSW-style mirror: levels, per-layer graph, greedy descent and
    // the layer-0 beam all replayed as CTEs; the final top-k excludes the
    // query's own node exactly like the engine. Single-sourced with the
    // AutoPlanes twin: ann_hnsw_auto's oracle is the SAME builder at the
    // stats-derived plane count, emitted at Verify-dump time
    // (SparkEntry.dataDependentOracles).
    "ann_hnsw" -> hnswTopKSql(planes = 4),

    // The recall harness's oracle recomputes BOTH sides (brute-force
    // exact and the full graph search) and the hit join.
    "hnsw_recall" ->
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${hnswSearchCtes(m = 8, beam = 16, rounds = 3)},
         |hn AS MATERIALIZED (SELECT d.query_id, d.node AS neighbor_id
         |       FROM s6 d JOIN qs q ON q.query_id = d.query_id
         |                 JOIN e ev ON ev.vec_id = d.node
         |       WHERE d.node <> d.query_id
         |       QUALIFY row_number() OVER (PARTITION BY d.query_id
         |         ORDER BY list_cosine_similarity(q.qv, ev.v) DESC, d.node) <= 5),
         |bf AS MATERIALIZED (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |       FROM e q JOIN e c ON c.vec_id <> q.vec_id
         |       WHERE q.vec_id < 20
         |       QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |         ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) <= 5)
         |SELECT (SELECT COUNT(*) FROM bf) AS n_exact,
         |  (SELECT COUNT(*) FROM hn) AS n_approx,
         |  (SELECT COUNT(*) FROM bf JOIN hn USING (query_id, neighbor_id)) AS n_hit,
         |  CAST((SELECT COUNT(*) FROM bf JOIN hn USING (query_id, neighbor_id))
         |    * 1000 // (SELECT COUNT(*) FROM bf) AS BIGINT) AS recall_permille""".stripMargin,

    // Signatures, Hamming candidate ranks, and both tiebreaks mirrored
    // exactly (sign bits packed into two 32-bit halves in BIGINTs).
    "ann_binary" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sig AS (SELECT vec_id,
        |    list_sum([CASE WHEN v[i+1] >= 0 THEN CAST(1 AS BIGINT) << (i % 32) ELSE 0 END
        |              for i in range(0, 32)]) AS lo,
        |    list_sum([CASE WHEN v[i+1] >= 0 THEN CAST(1 AS BIGINT) << (i % 32) ELSE 0 END
        |              for i in range(32, 64)]) AS hi
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, lo AS ql, hi AS qh FROM sig WHERE vec_id < 20),
        |h AS (SELECT query_id, s.vec_id AS neighbor_id,
        |    bit_count(xor(s.lo, ql)) + bit_count(xor(s.hi, qh)) AS ham
        |  FROM sig s, q WHERE s.vec_id <> query_id),
        |cand AS (SELECT query_id, neighbor_id FROM h
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) <= 100),
        |s2 AS (SELECT query_id, neighbor_id,
        |    list_cosine_similarity(eq.v, ec.v) AS cos
        |  FROM cand JOIN e eq ON eq.vec_id = query_id
        |            JOIN e ec ON ec.vec_id = neighbor_id)
        |SELECT query_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT)
        |    AS rank,
        |  neighbor_id, cos
        |FROM s2
        |QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""".stripMargin,

    // ann_binary's Hamming-prefilter mirror at the TIGHT candidate budget
    // (30), spliced with the exact brute-force ranking into the recall
    // combinator — same shape as lsh_recall's splice-of-mirrors.
    // Full-algorithm PQ mirror (see Pq.pqRecallSql): list_distance
    // assignment with ties to the lower codeword, list_inner_product ADC
    // summed in subspace order — the expressions' exact computation.
    "pq_recall" ->
      Pq.pqRecallSql(m = 8, dsub = 8, ksub = 16, nQueries = 20,
        candidates = 30, k = 5),

    "binary_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sig AS (SELECT vec_id,
        |    list_sum([CASE WHEN v[i+1] >= 0 THEN CAST(1 AS BIGINT) << (i % 32) ELSE 0 END
        |              for i in range(0, 32)]) AS lo,
        |    list_sum([CASE WHEN v[i+1] >= 0 THEN CAST(1 AS BIGINT) << (i % 32) ELSE 0 END
        |              for i in range(32, 64)]) AS hi
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, lo AS ql, hi AS qh FROM sig WHERE vec_id < 20),
        |h AS (SELECT query_id, s.vec_id AS neighbor_id,
        |    bit_count(xor(s.lo, ql)) + bit_count(xor(s.hi, qh)) AS ham
        |  FROM sig s, q WHERE s.vec_id <> query_id),
        |cand AS (SELECT query_id, neighbor_id FROM h
        |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) <= 30),
        |ap AS (SELECT query_id, neighbor_id FROM (
        |    SELECT c.query_id, c.neighbor_id,
        |      row_number() OVER (PARTITION BY c.query_id
        |        ORDER BY list_cosine_similarity(eq.v, ec.v) DESC, c.neighbor_id) AS rn
        |    FROM cand c JOIN e eq ON eq.vec_id = c.query_id
        |                JOIN e ec ON ec.vec_id = c.neighbor_id) WHERE rn <= 5),
        |qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q2.query_id, e2.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q2.query_id
        |        ORDER BY list_cosine_similarity(q2.qv, e2.v) DESC, e2.vec_id) AS rn
        |    FROM qv q2, e e2 WHERE e2.vec_id <> q2.query_id) WHERE rn <= 5)
        |SELECT (SELECT count(*) FROM ex) AS n_exact,
        |  (SELECT count(*) FROM ap) AS n_approx,
        |  (SELECT count(*) FROM ex JOIN ap USING (query_id, neighbor_id)) AS n_hit,
        |  CAST((SELECT count(*) FROM ex JOIN ap USING (query_id, neighbor_id)) * 1000
        |       // (SELECT count(*) FROM ex) AS BIGINT) AS recall_permille""".stripMargin,

    // Two pool mirrors keyed by corpus half, truncating // centroids
    // (DuckDB // and Spark div both truncate toward zero), per-dim
    // |difference| folded to L1 and max.
    "centroid_drift" ->
      """WITH e AS (SELECT vec_id % 2 AS side, label,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(round(x * 1048576) AS BIGINT)) AS q
        |  FROM embeddings),
        |n AS (SELECT side, label, count(*) AS n_vecs FROM e GROUP BY side, label),
        |u AS (SELECT side, label, unnest(range(1, len(q) + 1)) AS pos,
        |        unnest(q) AS v FROM e),
        |s AS (SELECT side, label, pos, CAST(sum(v) AS BIGINT) AS sv
        |      FROM u GROUP BY side, label, pos),
        |c AS (SELECT s.side, s.label, s.pos, sv // n_vecs AS cv
        |      FROM s JOIN n USING (side, label)),
        |d AS (SELECT a.label, abs(a.cv - b.cv) AS ad
        |      FROM c a JOIN c b ON a.label = b.label AND a.pos = b.pos
        |      WHERE a.side = 0 AND b.side = 1)
        |SELECT d.label, na.n_vecs AS a_n, nb.n_vecs AS b_n,
        |  CAST(SUM(ad) AS BIGINT) AS drift_l1,
        |  CAST(MAX(ad) AS BIGINT) AS drift_max
        |FROM d JOIN n na ON na.label = d.label AND na.side = 0
        |       JOIN n nb ON nb.label = d.label AND nb.side = 1
        |GROUP BY d.label, na.n_vecs, nb.n_vecs""".stripMargin,

    // Same round(x*2^20) quantizer as pool_embeddings; HUGEINT list_sum
    // cast back to BIGINT.
    "embedding_norm_outliers" ->
      """WITH w AS (SELECT vec_id,
        |    list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(round(x * 1048576) AS BIGINT)
        |           * CAST(round(x * 1048576) AS BIGINT))) AS norm2_q
        |  FROM embeddings),
        |hi AS (SELECT 'high' AS tail, vec_id, norm2_q FROM w
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY norm2_q DESC, vec_id) <= 10),
        |lo AS (SELECT 'low' AS tail, vec_id, norm2_q FROM w
        |  QUALIFY ROW_NUMBER() OVER (ORDER BY norm2_q ASC, vec_id) <= 10)
        |SELECT tail, vec_id, CAST(norm2_q AS BIGINT) AS norm2_q FROM hi
        |UNION ALL
        |SELECT tail, vec_id, CAST(norm2_q AS BIGINT) AS norm2_q FROM lo""".stripMargin
  )
}
