package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.F

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path next to SRP-LSH (SURVEY.md §2.12): corpus vectors are
  * assigned to their nearest centroid once; a query scores only the
  * vectors in its `nprobe` nearest cells, so the scanned fraction is
  * ~`nprobe / nlist` of the corpus.
  *
  * Training is deterministic, declarative Lloyd's over DataFrames: init
  * cells by `id % nlist`, then `iters` rounds of assign (native
  * [[graft.functions.NearestCentroids]]) + per-dimension mean (posexplode
  * → groupBy(cell, dim) → re-assemble). At 100 TB you train on a sample —
  * pass a sampled `corpus` — and the centroid table (nlist × dim doubles)
  * stays driver-side metadata, exactly like a broadcast dimension table.
  */
object Ivf {

  /** Train `nlist` cosine centroids. Returns the centroid table indexed by
    * cell id; a cell that loses all members keeps its previous centroid. */
  def trainCentroids(corpus: DataFrame, vecCol: String, nlist: Int,
      iters: Int = 2, idCol: String = "vec_id"): Seq[Seq[Double]] = {
    // iterative training re-reads the corpus once per round: cache the
    // (sampled) training set for the duration of the loop
    val spread = Par.spread(corpus).persist()
    try trainOn(spread, vecCol, nlist, iters, idCol)
    finally spread.unpersist()
  }

  private def trainOn(spread: DataFrame, vecCol: String, nlist: Int,
      iters: Int, idCol: String): Seq[Seq[Double]] = {
    def means(assigned: DataFrame): Map[Int, Seq[Double]] =
      assigned
        .select(col("__cell"), posexplode(col(vecCol)).as(Seq("__dim", "__x")))
        .groupBy("__cell", "__dim").agg(avg(col("__x").cast("double")).as("__m"))
        .groupBy("__cell")
        .agg(transform(array_sort(collect_list(struct(col("__dim"), col("__m")))),
          s => s.getField("__m")).as("__centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq)
        .toMap

    def toTable(m: Map[Int, Seq[Double]], prev: Int => Seq[Double]): Seq[Seq[Double]] =
      (0 until nlist).map(c => m.getOrElse(c, prev(c)))

    // hash-based init so any id type (numeric or string key) seeds cells
    val init = means(
      spread.withColumn("__cell",
        pmod(xxhash64(col(idCol)), lit(nlist)).cast("int")))
    val dim = init.values.headOption.map(_.size).getOrElse(0)
    var centroids = toTable(init, _ => Seq.fill(dim)(0.0))
    var it = 0
    while (it < iters) {
      val next = means(spread.withColumn("__cell",
        element_at(F.nearestCentroids(col(vecCol), centroids, 1), 1)))
      centroids = toTable(next, centroids)
      it += 1
    }
    centroids
  }

  /** ANN top-k via IVF: output (query_id, rank, neighbor_id, cos) like
    * [[Similarity.bruteForceTopK]]; recall < 1 unless `nprobe == nlist`
    * (then the result is exactly brute force). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Seq[Seq[Double]], nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = Par.spread(corpus).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_v"),
      element_at(F.nearestCentroids(col(vecCol), centroids, 1), 1).as("__cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"),
      explode(F.nearestCentroids(col(vecCol), centroids, nprobe)).as("__cell"))
    val scored = c.join(broadcast(q), "__cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", F.cosineSim(col("q_v"), col("c_v")))
      .select("query_id", "neighbor_id", "cos")
    Similarity.perQueryTopK(scored, k)
  }

  // ------------------------------------------------------------------
  // Persisted IVF index: build once / probe many. At 100 TB the index
  // build is a JOB, not a query prelude — centroids and cell assignments
  // live as tables and are maintained incrementally as the corpus grows.
  //
  //   <indexPath>/centroids/   (cell INT, centroid ARRAY<DOUBLE>) — nlist rows
  //   <indexPath>/cells/       corpus rows + __cell (data column)
  //
  // Both tables live in an [[IndexStore]] (round 8): every rewrite —
  // build, compaction, compliance delete — commits via the same
  // manifest + pointer protocol as the merge targets, so a crash mid-
  // maintenance leaves the previous index fully readable and no commit
  // path renames a directory. Probes read ONLY the probed cells' manifest
  // entries, so a probe touches ~nprobe/nlist of the stored corpus;
  // incremental adds assign against the FROZEN centroids and append only
  // the new rows' files.
  // ------------------------------------------------------------------

  /** The stored cell-assignment table (corpus rows + `__cell`), optionally
    * pruned to a cell list via the manifest — the read side every probe
    * and maintenance job shares. */
  def readCells(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      cells: Option[Seq[Int]] = None): DataFrame =
    IndexStore.read(spark, s"$indexPath/cells", Some("__cell"), cells)

  /** Train on `trainOn` (pass a sample at scale) and persist centroids +
    * full-corpus cell assignments under `indexPath`. */
  def buildIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpus: DataFrame, trainOn: DataFrame, nlist: Int, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val centroids = trainCentroids(trainOn, vecCol, nlist, iters, idCol)
    import spark.implicits._
    IndexStore.rewrite(spark, s"$indexPath/centroids",
      centroids.zipWithIndex.map { case (c, i) => (i, c) }
        .toDF("cell", "centroid").coalesce(1))
    appendCells(spark, indexPath, corpus, idCol, vecCol, overwrite = true)
  }

  /** Deterministic cache dir for the index built over one source file:
    * `<root>/graft-ivf-index-<srcTag>-<snapFp>` where `srcTag` is a 64-bit
    * fingerprint of the source path alone (groups all snapshots of the
    * same source) and `snapFp` fingerprints (path, mtime, length) so any
    * data change forces a new dir. 64-bit [[graft.functions.PortableHash
    * .mix64]], not `String.hashCode`: 32 bits collide across corpora (two
    * different datasets silently sharing an index → wrong ANN results)
    * and `math.abs(Int.MinValue)` is negative.
    *
    * `params` folds the BUILD KNOBS (nlist, m, planes, …) into the
    * snapshot fingerprint: without it a knob change in a later release
    * would silently reuse a stale index built with the old parameters
    * and serve results that diverge from the scan-computed twin (ADVICE
    * r13). Knob changes supersede the old dir exactly like data changes
    * do, so [[gcSupersededIndexes]] reclaims it on the next rebuild. */
  def cachedIndexDir(src: java.io.File, root: String = "/tmp",
      params: String = ""): String = {
    def fp(s: String): String = java.lang.Long.toHexString(
      graft.functions.PortableHash.mix64(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)))
    val srcTag = fp(src.getAbsolutePath)
    val snapFp =
      fp(s"${src.getAbsolutePath}:${src.lastModified}:${src.length}:$params")
    s"$root/graft-ivf-index-$srcTag-$snapFp"
  }

  /** GC superseded cache dirs: removes every `graft-ivf-index-<srcTag>-*`
    * sibling of `keep` (same source, stale snapshot) and leaves other
    * sources' indexes alone. Call right before rebuilding. */
  def gcSupersededIndexes(keep: String): Unit = {
    val keepDir = new java.io.File(keep)
    val name = keepDir.getName                  // graft-ivf-index-<tag>-<fp>
    val prefix = name.substring(0, name.lastIndexOf('-') + 1)
    Option(keepDir.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith(prefix) && f.getName != name)
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  /** The persisted centroid table, cell-ordered — O(nlist × dim) driver
    * metadata, like a broadcast dimension. */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Seq[Seq[Double]] =
    IndexStore.read(spark, s"$indexPath/centroids").orderBy("cell")
      .collect().map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq

  /** Incrementally index new vectors WITHOUT retraining: assign against
    * the stored centroids and append — the merge-path maintenance hook.
    * (Standard IVF practice: centroids drift slowly; retrain is a periodic
    * offline job, not a per-batch one.)
    *
    * IDEMPOTENT: the batch is anti-joined against the ids already in the
    * cells table, so a retried run (at-least-once orchestration) appends
    * nothing the second time, and an UPDATE to an existing key does not
    * leave two rows for the same id (a probe would return the same
    * neighbor twice). The anti-join side reads only the id column of the
    * stored cells (column-pruned scan). Consequence: an updated key keeps
    * its ORIGINAL indexed vector until the periodic rebuild — schedule
    * [[buildIndex]] over the current corpus the same way
    * `IncrementalStream.rebuildNearDupIndex` refreshes the near-dup index
    * (both indexes age the same way under key updates). */
  def addToIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      vectors: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val hasCells = IndexStore.exists(spark, s"$indexPath/cells")
    val fresh =
      if (!hasCells) vectors
      else vectors.join(readCells(spark, indexPath).select(col(idCol)),
        Seq(idCol), "left_anti")
    appendCells(spark, indexPath, fresh, idCol, vecCol, overwrite = !hasCells)
  }

  // ------------------------------------------------------------------
  // Reverse lookup (round 9): <indexPath>/idmap/ is a slim
  // (id, __cell, __idb) table bucketed by __idb = pmod(xxhash64(id), 64),
  // committed through the same [[IndexStore]] as the cells. Compliance
  // erasure used to LOCATE the deleted ids' cells with a column-pruned
  // scan of the WHOLE cells table — a fixed O(index rows) floor per
  // erasure job (~3 s at sf0.1×5, linear at 100 TB). With the idmap,
  // locating reads only the manifest entries of the ≤ min(|keys|, 64)
  // id-buckets the keys hash to: O(|keys|) rows touched, independent of
  // index size. The map itself is maintained incrementally by the same
  // jobs that maintain the cells (build/add/compact/delete).
  // ------------------------------------------------------------------

  private[operators] val IdMapBuckets = 64
  private def idMapRoot(indexPath: String): String = s"$indexPath/idmap"
  private def idb(idCol: String) =
    pmod(xxhash64(col(idCol)), lit(IdMapBuckets)).cast("int")

  /** Build the reverse lookup for an index that predates it: ONE
    * column-pruned pass over the cells — the legacy locating scan, paid
    * once instead of on every erasure. No-op when already present. */
  def ensureIdMap(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      idCol: String = "vec_id"): Unit =
    if (!IndexStore.exists(spark, idMapRoot(indexPath)) &&
        IndexStore.exists(spark, s"$indexPath/cells"))
      IndexStore.rewrite(spark, idMapRoot(indexPath),
        readCells(spark, indexPath).select(col(idCol), col("__cell"))
          .withColumn("__idb", idb(idCol)),
        None, Some("__idb"), Seq(idCol))

  // ------------------------------------------------------------------
  // IVF-PQ (round 10): <indexPath>/pq/ holds the trained per-subspace
  // codebooks ((m, j, codeword) — m·ksub rows of driver metadata, like
  // the centroid table), and once attached, every cells row carries its
  // `__codes` (m small ints). [[probeIndexAdc]] then generates candidates
  // from a COLUMN-PRUNED (id, __cell, __codes) read of the probed cells —
  // the candidate pass never touches the vector column, which at 100 TB
  // is the difference between scanning m bytes/vector and 4·dim —
  // and joins vectors back only for the ADC survivors. FAISS's IVF-PQ
  // composition on this engine's index layout. The codebooks are
  // aggregate statistics over ≥ trainOn rows (like the centroids), so
  // compliance erasure of a vector does not require retraining them;
  // [[deleteFromIndex]]/[[compactIndex]] carry `__codes` through their
  // rewrites untouched.
  // ------------------------------------------------------------------

  private def pqRoot(indexPath: String): String = s"$indexPath/pq"

  /** The centroid table as ONE plan literal (a single `Literal` node
    * carrying ArrayData, via `typedLit` — NOT an `array(lit…)` tree,
    * which at a production nlist×dim would be millions of expression
    * nodes). Same plan posture as [[graft.functions.NearestCentroids]]'
    * reference object: driver metadata shipped once with the plan. */
  private def centroidsLit(centroids: Seq[Seq[Double]]) =
    typedLit(centroids.map(_.toSeq))

  /** `v − centroid[cell]` as array<double> — the residual FAISS's IVF-PQ
    * workhorse encodes (Jégou et al. 2011 §IV-A): within a cell the
    * coarse quantizer already explains the centroid component, so PQ
    * codewords spend their ksub entries on the REMAINING within-cell
    * variation — the accuracy knob at fixed memory. `cell` is 0-based. */
  private[operators] def residualOf(vec: Column, cell: Column,
      centroids: Seq[Seq[Double]]): Column =
    zip_with(vec.cast("array<double>"),
      element_at(centroidsLit(centroids), (cell + lit(1)).cast("int")),
      (x, c) => x - c)

  /** `⟨v, centroid[cell]⟩` — the coarse term of the residual-ADC
    * decomposition `⟨q, v⟩ ≈ ⟨q, c⟩ + ⟨q, r̂⟩`. */
  private[operators] def centroidDot(vec: Column, cell: Column,
      centroids: Seq[Seq[Double]]): Column =
    aggregate(
      zip_with(vec.cast("array<double>"),
        element_at(centroidsLit(centroids), (cell + lit(1)).cast("int")),
        (x, c) => x * c),
      lit(0.0), (acc, t) => acc + t)

  /** Whether the attached PQ encodes residuals (vs raw vectors). Indexes
    * written before the residual option lack the column → false.
    * Convenience over [[loadPq]] — callers that also need the codebooks
    * should call [[loadPq]] ONCE instead (ADVICE r15: the codebooks and
    * the flag live in the same pq table; reading it twice doubles the
    * manifest-table reads per probe / per incremental-add batch). */
  def pqIsResidual(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Boolean = loadPq(spark, indexPath)._2

  /** The persisted PQ state in ONE pq-table read: ((m, j)-ordered
    * codebooks, residual flag). `(Nil, false)` when [[attachPq]] never
    * ran; a pre-residual-option table lacks the flag column → false. */
  def loadPq(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (Seq[Seq[Seq[Double]]], Boolean) =
    if (!IndexStore.exists(spark, pqRoot(indexPath))) (Nil, false)
    else {
      val pq = IndexStore.read(spark, pqRoot(indexPath))
      val hasFlag = pq.columns.contains("on_residual")
      val rows = pq.orderBy("m", "j").collect() // m·ksub driver-side rows
      val cb = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_.getInt(1))
          .map(_.getSeq[Double](2).toIndexedSeq).toIndexedSeq)
      val residual = hasFlag && rows.headOption
        .exists(r => r.getBoolean(r.fieldIndex("on_residual")))
      (cb, residual)
    }

  /** Train per-subspace PQ codebooks on `trainOn` (sample at scale),
    * persist them, and REWRITE the cells with each row's `__codes` —
    * after which [[probeIndexAdc]] is available and incremental
    * [[addToIndex]] batches encode automatically.
    *
    * `residual = true` trains and encodes on `v − centroid[cell(v)]`
    * instead of the raw vector (FAISS's default composition): the flag
    * rides in the persisted pq table, so probes and incremental adds
    * pick the matching arithmetic without a caller-side knob. Codebooks
    * stay aggregate statistics (erasure never retrains them), and the
    * cells rewrite reuses the STORED `__cell` — assignment is not
    * recomputed. */
  def attachPq(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      trainOn: DataFrame, m: Int, ksub: Int, iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      residual: Boolean = false): Unit = {
    val cents = if (residual) loadCentroids(spark, indexPath) else Nil
    val cb =
      if (!residual)
        Pq.trainCodebooks(trainOn,
          Pq.seedCodebooks(trainOn, m, ksub, idCol, vecCol), iters, vecCol)
      else {
        // training assignment = the index's own coarse quantizer
        val res = trainOn.select(col(idCol), residualOf(col(vecCol),
          element_at(F.nearestCentroids(col(vecCol), cents, 1), 1),
          cents).as("__res"))
        Pq.trainCodebooks(res,
          Pq.seedCodebooks(res, m, ksub, idCol, "__res"), iters, "__res")
      }
    import spark.implicits._
    IndexStore.rewrite(spark, pqRoot(indexPath),
      cb.zipWithIndex.flatMap { case (words, mi) =>
        words.zipWithIndex.map { case (w, j) => (mi, j, w, residual) }
      }.toDF("m", "j", "codeword", "on_residual").coalesce(1))
    val cells = readCells(spark, indexPath)
    val encodeIn =
      if (residual) residualOf(col(vecCol), col("__cell"), cents)
      else col(vecCol)
    IndexStore.rewrite(spark, s"$indexPath/cells",
      cells.drop("__codes").withColumn("__codes", F.pqCodes(encodeIn, cb)),
      None, Some("__cell"))
  }

  // --- OPQ tier (round 17, VERDICT r16 #9) ----------------------------
  // Optimized Product Quantization (Ge et al., CVPR 2013): a learned
  // orthonormal ROTATION in front of PQ, trained driver-side on a
  // bounded sample ([[Opq.trainRotation]] — alternating PQ-fit /
  // orthogonal-Procrustes descent), persisted like the codebooks, and
  // applied as one codegen'd matvec at encode and probe time. Cosine
  // ranking is rotation-invariant, so only the ADC candidate ORDER
  // improves — the accuracy-at-fixed-memory knob after residual-PQ and
  // SQ8 (same m bytes/vector as raw PQ, none of its subspace-boundary
  // blindness). Not combined with residual encoding (either knob
  // re-aims the same codeword budget; FAISS composes them as OPQ+IVF
  // too, but the residual flag and the rotation are mutually exclusive
  // here by require()).

  private def opqRoot(indexPath: String): String = s"$indexPath/opq"

  /** The persisted OPQ rotation, row-ordered — d×d doubles of driver
    * metadata. Empty when [[attachOpq]] never ran. */
  def loadOpq(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Seq[Seq[Double]] =
    if (!IndexStore.exists(spark, opqRoot(indexPath))) Nil
    else IndexStore.read(spark, opqRoot(indexPath)).orderBy("i").collect()
      .map(_.getSeq[Double](1).toIndexedSeq).toSeq

  /** Train an OPQ rotation on a bounded driver sample of `trainOn`,
    * persist it, train the FINAL codebooks with the distributed
    * [[Pq.trainCodebooks]] over the rotated vectors, and rewrite the
    * cells' `__codes` — after which [[probeIndexAdc]] and incremental
    * [[addToIndex]] pick the rotation up automatically. */
  def attachOpq(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      trainOn: DataFrame, m: Int, ksub: Int, iters: Int = 1,
      opqIters: Int = 10, sampleCap: Int = 2048,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    // deterministic bounded sample: lowest ids first
    val sample = trainOn
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .orderBy(col(idCol)).limit(sampleCap).collect()
      .map(_.getSeq[Double](1).toArray)
    val (r, cb0) = Opq.trainRotationAndCodebooks(sample, m, ksub,
      iters = opqIters)
    import spark.implicits._
    IndexStore.rewrite(spark, opqRoot(indexPath),
      r.zipWithIndex.map { case (row, i) => (i, row) }
        .toDF("i", "r_row").coalesce(1))
    // distributed refinement of the driver-learned codebooks over the
    // full rotated training frame (seeding from scratch here would lose
    // the alternation's separated centers — see trainRotationAndCodebooks)
    val rotated = trainOn.select(col(idCol),
      F.matVec(col(vecCol), r).as("__rot"))
    val cb = Pq.trainCodebooks(rotated, cb0, iters, "__rot")
    IndexStore.rewrite(spark, pqRoot(indexPath),
      cb.zipWithIndex.flatMap { case (words, mi) =>
        words.zipWithIndex.map { case (w, j) => (mi, j, w, false) }
      }.toDF("m", "j", "codeword", "on_residual").coalesce(1))
    val cells = readCells(spark, indexPath)
    IndexStore.rewrite(spark, s"$indexPath/cells",
      cells.drop("__codes").withColumn("__codes",
        F.pqCodes(F.matVec(col(vecCol), r), cb)),
      None, Some("__cell"))
  }

  /** The persisted codebooks, (m, j)-ordered — m·ksub·dsub doubles of
    * driver metadata. Empty when [[attachPq]] never ran. See [[loadPq]]
    * when the residual flag is needed too. */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Seq[Seq[Seq[Double]]] = loadPq(spark, indexPath)._1

  /** IVF-PQ probe: candidates from the probed cells' codes via ADC (the
    * vector column is NOT read in this pass), exact-cosine re-rank of the
    * `candidates` survivors. `nprobe == nlist` and `candidates ≥ |probed
    * rows|` degenerate to exact brute force, like [[probeIndex]].
    *
    * A residual-encoded index (attachPq `residual = true` — the flag is
    * read back from the pq table) ranks candidates by
    * `⟨q, centroid[cell]⟩ + ADC(q, residual codes)`: since
    * `v ≈ c + r̂`, that is the same `⟨q, v⟩` estimate the raw path
    * computes, with the quantization error confined to the within-cell
    * residual. The coarse term is one HOF dot per (query, cell) pair —
    * |queries|·nprobe rows, never corpus-sized. */
  // --- SQ8 tier (round 16, VERDICT r15 #8) ----------------------------
  // Scalar quantization: dim uint8 codes per vector (8× smaller than the
  // raw float column, 8× bigger than PQ-m=8) — the accuracy-vs-memory
  // point BETWEEN exact re-rank and PQ-ADC. Per-dimension affine codes
  // `round((x − lo_d) / span_d · 255)`; the (lo, hi) bounds are
  // aggregate statistics persisted like the PQ codebooks (erasure never
  // retrains them), and incremental [[addToIndex]] batches encode
  // automatically once attached.

  private def sq8Root(indexPath: String): String = s"$indexPath/sq8"

  /** The persisted per-dimension bounds, dim-ordered: (lo, hi).
    * `(Nil, Nil)` when [[attachSq8]] never ran. */
  def loadSq8(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): (Seq[Double], Seq[Double]) =
    if (!IndexStore.exists(spark, sq8Root(indexPath))) (Nil, Nil)
    else {
      val rows = IndexStore.read(spark, sq8Root(indexPath))
        .orderBy("d").collect() // dim driver-side rows
      (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
    }

  private def sq8Spans(lo: Seq[Double], hi: Seq[Double]): Seq[Double] =
    lo.zip(hi).map { case (l, h) => if (h > l) h - l else 1.0 }

  /** `round((x − lo_d) / span_d · 255)` clamped to [0, 255], as
    * array<int> — the per-dim bounds enter as TWO `typedLit` literals
    * (the centroid-table posture: single Literal nodes, not expression
    * trees). A degenerate dimension (hi == lo) codes 0 and dequantizes
    * to its constant. */
  private[operators] def sq8Codes(vec: Column, lo: Seq[Double],
      hi: Seq[Double]): Column =
    zip_with(
      zip_with(vec.cast("array<double>"), typedLit(lo), (x, l) => x - l),
      typedLit(sq8Spans(lo, hi)),
      (y, s) => least(lit(255), greatest(lit(0), round(y / s * 255))).cast("int"))

  /** Compute exact per-dimension (min, max) over `trainOn`, persist
    * them, and REWRITE the cells with each row's `__sq8` codes.
    *
    * Scale shape: the bounds pass posexplodes to (d, x) and min/max-
    * aggregates on d — map-side combined, so the shuffle carries
    * dim × partitions rows, never the corpus; the cells rewrite is the
    * same one-pass column append as [[attachPq]]'s, reusing the stored
    * `__cell` (assignment is not recomputed). */
  def attachSq8(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      trainOn: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val bounds = trainOn
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .groupBy("d").agg(min("x").as("lo"), max("x").as("hi"))
    IndexStore.rewrite(spark, sq8Root(indexPath),
      bounds.orderBy("d").coalesce(1))
    val (lo, hi) = loadSq8(spark, indexPath)
    val cells = readCells(spark, indexPath)
    IndexStore.rewrite(spark, s"$indexPath/cells",
      cells.drop("__sq8").withColumn("__sq8", sq8Codes(col(vecCol), lo, hi)),
      None, Some("__cell"))
  }

  /** IVF-SQ8 probe: candidates ranked from the probed cells' uint8
    * codes (the vector column is NOT read in this pass), exact-cosine
    * re-rank of the `candidates` survivors — [[probeIndexAdc]]'s shape
    * at the SQ8 memory point. `nprobe == nlist` and `candidates ≥
    * |probed rows|` degenerate to exact brute force, the same oracle
    * convention as the PQ probes.
    *
    * Ranking trick: `⟨q, deq(codes)⟩ = ⟨q, lo⟩ + ⟨q ⊙ span/255, codes⟩`,
    * and the first term is CONSTANT per query — irrelevant to a
    * per-query ranking — so the candidate score is one HOF dot of the
    * precomputed `q ⊙ span/255` against the int codes: no per-dimension
    * index lookup, fully codegen'd. */
  def probeIndexSq8(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int, nprobe: Int,
      candidates: Int = 100,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val (lo, hi) = loadSq8(spark, indexPath)
    require(lo.nonEmpty,
      s"no SQ8 bounds under $indexPath — run attachSq8 before probeIndexSq8")
    val spans = sq8Spans(lo, hi)
    val centroids = loadCentroids(spark, indexPath)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"),
      explode(F.nearestCentroids(col(vecCol), centroids, nprobe)).as("__cell"))
      .withColumn("__qp", zip_with(col("q_v").cast("array<double>"),
        typedLit(spans), (x, s) => x * s / 255.0))
    val probed = q.select("__cell").distinct().collect().map(_.getInt(0))
    val probedCells = readCells(spark, indexPath, Some(probed.toIndexedSeq))
      .where(col("__cell").isin(probed.map(Integer.valueOf).toSeq: _*))
    // candidate pass: column-pruned to (id, __cell, __sq8); the score is
    // one native dot of the precomputed q⊙span/255 against the int codes
    // (r19: the HOF zip_with+aggregate formulation materialized two
    // arrays per candidate row — DotCodes folds the identical doubles in
    // the identical order with no per-row allocation)
    val candScore = F.dotCodes(col("__qp"), col("__sq8"))
    val scored = probedCells
      .select(col(idCol).as("neighbor_id"), col("__cell"), col("__sq8"))
      .join(broadcast(q), "__cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), candScore.as("cos"))
    val cand = Similarity.perQueryTopK(scored, candidates)
      .select("query_id", "neighbor_id")
    // vectors join back only for the survivors (still only probed cells)
    val cv = probedCells.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_v")).dropDuplicates("neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"))
    val rescored = cand.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("cos", F.cosineSim(col("q_v"), col("c_v")))
      .select("query_id", "neighbor_id", "cos")
    Similarity.perQueryTopK(rescored, k)
  }

  def probeIndexAdc(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: DataFrame, k: Int, nprobe: Int,
      candidates: Int = 100,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= k, s"candidates ($candidates) must be >= k ($k)")
    val (cb, residual) = loadPq(spark, indexPath) // one pq-table read
    require(cb.nonEmpty,
      s"no PQ codebooks under $indexPath — run attachPq before probeIndexAdc")
    val opqR = loadOpq(spark, indexPath)
    require(!(residual && opqR.nonEmpty),
      s"$indexPath carries both a residual flag and an OPQ rotation — " +
        "the tiers are mutually exclusive")
    val centroids = loadCentroids(spark, indexPath)
    // an OPQ index rotates the QUERY into code space — codes were made
    // from rotated vectors, and ⟨Rq, Rv⟩ = ⟨q, v⟩ keeps the estimate.
    // Everything per-(query, cell)-constant is HOISTED onto the
    // (broadcast) query side (r19, VERDICT r18 #7): the ADC lookup
    // table (m·ksub sub-inner-products, previously re-derived per
    // CANDIDATE row inside pq_adc) and the residual formulation's
    // query·centroid dot. The candidate pass then pays m lookups per
    // row; scores are bit-identical (PqOps.adcLut folds the same
    // doubles in the same order as PqOps.adc). The table depends on the
    // query alone, so it is built once per query, BEFORE the explode over
    // the nprobe probed cells.
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"),
        F.pqLut(if (opqR.nonEmpty) F.matVec(col(vecCol), opqR) else col(vecCol),
          cb).as("__lut"))
      .withColumn("__cell",
        explode(F.nearestCentroids(col("q_v"), centroids, nprobe)))
      .withColumn("__cdot",
        if (residual) centroidDot(col("q_v"), col("__cell"), centroids)
        else lit(0.0))
    val probed = q.select("__cell").distinct().collect().map(_.getInt(0))
    val probedCells = readCells(spark, indexPath, Some(probed.toIndexedSeq))
      .where(col("__cell").isin(probed.map(Integer.valueOf).toSeq: _*))
    val adc = F.pqAdcLut(col("__lut"), col("__codes"),
      ksub = if (cb.isEmpty) 0 else cb.head.length)
    val candScore = if (residual) col("__cdot") + adc else adc
    // candidate pass: column-pruned to (id, __cell, __codes)
    val scored = probedCells
      .select(col(idCol).as("neighbor_id"), col("__cell"), col("__codes"))
      .join(broadcast(q), "__cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), candScore.as("cos"))
    val cand = Similarity.perQueryTopK(scored, candidates)
      .select("query_id", "neighbor_id")
    // vectors join back only for the survivors (still only probed cells)
    val cv = probedCells.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("c_v")).dropDuplicates("neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"))
    val rescored = cand.join(cv, "neighbor_id").join(broadcast(qv), "query_id")
      .withColumn("cos", F.cosineSim(col("q_v"), col("c_v")))
      .select("query_id", "neighbor_id", "cos")
    Similarity.perQueryTopK(rescored, k)
  }

  private def appendCells(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, vectors: DataFrame, idCol: String, vecCol: String,
      overwrite: Boolean): Unit = {
    val centroids = loadCentroids(spark, indexPath)
    // an attached PQ encodes every new batch at append time (frozen
    // codebooks, same practice as the frozen coarse centroids)
    val (pqCb, pqResidual) = loadPq(spark, indexPath) // one pq-table read
    val (sq8Lo, sq8Hi) = loadSq8(spark, indexPath)
    val opqR = loadOpq(spark, indexPath)
    val preAssigned = Par.spread(vectors)
      .withColumn("__cell",
        element_at(F.nearestCentroids(col(vecCol), centroids, 1), 1))
    val pqEncoded =
      if (pqCb.isEmpty) preAssigned
      else {
        // frozen-transform practice: an attached OPQ rotation encodes
        // every new batch too, like the frozen codebooks and centroids
        val in =
          if (pqResidual) residualOf(col(vecCol), col("__cell"), centroids)
          else if (opqR.nonEmpty) F.matVec(col(vecCol), opqR)
          else col(vecCol)
        preAssigned.withColumn("__codes", F.pqCodes(in, pqCb))
      }
    // an attached SQ8 encodes every new batch too (frozen bounds, the
    // frozen-codebook practice)
    val assigned =
      if (sq8Lo.isEmpty) pqEncoded
      else pqEncoded.withColumn("__sq8", sq8Codes(col(vecCol), sq8Lo, sq8Hi))
    if (overwrite) {
      IndexStore.rewrite(spark, s"$indexPath/cells", assigned,
        None, Some("__cell"))
      // full build: derive the idmap from the COMMITTED cells (a slim
      // column-pruned read-back) instead of re-running the centroid
      // assignment over the whole corpus a second time
      IndexStore.rewrite(spark, idMapRoot(indexPath),
        readCells(spark, indexPath).select(col(idCol), col("__cell"))
          .withColumn("__idb", idb(idCol)),
        None, Some("__idb"), Seq(idCol))
    } else {
      // a pre-round-9 index has cells but no idmap: backfill it from the
      // COMMITTED cells BEFORE appending, else the map would start life
      // holding only this batch and old ids would never locate (silent
      // erasure incompleteness — the exact bug class ADVICE r8 flagged)
      ensureIdMap(spark, indexPath, idCol)
      IndexStore.append(spark, s"$indexPath/cells", assigned, Some("__cell"))
      // incremental: the batch is small — recomputing its assignment for
      // the slim idmap rows is cheaper than materializing the batch
      IndexStore.append(spark, idMapRoot(indexPath),
        assigned.select(col(idCol), col("__cell"))
          .withColumn("__idb", idb(idCol)),
        Some("__idb"), Seq(idCol))
    }
  }

  /** Erase vectors from a persisted index — the index-side half of a
    * compliance delete ([[Upsert.deleteFromParquet]] removes the rows; an
    * ANN index still holding the vectors is not an erasure). The deleted
    * ids' cells are LOCATED through the idmap reverse lookup (round 9):
    * only the ≤ min(|ids|, [[IdMapBuckets]]) id-buckets the keys hash to
    * are read — O(|ids|) work, where the previous column-pruned
    * whole-cells scan was a fixed O(index rows) floor per erasure. Then
    * ONLY the located `__cell` partitions are rewritten (~|ids|/nlist of
    * the stored corpus), and the idmap's touched buckets retire the same
    * ids. Every rewrite commits through [[IndexStore]] with
    * recompute-on-retry: untouched cells keep their manifest entries
    * verbatim, an emptied cell maps to an empty entry, a crash at any
    * point leaves the PREVIOUS index fully readable, and a conflict with
    * a concurrent index writer re-locates against the winner's snapshot
    * (ADVICE r8). A pre-idmap index pays one [[ensureIdMap]] scan. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, ids: DataFrame, idCol: String = "vec_id"): Unit = {
    val cellsRoot = s"$indexPath/cells"
    if (!IndexStore.exists(spark, cellsRoot)) return
    IndexStore.adopt(spark, cellsRoot, Some("__cell")) // legacy dirs: one-time
    ensureIdMap(spark, indexPath, idCol)
    val idsD = ids.select(col(idCol)).distinct()
    val keyBuckets = idsD.select(idb(idCol).as("__idb")).distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq // ≤ IdMapBuckets ids
    def locate(): IndexedSeq[Int] =
      IndexStore.read(spark, idMapRoot(indexPath), Some("__idb"), Some(keyBuckets))
        .join(idsD, Seq(idCol), "left_semi")
        .select("__cell").distinct()
        .collect().map(_.getAs[Number]("__cell").intValue()).sorted.toIndexedSeq
    if (locate().isEmpty) return // no key indexed: nothing to erase anywhere
    IndexStore.rewriteWith(spark, cellsRoot, Some("__cell"))(() => {
      val touched = locate() // re-located per attempt: conflict-safe
      (readCells(spark, indexPath, Some(touched))
        .join(idsD, Seq(idCol), "left_anti"), Some(touched))
    })
    // retire the idmap rows too — the map must not resurrect erased ids
    IndexStore.rewriteWith(spark, idMapRoot(indexPath), Some("__idb"),
      Seq(idCol))(() =>
      (IndexStore.read(spark, idMapRoot(indexPath), Some("__idb"), Some(keyBuckets))
        .join(idsD, Seq(idCol), "left_anti"), Some(keyBuckets)))
  }

  /** Compact the cell table: every incremental [[addToIndex]] appends its
    * own files into each touched `__cell` partition, so a long-running
    * index accumulates small files (the classic streaming-ingest tax —
    * probe scan cost becomes file-count-bound instead of byte-bound).
    * Rewrites the cells hash-clustered so each cell lands in one task →
    * one file per cell, committed atomically through [[IndexStore]] —
    * concurrent probes keep reading the pre-compaction snapshot until the
    * pointer flips. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, idCol: String = "vec_id"): Unit = {
    // dropDuplicates(id): defensive cleanup for indexes that accumulated
    // same-id rows before addToIndex became idempotent (duplicate ids are
    // identical-or-stale vectors; keeping either is no worse than before).
    // compute-in-loop so a conflict retry re-reads the winner's snapshot.
    IndexStore.rewriteWith(spark, s"$indexPath/cells", Some("__cell"))(() =>
      (readCells(spark, indexPath).dropDuplicates(idCol)
        .repartition(col("__cell")), None))
    // rebuild the idmap from the compacted cells (same dup-id cleanup;
    // reads the freshly committed snapshot, so map and cells agree)
    if (IndexStore.exists(spark, idMapRoot(indexPath)))
      IndexStore.rewriteWith(spark, idMapRoot(indexPath), Some("__idb"),
        Seq(idCol))(() =>
        (readCells(spark, indexPath).select(col(idCol), col("__cell"))
          .withColumn("__idb", idb(idCol)).repartition(col("__idb")), None))
  }

  /** ANN top-k over a persisted index — same output contract as
    * [[ivfTopK]], but the corpus side is the stored cell table pruned to
    * the probed cells (the driver collects at most nlist cell ids from the
    * small broadcast query side — O(config), not data). */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      queries: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = loadCentroids(spark, indexPath)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_v"),
      explode(F.nearestCentroids(col(vecCol), centroids, nprobe)).as("__cell"))
    val probed = q.select("__cell").distinct().collect().map(_.getInt(0))
    val c = readCells(spark, indexPath, Some(probed.toIndexedSeq))
      .where(col("__cell").isin(probed.map(Integer.valueOf).toSeq: _*))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v"), col("__cell"))
    val scored = c.join(broadcast(q), "__cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", F.cosineSim(col("q_v"), col("c_v")))
      .select("query_id", "neighbor_id", "cos")
    Similarity.perQueryTopK(scored, k)
  }
}
