package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ckpt.PinOps

/** Graph operators for dedup pipelines: near-duplicate PAIRS (MinHash /
  * SimHash / Jaccard output) become duplicate GROUPS via weakly-connected
  * components, and each group keeps one representative.
  *
  * FAULT CONTRACT of every iterative loop here (CC label/star, k-core,
  * PageRank, TrustRank, LPA, BFS): each round pins its frame via
  * [[Ckpt.pin]] — `localCheckpoint` by default (fast, executor-local,
  * NOT fault-tolerant), RELIABLE `checkpoint()` when the session conf
  * `spark.graft.checkpointDir` names a DFS path, which is the setting a
  * preemptible 100 TB fleet should run with (VERDICT r13 #2; details on
  * [[Ckpt]]).
  */
object Graph {

  /** Weakly-connected components by min-label propagation: every node ends
    * labeled with the smallest node id reachable from it. Returns
    * (id, component) for every node incident to an edge.
    *
    * ADAPTIVE two-strategy operator (round 9) — the broadcast-join idea
    * applied to graphs. Near-dup edge sets are SPARSE relative to the
    * corpus (pairs survive a similarity threshold), and the iterative
    * loop's cost at the small end is pure fixed job overhead: the sf0.1
    * dedup graph is 1 520 edges yet took 9 rounds × ~0.25 s. So, like a
    * join picking broadcast under `autoBroadcastJoinThreshold`, this
    * measures the deduplicated edge count first and:
    *   - `count ≤ maxDriverEdges` (numeric ids): collects the slim
    *     (a, b) list, runs exact union-find-by-min with path compression
    *     on the driver (microseconds), and returns a parallelized label
    *     table — identical labels, none of the per-round latency. The
    *     collect is BOUNDED by the threshold, the same way a broadcast
    *     join bounds its build side.
    *   - otherwise: the distributed loop below — each round one join +
    *     one min-aggregate (both shuffle on node id, AQE handles skewed
    *     hubs), rounds = diameter compressed by per-round pointer
    *     jumping (O(log d)); state per round is just (id, label). At
    *     100 TB this path carries graphs that genuinely don't fit a
    *     driver; for adversarial long chains the large-star/small-star
    *     variant below remains the upgrade path.
    * Both strategies compute the same fixpoint (component minimum), so
    * callers and oracles are strategy-agnostic.
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50, maxDriverEdges: Long = 1000000L): DataFrame = {
    val idType = edges.schema(aCol).dataType
    val numericIds = idType.isInstanceOf[org.apache.spark.sql.types.LongType] ||
      idType.isInstanceOf[org.apache.spark.sql.types.IntegerType]
    // string keys take the same driver path (lexicographic min = the
    // `min`/`least` ordering the distributed loop uses on strings) —
    // the streaming lineage fold keys on main_refco, and paying the
    // loop's per-round job latency every micro-batch for a star forest
    // that a driver union-find resolves in microseconds is pure waste
    val stringIds = idType.isInstanceOf[org.apache.spark.sql.types.StringType]
    if ((numericIds || stringIds) && maxDriverEdges > 0) {
      val slim = edges
        .select(col(aCol).as("a"), col(bCol).as("b"))
        .where(col("a").isNotNull && col("b").isNotNull).distinct()
      if (slim.count() <= maxDriverEdges) {
        val sess = edges.sparkSession
        import scala.jdk.CollectionConverters._
        import sess.implicits._
        if (numericIds) {
          val out = driverUnionFind[Long](
            slim.select(col("a").cast("long"), col("b").cast("long"))
              .collect().map(r => (r.getLong(0), r.getLong(1))))
          return out.toSeq.toDF("id", "label")
            .select(col("id").cast(idType).as("id"),
              col("label").cast(idType).as("label"))
        } else {
          val out = driverUnionFind[String](
            slim.collect().map(r => (r.getString(0), r.getString(1))))(
            codePointOrdering)
          return out.toSeq.toDF("id", "label")
        }
      }
    }
    connectedComponentsLoop(edges, aCol, bCol, maxIters)
  }

  /** Code-point order — identical to Spark's `UTF8String` binary
    * comparison, because UTF-8 byte order preserves code-point order.
    * Scala's default `Ordering[String]` compares UTF-16 CODE UNITS, which
    * ranks supplementary characters (surrogate pairs, 0xD800-prefixed)
    * BELOW U+E000..U+FFFF — the driver and distributed paths would pick
    * different component minima for ids mixing the two ranges. */
  private[operators] val codePointOrdering: Ordering[String] =
    new Ordering[String] {
      def compare(x: String, y: String): Int = {
        var i = 0
        var j = 0
        while (i < x.length && j < y.length) {
          val cx = x.codePointAt(i)
          val cy = y.codePointAt(j)
          if (cx != cy) return Integer.compare(cx, cy)
          i += Character.charCount(cx)
          j += Character.charCount(cy)
        }
        Integer.compare(x.length - i, y.length - j)
      }
    }

  /** Exact union-find-by-min with path compression: every node maps to
    * its component's minimum under `ord` — the same fixpoint the
    * distributed min-label loop converges to. */
  private def driverUnionFind[T](edges: Seq[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = new java.util.HashMap[T, T]()
    def find(x: T): T = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent.put(ord.max(ra, rb), ord.min(ra, rb))
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.map(id => id -> find(id)).toMap
  }

  /** The distributed min-label propagation loop (see
    * [[connectedComponents]] for strategy selection). */
  private[operators] def connectedComponentsLoop(edges: DataFrame,
      aCol: String, bCol: String, maxIters: Int = 50): DataFrame = {
    // hash(dst) INSIDE the cached plan (r19, VERDICT r18 #1): the
    // per-round propagation joins labels into this loop-invariant
    // symmetric edge set on dst, and InMemoryTableScan reports the
    // cached plan's partitioning (AQE leaves it alone —
    // canChangeCachedPlanOutputPartitioning defaults false), so each
    // round's join reads the edge side exchange-free at any scale. The
    // cache (not a pin) keeps the ACTUAL materialized size as the stats
    // the per-round join strategy is chosen from — a pin would swap in
    // pre-materialization estimates and flip the toy-scale build side
    // (GraphSpec gates the loop's job shape).
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .repartition(org.apache.spark.sql.graftglue.Repin
        .numShufflePartitions(edges), col("dst"))
      .persist()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).persist()
    labels.count() // materialize before the loop re-reads it
    val labelType = labels.schema("label").dataType
    var prevMat = labels // the round's materialized frame, for unpersisting
    val rot = Ckpt.rotator() // bounds reliable-checkpoint storage to 2 rounds
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val prop = sym.join(labels, sym("dst") === labels("id"))
        .select(sym("src").as("id"), col("label"))
      // The convergence check rides the SAME job that materializes the
      // round: the old label travels through the aggregate (labels
      // contributes exactly one non-null __old row per id) and an
      // Observation counts label changes while the eager localCheckpoint
      // executes — no separate join+count job per round.
      val obs = org.apache.spark.sql.Observation(s"cc-changed-$i")
      // localCheckpoint truncates the lineage: each round references the
      // previous frame twice, so without it the logical plan doubles per
      // round and plan processing blows up exponentially.
      val agg = labels.withColumn("__old", col("label"))
        .unionByName(prop.withColumn("__old", lit(null).cast(labelType)))
        .groupBy("id").agg(min("label").as("label"), max("__old").as("__old"))
        .observe(obs,
          sum(when(col("label") =!= col("__old"), 1L).otherwise(0L)).as("changed"))
        .drop("__old")
      val aggCk = rot.pin(agg) // the round's one job; fires obs
      changed = obs.get("changed") match {
        case n: Long => n
        case _ => 0L // sum over an empty frame arrives as null
      }
      // Pointer jumping (path doubling): label(id) := label(label(id)).
      // One neighbor hop per round is O(diameter) rounds — chain-shaped
      // dedup clusters measured 13 rounds of mostly fixed job overhead;
      // composing each hop with a label-table self-join squares the
      // propagated distance, giving O(log diameter) rounds. The jump is
      // LAZY over the just-checkpointed frame, so it adds no job of its
      // own — the next round's job evaluates it as a shallow join of two
      // checkpoint scans. Every label value is itself a node id, so the
      // left join is total. A propagation fixpoint is already the final
      // answer (the jump is the identity there), so stopping on the
      // propagation-step change count remains exact.
      val next = aggCk.alias("x")
        .join(aggCk.select(col("id").as("__jid"), col("label").as("__jlabel")),
          col("x.label") === col("__jid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("__jlabel"), col("x.label")).as("label"))
      if (sys.env.contains("GRAFT_CC_DEBUG")) System.err.println(s"[cc] round $i changed=$changed")
      prevMat.unpersist()
      prevMat = aggCk
      labels = next
      i += 1
    }
    sym.unpersist()
    labels
  }

  /** Weakly-connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — O(log n) rounds on ANY graph shape, including the
    * long chains where min-label propagation needs O(diameter) rounds.
    * Same output contract as [[connectedComponents]].
    *
    * Each round is two join+aggregate passes over the current edge list;
    * the edge list contracts monotonically toward stars around each
    * component's minimum.
    */
  /** `resumeDir`: when set, each round's contracted edge set commits to a
    * durable [[RoundState]] and a NEW invocation over the same dir
    * resumes at the newest committed round instead of round 0 — the
    * driver/JVM-kill recovery contract on top of [[Ckpt]]'s executor-loss
    * one (the soak `graft.SoakResume` kills a JVM mid-loop and proves the
    * resumed output hash-identical to an uninterrupted run). Resuming at
    * a converged fixpoint is exact: the extra round is the identity and
    * the convergence check fires immediately. `onRoundCommitted` is a
    * test/soak hook, called after round i's state is durably committed. */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 30, resumeDir: Option[String] = None,
      onRoundCommitted: Int => Unit = _ => ()): DataFrame = {
    // large-star over the symmetric view: every neighbor v > u hooks to
    // m = min(Γ(u) ∪ {u}); output directed (larger → smaller) edges.
    def largeStar(cur: DataFrame): DataFrame = {
      val symm = cur.unionByName(
        cur.select(col("v").as("u"), col("u").as("v")))
      val m = symm.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      symm.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    // small-star over directed (u > v) edges: u and all its smaller
    // neighbors hook to the smallest of them.
    def smallStar(cur: DataFrame): DataFrame = {
      val m = cur.groupBy("u").agg(min(col("v")).as("m")) // all v < u
      cur.join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(m.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
    }

    val nodes = edges.select(col(aCol).as("id"))
      .unionByName(edges.select(col(bCol).as("id"))).distinct().persist()
    val rot = Ckpt.rotator() // bounds reliable-checkpoint storage to 2 rounds
    val state = resumeDir.map(new RoundState(edges.sparkSession, _))
    val resumed = state.flatMap(_.latest())
    var cur = resumed match {
      case Some((_, df)) => df // flat parquet scan of the committed round
      case None => rot.pin(edges
        .select(greatest(col(aCol), col(bCol)).as("u"),
          least(col(aCol), col(bCol)).as("v"))
        .where(col("u") =!= col("v")).distinct())
    }
    var i = resumed.fold(0)(_._1 + 1)
    var done = false
    while (!done && i < maxIters) {
      // localCheckpoint: each round references cur 4x (two symmetric
      // views in each star) — without lineage truncation the logical plan
      // grows 4^rounds and plan processing OOMs.
      val next = rot.pin(smallStar(largeStar(cur)))
      done = next.count() == cur.count() && next.exceptAll(cur).isEmpty
      state.foreach { st => st.commit(i, next); onRoundCommitted(i) }
      cur.unpersist()
      cur = next
      i += 1
    }
    // converged: every non-root points at its component minimum.
    // (nodes/cur stay persisted — the returned frame is lazy and built on
    // them; unpersisting here would force the whole iterative lineage to
    // recompute on first use.)
    nodes.join(cur, nodes("id") === cur("u"), "left")
      .groupBy("id").agg(least(min(col("v")), first(col("id"))).as("label"))
  }

  /** Collapse near-dup pairs into keep/drop decisions: every node incident
    * to a pair maps to its component's representative (the smallest id);
    * rows where `id != representative` are the drops. */
  def dedupByPairs(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    decisionsFromComponents(connectedComponents(pairs, aCol, bCol))

  /** Min-id keep/drop decisions over an ALREADY-COMPUTED component table
    * ((id, label) from [[connectedComponents]]) — split out so several
    * survivor policies can share ONE CC materialization instead of each
    * re-running the iterative pair/CC stage (the CC driver loop's fixed
    * per-round cost dominates small edge sets). */
  def decisionsFromComponents(comp: DataFrame): DataFrame =
    comp.select(col("id"), col("label").as("representative"))
      .withColumn("keep", col("id") === col("representative"))

  /** Keep/drop decisions with a QUALITY-based representative: per duplicate
    * cluster, the member with the highest `qCol` survives (ties: smallest
    * id) — what production dedup actually wants (keep the longest /
    * highest-scoring copy), vs [[dedupByPairs]]'s arbitrary-but-stable
    * min-id policy. `quality` is joined only onto the PAIRED ids (the
    * component table — tiny relative to the corpus), then one slim
    * per-component argmax picks survivors; nothing corpus-sized shuffles.
    */
  def dedupByPairsBest(pairs: DataFrame, aCol: String, bCol: String,
      quality: DataFrame, qIdCol: String, qCol: String): DataFrame =
    decisionsFromComponentsBest(connectedComponents(pairs, aCol, bCol),
      quality, qIdCol, qCol)

  /** Quality-policy twin of [[decisionsFromComponents]], over a shared
    * component table. */
  def decisionsFromComponentsBest(comp: DataFrame, quality: DataFrame,
      qIdCol: String, qCol: String): DataFrame = {
    val withQ = comp.join(
      quality.select(col(qIdCol).as("id"), col(qCol).as("__q")), "id")
    val best = withQ.groupBy("label")
      .agg(min(struct((-col("__q")).as("__neg_q"), col("id"))).as("__b"))
      .select(col("label"), col("__b.id").as("representative"))
    withQ.join(best, "label")
      .select(col("id"), col("representative"),
        (col("id") === col("representative")).as("keep"))
  }

  // ------------------------- persisted incremental components -------------

  /** Fold one batch into a PERSISTED duplicate-component mapping at
    * `root` — the incremental-dedup closer: with pair generation already
    * incremental (the persisted MinHash index pairs each batch against
    * everything ever indexed, `Dedup.minHashPairsAgainstIndex`), this
    * makes the pairs→groups step incremental too, so "which earlier doc
    * is this a duplicate of" never recomputes history.
    *
    * The mapping rows `(id, component)` — every id ever seen, labeled by
    * its component's minimum id, singletons labeling themselves — are
    * treated as EDGES and unioned with the batch's new pairs, then one
    * [[connectedComponents]] pass relabels. Correctness: the old mapping
    * connects exactly the components the prior edge stream implied (each
    * node directly to its class minimum, which is itself a class member),
    * so CC over (mapping ∪ new pairs) partitions ids identically to CC
    * over the full historical pair stream — pinned against a one-shot CC
    * in `GraphSpec`. Cost per batch: CC over (#ever-seen ids + batch
    * pairs) edges where the mapping part is a STAR forest (depth 1), so
    * the distributed loop converges in O(1) rounds and the driver path's
    * union-find is near-linear — O(corpus ids), never O(history pairs).
    *
    * Commits through [[IndexStore.rewriteWith]]: recompute-on-retry under
    * concurrent writers, crash leaves the previous mapping readable.
    * Merging components is an idempotent, order-insensitive fold (labels
    * are set minima), so replayed batches are harmless — no batch-id
    * guard needed (same posture as the HLL profile, unlike KLL/freq). */
  def updateComponents(spark: SparkSession, root: String, batchIds: DataFrame,
      idCol: String, edges: DataFrame, aCol: String, bCol: String): Unit =
    IndexStore.rewriteWith(spark, root)(() => {
      val existing =
        if (IndexStore.exists(spark, root)) Some(IndexStore.read(spark, root))
        else None
      val oldEdges = existing.map(_.where(col("id") =!= col("component"))
        .select(col("id").as("a"), col("component").as("b")))
      val newEdges = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      val allEdges = oldEdges.fold(newEdges)(_ unionByName newEdges)
      val comp = connectedComponents(allEdges, "a", "b")
      // Edge endpoints ride along even when they are in neither batchIds
      // nor the existing store (e.g. --components enabled after the
      // near-dup index already holds history): an endpoint can be a
      // component's minimum, and every label must have its own mapping row.
      val allIds = (existing.map(_.select("id")).toSeq ++
          Seq(newEdges.select(col("a").as("id")),
            newEdges.select(col("b").as("id"))))
        .foldLeft(batchIds.select(col(idCol).as("id")))(_ unionByName _)
        .distinct()
      (allIds.join(comp, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("label"), col("id")).as("component")), None)
    })

  /** The persisted mapping's current rows `(id, component)`. */
  def readComponents(spark: SparkSession, root: String): DataFrame =
    IndexStore.read(spark, root)

  /** Compliance erasure for the component store: drop the erased ids'
    * rows and RELABEL any component whose label (minimum id) was erased
    * to the minimum of its remaining members — without this, surviving
    * members keep pointing at a deleted id, re-identifying it (the same
    * derived-store leak `Ivf.deleteFromIndex` and
    * `Dedup.deleteFromNearDupIndex` close for their tables).
    *
    * Semantics note: remaining members stay in one component. The pair
    * evidence that connected them is gone with the store that held it
    * (erase the near-dup index separately), so a split decision is not
    * reconstructible here; keeping established membership is the
    * conservative reading and is documented behavior. Runs inside
    * [[IndexStore.rewriteWith]] — recompute-on-retry under concurrent
    * folds, and a replay of the same key list is a no-op. */
  def deleteFromComponents(spark: SparkSession, root: String,
      keys: DataFrame): Unit = {
    // missing store = nothing to scrub (same contract as the IVF and
    // near-dup scrubbers): the erasure job must not abort mid-run over
    // a store this deployment never created
    if (!IndexStore.exists(spark, root)) return
    val keyIds = keys.select(col(keys.columns.head).as("id"))
    IndexStore.rewriteWith(spark, root)(() => {
      val cur = IndexStore.read(spark, root)
      val kept = cur.join(keyIds, Seq("id"), "left_anti")
      val newLabels = kept.groupBy("component")
        .agg(min(col("id")).as("__newc"))
      (kept.join(newLabels, Seq("component"))
        .select(col("id"), col("__newc").as("component")), None)
    })
  }

  /** PageRank in EXACT fixed-point integer arithmetic — link-graph
    * centrality for corpus curation (web-corpus pipelines weight crawl
    * frontiers and source quality by link centrality; the same signal
    * ranks sources/pages before sampling). Every rank is an integer in
    * units of `scale⁻¹` (default micro-ranks): iteration is
    * `rank'(v) = (1000−d)·scale div 1000 + d·Σ_{u→v}(rank(u) div deg(u))
    * div 1000` with damping `d` in permille — divisions TRUNCATE, and
    * because sums of integers are order-independent and the truncation
    * points are fixed, every engine computes bit-identical ranks (the
    * DuckDB oracle unrolls the same iterations as chained CTEs via
    * [[pageRankSql]]). The deliberate trade is the one this repo makes
    * everywhere (TV-not-KL, lift-not-PMI, int-log2-not-ln): no libm
    * float in the fixpoint, so the result is engine-exact at any scale.
    * Truncated remainders and dangling-node mass (no out-edges) simply
    * leave the system — ranks are a RANKING signal, not a probability
    * distribution; both engines lose identical mass.
    *
    * Scale shape: `iterations` rounds, each ONE join of the edge table
    * against the vocab-sized (node, share) table — broadcastable when
    * nodes ≪ edges, else a src-keyed shuffle — plus one map-side-combined
    * dst-keyed sum; per-round state is (node, rank), lineage truncated by
    * `localCheckpoint` per round exactly like the CC loop above (each
    * round one job, no exponential plan growth). Hub in-degree skew is
    * absorbed by the partial aggregation: a 10M-in-link hub receives one
    * combined partial per upstream partition, not 10M rows. */
  /** Exact triangle count via DEGREE-ORDERED wedge counting (Cohen's
    * MapReduce formulation — the one that survives hub nodes): edges are
    * oriented from the lower-ranked endpoint under the total order
    * `(degree, id)`, wedges are generated at each edge's LOWER-ranked
    * node, and a wedge closes iff its two tips' canonical-oriented edge
    * exists. Every triangle is produced exactly once (at its minimum-
    * rank vertex), and — the point — per-node wedge fan-out is bounded
    * by the out-degree under the rank orientation, which is O(√m) for
    * ANY graph (arboricity bound): a celebrity node with 10^7 neighbors
    * ranks above almost all of them, so almost all its edges point IN
    * and its wedge set stays small, where an id-ordered join would
    * explode quadratically at the hub.
    *
    * Shape: one symmetric-dedup exchange, one degree aggregation joined
    * back (node-keyed), the wedge self-join on the low endpoint, and a
    * pair-keyed semi join against the oriented edge set. Returns ONE row
    * `(n_triangles)`. */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // pin: und feeds the degree agg AND (through triangleTriples) three
    // more references — unpinned, each reference re-ran the scan +
    // symmetric-dedup exchange (round-18 audit: 18 copies of the source
    // scan in the canonical plan). One materialization, four flat reads.
    val und = canonicalEdges(edges, aCol, bCol).pin()
    triangleTriples(und, degreesOf(und).pin())
      .agg(count(lit(1)).as("n_triangles"))
  }

  private def degreesOf(und: DataFrame): DataFrame = und
    .select(explode(array(col("u"), col("v"))).as("n"))
    .groupBy("n").agg(count(lit(1)).as("d"))

  /** One row per triangle as the node triple `(lo, h1, h2)` — the
    * degree-ordered wedge join's closed wedges (each triangle exactly
    * once, at its minimum-rank vertex). Takes the caller's canonical
    * edge set and degree table so [[clusteringCoefficient]] reuses them
    * for its own outputs instead of distinct-shuffling the edges and
    * aggregating degrees twice. Callers pass both PINNED: `und` is read
    * here once and `oriented` — re-read by the wedge self-join's two
    * sides and the closing semi join — is pinned below, so the oriented
    * edge set is computed exactly once per query instead of once per
    * reference (guide §2.4 "remove shuffles outright": the unpinned
    * form re-ran the dedup exchange + two degree joins three times). */
  private def triangleTriples(und: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
    // orient lower (deg, id) -> higher; carry the tip's rank key so the
    // wedge stage can canonicalize its closing edge without re-joining
    val oriented = withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("n"), col("du").as("d"), col("v").as("hn"), col("dv").as("hd")))
        .otherwise(
          struct(col("v").as("n"), col("dv").as("d"), col("u").as("hn"), col("du").as("hd")))
        .as("e"))
      .select(col("e.n").as("lo"), col("e.hn").as("hi"), col("e.hd").as("hid"))
      .pin()
    val w1 = oriented.select(col("lo"), col("hi").as("h1"), col("hid").as("d1"))
    val w2 = oriented.select(col("lo"), col("hi").as("h2"), col("hid").as("d2"))
    // each unordered tip pair once: (d, id) rank order between the tips
    val wedges = w1.join(w2, Seq("lo"))
      .where(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("h1") < col("h2")))
    wedges.join(oriented.select(col("lo").as("h1"), col("hi").as("h2")),
        Seq("h1", "h2"), "left_semi")
      .select("lo", "h1", "h2")
  }

  private def canonicalEdges(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = edges
    .select(least(col(aCol), col(bCol)).as("u"),
      greatest(col(aCol), col(bCol)).as("v"))
    .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    .distinct()

  /** Local clustering coefficient per node — "how clique-like is this
    * node's neighborhood": `c(n) = 2·t(n) / (deg(n)·(deg(n)−1))` in
    * integer permille, where `t(n)` counts triangles through `n`. The
    * per-node companion of [[triangleCount]]'s census: spam rings and
    * scraped mirror farms read near 1000 (dense interlinks), organic
    * hubs read low — a node-level quality feature next to
    * [[pageRank]]'s centrality. Nodes with degree < 2 are excluded
    * (coefficient undefined).
    *
    * Scale shape: the [[triangleTriples]] wedge join (arboricity-
    * bounded fan-out, never a hub blow-up) + one explode of the
    * 3-node triples into a map-side-combined per-node count + the
    * degree table joined back. Output is node-keyed, |V|-bounded. */
  def clusteringCoefficient(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    // pins: see triangleCount — und/degN are multi-referenced (degN by
    // the wedge stage AND the final coefficient join); the unpinned
    // canonical plan carried 40 copies of the source scan.
    val und = canonicalEdges(edges, aCol, bCol).pin()
    val degN = degreesOf(und).pin()
    val deg = degN.select(col("n").as("node"), col("d").as("deg"))
    val tri = triangleTriples(und, degN)
      .select(explode(array(col("lo"), col("h1"), col("h2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.where(col("deg") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        expr("2000 * coalesce(n_tri, 0L) div (deg * (deg - 1))")
          .as("coeff_permille"))
  }

  /** k-core decomposition by SYNCHRONOUS PEELING, the graph-level
    * quality/spam filter (a node is in the k-core iff it keeps ≥ k
    * neighbors after everything weaker is recursively removed — link
    * farms and orphan tails peel away, densely-embedded nodes survive).
    * Semantics are exactly `rounds` peel rounds — the [[pageRank]]
    * fixed-iteration discipline: each round recomputes degrees over the
    * surviving subgraph and drops every node with degree < k at once,
    * so engine and oracle (an unrolled CTE chain, [[kCoreSql]]-style
    * generation in SparkEntry) agree bit for bit whether or not the
    * peel has converged. A graph whose peel converges within `rounds`
    * (any graph converges in ≤ |V| rounds; real graphs in tens) gets
    * the true k-core; an unconverged deep chain keeps its not-yet-
    * peeled fringe, deterministically.
    *
    * Returns `(node, deg)` — survivors with their degree INSIDE the
    * surviving subgraph. Undirected: edges are canonicalized + deduped
    * once, self-loops dropped.
    *
    * Scale shape: per round one symmetric-explode degree aggregation
    * (map-side combined) + two semi joins of the edge set against the
    * ≥k survivor ids — all keyed exchanges, edge-linear per round; the
    * edge set is `localCheckpoint`ed per round so lineage stays flat
    * (the CC-loop lesson). A hub is one aggregation key, never a
    * fan-out. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int = 8): DataFrame = {
    require(k >= 1 && rounds >= 0)
    val rot = Ckpt.rotator() // bounds reliable-checkpoint storage to 2 rounds
    val obs0 = org.apache.spark.sql.Observation("kcore-n-init")
    var e = rot.pin(edges
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .observe(obs0, count(lit(1)).as("n")))
    def degrees(g: DataFrame): DataFrame = g
      .select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // Convergence early-exit, output-identical: every node a peel round
    // drops carries ≥1 edge, so the edge count is strictly decreasing
    // until the peel converges — an unchanged count means every later
    // round is a no-op and can be skipped (the oracle unrolls all
    // `rounds` no-ops and lands on the same set). The count rides the
    // pin's own materialization job (Observation — round 18); the old
    // per-round e.count() re-read the whole checkpointed edge set.
    var prev = obs0.get("n") match { case c: Long => c; case _ => 0L }
    var i = 0
    while (i < rounds) {
      val last = e
      val keep = degrees(e).where(col("deg") >= k).select("node")
      // The surviving-edge count rides the SAME job that materializes
      // the round (the CC loop's Observation-on-pin pattern, adopted
      // round 18): the eager pin fires the observation, so the old
      // separate e.count() — a full re-read of the just-checkpointed
      // edge set, one extra job per round — is gone. Output unchanged:
      // the count is over exactly the frame the pin materializes.
      val obs = org.apache.spark.sql.Observation(s"kcore-n-$i")
      e = rot.pin(e.join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .observe(obs, count(lit(1)).as("n")))
      // release the superseded round's checkpointed blocks eagerly (the
      // CC loop's pattern) — otherwise up to rounds+1 edge-set copies
      // sit in executor storage until GC gets around to them
      last.unpersist()
      val n = obs.get("n") match { case c: Long => c; case _ => 0L }
      i = if (n == prev) rounds else i + 1
      prev = n
    }
    degrees(e)
  }

  /** Adaptive loop-layout switch (r19, VERDICT r18 #1): whether a
    * per-round |V|-row loop table (ranks, labels, frontier distances)
    * will be BROADCAST by the planner in the per-round join against the
    * loop-invariant edge set. When it broadcasts (small graphs), the
    * edge set's physical layout is irrelevant and AQE's runtime
    * re-planning (tiny-partition coalescing, SMJ→BHJ conversion) is
    * what makes the loop fast — a plain [[Ckpt.pin]] keeps that
    * flexibility. When it cannot broadcast (production graphs, or
    * broadcasting disabled), every round pays a sort-merge/shuffled-hash
    * join and a plain pin re-exchanges the EDGE set each round — there
    * [[Ckpt.pinByKey]]'s declared hash layout removes the per-round
    * edge exchange outright. Same posture as [[connectedComponents]]'s
    * driver/distributed switch: measure, then pick the strategy the
    * planner would want, with the decision riding a pin-job
    * Observation (no extra pass). 64 B/row ≈ a built HashedRelation of
    * a two-long row — deliberately conservative so the switch flips to
    * the declared layout BEFORE broadcasts become marginal. */
  private def loopTableBroadcasts(df: DataFrame, nRows: Long): Boolean = {
    val thr = org.apache.spark.sql.graftglue.Repin.autoBroadcastThreshold(df)
    thr > 0 && nRows * 64L <= thr
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, dampingPermille: Long = 850L,
      scale: Long = 1000000L): DataFrame = {
    require(iterations >= 0 && dampingPermille >= 0 && dampingPermille <= 1000)
    // checkpoint the edge SET too: every iteration joins against it, and
    // without the checkpoint each round re-derives the scan + distinct
    // shuffle from source (measured 9.7 s → ~2 s at sf0.1 for 8 rounds)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).where(
      col("src").isNotNull && col("dst").isNotNull).distinct()
      .pin()
    // |V| rides the vertex pin's own materialization job (the kCore
    // Observation pattern) and drives the loop-layout switch below.
    val obsV = org.apache.spark.sql.Observation("pagerank-nv")
    val vertices = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .observe(obsV, count(lit(1)).as("n"))
      .pin()
    val nV = obsV.get("n") match { case c: Long => c; case _ => 0L }
    // out-degree DENORMALIZED onto the edge set once (round 18): the
    // per-round `ranks ⋈ outdeg` node-keyed join is gone — each round
    // joins the rank table straight into the deg-carrying edge set and
    // divides there (same integer value per (src, dst) row, so the
    // dst-sum is unchanged bit for bit). One |V|-join × iterations
    // removed for an 8-bytes/edge one-off widening.
    // Layout (r19, VERDICT r18 #1): when the rank table outgrows
    // broadcast, pinByKey declares hash(src) so each round's rank join
    // reads this loop-invariant edge set exchange-free — only the
    // |V|-sized rank table moves per round ([[loopTableBroadcasts]]).
    val eDeg0 = e.join(
      e.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
    val eDeg = if (loopTableBroadcasts(edges, nV)) eDeg0.pin()
      else Ckpt.pinByKey(eDeg0, "src")
    val base = (1000L - dampingPermille) * scale / 1000L
    // Nodes with NO in-edges receive zero mass every round, so their
    // rank is the constant teleport base from round 1 on — split them
    // out ONCE (r19) and the per-round `vertices ⋈ inSum` left join
    // disappears: the round is join + aggregate + free union. Exact:
    // inSum's key set is the loop-invariant distinct-dst set (ranks
    // covers every vertex each round, so the inner join drops no dst),
    // zeroIn is its complement in the vertex set, and base + d·0 div
    // 1000 = base is what the old coalesce(s, 0) path computed.
    lazy val zeroIn = vertices.join(e.select(col("dst").as("node")).distinct(),
        Seq("node"), "left_anti")
      .select(col("node"), lit(base).as("rank")).pin()
    val rot = Ckpt.rotator() // bounds reliable-checkpoint storage to 2 rounds
    var ranks = vertices.withColumn("rank", lit(scale))
    var i = 0
    while (i < iterations) {
      ranks = pageRankRound(eDeg, zeroIn, ranks, base, dampingPermille)
      i += 1
      // Pin every SECOND round (and always the last): each round
      // references its predecessor exactly once, so two unpinned rounds
      // keep the plan linear, and halving the per-round checkpoint
      // materializations halves the loop's fixed job-latency floor —
      // the dominant cost of this suite entry (r16: 2.47 s → measured
      // drop at sf0.1; data volume per round is unchanged). An exact
      // convergence early-exit (the kCore precedent, VERDICT r15 #4)
      // was probed and DECLINED: damped integer fixed-point never
      // settles on the bench graph — all |V| ranks still change at
      // round 16 (div truncation keeps redistributing units), so the
      // check could never fire and would add a |V| join per round.
      if (i % 2 == 0 || i == iterations) ranks = rot.pin(ranks)
    }
    ranks
  }

  /** ONE [[pageRank]] round: the rank table joins into the deg-carrying
    * edge set on src, the in-mass sums by dst, and the no-in-edge
    * complement unions back. */
  private def pageRankRound(eDeg: DataFrame, zeroIn: DataFrame,
      ranks: DataFrame, base: Long, dampingPermille: Long): DataFrame = {
    val inSum = eDeg.join(ranks.select(col("node").as("src"), col("rank")),
        Seq("src"))
      .groupBy(col("dst").as("node"))
      .agg(sum(expr("rank div deg")).as("s"))
    inSum.select(col("node"),
        (lit(base) + expr(s"$dampingPermille * s div 1000")).as("rank"))
      .unionByName(zeroIn)
  }

  /** TrustRank (Gyöngyi et al., 2004) — [[pageRank]] with the teleport
    * restricted to a TRUSTED SEED set: rank flows outward from
    * hand-vetted sources, so spam farms that inflate plain PageRank by
    * interlinking score ~0 unless a trust path reaches them. The standard
    * seed-biased curation/spam-demotion signal next to centrality
    * weighting. Same exact fixed-point integer arithmetic as
    * [[pageRank]] (micro-rank units, damping in permille, every division
    * a fixed truncation point ⇒ bit-identical across engines —
    * [[trustRankSql]] unrolls the identical rounds), with two changes:
    * seeds start at `scale` and receive the per-round teleport base,
    * everything else starts at 0 and receives none. Nodes unreachable
    * from any seed provably stay at rank 0 (their in-mass is 0 every
    * round — pinned in GraphSpec); seeding EVERY vertex reduces exactly
    * to [[pageRank]] (equality property).
    *
    * Scale shape: identical to [[pageRank]] — per round one vocab-sized
    * (node, share) join against the checkpointed edge set + one
    * map-side-combined dst-keyed sum — plus a one-off broadcast-sized
    * seed-flag join onto the vertex set. Seeds absent from the graph are
    * ignored (vertices come from edges; the mirror does the same). */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, iterations: Int = 8,
      dampingPermille: Long = 850L, scale: Long = 1000000L): DataFrame = {
    require(iterations >= 0 && dampingPermille >= 0 && dampingPermille <= 1000)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).where(
      col("src").isNotNull && col("dst").isNotNull).distinct()
      .pin()
    val seedNodes = seeds.select(col(seedCol).cast("long").as("node"))
      .where(col("node").isNotNull).distinct()
    val seedFlag = broadcast(seedNodes.withColumn("__s", lit(true)))
    // |V| rides the vertex pin (see [[pageRank]]) for the layout switch
    val obsV = org.apache.spark.sql.Observation("trustrank-nv")
    val verts = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(seedFlag, Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(false)).as("seed"))
      .observe(obsV, count(lit(1)).as("n"))
      .pin()
    val nV = obsV.get("n") match { case c: Long => c; case _ => 0L }
    // deg-denormalized edge set — see [[pageRank]] (round 18) — CARRYING
    // the destination's seed flag (r19): the per-round teleport base is
    // then computable straight off the aggregate, so the per-round
    // `verts ⋈ inSum` left join disappears (the [[pageRank]] zeroIn
    // restructure, seeded variant). hash(src) declared when the rank
    // table outgrows broadcast — see [[loopTableBroadcasts]].
    val eDeg0 = e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("deg")), Seq("src"))
      .join(seedFlag.select(col("node").as("dst"), col("__s")), Seq("dst"), "left")
      .select(col("src"), col("dst"), col("deg"),
        coalesce(col("__s"), lit(false)).as("dseed"))
    val eDeg = if (loopTableBroadcasts(edges, nV)) eDeg0.pin()
      else Ckpt.pinByKey(eDeg0, "src")
    val base = (1000L - dampingPermille) * scale / 1000L
    // no-in-edge nodes: constant per-round rank (teleport base if seeded,
    // else 0) — split out once, exactly as [[pageRank]]'s zeroIn
    lazy val zeroIn = verts.join(e.select(col("dst").as("node")).distinct(),
        Seq("node"), "left_anti")
      .select(col("node"),
        when(col("seed"), lit(base)).otherwise(lit(0L)).as("rank")).pin()
    val rot = Ckpt.rotator() // bounds reliable-checkpoint storage to 2 rounds
    var ranks = verts.select(col("node"),
      when(col("seed"), lit(scale)).otherwise(lit(0L)).as("rank"))
    var i = 0
    while (i < iterations) {
      ranks = trustRankRound(eDeg, zeroIn, ranks, base, dampingPermille)
      i += 1
      // stride-2 pinning + declined convergence exit: see [[pageRank]]
      if (i % 2 == 0 || i == iterations) ranks = rot.pin(ranks)
    }
    ranks
  }

  /** ONE [[trustRank]] round — [[pageRankRound]] with the seeded teleport
    * base read off the edge set's denormalized dst-seed flag. dseed is
    * functional on dst (one flag per node), so grouping by (dst, dseed)
    * is the same key set as dst — the round stays a single aggregate
    * with the teleport base derived in the select. */
  private[graft] def trustRankRound(eDeg: DataFrame, zeroIn: DataFrame,
      ranks: DataFrame, base: Long, dampingPermille: Long): DataFrame = {
    val inSum = eDeg.join(ranks.select(col("node").as("src"), col("rank")),
        Seq("src"))
      .groupBy(col("dst").as("node"), col("dseed"))
      .agg(sum(expr("rank div deg")).as("s"))
    inSum.select(col("node"),
        (when(col("dseed"), lit(base)).otherwise(lit(0L)) +
          expr(s"$dampingPermille * s div 1000")).as("rank"))
      .unionByName(zeroIn)
  }

  /** The DuckDB mirror of [[trustRank]] — [[pageRankSql]] with the seeded
    * init and per-node teleport base. `seedsSql` selects a `node` column. */
  def trustRankSql(edgesSql: String, seedsSql: String, iterations: Int = 8,
      dampingPermille: Long = 850L, scale: Long = 1000000L): String = {
    val base = (1000L - dampingPermille) * scale / 1000L
    val rounds = (1 to iterations).map { k =>
      s"""pr$k AS (SELECT v.node,
         |  (CASE WHEN v.seed THEN $base ELSE 0 END)
         |    + ($dampingPermille * COALESCE(c.s, 0)) // 1000 AS rank
         |  FROM sv v LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.rank // o.deg) AS s
         |    FROM e JOIN pr${k - 1} p ON p.node = e.src
         |    JOIN outdeg o ON o.node = e.src
         |    GROUP BY e.dst) c ON c.node = v.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT src, dst FROM ($edgesSql)
       |       WHERE src IS NOT NULL AND dst IS NOT NULL),
       |sd AS (SELECT DISTINCT node FROM ($seedsSql) WHERE node IS NOT NULL),
       |verts AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |sv AS (SELECT v.node, (s.node IS NOT NULL) AS seed
       |       FROM verts v LEFT JOIN sd s ON s.node = v.node),
       |outdeg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
       |pr0 AS (SELECT node, CASE WHEN seed THEN $scale ELSE 0 END AS rank FROM sv),
       |$rounds
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM pr$iterations""".stripMargin
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007), made DETERMINISTIC: labels start as node ids; each round
    * every node adopts the label most frequent among its neighbors, ties
    * broken by SMALLEST label; a fixed `rounds` count replaces LPA's
    * order-dependent convergence test (synchronous LPA can oscillate on
    * bipartite structure — a fixed horizon makes the output a pure
    * function of the graph, replayable by the unrolled SQL mirror
    * [[labelPropagationSql]] bit for bit). Complements
    * [[connectedComponents]]: CC answers "reachable at all?" (one label
    * per connected blob), LPA splits a blob into DENSE regions — the
    * topic/community structure of a co-interaction or similarity graph.
    *
    * Scale shape: the [[pageRank]] discipline — symmetrized edge set and
    * vertex list checkpointed once; per round ONE node-keyed join of the
    * label table against the edge set and one (node, label)-keyed
    * map-side-combined count + min-struct argmax (hub fan-in arrives as
    * partials, and the argmax struct is 16 bytes/row on the exchange);
    * `localCheckpoint` per round caps lineage. Rounds is a small
    * constant — community structure stabilizes in a few sweeps and a
    * fixed horizon is what keeps the oracle unrollable. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      rounds: Int = 5): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    val e0 = edges.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    val und0 = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct().pin()
    // symmetric edge set: the u column alone covers every vertex; |V|
    // rides the pin job and drives the loop-layout switch below
    val obsV = org.apache.spark.sql.Observation("lpa-nv")
    val verts = und0.select(col("u").as("node")).distinct()
      .observe(obsV, count(lit(1)).as("n")).pin()
    val nV = obsV.get("n") match { case c: Long => c; case _ => 0L }
    // hash(v) when the label table outgrows broadcast (r19, see
    // [[loopTableBroadcasts]]): every round joins the |V|-sized label
    // table into this loop-invariant edge set on v — the declared layout
    // keeps the per-round join exchange-free on the edge side, where a
    // plain pin re-exchanged the edges each round
    val und = if (loopTableBroadcasts(edges, nV)) und0
      else Ckpt.pinByKey(und0, "v")
    val rot = Ckpt.rotator() // bounds reliable-checkpoint storage to 2 rounds
    var labels = verts.withColumn("label", col("node"))
    var i = 0
    while (i < rounds) {
      labels = lpaRound(und, labels)
      i += 1
      // stride-2 pinning: see [[pageRank]] — each round references its
      // predecessor once, so two unpinned rounds stay linear and the
      // loop pays half the checkpoint materializations
      if (i % 2 == 0 || i == rounds) labels = rot.pin(labels)
    }
    labels
  }

  /** ONE [[labelPropagation]] round: the label table joins into the
    * symmetric edge set on v, neighbor labels count by (u, label), and
    * the argmax (n DESC, label ASC) is a min over (-n, label) — exact
    * for any label sign, and a single partial-aggregable min per node.
    * The two-level aggregate is DELIBERATE (examined r19, fusion
    * declined): collapsing it to one exchange via repartition(u) would
    * ship RAW join output — a hub whose neighborhood converged to one
    * label loses the partial-aggregation collapse and lands on a single
    * reducer (guide §2.5); two keyed aggregates keep hub fan-in
    * arriving as per-partition partials. */
  private def lpaRound(und: DataFrame, labels: DataFrame): DataFrame = {
    val counts = und
      .join(labels.select(col("node").as("v"), col("label")), Seq("v"))
      .groupBy(col("u"), col("label")).agg(count(lit(1)).as("n"))
    counts
      .groupBy(col("u").as("node"))
      .agg(min(struct((-col("n")).as("nn"), col("label").as("l"))).as("__m"))
      .select(col("node"), col("__m.l").as("label"))
  }

  /** Multi-source BFS distance labels: every node reachable from the
    * seed set within `maxHops` undirected hops gets its EXACT minimum
    * distance (seeds are hop 0 unconditionally, present in the graph or
    * not). The "how far from trusted" signal TrustRank smooths into a
    * score — this is the crisp hop count a curation rule wants
    * ("≤2 hops from a vetted publisher"), and the frontier census per
    * layer is the reach diagnostic of a seed set.
    *
    * Scale shape: the [[labelPropagation]] discipline — symmetrized
    * edges checkpointed once; per hop ONE node-keyed join of the
    * current distance table against the edge set and one
    * map-side-combined `min(hops)` fold; `localCheckpoint` per round
    * caps lineage. The distance table only grows by the new frontier,
    * and `maxHops` is a small constant (trust decays past a few hops —
    * and a fixed horizon keeps the SQL mirror unrollable). */
  def bfsLayers(edges: DataFrame, aCol: String, bCol: String,
      seeds: Seq[Long], maxHops: Int = 3): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    require(seeds.nonEmpty, "bfsLayers needs at least one seed")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    // |V| (approximate — HyperLogLog rides the pin job; the switch is a
    // layout heuristic, not a semantics choice) drives the hash(v)
    // declaration exactly as in [[labelPropagation]]: the per-hop
    // frontier join keys on v, and the distance table grows toward |V|.
    val obsV = org.apache.spark.sql.Observation("bfs-nv")
    val und0 = e0.union(e0.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .observe(obsV, approx_count_distinct(col("u")).as("n"))
      .pin()
    val nV = obsV.get("n") match { case c: Long => c; case _ => 0L }
    val und = if (loopTableBroadcasts(edges, nV)) und0
      else Ckpt.pinByKey(und0, "v")
    val rot = Ckpt.rotator() // bounds reliable-checkpoint storage to 2 rounds
    var dist = seeds.distinct.toDF("node").withColumn("hops", lit(0L))
    var i = 0
    while (i < maxHops) {
      dist = rot.pin(bfsRound(und, dist))
      i += 1
    }
    dist
  }

  /** ONE [[bfsLayers]] hop: the distance table joins into the symmetric
    * edge set on v, and the min-hops fold absorbs the new frontier. */
  private def bfsRound(und: DataFrame, dist: DataFrame): DataFrame = {
    val nxt = und
      .join(dist.select(col("node").as("v"), col("hops")), Seq("v"))
      .select(col("u").as("node"), (col("hops") + 1).as("hops"))
    dist.union(nxt)
      .groupBy("node").agg(min("hops").as("hops"))
  }

  /** The DuckDB mirror of [[bfsLayers]]: the same hop rounds unrolled
    * as chained CTEs over the caller's `edgesSql` and a seed VALUES
    * list. */
  def bfsLayersSql(edgesSql: String, seeds: Seq[Long],
      maxHops: Int = 3): String = {
    val vals = seeds.distinct.map(s => s"($s)").mkString(", ")
    val rounds = (1 to maxHops).map { k =>
      s"""bfs$k AS (
         |  SELECT node, MIN(hops) AS hops FROM (
         |    SELECT node, hops FROM bfs${k - 1}
         |    UNION ALL
         |    SELECT e.u AS node, p.hops + 1 AS hops
         |    FROM und e JOIN bfs${k - 1} p ON p.node = e.v)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (SELECT u, v FROM ($edgesSql)
       |       WHERE u IS NOT NULL AND v IS NOT NULL AND u <> v),
       |und AS (SELECT DISTINCT u, v FROM
       |        (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)),
       |bfs0 AS (SELECT node, CAST(0 AS BIGINT) AS hops
       |         FROM (VALUES $vals) s(node)),
       |$rounds""".stripMargin
  }

  /** The DuckDB mirror of [[labelPropagation]]: the same synchronous
    * rounds unrolled as chained CTEs (the [[pageRankSql]] posture), the
    * argmax expressed as `row_number() OVER (count DESC, label ASC)`. */
  def labelPropagationSql(edgesSql: String, rounds: Int = 5): String = {
    val rs = (1 to rounds).map { k =>
      s"""lp$k AS (
         |  SELECT u AS node, label FROM (
         |    SELECT e.u, p.label,
         |      row_number() OVER (PARTITION BY e.u
         |        ORDER BY COUNT(*) DESC, p.label) AS rn
         |    FROM und e JOIN lp${k - 1} p ON p.node = e.v
         |    GROUP BY e.u, p.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (SELECT u, v FROM ($edgesSql)
       |       WHERE u IS NOT NULL AND v IS NOT NULL AND u <> v),
       |und AS (SELECT DISTINCT u, v FROM
       |        (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0)),
       |verts AS (SELECT DISTINCT u AS node FROM und),
       |lp0 AS (SELECT node, node AS label FROM verts),
       |$rs""".stripMargin
  }

  /** The DuckDB mirror of [[pageRank]]: the same fixed-point iterations
    * unrolled as chained CTEs over an `edges(src, dst)` CTE the caller
    * supplies as `edgesSql`. Same integer truncation points ⇒ identical
    * ranks — what makes a full-algorithm oracle possible for an
    * iterative operator. */
  def pageRankSql(edgesSql: String, iterations: Int = 8,
      dampingPermille: Long = 850L, scale: Long = 1000000L): String = {
    val base = (1000L - dampingPermille) * scale / 1000L
    val rounds = (1 to iterations).map { k =>
      s"""pr$k AS (SELECT v.node,
         |  $base + ($dampingPermille * COALESCE(c.s, 0)) // 1000 AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS node, SUM(p.rank // o.deg) AS s
         |    FROM e JOIN pr${k - 1} p ON p.node = e.src
         |    JOIN outdeg o ON o.node = e.src
         |    GROUP BY e.dst) c ON c.node = v.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT src, dst FROM ($edgesSql)
       |       WHERE src IS NOT NULL AND dst IS NOT NULL),
       |verts AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |outdeg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY 1),
       |pr0 AS (SELECT node, $scale AS rank FROM verts),
       |$rounds
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM pr$iterations""".stripMargin
  }
}
