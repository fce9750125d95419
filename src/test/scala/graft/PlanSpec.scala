package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Physical-plan shape assertions: the scale properties the operators
  * promise (pushdown, pruning, broadcast, partial aggregation before the
  * shuffle) verified against the actual Catalyst output, so a regression
  * in plan quality fails the build — not just a slow benchmark. */
class PlanSpec extends SparkSpecBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    // flatten through AQE wrapper nodes; executedPlan (not inputPlan) — the
    // input plan predates EnsureRequirements, so it has no Exchange nodes.
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
      case other => Seq(other)
    }
    self ++ p.children.flatMap(collectAll)
  }

  test("AutoPlanes gate entries derive the plane count without firing jobs") {
    // The production-shape gate family (cosine_neardup_auto / the
    // ann_hnsw_auto edge build) sizes SRP planes from PLAN STATISTICS:
    // constructing the plan must fire zero Spark jobs — an eager count()
    // here was the round-12 regression. ann_hnsw_auto's full query DOES
    // fire jobs at construction (per-step frontier localCheckpoints, the
    // documented pinning discipline), so the assertion targets the part
    // that carries the AutoPlanes contract: the near-dup pair plan and
    // the knnEdges build plan. (Reading the table runs no job either:
    // `Tables` reads the footer on the driver, pinned by JobBudgetSpec.)
    val emb = Tables.embeddings(spark, sf)
    org.apache.spark.sql.graftglue.Glue.drainListenerBus(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.operators.Dedup.cosineNearDupPairsLsh(emb, "vec_id", "embedding",
        threshold = 0.4, dim = 64,
        planes = graft.operators.Dedup.AutoPlanes, tables = 4)
      graft.operators.Hnsw.knnEdges(emb,
        "vec_id", "embedding", dim = 64, m = 8, maxLevel = 3,
        planes = graft.operators.Dedup.AutoPlanes, tables = 4)
      org.apache.spark.sql.graftglue.Glue.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"plan construction started ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("AutoPlanes gate oracles interpolate the stats-derived plane count") {
    // dataDependentOracles must emit hyperplane literals for EXACTLY the
    // plane count the registered query derives from the same DataFrame —
    // tables = 4 bucketings, so planes*4 VALUES rows.
    val emb = Tables.embeddings(spark, sf)
    val planes = graft.operators.Dedup.autoPlanesFor(emb, dim = 64)
    val oracles = SparkEntry.dataDependentOracles(spark, sf)
    for (k <- Seq("cosine_neardup_auto", "ann_hnsw_auto")) {
      val rows = "CAST\\(\\[".r.findAllIn(oracles(k)).size
      assert(rows == planes * 4,
        s"$k oracle carries $rows hyperplane rows, expected ${planes * 4}")
    }
  }

  test("q6_forecast_revenue: predicate band reaches the scan; one exchange") {
    val p = plan("q6_forecast_revenue")
    val s = p.toString
    assert(s.contains("PushedFilters") && s.contains("l_shipdate"),
      s"date band not pushed into the lineitem scan:\n$s")
    val exchanges = collectAll(p).count(_.isInstanceOf[Exchange])
    assert(exchanges == 1, s"expected the single final-agg exchange, got $exchanges")
  }

  test("spj_join: storage-partitioned join elides the shuffle on BOTH sides") {
    val p = plan("spj_join")
    val nodes = collectAll(p)
    val join = nodes.find(n => n.nodeName.contains("SortMergeJoin") ||
      n.nodeName.contains("ShuffledHashJoin")).getOrElse(
      fail(s"no shuffle-family join in spj_join's plan:\n$p"))
    val below = join.children.flatMap(collectAll)
    val exchanges = below.filter(_.isInstanceOf[Exchange])
    assert(exchanges.isEmpty,
      s"co-bucketed graft tables still exchanged under the join:\n$p")
    assert(below.exists(_.toString.contains("GraftBucketedScan")),
      s"join is not reading through the bucket-aware scan:\n$p")
  }

  test("topic_classify: the lexicon joins broadcast; no cartesian product") {
    val nodes = collectAll(plan("topic_classify"))
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "lexicon should be the broadcast side")
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("contrastive_pairs: one shuffle — the bucket window; joins broadcast") {
    val p = plan("contrastive_pairs")
    val shuffles = collectAll(p).count {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        false
      case _: Exchange => true
      case _ => false
    }
    assert(shuffles == 1,
      s"negative-ring window should be the only shuffle at this scale, got $shuffles")
    assert(!collectAll(p).exists(_.nodeName.contains("CartesianProduct")))
  }

  test("pushdown_scan: filters reach the parquet scan; schema is pruned") {
    val s = plan("pushdown_scan").toString
    assert(s.contains("PushedFilters: [IsNotNull(l_returnflag)"),
      s"filters not pushed into scan:\n$s")
    assert(s.contains("EqualTo(l_returnflag,R)"))
    assert(!s.contains("l_extendedprice"),
      "scan reads columns the query never uses")
  }

  test("merge_source: the dimension join is broadcast, not shuffled") {
    val s = plan("merge_source").toString
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast join:\n$s")
  }

  test("cosine_topk: partial top-k aggregation runs before the exchange") {
    val nodes = collectAll(plan("cosine_topk"))
    val aggs = nodes.filter(_.nodeName.contains("ObjectHashAggregate"))
    assert(aggs.size >= 2,
      s"expected partial+final top-k aggregate, got ${aggs.map(_.nodeName)}")
    // the partial aggregate must sit BELOW the exchange: the exchange's
    // subtree contains an aggregate, so only k-bounded state is shuffled —
    // never the full |corpus|x|queries| scored set.
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.exists(e =>
      collectAll(e.child).exists(_.nodeName.contains("ObjectHashAggregate"))),
      "scored set is shuffled before any aggregation")
  }

  test("minhash_lsh: band rows carry no shingle arrays through the shuffle") {
    val nodes = collectAll(plan("minhash_lsh"))
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    // The candidate-join exchanges must move only slim (id, band, hash)
    // rows; the shingles array may only travel to the verification join.
    val bandExchanges = exchanges.filter(
      _.output.exists(_.name == "band_hash"))
    assert(bandExchanges.nonEmpty, "no band-bucket exchange found")
    bandExchanges.foreach { e =>
      assert(!e.output.exists(a => a.name.contains("shingle") || a.name == "minhash"),
        s"band exchange carries heavy columns: ${e.output.map(_.name)}")
    }
  }

  test("cosine_neardup_lsh: no cartesian product anywhere in the plan") {
    // the registered near-dup query is the scale path: candidates come
    // from bucket equi-joins only. (The quadratic ground truth lives
    // under cosine_neardup_exact, by design.)
    val nodes = collectAll(plan("cosine_neardup_lsh"))
    assert(!nodes.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")),
      s"LSH near-dup plan degenerated to a cross join: ${nodes.map(_.nodeName).distinct}")
  }

  test("ann_lsh: multi-table LSH scans the corpus exactly once") {
    // all table buckets come from one projection + posexplode; a per-table
    // loop would add one corpus scan per table. The query side sits under
    // the broadcast exchange; the corpus side must be a single scan.
    val nodes = collectAll(plan("ann_lsh"))
    val broadcastScans = nodes
      .filter(_.nodeName.contains("BroadcastExchange"))
      .flatMap(e => collectAll(e))
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val allScans = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val corpusScans = allScans.size - broadcastScans.size
    assert(corpusScans == 1,
      s"expected 1 corpus-side scan, got $corpusScans (total ${allScans.size})")
  }

  test("cosine_neardup_lsh: one scan per self-join side, regardless of tables") {
    // single-scan multi-table bucketing: 2 scans total (the self-join's two
    // sides); the old per-table loop produced 2 x tables scans.
    val scans = collectAll(plan("cosine_neardup_lsh")).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    assert(scans.size == 2,
      s"expected 2 scans (self-join sides), got ${scans.size}")
  }

  test("ann_ivf: probe prunes the cell table to the probed cells' files") {
    // Round 8: the cell table lives in an IndexStore — pruning selects
    // manifest ENTRIES (unprobed cells' files are never listed, stronger
    // than a partition filter). The query probes nprobe == nlist, so the
    // structural assertion is on the mechanism: a pruned readCells must
    // scan a strict, exact subset of the manifest's files.
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("graft-planspec-ivf").toString
    graft.operators.Ivf.buildIndex(spark, idx, emb,
      trainOn = emb.where(col("vec_id") < 100), nlist = 4, iters = 1)
    val manifest = graft.operators.Upsert.readBucketManifest(spark, s"$idx/cells")
    val probed = manifest.keySet.toSeq.sorted.take(2)
    // compare full `data/...`-relative paths: part-file BASENAMES repeat
    // across the per-cell dirs of one write job
    def rel(p: String): String = p.substring(p.indexOf("/data/") + 1)
    val wantFiles = probed.flatMap(manifest(_)).map(rel).toSet
    val unprobedFiles = (manifest.keySet -- probed).toSeq
      .flatMap(manifest(_)).map(rel).toSet
    // plan strings truncate long path lists; assert via the file index of
    // the scan node instead
    val files = graft.operators.Ivf.readCells(spark, idx, Some(probed))
      .inputFiles.map(rel).toSet
    assert(wantFiles.forall(files.contains),
      s"probed cells' files missing from scan: $wantFiles vs $files")
    assert(unprobedFiles.forall(!files.contains(_)),
      s"unprobed cells' files were listed for the scan: $files")
  }

  test("merge_source: no single-partition window in the flagship plan") {
    // the per-key dedup window is fine (partitioned by main_refco); what
    // must never appear is a WindowExec with an EMPTY partition spec — the
    // old global-sort dim-id serialized the dim build onto one partition.
    val globalWindows = collectAll(plan("merge_source")).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"flagship plan sorts globally on one partition: $globalWindows")
  }

  test("incremental_filter: watermark map is broadcast to the scan side") {
    val s = plan("incremental_filter").toString
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"),
      s"watermark join should broadcast the tiny watermark side:\n$s")
  }

  test("q1_agg: partial aggregation before the group-by exchange") {
    val nodes = collectAll(plan("q1_agg"))
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.exists(e =>
      collectAll(e.child).exists(_.nodeName.contains("HashAggregate"))),
      "no map-side partial aggregate below the exchange")
  }

  test("asof_join: window merge formulation — no join node in the plan") {
    val nodes = collectAll(plan("asof_join"))
    assert(nodes.exists(_.nodeName.contains("Window")))
    assert(!nodes.exists(n => n.nodeName.contains("SortMergeJoin") ||
      n.nodeName.contains("BroadcastNestedLoop")),
      s"as-of should be a union+window, not a join: ${nodes.map(_.nodeName).distinct}")
  }

  test("sessionize: one shuffle total — aggregate reuses window partitioning") {
    val exchanges = collectAll(plan("sessionize")).collect { case e: Exchange => e }
    assert(exchanges.size == 1,
      s"expected the lag-window exchange only, got ${exchanges.size}")
  }

  private def wscgCount(df: DataFrame): Int =
    collectAll(df.queryExecution.executedPlan)
      .count(_.nodeName.contains("WholeStageCodegen"))

  test("native expressions stay inside whole-stage codegen") {
    // fingerprint + main_refco use custom expressions (rolling hash,
    // ascii_fold); if they fell out of codegen the projection would not be
    // fused into a WholeStageCodegen stage.
    Seq("fingerprint", "main_refco").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      assert(wscgCount(df) >= 1, s"$q runs outside whole-stage codegen")
    }
  }

  test("repetition_stats / stratified_sample: pure scan-stage, no shuffle") {
    // both are per-row (native counter expression / hash predicate) — at
    // 100 TB they must run entirely map-side inside the scan stage
    Seq("repetition_stats", "stratified_sample").foreach { q =>
      val ex = collectAll(plan(q)).collect { case e: Exchange => e }
      assert(ex.isEmpty, s"$q shuffles: ${ex.map(_.nodeName)}")
    }
  }

  test("pack_sequences: window and per-bin agg share ONE shuffle") {
    // partitionBy(source) for the prefix sum also satisfies the
    // (source, bin) clustering of the groupBy — EnsureRequirements must
    // not insert a second exchange
    val ex = collectAll(plan("pack_sequences")).collect { case e: Exchange => e }
    assert(ex.size == 1, s"expected exactly 1 exchange, got ${ex.map(_.nodeName)}")
  }

  test("tfidf_topk: vocabulary df lookup is a broadcast join") {
    val s = plan("tfidf_topk").toString
    assert(s.contains("BroadcastHashJoin"), s"df join not broadcast:\n$s")
  }

  test("dup_passages: windows partition by doc only; census is a partial-agg pair") {
    // The duplicate-window census must never co-locate a hot window's
    // occurrences: every Window/Sort keys on doc_id (per-doc frames), the
    // win-keyed census is a HashAggregate PAIR (map-side partial combine
    // crushes a boilerplate window to one row per task before the
    // exchange), and nothing is quadratic.
    // assert on the UNDERLYING span builder — the registered query serves
    // a cached localCheckpoint of this exact plan (shared-stage family)
    val nodes = collectAll(graft.operators.Dedup.duplicatedPassageSpans(
        graft.Tables.documents(spark, sf), "doc_id", "text", w = 8)
      .queryExecution.executedPlan)
    val wins = nodes.filter(_.nodeName.contains("Window"))
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.toString.contains("doc_id"),
      "window stage not keyed on doc_id"))
    assert(!nodes.exists(n => n.nodeName.contains("Window") &&
      n.toString.matches("(?s).*partitionBy.*win.*")),
      "a window partitions by the win column (hot-window skew risk)")
    assert(nodes.count(_.nodeName.contains("HashAggregate")) >= 2,
      "census lost its partial-aggregation pair")
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("repeated_spans: spans explode once; no plan node co-locates a span") {
    // one Generate: the span explosion (the shuffle-volume producer) runs
    // once — the second text pass is a map-only size() projection. And no
    // Window/Sort on the span column: a window or sort-merge join keyed
    // on span would put every occurrence of a hot span on one task (the
    // 100 TB skew-killer this shape exists to avoid); the span aggregate
    // must be a HashAggregate pair with map-side partial combine.
    val nodes = collectAll(plan("repeated_spans"))
    val gens = nodes.filter(_.nodeName.contains("Generate"))
    assert(gens.size == 1, s"expected 1 Generate, got ${gens.size}")
    assert(!nodes.exists(_.nodeName.contains("Window")),
      "unexpected Window node (hot-span skew risk)")
    assert(!nodes.exists(n => n.nodeName.contains("SortMergeJoin") &&
      n.toString.contains("span")), "span-keyed sort-merge join (skew risk)")
  }

  test("q5_local_supplier: snowflake dims broadcast; no cartesian product") {
    val nodes = collectAll(plan("q5_local_supplier"))
    assert(nodes.count(_.nodeName.contains("BroadcastHashJoin")) >= 3,
      "region/nation/customer/supplier dims should broadcast")
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("chunk_documents: pure scan-stage — one Generate, no shuffle") {
    val nodes = collectAll(plan("chunk_documents"))
    val ex = nodes.collect { case e: Exchange => e }
    assert(ex.isEmpty, s"chunking shuffles: ${ex.map(_.nodeName)}")
    assert(nodes.count(_.nodeName.contains("Generate")) == 1)
  }

  test("pool_embeddings: vector sum is partially aggregated before the exchange") {
    // the VectorSumLong aggregator must plan as partial+final around the
    // group exchange — the exchange then carries one dim-width array per
    // (group x map partition), never the rows x dim posexplode blow-up
    val nodes = collectAll(plan("pool_embeddings"))
    assert(!nodes.exists(_.nodeName.contains("Generate")),
      "pooling exploded vectors to (row, position) — rows x dim exchange")
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.exists(e =>
      collectAll(e.child).exists(_.nodeName.contains("Aggregate"))),
      "vectors are shuffled before any partial aggregation")
  }

  test("cluster_purity: assignment is scan-stage; corpus reduces before exchange") {
    // nearest-seed assignment compiles literal seeds into one projection —
    // no join or Generate anywhere; the first exchange must sit above a
    // partial aggregate (slim (cluster, label) counts, not corpus rows)
    val nodes = collectAll(plan("cluster_purity"))
    assert(!nodes.exists(n => n.nodeName.contains("Join")),
      "assignment should not join seed rows")
    assert(!nodes.exists(_.nodeName.contains("Generate")))
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty && exchanges.forall(e =>
      collectAll(e.child).exists(_.nodeName.contains("Aggregate"))),
      "corpus rows cross an exchange un-aggregated")
  }

  test("quantile_filter_by_source: thresholds broadcast back; corpus never shuffles") {
    // the histogram shape: corpus rows reduce to (key, metric) counts
    // map-side before any exchange; the per-key threshold table joins
    // back broadcast, so the keep/drop decision is a scan-stage predicate
    val nodes = collectAll(plan("quantile_filter_by_source"))
    val s = plan("quantile_filter_by_source").toString
    assert(s.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n$s")
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.forall(e =>
      collectAll(e.child).exists(n => n.nodeName.contains("Aggregate") ||
        n.nodeName.contains("Exchange"))),
      "corpus rows cross an exchange un-aggregated")
  }

  test("boilerplate_lines: frequent-line set joins back broadcast anti") {
    // corpus-side line rows must never be shuffled on the line value — a
    // hot boilerplate line (millions of copies) would land on one task
    val s = plan("boilerplate_lines").toString
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftAnti"),
      s"expected broadcast left-anti join:\n$s")
    val smj = collectAll(plan("boilerplate_lines"))
      .filter(n => n.nodeName.contains("SortMergeJoin") &&
        n.toString.contains("__line"))
    assert(smj.isEmpty, "line-keyed sort-merge join (hot-line skew risk)")
  }

  test("band_join: candidates come from the (key, bucket) equi-join, never a theta join") {
    val nodes = collectAll(plan("band_join"))
    assert(!nodes.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")),
      s"band join degenerated: ${nodes.map(_.nodeName).distinct}")
    // the pair join must key on the time bucket, not the bare user key —
    // that is what bounds a hot key's candidate set by the band
    val joins = nodes.filter(n => n.nodeName.contains("Join") &&
      n.toString.contains("__b"))
    assert(joins.nonEmpty, s"no (key, bucket)-keyed join found:\n${plan("band_join")}")
  }

  test("drift_tv: histogram counts are partially aggregated before the exchange") {
    // the (key, bin) aggregate must combine map-side: the exchange then
    // carries |keys|*nBins rows per partition, not the event stream
    val nodes = collectAll(plan("drift_tv"))
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.nonEmpty)
    assert(exchanges.forall(e =>
      collectAll(e.child).exists(n => n.nodeName.contains("Aggregate") ||
        n.nodeName.contains("Exchange"))),
      "event rows cross an exchange un-aggregated")
  }

  test("collocations: unigram lookups broadcast back — pairs never shuffle on a token") {
    // a hot token (stopword-grade frequency) must not become a
    // sort-merge-join key; the vocabulary-sized unigram table broadcasts
    val nodes = collectAll(plan("collocations"))
    val bhj = nodes.filter(_.nodeName.contains("BroadcastHashJoin"))
    assert(bhj.size >= 2, s"expected two broadcast unigram joins:\n${plan("collocations")}")
    val smj = nodes.filter(n => n.nodeName.contains("SortMergeJoin"))
    assert(smj.isEmpty, "token-keyed sort-merge join (hot-token skew risk)")
  }

  test("surprisal_score: vocab broadcasts back; scoring plan scans the corpus once") {
    val nodes = collectAll(plan("surprisal_score"))
    // the (token -> count) vocabulary joins back via broadcast — a hot
    // token costs one vocab row, never a token-keyed sort-merge fan-out
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      s"vocab join not broadcast:\n${plan("surprisal_score")}")
    assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
      "token-keyed sort-merge join (hot-token skew risk)")
    // the vocabulary (and its corpus-total action) is persisted — the
    // SCORING plan itself reads the corpus exactly once; a second parquet
    // scan here means the vocab or total re-derived the tokenize lineage
    val scans = nodes.count(_.nodeName.toLowerCase.contains("scan parquet"))
    assert(scans <= 1, s"corpus scanned $scans times in the scoring plan " +
      s"— vocab/total must come from the persisted aggregate:\n${plan("surprisal_score")}")
  }

  test("decon_bloom: the bloom probe is a scan-stage filter, upstream of any exchange") {
    // the codegen'd bloom_might_contain must run in the same stage as the
    // shingle explode — candidates are pruned BEFORE anything shuffles
    val nodes = collectAll(plan("decon_bloom"))
    // match on the node's OWN line (toString prints the whole subtree,
    // which would also catch unrelated filters above the probe)
    val filters = nodes.filter(n => n.nodeName.contains("Filter") &&
      n.simpleString(200).contains("bloom_might_contain"))
    assert(filters.nonEmpty, s"bloom probe filter missing:\n${plan("decon_bloom")}")
    // Par.spread's small-input RoundRobin repartition is the one allowed
    // exchange below the probe (deliberate parallelism, not a key shuffle)
    assert(filters.forall(f => !collectAll(f).exists(n =>
        n.isInstanceOf[Exchange] && !n.toString.contains("RoundRobinPartitioning"))),
      "bloom probe runs downstream of a key exchange — prefilter value lost")
  }

  test("editdist_pairs: variant-hash equi-join, never a cartesian/theta pair join") {
    val nodes = collectAll(plan("editdist_pairs"))
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")),
      s"all-pairs shape leaked into the fuzzy join:\n${plan("editdist_pairs")}")
    assert(!nodes.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "theta join in the candidate stage — deletion blocking must equi-join")
  }

  test("bigram_surprisal: model joins back broadcast; no pair-keyed sort-merge") {
    val nodes = collectAll(plan("bigram_surprisal"))
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      s"bigram model join not broadcast:\n${plan("bigram_surprisal")}")
    assert(!nodes.exists(_.nodeName.contains("SortMergeJoin")),
      "pair-keyed sort-merge join (hot-bigram skew risk)")
    // model + left-context totals come from the persisted aggregate — the
    // scoring plan re-reads the corpus exactly once
    val scans = nodes.count(_.nodeName.toLowerCase.contains("scan parquet"))
    assert(scans <= 1, s"corpus scanned $scans times in the scoring plan")
  }

  test("triangle_count / kcore: graph plans stay equi-join shaped (no cartesian/BNLJ)") {
    // the degree-ordered wedge join and the peel's semi joins must plan
    // as hash/sort-merge equi-joins — a BNLJ here is the hub blow-up the
    // formulations exist to avoid
    Seq("triangle_count", "kcore").foreach { q =>
      val nodes = collectAll(plan(q))
      assert(!nodes.exists(n => n.nodeName.contains("CartesianProduct") ||
        n.nodeName.contains("BroadcastNestedLoopJoin")),
        s"$q has a non-equi join:\n${plan(q)}")
    }
  }

  test("hybrid_rrf: fusion joins only the bounded per-query lists") {
    // the corpus-side work lives in the two retrieval legs; the fusion
    // full-outer join and top-k must not introduce a cartesian, and the
    // brute ANN leg's query side must broadcast
    val nodes = collectAll(plan("hybrid_rrf"))
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")))
    assert(nodes.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "expected the labeled brute-force leg's broadcast corpus scan")
  }

  test("q7_nation_volume: nation-filtered dims broadcast onto the facts") {
    val nodes = collectAll(plan("q7_nation_volume"))
    assert(nodes.count(_.nodeName.contains("BroadcastHashJoin")) >= 2,
      "supplier and customer dim joins should broadcast")
    assert(!nodes.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("gap_fill / anomaly_days: the event stream shuffles once to (key, day)") {
    Seq("gap_fill", "anomaly_days").foreach { q =>
      val nodes = collectAll(plan(q))
      // every exchange must sit above a partial aggregate or the tiny
      // (key, day) table's descendants — never raw event rows
      val exchanges = nodes.collect { case e: Exchange => e }
        .filterNot(_.toString.contains("SinglePartition"))
      assert(exchanges.nonEmpty && exchanges.forall(e =>
        collectAll(e.child).exists(_.nodeName.contains("Aggregate"))),
        s"$q shuffles raw event rows:\n${plan(q)}")
    }
  }

  test("scd2_history: both windows share one key exchange") {
    val nodes = collectAll(plan("scd2_history"))
    val keyExchanges = nodes.filter(n => n.isInstanceOf[Exchange] &&
      !n.toString.contains("RoundRobinPartitioning") &&
      !n.toString.contains("SinglePartition"))
    assert(keyExchanges.size <= 1,
      s"change-point and interval windows must reuse the (key, order) sort; " +
        s"got ${keyExchanges.size} key exchanges:\n${plan("scd2_history")}")
  }

  test("char_class_census: single-pass expression — scan prunes to 2 columns, no Generate") {
    val p = plan("char_class_census")
    val s = p.toString
    // the codegen'd census replaces the 4-regex formulation: no explode,
    // and the scan reads only (source, text)
    assert(!collectAll(p).exists(_.nodeName.contains("Generate")),
      s"census must not explode:\n$s")
    assert(s.contains("ReadSchema: struct<text:string,source:string>") ||
      s.contains("ReadSchema: struct<source:string,text:string>"),
      s"scan should prune to (source, text):\n$s")
  }

  test("winsorize: the bounds table broadcasts; clamp is scan-stage (no key re-shuffle of rows)") {
    val nodes = collectAll(plan("winsorize"))
    assert(nodes.exists(_.nodeName.contains("BroadcastHashJoin")),
      "per-key bounds must be the broadcast side")
    // the only row-bearing exchanges belong to the bounded histogram
    // subtree (its aggregates), never the full event projection
    val rowExchanges = nodes.collect { case e: Exchange => e }
      .filterNot(n => n.nodeName.contains("Broadcast") ||
        n.toString.contains("SinglePartition"))
    assert(rowExchanges.forall(e =>
      collectAll(e.child).exists(_.nodeName.contains("Aggregate"))),
      s"winsorize shuffles raw event rows:\n${plan("winsorize")}")
  }

  test("suite-wide stage-fusion lint: no CodegenFallback; no repeated large subtree in a projection") {
    // Round 12 found two silent plan killers only because the bench
    // happened to flag their queries: (1) composed multi-reference
    // Column chains duplicate their upstream subtree per reference
    // inside ONE projection (html_links 14.5 s -> 0.55 s once staged);
    // (2) expressions that fall out of codegen run interpreted
    // (domain_prior 2.5 s -> 0.32 s). This lint runs over EVERY
    // registered query so the next composed expression can't
    // re-introduce either pattern invisibly.
    import org.apache.spark.sql.catalyst.expressions.{Expression,
      HigherOrderFunction, LambdaFunction, NamedLambdaVariable}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.catalyst.plans.logical.Project
    // Fallbacks Spark itself ships without codegen and that never sit in
    // a whole-stage scan span: aggregate functions (imperative aggs run
    // in ObjectHashAggregate by design), higher-order functions + their
    // lambda plumbing, and the datasketches HLL scalar read-outs (used
    // once per profile row, not per corpus row).
    val allowedFallbacks = Set("HllSketchEstimate", "HllUnion")
    // Queries whose large repeated subtrees are BENCH-PROVEN benign
    // (runtime subexpression elimination covers them): the Web family's
    // intra-canonicalizeUrl split chains and the mojibake replace
    // cascade — html_links 0.91 s, url_canonical 0.75 s, url_dup_census
    // 0.71 s, mojibake_fix 0.75 s at sf0.1 (round-12 closing bench). A
    // NEW query must either stage its selects or earn its place here
    // with a bench number.
    val allowedDup = Set("html_links", "url_canonical", "url_dup_census",
      "mojibake_fix")
    // one repeated subtree re-evaluating >= this many extra expression
    // nodes per input row is the html_links-class pattern (its composed
    // form wasted ~20k nodes/row and benched 14.5 s vs 0.55 s staged)
    val MaxWastedNodes = 1000
    def nodeCount(e: Expression): Int = { var n = 0; e.foreach(_ => n += 1); n }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val qe = fn(spark, sf).queryExecution
      collectAll(qe.executedPlan).foreach { node =>
        node.expressions.foreach(_.foreach {
          case e: CodegenFallback if e.references.nonEmpty &&
              !e.isInstanceOf[AggregateFunction] &&
              !e.isInstanceOf[HigherOrderFunction] &&
              !e.isInstanceOf[LambdaFunction] &&
              !e.isInstanceOf[NamedLambdaVariable] &&
              !allowedFallbacks(e.getClass.getSimpleName) =>
            offenders += s"$name: CodegenFallback ${e.getClass.getSimpleName}"
          case _ => ()
        })
      }
      if (!allowedDup(name)) qe.optimizedPlan.foreach {
        case p: Project =>
          val counts = scala.collection.mutable.Map.empty[Expression, Int]
          p.projectList.foreach(_.foreach { e =>
            val n = nodeCount(e)
            if (n >= 20 && n <= 2 * MaxWastedNodes)
              counts(e.canonicalized) = counts.getOrElse(e.canonicalized, 0) + 1
          })
          counts.foreach { case (e, c) =>
            val wasted = nodeCount(e) * (c - 1)
            if (c >= 2 && wasted >= MaxWastedNodes)
              offenders += s"$name: ${nodeCount(e)}-node subtree x$c " +
                s"($wasted wasted nodes/row) in one projection " +
                s"(${e.getClass.getSimpleName}: ${e.sql.take(100)})"
          }
        case _ => ()
      }
    }
    assert(offenders.isEmpty,
      s"${offenders.size} plan-lint findings:\n${offenders.distinct.mkString("\n")}")
  }

  test("halfsample_ci: one map-side-combined exchange; replicate hashes never explode rows") {
    val p = plan("halfsample_ci")
    val nodes = collectAll(p)
    assert(!nodes.exists(_.nodeName.contains("Generate")),
      s"replicates must be aggregate columns, not exploded rows:\n$p")
    val exchanges = nodes.collect { case e: Exchange => e }
      .filterNot(_.toString.contains("SinglePartition"))
    assert(exchanges.size == 1 && exchanges.forall(e =>
      collectAll(e.child).exists(_.nodeName.contains("Aggregate"))),
      s"expected one partial-aggregated key exchange:\n$p")
  }
}
