package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling profiler (SURVEY §6): derives a 5× corpus (sf0.5) from sf0.1
  * into /tmp (testdata is read-only) and measures how the most expensive
  * registered queries scale, reporting the exponent
  * `log(t_sf0.5 / t_sf0.1) / log 5` per query.
  *
  * Replicas are made DISJOINT, not cloned — cloning would manufacture
  * quadratic near-dup pair blowups that say nothing about scaling shape:
  * documents get every word suffixed `_i` (within-replica shingle
  * structure identical, cross-replica Jaccard 0), embeddings get a
  * per-(replica, dim) deterministic sign flip (within-replica geometry
  * preserved, cross-replica cosine decorrelated), events/users and
  * lineitem orders get shifted key ranges.
  */
object ScaleProfile {
  /** `runMain graft.ScaleProfile [all|erasure]` — `erasure` derives the
    * 5× corpus if needed and runs ONLY the compliance-erasure profile
    * (the round-9 idmap re-measure without re-timing the whole suite). */
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val src = "/root/testdata/sf0.1"
    val out = "/tmp/scale/sf0.5"
    val reps = 5

    def replicate(build: Int => DataFrame, path: String): Unit =
      (0 until reps).map(build).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(path)

    if (!new java.io.File(s"$out/lineitem.parquet").isDirectory) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      replicate(i => docs
        .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
        .withColumn("text", if (i == 0) col("text")
          else concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit("_" + i))))),
        s"$out/documents.parquet")
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      replicate(i => emb
        .withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L))
        .withColumn("embedding", if (i == 0) col("embedding")
          else transform(col("embedding"), (x, j) =>
            (x * (pmod(xxhash64(lit(i), j), lit(2)) * 2 - 1)).cast("float"))),
        s"$out/embeddings.parquet")
      // events.ts replicates verbatim in whatever physical encoding the
      // source uses (raw INT64 nanos under the legacy flag, or
      // TIMESTAMP(MICROS)); Tables.events branches on the observed type.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$src/events.parquet")
      replicate(i => ev
        .withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L))
        .withColumn("user_id", col("user_id") + lit(i.toLong * 100000L)),
        s"$out/events.parquet")
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      replicate(i => li
        .withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 10000000L)),
        s"$out/lineitem.parquet")
      System.err.println("[scale] derived sf0.5")
    }
    if (!new java.io.File(s"$out/orders.parquet").isDirectory) {
      // snowflake tables for the join-shaped queries: facts (orders)
      // replicate with order keys aligned to the replicated lineitem and
      // customer keys unchanged; dims copy verbatim — 5x facts against
      // fixed dims is the realistic scale-up shape.
      val ord = spark.read.parquet(s"$src/orders.parquet")
      replicate(i => ord
        .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L)),
        s"$out/orders.parquet")
      Seq("customer", "supplier", "nation", "region", "part").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      System.err.println("[scale] derived sf0.5 snowflake tables")
    }

    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median3(f: => Double): Double = (1 to 3).map(_ => f).sorted.apply(1)

    if (mode == "r16") {
      // Tokenizer crossover ABOVE the adaptive threshold (VERDICT r15
      // #5): the r15 PARITY rows showed forced-distributed costing
      // 1.9–3.6× at sub-threshold scale — as designed — but the 2M-word
      // threshold itself had only been validated from BELOW. Derive a
      // corpus whose distinct-word count lands past the threshold
      // (word-suffixed replicas, the sf1 recipe) and measure the driver
      // path (maxDriverWords raised so it still collects) against the
      // distributed path (the DEFAULT regime at this scale) head to head.
      import graft.operators.{Bpe, Unigram}
      // The gate corpora can NEVER cross the threshold by replication:
      // sf0.1 documents carry only ~31 distinct words (synthetic
      // testdata), so suffixed replicas top out in the thousands.
      // Synthesize the word table directly instead: nDocs × wordsPerDoc
      // globally-unique base-36 words (shared character structure, so
      // merges have real pair statistics), 2.5M distinct — past the 2M
      // threshold this profile was designed to probe. (The measurement
      // found NO crossover — distributed stayed 1.7–21× slower — so the
      // production default was re-pinned to 4M as a pure memory guard.)
      val target = 2500000L // just past the probed 2M threshold
      val wordsPerDoc = 100L
      val nDocs = target / wordsPerDoc
      val dir = "/tmp/scale/tokx"
      if (!new java.io.File(s"$dir/documents.parquet").isDirectory) {
        spark.range(nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(1L), lit(wordsPerDoc)),
            j => concat(lit("w"),
              conv((col("id") * wordsPerDoc + j).cast("string"), 10, 36))))
            .as("text"))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        System.err.println(s"[scale] synthesized tokx corpus ($nDocs docs)")
      }
      val d = spark.read.parquet(s"$dir/documents.parquet")
      val words = Bpe.wordFrequencies(d, "text").count()
      // default_max_driver_words is Bpe.train/Unigram.train's CURRENT
      // maxDriverWords default (the r16 memory-guard re-pin), so the
      // artifact names the knob it justifies (ADVICE r16)
      println(s"TOKX distinct_words=$words default_max_driver_words=${1L << 22}")
      def timeOp(tag: String)(f: => DataFrame): Double = {
        val t0 = System.nanoTime()
        f.write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[tokx] $tag: $dt%.1f s")
        dt
      }
      def bpe(mdw: Long) = Bpe.train(d, "text", numMerges = 5,
        maxDriverWords = mdw)
      def uni(mdw: Long) = Unigram.train(d, "text", rounds = 1,
        seedSize = 200, vocabSize = 120, maxDriverWords = mdw)
      // MIN-of-2-after-warmup: the driver path is minutes per pass at
      // this scale (that cost IS the finding), median3 would be an hour
      def min2(tag: String)(f: => DataFrame): Double = {
        timeOp(s"$tag warmup")(f)
        Seq(timeOp(s"$tag p1")(f), timeOp(s"$tag p2")(f)).min
      }
      val bd = min2("bpe driver")(bpe(1L << 27)) // forced to collect
      val bx = min2("bpe dist")(bpe(0))          // forced distributed
      println(f"TOKX bpe_train     driver=$bd%7.2f s  distributed=$bx%7.2f s  ratio(dist/drv)=${bx / bd}%5.2f")
      val ud = min2("uni driver")(uni(1L << 27))
      val ux = min2("uni dist")(uni(0))
      println(f"TOKX unigram_train driver=$ud%7.2f s  distributed=$ux%7.2f s  ratio(dist/drv)=${ux / ud}%5.2f")
      spark.stop()
      return
    }
    if (mode == "r17") {
      // Storage-partitioned-join scale measurement (round 17): two
      // co-bucketed graft tables joined through the SQL catalog, SPJ on
      // (zero exchange) vs v2 bucketing off (both sides shuffle) —
      // same data, same SQL, one conf. orders(sf0.1) ⋈ per-order
      // lineitem aggregate, both MERGEd into 32-bucket manifest tables.
      import graft.operators.Upsert
      // shuffle-byte accounting: the structural cost SPJ removes — at
      // fixed cluster speed wall-clock tracks this at scale, while tiny
      // local joins hide it under task overhead
      val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (e.taskMetrics != null)
              shuffleBytes.addAndGet(
                e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        })
      def profile(tag: String, dir: String, nb: Int): Unit = {
        val base = s"/tmp/scale/spj17-$tag"
        if (Upsert.manifestBody(spark, s"$base/o", None).isEmpty) {
          val ord = spark.read.parquet(s"$dir/orders.parquet")
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          val li = spark.read.parquet(s"$dir/lineitem.parquet")
            .groupBy("l_orderkey").agg(sum("l_quantity").as("qty"),
              sum("l_extendedprice").as("ext"))
          Upsert.mergeIntoManifestBucketedParquet(spark, s"$base/o", ord,
            Seq("o_orderkey"), nBuckets = nb)
          Upsert.mergeIntoManifestBucketedParquet(spark, s"$base/l",
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            Seq("o_orderkey"), nBuckets = nb)
          System.err.println(s"[scale] built spj17-$tag co-bucketed tables")
        }
        spark.conf.set(s"spark.sql.catalog.spj17$tag", "graft.sources.GraftCatalog")
        spark.conf.set(s"spark.sql.catalog.spj17$tag.warehouse", base)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        def joinOnce(leg: String): (Double, Long) = {
          val b0 = shuffleBytes.get()
          val t0 = System.nanoTime()
          spark.sql(
            s"""SELECT /*+ MERGE(a) */ a.o_orderkey, a.o_totalprice, b.qty, b.ext
               |FROM spj17$tag.o a JOIN spj17$tag.l b
               |  ON a.o_orderkey = b.o_orderkey""".stripMargin)
            .write.mode("overwrite").format("noop").save()
          val dt = (System.nanoTime() - t0) / 1e9
          // listener events drain asynchronously; settle before reading
          Thread.sleep(300)
          val sb = shuffleBytes.get() - b0
          System.err.println(f"[spj17-$tag] $leg: $dt%.2f s, shuffle=${sb / 1024 / 1024.0}%.1f MiB")
          (dt, sb)
        }
        def med3(leg: String): (Double, Long) = {
          joinOnce(s"$leg warmup")
          val runs = (1 to 3).map(i => joinOnce(s"$leg p$i"))
          (runs.map(_._1).sorted.apply(1), runs.map(_._2).max)
        }
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
        val (tSpj, bSpj) = med3("spj-on")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        val (tShuf, bShuf) = med3("spj-off")
        println(f"SPJ17 $tag: join_spj=$tSpj%.2f s (${bSpj / 1024 / 1024.0}%.1f MiB shuffled)  " +
          f"join_shuffle=$tShuf%.2f s (${bShuf / 1024 / 1024.0}%.1f MiB shuffled)  " +
          f"wall_ratio=${tShuf / tSpj}%.2f")
      }
      profile("a", src, 32)           // sf0.1
      profile("b", out, 32)           // sf0.5 (5×, derived above)
      spark.stop()
      return
    }
    if (mode == "r18") {
      // GraftBucketedScan planning cost vs nBuckets (VERDICT r17 #5 /
      // What's-wrong #2): the bucket-aware scan plans its parquet
      // delegate once per bucket, so a production table at nBuckets=4096
      // pays thousands of delegate plannings per read where the r17
      // bench tables paid 8. Fixed row count (400k), one commit per
      // bucket count (≈ one file per bucket — the file-count growth IS
      // part of the cost under test), measuring (a) physical planning
      // alone (build(): manifest parse + stats + fullDelegate schema),
      // (b) a full scan (adds the per-bucket delegate plannings +
      // execution), (c) a key point-lookup (prunes to ONE bucket before
      // any delegate is built — the shape that must stay metadata-cheap
      // at any bucket count).
      import graft.operators.Upsert
      def profile(nb: Int): Unit = {
        val tbl = s"/tmp/scale/bucketplan18/nb$nb/table"
        if (Upsert.manifestBody(spark, tbl, None).isEmpty) {
          val rows = spark.range(400000L).select(col("id").as("key"),
            concat(lit("v"), col("id")).as("v"))
          Upsert.mergeIntoManifestBucketedParquet(spark, tbl, rows,
            Seq("key"), nBuckets = nb, statsCols = Seq("key"))
          System.err.println(s"[scale] built bucketplan18 nb=$nb")
        }
        val files = Upsert.parseManifestEntries(
          Upsert.manifestBody(spark, tbl, None).get).values.map(_.size).sum
        def planOnce(): Double = {
          val t0 = System.nanoTime()
          spark.read.format("graft").load(tbl).select("key", "v")
            .queryExecution.executedPlan
          (System.nanoTime() - t0) / 1e9
        }
        def scanOnce(): Double = {
          val t0 = System.nanoTime()
          spark.read.format("graft").load(tbl).select("key", "v")
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        def lookupOnce(): Double = {
          val t0 = System.nanoTime()
          spark.read.format("graft").load(tbl)
            .where(col("key") === 123456L).select("key", "v")
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        def med3(f: => Double): Double = { f; (1 to 3).map(_ => f).sorted.apply(1) }
        println(f"BUCKETPLAN18 nb=$nb files=$files " +
          f"plan_s=${med3(planOnce())}%.3f full_scan_s=${med3(scanOnce())}%.2f " +
          f"point_lookup_s=${med3(lookupOnce())}%.3f")
      }
      Seq(256, 1024, 4096).foreach(profile)
      spark.stop()
      return
    }
    if (mode == "rowlevel18") {
      // SQL row-level MERGE cost vs table size (round 18): a FIXED
      // 10-key MERGE INTO (5 updates, 5 inserts) against tables of
      // 100k/400k/1.6M rows at nBuckets=64. The claim under test: the
      // rewrite side stays O(touched buckets) — ~10/64 of the table's
      // files — so total cost is dominated by the runtime group filter's
      // matching-rows subquery, which is ONE column-pruned scan
      // (key + __bucket) of the target joined to the 10-row source, not
      // a full-width rewrite. Contrast series: the library
      // mergeIntoManifestBucketedParquet with the SAME batch, which
      // skips the discovery scan entirely (it hashes the batch keys to
      // buckets directly) — the price SQL MERGE pays for arbitrary
      // clause semantics is exactly the discovery scan, and it grows
      // with the narrow scan, not the rewrite.
      import graft.operators.Upsert
      val wh = "/tmp/scale/rowlevel18/wh"
      spark.conf.set("spark.sql.catalog.grl18", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.grl18.warehouse", wh)
      def profile(n: Long): Unit = {
        val tag = s"n$n"
        val tbl = s"$wh/$tag" // managed path ⇒ zero-DDL catalog adoption
        if (Upsert.manifestBody(spark, tbl, None).isEmpty) {
          Upsert.mergeIntoManifestBucketedParquet(spark, tbl,
            spark.range(n).select(col("id").as("key"),
              concat(lit("v"), col("id")).as("v")),
            Seq("key"), nBuckets = 64, statsCols = Seq("key"),
            keepSnapshots = 1)
          System.err.println(s"[scale] built rowlevel18 $tag")
        }
        val batch = (0 until 5).map(i => n / 5 * i + 3) ++ // existing keys
          (0 until 5).map(i => 10L * n + i) // new keys (insert once)
        spark.createDataFrame(
          java.util.Arrays.asList(batch.map(k =>
            org.apache.spark.sql.Row(k, s"u$k")): _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("key",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.StringType, nullable = false))))
          .createOrReplaceTempView("rl18src")
        def sqlMergeOnce(): Double = {
          val t0 = System.nanoTime()
          spark.sql(
            s"""MERGE INTO grl18.`$tag` t USING rl18src s ON t.key = s.key
               |WHEN MATCHED THEN UPDATE SET v = s.v
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          (System.nanoTime() - t0) / 1e9
        }
        def libMergeOnce(): Double = {
          val t0 = System.nanoTime()
          Upsert.mergeIntoManifestBucketedParquet(spark, tbl,
            spark.sql("SELECT * FROM rl18src"), Seq("key"),
            nBuckets = 64, keepSnapshots = 1)
          (System.nanoTime() - t0) / 1e9
        }
        def med3(f: => Double): Double = { f; (1 to 3).map(_ => f).sorted.apply(1) }
        println(f"ROWLEVEL18 n=$n merge_sql_s=${med3(sqlMergeOnce())}%.2f " +
          f"merge_lib_s=${med3(libMergeOnce())}%.2f")
      }
      Seq(100000L, 400000L, 1600000L).foreach(profile)
      spark.stop()
      return
    }
    if (mode == "erasure") {
      erasureManifestProfile(spark, src, "sf0.1")
      erasureManifestProfile(spark, out, "sf0.5")
      erasureIvfProfile(spark, src, "sf0.1")
      erasureIvfProfile(spark, out, "sf0.5")
      spark.stop()
      return
    }
    if (mode == "passages") {
      // Round-9 ops: the passage pipeline (token-window exchange + census
      // + merge — ideal exponent 1), containment (blocked shingle join),
      // and the sketch profile (expected ~flat: payload is register blobs)
      val ps = Seq("dup_passages", "dup_passage_clean", "containment_pairs",
        "vocab_cardinality", "group_split", "split_by_component")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, out))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t5 = median3(time(q, out))
        println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=${math.log(t5 / t1) / math.log(5.0)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "newops") {
      // Late round-9 ops: band/range joins (events ×5 with users ×5 —
      // pairs-per-user constant, ideal exponent 1), Bloom-prefiltered
      // decontamination (bench and corpus both ×5, contamination ×5),
      // and the frequent-items profile (sketch blobs bounded per source;
      // the suffixed 5× vocabulary pushes it into the purge regime, the
      // honest shape at scale — expected ~flat).
      val ps = Seq("band_join", "range_join", "decon_bloom", "freq_profile",
        "drift_tv", "novelty_rate", "collocations")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, out))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t5 = median3(time(q, out))
        println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=${math.log(t5 / t1) / math.log(5.0)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "bpe") {
      // Round-9 BPE: train = one corpus-linear word-frequency pass + a
      // vocab-bound merge loop (the 5× corpus also multiplies the vocab —
      // replica words are suffixed — so this upper-bounds the corpus-only
      // growth case); encode = the same pass + a broadcast vocab join.
      val ps = Seq("bpe_train", "bpe_encode")
      ps.foreach(q => time(q, src))
      ps.foreach(q => time(q, out))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t5 = median3(time(q, out))
        println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=${math.log(t5 / t1) / math.log(5.0)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r10") {
      // Round-10 ops: surprisal (tokenize ×5 with a ×5 suffixed vocab —
      // the broadcast-vocab shape's honest upper bound), pagerank (events
      // ×5 AND users ×5 ⇒ nodes ×~5, edges ×5 — ideal exponent 1 for the
      // per-round join+agg), the PQ tiers (codes scan linear; recall
      // harness carries its labeled quadratic exact side at sample
      // scale), and the two real decode tiers (pure per-row work, ideal
      // exponent 1; fixtures generated on the fly each pass).
      val ps = Seq("surprisal_score", "pagerank", "pq_recall", "ann_ivfpq",
        "audio_features", "image_features")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT + index builds
      ps.foreach(q => time(q, out))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t5 = median3(time(q, out))
        println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=${math.log(t5 / t1) / math.log(5.0)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r10b") {
      // Late-round-10 ops. Text/event queries scale on the derived sf0.5
      // corpus; the entity-name queries get their OWN 5× axis — the part
      // dims copy verbatim into sf0.5 (fixed-dim realism for the join
      // queries), but entity strings scale with the CATALOG, so a names
      // table with suffixed replicas (suffix edit-distance > k between
      // replicas ⇒ exactly 5× the typo clusters, none cross-replica)
      // is the honest input growth for the fuzzy-join family.
      val namesDir = "/tmp/scale/sf0.5-names"
      if (!new java.io.File(s"$namesDir/part.parquet").isDirectory) {
        val part = spark.read.parquet(s"$src/part.parquet")
        (0 until reps).map(i => part
          .withColumn("p_partkey", col("p_partkey") + lit(i.toLong * 1000000L))
          .withColumn("p_name", if (i == 0) col("p_name")
            else concat(col("p_name"), lit("_" + (i.toString * 3)))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$namesDir/part.parquet")
        System.err.println("[scale] derived sf0.5-names (5x entity catalog)")
      }
      val ps = Seq(
        "bm25_topk" -> out, "funnel_steps" -> out, "retention_cohorts" -> out,
        "scd2_history" -> out, "bigram_surprisal" -> out, "trustrank" -> out,
        "editdist_pairs" -> namesDir, "entity_canonical" -> namesDir)
      ps.foreach { case (q, _) => time(q, src) } // warmup: codegen + JIT
      ps.foreach { case (q, d) => time(q, d) }
      ps.foreach { case (q, d) =>
        val t1 = median3(time(q, src))
        val t5 = median3(time(q, d))
        println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=${math.log(t5 / t1) / math.log(5.0)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r10c") {
      // Final late-round batch: the TPC-H shapes scale facts ×5 against
      // verbatim dims (the realistic warehouse growth axis);
      // hard_negatives scales the corpus side of both tiers;
      // tokenizer_fertility retrains on the ×5 (suffix-vocab) corpus.
      val ps = Seq("hard_negatives", "tokenizer_fertility",
        "q3_shipping_priority", "q18_big_orders", "scd2_chunked")
      ps.foreach(q => time(q, src)) // warmup
      ps.foreach(q => time(q, out))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t5 = median3(time(q, out))
        println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=${math.log(t5 / t1) / math.log(5.0)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r11") {
      // Round-11 ops: DSIR scoring/selection (corpus featurize + B-row
      // broadcast models — ideal exponent 1 with the ×5 suffixed vocab
      // also growing the model build), held-out stupid backoff (the
      // surprisal family's two-pass shape), centroid drift (two pool
      // exchanges of groups×dim arrays — expected ~flat), and the
      // duplicate-cluster census (incremental over the family's shared
      // CC, which the warmup pass builds — the bench-billing posture).
      val ps = Seq("dsir_scores", "dsir_select", "stupid_backoff",
        "centroid_drift", "dup_cluster_sizes", "item_cooccurrence",
        "session_paths", "cross_dup_rate")
      ps.foreach(q => time(q, src)) // warmup: codegen + shared CC build
      ps.foreach(q => time(q, out))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t5 = median3(time(q, out))
        println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=${math.log(t5 / t1) / math.log(5.0)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r11b") {
      // Late round-11 ops: weekly_trend (one event-keyed week agg + a
      // per-type lag window over ~dozens of rows — corpus-linear scan,
      // ideal exponent 1 dominated by the fixed agg cost at this sf) and
      // triangle_count (degree-ordered wedge join over the 5-block clique
      // graph; docs ×5 ⇒ blocks ×5, edges ×5, wedges ×5 — linear for the
      // bounded-degree graph; the arboricity bound is what keeps a hub
      // from going quadratic, exercised separately in GraphSpec).
      // r11c additions: hybrid_rrf (two bounded retrieval legs — the
      // BM25 leg is corpus-linear, the brute ANN leg corpus-linear by
      // the eval contract, fusion itself |queries|·k); kcore (8 peel
      // rounds, edge-linear per round like pagerank); retrieval_eval
      // (labeled quadratic ground truth at 50 queries — scales with the
      // corpus side of the crossjoin, the eval-op posture).
      // vocab_coverage: one vocab agg + bounded TakeOrdered (the ×5
      // suffixed vocab also ×5s the vocab table — linear band);
      // anomaly_days/gap_fill: one (key,day) exchange then tiny-table
      // windows (expected ~flat); q7/q10: broadcast-dim fact joins.
      // mixture_alloc: sources-sized agg + driver waterfill (~flat);
      // attribution: the sessionize band (one key exchange, window +
      // reused-partitioning agg); clustering_coeff: the wedge-join band.
      val ps = Seq("weekly_trend", "triangle_count", "hybrid_rrf", "kcore",
        "retrieval_eval", "vocab_coverage", "anomaly_days", "gap_fill",
        "q7_nation_volume", "q10_returned_items", "mixture_alloc",
        "attribution", "clustering_coeff", "bm25_indexed",
        "rolling_active", "rank_correlation", "embedding_norm_outliers",
        "q4_priority_exists", "domain_census", "domain_cap", "basket_lift",
        "blocklist_hits", "trending_terms", "q13_order_histogram")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, out))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t5 = median3(time(q, out))
        println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=${math.log(t5 / t1) / math.log(5.0)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "sf1") {
      // Round-11 10× axis (VERDICT r10 #2): at sf0.5 every heavy-family
      // exponent reads flat because fixed per-job latency dominates the
      // wall. sf1 is 10 DISJOINT replicas of sf0.1 (~6M lineitem, 1M
      // events, 50k docs, 50k vectors) — big enough that the slowest
      // queries run tens of seconds and per-round job overhead is <20%
      // of wall, so the exponent measures the ALGORITHM. Derivation
      // mirrors sf0.5's (suffixed words, sign-flipped embeddings,
      // shifted key ranges: replicas never collide or near-dup).
      val big = "/tmp/scale/sf1"
      val reps10 = 10
      def replicate10(build: Int => DataFrame, path: String): Unit =
        (0 until reps10).map(build).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(path)
      if (!new java.io.File(s"$big/lineitem.parquet").isDirectory) {
        val docs = spark.read.parquet(s"$src/documents.parquet")
        replicate10(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", if (i == 0) col("text")
            else concat_ws(" ", transform(split(col("text"), " "),
              w => concat(w, lit("_" + i))))),
          s"$big/documents.parquet")
        val emb = spark.read.parquet(s"$src/embeddings.parquet")
        replicate10(i => emb
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L))
          .withColumn("embedding", if (i == 0) col("embedding")
            else transform(col("embedding"), (x, j) =>
              (x * (pmod(xxhash64(lit(i), j), lit(2)) * 2 - 1)).cast("float"))),
          s"$big/embeddings.parquet")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev = spark.read.parquet(s"$src/events.parquet")
        replicate10(i => ev
          .withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L))
          .withColumn("user_id", col("user_id") + lit(i.toLong * 100000L)),
          s"$big/events.parquet")
        val li = spark.read.parquet(s"$src/lineitem.parquet")
        replicate10(i => li
          .withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 10000000L)),
          s"$big/lineitem.parquet")
        val ord = spark.read.parquet(s"$src/orders.parquet")
        replicate10(i => ord
          .withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L)),
          s"$big/orders.parquet")
        Seq("customer", "supplier", "nation", "region", "part").foreach { t =>
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$big/$t.parquet")
        }
        System.err.println("[scale] derived sf1 (10x)")
      }
      // 10× entity catalog for the fuzzy-join family (the r10b axis logic)
      val namesDir = "/tmp/scale/sf1-names"
      if (!new java.io.File(s"$namesDir/part.parquet").isDirectory) {
        val part = spark.read.parquet(s"$src/part.parquet")
        (0 until reps10).map(i => part
          .withColumn("p_partkey", col("p_partkey") + lit(i.toLong * 1000000L))
          .withColumn("p_name", if (i == 0) col("p_name")
            else concat(col("p_name"), lit("_" + (i.toString * 3)))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$namesDir/part.parquet")
        System.err.println("[scale] derived sf1-names (10x entity catalog)")
      }
      def exp10(t1: Double, t10: Double): Double = math.log(t10 / t1) / math.log(10.0)

      // family-shared builds, timed like Bench bills them
      def timeSpans(dir: String): Double = SparkEntry.passageSpansShared.timedBuild(spark, dir)
      def timeCc(dir: String): Double = SparkEntry.ccSharedBuild.timedBuild(spark, dir)
      timeSpans(src); timeCc(src) // warmup: codegen + JIT
      val sp1 = median3(timeSpans(src)); val sp10 = median3(timeSpans(big))
      println(f"SCALE10 passage_spans_shared    sf0.1=$sp1%6.2f s  sf1=$sp10%7.2f s  exponent=${exp10(sp1, sp10)}%5.2f")
      val cc1 = median3(timeCc(src)); val cc10 = median3(timeCc(big))
      println(f"SCALE10 cc_shared_build         sf0.1=$cc1%6.2f s  sf1=$cc10%7.2f s  exponent=${exp10(cc1, cc10)}%5.2f")

      val ps = Seq(
        "pagerank" -> big, "trustrank" -> big, "containment_pairs" -> big,
        "bm25_topk" -> big, "cc_incremental" -> big, "ann_ivfpq" -> big,
        "dup_passage_clean" -> big, "surprisal_score" -> big,
        "editdist_pairs" -> namesDir, "entity_canonical" -> namesDir)
      ps.foreach { case (q, _) => time(q, src) } // warmup
      ps.foreach { case (q, d) => time(q, d) }
      ps.foreach { case (q, d) =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, d))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }

      // skew table at the 10× axis (1M events, hot user owns ~50%) — also
      // re-validates the scd2_chunked escape after the integer-chunk fix
      val skewDir = "/tmp/scale/sf1-skew"
      if (!new java.io.File(s"$skewDir/events.parquet").isDirectory) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(s"$big/events.parquet")
          .withColumn("user_id",
            when(pmod(xxhash64(col("event_id")), lit(2)) === 0, lit(1L))
              .otherwise(col("user_id")))
          .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
        System.err.println("[scale] derived sf1-skew (user 1 owns ~50% of 1M events)")
      }
      val sk = Seq("sessionize", "sessionize_chunked",
        "scd2_history", "scd2_chunked")
      sk.foreach(q => time(q, big))
      sk.foreach(q => time(q, skewDir))
      sk.foreach { q =>
        val tu = median3(time(q, big))
        val ts = median3(time(q, skewDir))
        println(f"SKEW10 $q%-24s uniform=$tu%6.2f s  skew=$ts%6.2f s  ratio=${ts / tu}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "sf1b") {
      // 10× axis for the round-11b heavy ops (requires the sf1 corpus —
      // run `sf1` once first): kcore is the only new ITERATIVE op (peel
      // rounds edge-linear — the exponent should hold near the 5×
      // reading once job overhead is <20%); triangle_count's wedge join
      // grows linearly on the block-clique graph; hybrid_rrf carries
      // its two corpus-linear retrieval legs; vocab_coverage's ×10
      // suffixed vocab stresses the vocab-table agg + TakeOrdered.
      val big = "/tmp/scale/sf1"
      require(new java.io.File(s"$big/lineitem.parquet").isDirectory,
        "sf1 corpus missing — run `runMain graft.ScaleProfile sf1` first")
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("kcore", "triangle_count", "hybrid_rrf", "vocab_coverage")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r12") {
      // Round-12 evidence (VERDICT r11 #7/#8). Requires the sf1 corpora —
      // run `runMain graft.ScaleProfile sf1` once first.
      // (a) The profile family's fold reads at the 10× axis: one
      //     corpus-linear featurize + kilobyte sketch blobs over the
      //     exchange — expected near-flat exponents.
      // (b) The Cooccur family under the 50%-hot-key skew twin: the
      //     per-user degree cap (itemCooccurrence) bounds the hot user's
      //     pair fan-out at D²; basketLift's per-session distinct bounds
      //     a bot session at |types| rows — both should read ~1.0.
      val big = "/tmp/scale/sf1"
      val skewDir = "/tmp/scale/sf1-skew"
      require(new java.io.File(s"$big/lineitem.parquet").isDirectory &&
        new java.io.File(s"$skewDir/events.parquet").isDirectory,
        "sf1 corpora missing — run `runMain graft.ScaleProfile sf1` first")
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("vocab_cardinality", "quantile_profile", "freq_profile",
        "item_cooccurrence", "basket_lift")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      val sk = Seq("item_cooccurrence", "basket_lift")
      sk.foreach(q => time(q, skewDir))
      sk.foreach { q =>
        val tu = median3(time(q, big))
        val ts = median3(time(q, skewDir))
        println(f"SKEW10 $q%-24s uniform=$tu%6.2f s  skew=$ts%6.2f s  ratio=${ts / tu}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r12b") {
      // Round-12 new-op evidence at the 10× axis (sf1 corpora from
      // `sf1`): the scan-stage tier (url/html/card/readability/robots —
      // pure codegen'd projections) should read near-linear against a
      // 10× corpus at fixed parallelism with overhead amortizing the
      // exponent below 1; the exchanges worth watching are communities
      // (5 LPA rounds over 10× edges), quality_blend (3 two-phase exact
      // rankings), line_dedup (line-hash census + winner join-back) and
      // ab_lift (one user-keyed collapse of 10× events).
      val big = "/tmp/scale/sf1"
      require(new java.io.File(s"$big/lineitem.parquet").isDirectory,
        "sf1 corpora missing — run `runMain graft.ScaleProfile sf1` first")
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("communities", "quality_blend", "line_dedup",
        "url_dup_census", "html_strip", "card_redact", "readability",
        "robots_filter", "ab_lift")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r12c") {
      // Late round-12 ops at the 10× axis: the TPC-H pair scales with
      // 10× lineitem against fixed dims; bfs/communities-style loops
      // with 10× edges; the rest are doc/event-keyed exchanges.
      val big = "/tmp/scale/sf1"
      require(new java.io.File(s"$big/lineitem.parquet").isDirectory,
        "sf1 corpora missing — run `runMain graft.ScaleProfile sf1` first")
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("topic_classify", "contrastive_pairs", "quality_deciles",
        "skew_census", "bfs_layers", "q21_waiting_supplier",
        "q17_small_qty_revenue", "q6_forecast_revenue")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r12d") {
      // Closing round-12 additions at the 10× axis.
      val big = "/tmp/scale/sf1"
      require(new java.io.File(s"$big/lineitem.parquet").isDirectory,
        "sf1 corpora missing — run `runMain graft.ScaleProfile sf1` first")
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("sentence_chunks", "epoch_budget", "lsh_calibration",
        "domain_prior", "curriculum_order")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r12e") {
      // Closing audit-tier additions at the 10× axis: Q8 scales with
      // 10× lineitem against fixed dims; the rest are doc/event-keyed
      // exchanges (gini/trimmed on the value histogram, markov on the
      // bounded transition matrix, vocab_growth's prefix sum).
      val big = "/tmp/scale/sf1"
      require(new java.io.File(s"$big/lineitem.parquet").isDirectory,
        "sf1 corpora missing — run `runMain graft.ScaleProfile sf1` first")
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      // split_leakage's first sf1 call builds the shared CC (warmup
      // absorbs it); the medians then read its MARGINAL cost, which is
      // the claim ("zero marginal pair cost")
      val ps = Seq("q8_market_share", "benford_digits", "gini_concentration",
        "hapax_rate", "crawl_schedule", "trimmed_stats",
        "markov_stationary", "vocab_growth", "split_leakage")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r13") {
      // Round-13 additions at the 10× axis: ann_hnsw's cost is the
      // bucket-bounded per-layer top-m edge build (candidate volume per
      // node follows the occupancy law; the search itself is
      // (maxLevel + rounds) frontier joins bounded by the QUERY set,
      // not the corpus); hnsw_recall adds the deliberately-quadratic
      // brute-force reference side, which dominates at 10×.
      // halfsample_ci re-measured after the one-hash-per-row slim
      // (32 md5/row → 1 mix64/row — VERDICT r12 #5).
      val big = "/tmp/scale/sf1"
      if (!new java.io.File(s"$big/embeddings.parquet").isDirectory) {
        val emb = spark.read.parquet(s"$src/embeddings.parquet")
        (0 until 10).map(i => emb
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * 1000000L))
          .withColumn("embedding", if (i == 0) col("embedding")
            else transform(col("embedding"), (x, j) =>
              (x * (pmod(xxhash64(lit(i), j), lit(2)) * 2 - 1)).cast("float"))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
        System.err.println("[scale] derived sf1 embeddings (10x)")
      }
      if (!new java.io.File(s"$big/events.parquet").isDirectory) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev = spark.read.parquet(s"$src/events.parquet")
        (0 until 10).map(i => ev
          .withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L))
          .withColumn("user_id", col("user_id") + lit(i.toLong * 100000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/events.parquet")
        System.err.println("[scale] derived sf1 events (10x)")
      }
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("ann_hnsw", "hnsw_recall", "halfsample_ci")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      // the auto-sized plane path (the production default, which the
      // registered query can't use — its oracle interpolates hyperplane
      // literals): occupancy-matched buckets keep per-node candidate
      // volume flat across the axis, vs planes=4's near-linear read
      def timeAuto(dir: String): Double = {
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val q = emb.where(col("vec_id") < 20)
        val t0 = System.nanoTime()
        operators.Hnsw.topK(q, emb, k = 5, dim = 64, m = 8,
            beam = 16, rounds = 3)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      timeAuto(src); timeAuto(big) // warmup
      val a1 = median3(timeAuto(src))
      val a10 = median3(timeAuto(big))
      println(f"SCALE10 ann_hnsw_autoplanes    sf0.1=$a1%6.2f s  sf1=$a10%7.2f s  exponent=${exp10(a1, a10)}%5.2f")
      spark.stop()
      return
    }
    if (mode == "r14") {
      // Graph-tier 10× axis (VERDICT r13 #4): the "per-round latency
      // amortizes, data volume is linear" claim measured for all four
      // registered iterative graph queries — previously recorded only
      // for LPA — plus a HUB-SKEW axis: the same loop kernels on a
      // 1M-edge synthetic graph, uniform vs one node in ~30% of edges.
      // The skew claim under test: every per-node reduction in the
      // loops (degree counts, rank sums, min-label folds) is map-side
      // partially aggregated, so a hot node receives at most one row
      // per map partition in the exchange — no single-key straggler.
      val big = "/tmp/scale/sf1"
      require(new java.io.File(s"$big/events.parquet").isDirectory &&
        new java.io.File(s"$big/documents.parquet").isDirectory,
        "sf1 corpus missing — run `runMain graft.ScaleProfile sf1` first")
      if (!new java.io.File(s"$big/lineitem.parquet").isDirectory) {
        val li = spark.read.parquet(s"$src/lineitem.parquet")
        (0 until 10).map(i => li
          .withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/lineitem.parquet")
        System.err.println("[scale] derived sf1 lineitem (10x)")
      }
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("pagerank", "kcore", "communities", "cc_incremental")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      // hub-skew edge tables: 1M edges over 200k nodes, deterministic.
      // Uniform endpoints are independent hashes; the hub variant
      // redirects ~30% of dst endpoints to node 1.
      val uniDir = "/tmp/scale/graph-uniform"
      val hubDir = "/tmp/scale/graph-hub"
      if (!new java.io.File(uniDir).isDirectory) {
        val ids = spark.range(1000000L)
        val uni = ids.select(
          pmod(xxhash64(col("id"), lit(1)), lit(200000L)).as("a"),
          pmod(xxhash64(col("id"), lit(2)), lit(200000L)).as("b"))
          .where(col("a") =!= col("b"))
        uni.write.mode("overwrite").parquet(uniDir)
        uni.withColumn("b",
            when(pmod(xxhash64(col("a"), col("b"), lit(3)), lit(10)) < 3,
              lit(1L)).otherwise(col("b")))
          .where(col("a") =!= col("b"))
          .write.mode("overwrite").parquet(hubDir)
        System.err.println("[scale] derived 1M-edge uniform + hub graphs")
      }
      def loops(dir: String): Seq[(String, () => Unit)] = {
        def edges = spark.read.parquet(dir)
        Seq(
          "pagerank_kernel" -> (() => operators.Graph
            .pageRank(edges, "a", "b", iterations = 8)
            .write.mode("overwrite").format("noop").save()),
          "kcore_kernel" -> (() => operators.Graph
            .kCore(edges, "a", "b", k = 4, rounds = 8)
            .write.mode("overwrite").format("noop").save()),
          "lpa_kernel" -> (() => operators.Graph
            .labelPropagation(edges, "a", "b", rounds = 5)
            .write.mode("overwrite").format("noop").save()),
          "cc_star_kernel" -> (() => operators.Graph
            .connectedComponentsStar(edges, "a", "b")
            .write.mode("overwrite").format("noop").save()))
      }
      def timeK(f: () => Unit): Double = {
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }
      loops(uniDir).foreach { case (_, f) => f() } // warmup
      loops(hubDir).foreach { case (_, f) => f() }
      loops(uniDir).zip(loops(hubDir)).foreach {
        case ((name, fu), (_, fh)) =>
          val tu = median3(timeK(fu))
          val th = median3(timeK(fh))
          println(f"SKEWG $name%-24s uniform=$tu%6.2f s  hub30=$th%6.2f s  ratio=${th / tu}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r15") {
      // Round-15 (VERDICT r14 #5): (a) bpe_train/bpe_encode at the 10×
      // axis — the unigram family was measured in r14b; BPE shares the
      // corpus-linear word-frequency pass + bounded-vocab merge loop —
      // and (b) the tokenizer trainers' FORCED distributed path
      // (maxDriverWords = 0) vs the default driver path at both scales:
      // the adaptive split's above-threshold regime never triggers
      // naturally on the gate corpora (sf1 distinct words ≈ 10× sf0.1's,
      // still < the 2M threshold), so parity is read by forcing it.
      val big = "/tmp/scale/sf1"
      if (!new java.io.File(s"$big/documents.parquet").isDirectory) {
        val docs = spark.read.parquet(s"$src/documents.parquet")
        (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", if (i == 0) col("text")
            else concat_ws(" ", transform(split(col("text"), " "),
              w => concat(w, lit("_" + i))))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/documents.parquet")
        System.err.println("[scale] derived sf1 documents (10x)")
      }
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("bpe_train", "bpe_encode")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      def timeOp(f: => DataFrame): Double = {
        val t0 = System.nanoTime()
        f.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      import graft.operators.{Bpe, Unigram}
      Seq("sf0.1" -> src, "sf1" -> big).foreach { case (tag, dir) =>
        val d = Tables.documents(spark, dir)
        def bpe(mdw: Long) = Bpe.train(d, "text", numMerges = 10,
          maxDriverWords = mdw)
        def uni(mdw: Long) = Unigram.train(d, "text", rounds = 2,
          seedSize = 200, vocabSize = 120, maxDriverWords = mdw)
        timeOp(bpe(1L << 21)); timeOp(bpe(0)) // warmup both paths
        val bd = median3(timeOp(bpe(1L << 21)))
        val bx = median3(timeOp(bpe(0)))
        timeOp(uni(1L << 21)); timeOp(uni(0))
        val ud = median3(timeOp(uni(1L << 21)))
        val ux = median3(timeOp(uni(0)))
        println(f"PARITY bpe_train     $tag%-6s driver=$bd%6.2f s  distributed=$bx%7.2f s  ratio=${bx / bd}%5.2f")
        println(f"PARITY unigram_train $tag%-6s driver=$ud%6.2f s  distributed=$ux%7.2f s  ratio=${ux / ud}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r14b") {
      // Unigram tokenizer 10× axis: sf1 documents carry 10× the distinct
      // words (replicas suffix every word), so the axis measures the
      // corpus-linear word-frequency pass + the bounded-vocab EM rounds
      // (train), the per-distinct-word DP + per-doc join (encode), and
      // the held-out variant (fertility).
      val big = "/tmp/scale/sf1"
      require(new java.io.File(s"$big/documents.parquet").isDirectory,
        "sf1 corpus missing — run `runMain graft.ScaleProfile sf1` first")
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("unigram_train", "unigram_encode", "unigram_fertility")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "r12f") {
      // Final round-12 census additions at the 10× axis: every one is a
      // single-exchange rollup — yule_k over the (key, word) count table,
      // zipf_bands over the BOUNDED count-run table (the corpus never
      // sees a rank sort), char_class_census's scan-stage codegen'd
      // counters, fano_factor over (type, epoch-day) counts.
      val big = "/tmp/scale/sf1"
      // self-sufficient: derive just the two tables this set reads
      // (documents, events) if the sf1 axis is absent on this box —
      // same disjoint-replica scheme as the full `sf1` derivation
      if (!new java.io.File(s"$big/documents.parquet").isDirectory) {
        val docs = spark.read.parquet(s"$src/documents.parquet")
        (0 until 10).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", if (i == 0) col("text")
            else concat_ws(" ", transform(split(col("text"), " "),
              w => concat(w, lit("_" + i))))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/documents.parquet")
        System.err.println("[scale] derived sf1 documents (10x)")
      }
      if (!new java.io.File(s"$big/events.parquet").isDirectory) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev = spark.read.parquet(s"$src/events.parquet")
        (0 until 10).map(i => ev
          .withColumn("event_id", col("event_id") + lit(i.toLong * 10000000L))
          .withColumn("user_id", col("user_id") + lit(i.toLong * 100000L)))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/events.parquet")
        System.err.println("[scale] derived sf1 events (10x)")
      }
      def exp10(t1: Double, t10: Double): Double =
        math.log(t10 / t1) / math.log(10.0)
      val ps = Seq("yule_k", "zipf_bands", "char_class_census", "fano_factor",
        "ks_drift", "autocorr_daily", "changepoint_day", "assoc_cramers",
        "ks_value_shift", "ranksum_shift", "trend_slope", "winsorize",
        "halfsample_ci", "median_shift", "dow_profile")
      ps.foreach(q => time(q, src)) // warmup: codegen + JIT
      ps.foreach(q => time(q, big))
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t10 = median3(time(q, big))
        println(f"SCALE10 $q%-23s sf0.1=$t1%6.2f s  sf1=$t10%7.2f s  exponent=${exp10(t1, t10)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "sf10docs") {
      // The doc/names-family tail of the 10× axis: at sf1 these queries
      // still read overhead-dominated (spans 1.77 s, bm25 0.77 s,
      // editdist 0.32 s walls), so the exponent measures job latency,
      // not the algorithm. 100× documents (500k docs, ~50M tokens) and
      // 100× part names (2M entities) push their walls to many seconds
      // with per-job overhead <20%. Only the two tables these queries
      // read are derived — same disjoint-replica scheme.
      val big = "/tmp/scale/sf10-docs"
      val reps100 = 100
      if (!new java.io.File(s"$big/documents.parquet").isDirectory) {
        val docs = spark.read.parquet(s"$src/documents.parquet")
        (0 until reps100).map(i => docs
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * 1000000L))
          .withColumn("text", if (i == 0) col("text")
            else concat_ws(" ", transform(split(col("text"), " "),
              w => concat(w, lit("_" + i))))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/documents.parquet")
      }
      // part derives under its own guard (the suffix scheme changed in
      // round 12; a stale part table must re-derive without re-writing
      // the unchanged 100x documents)
      if (!new java.io.File(s"$big/part.parquet").isDirectory) {
        val part = spark.read.parquet(s"$src/part.parquet")
        // Replica suffixes must be PAIRWISE edit-distance > 2 (the fuzzy
        // family's k), or the axis manufactures cross-replica near-dup
        // clusters — the header's cloning hazard. Round 11 used "_1".."_99"
        // (pairwise distance ≤ 2: "foo_1" ~ "foo_2"), which inflated the
        // 100× pair count ~14,000× and made entity_canonical's exponent
        // read 0.73 against a quadratic-contaminated input. Letter-coded
        // triples ("_aaaaaa", "_aaabbb", …) differ in ≥3 positions.
        def rep3(i: Int): String = {
          val c1 = ('a' + i / 10).toChar; val c2 = ('a' + i % 10).toChar
          s"_$c1$c1$c1$c2$c2$c2"
        }
        (0 until reps100).map(i => part
          .withColumn("p_partkey", col("p_partkey") + lit(i.toLong * 1000000L))
          .withColumn("p_name", if (i == 0) col("p_name")
            else concat(col("p_name"), lit(rep3(i)))))
          .reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$big/part.parquet")
        System.err.println("[scale] derived sf10-docs (100x documents + part)")
      }
      def exp100(t1: Double, t100: Double): Double =
        math.log(t100 / t1) / math.log(100.0)
      def timeSpans(dir: String): Double = SparkEntry.passageSpansShared.timedBuild(spark, dir)
      timeSpans(src) // warmup
      val sp1 = median3(timeSpans(src)); val sp100 = median3(timeSpans(big))
      println(f"SCALE100 passage_spans_shared   sf0.1=$sp1%6.2f s  sf10=$sp100%7.2f s  exponent=${exp100(sp1, sp100)}%5.2f")
      val ps = Seq("containment_pairs", "bm25_topk", "dup_passage_clean",
        "surprisal_score", "editdist_pairs", "entity_canonical")
      ps.foreach(q => time(q, src)) // warmup
      ps.foreach { q =>
        val t1 = median3(time(q, src))
        val t100 = median3(time(q, big))
        println(f"SCALE100 $q%-22s sf0.1=$t1%6.2f s  sf10=$t100%7.2f s  exponent=${exp100(t1, t100)}%5.2f")
      }
      spark.stop()
      return
    }
    if (mode == "skew") {
      // Adversarial hot-key profile: the sf0.5 events table with ONE user
      // owning ~50% of all rows (every even-hashed event remapped to user
      // 1), measured against the uniform sf0.5 twin — same total rows,
      // same work, all difference is key distribution. Targets the shapes
      // whose scale story leans on key spreading or salting: band_join
      // (shuffles on (key, Δ-bucket) — the hot user's rows spread over
      // its time range), asof_join + sessionize (per-key windows — the
      // hot key serializes into one task by SEMANTICS; work stays linear
      // but wall-clock degrades toward single-core over the hot rows),
      // and topk_per_key unsalted vs the salted twin (the mitigation).
      val skewDir = "/tmp/scale/sf0.5-skew"
      if (!new java.io.File(s"$skewDir/events.parquet").isDirectory) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev = spark.read.parquet(s"$out/events.parquet")
        ev.withColumn("user_id",
            when(pmod(xxhash64(col("event_id")), lit(2)) === 0, lit(1L))
              .otherwise(col("user_id")))
          .write.mode("overwrite").parquet(s"$skewDir/events.parquet")
        System.err.println("[scale] derived sf0.5-skew (user 1 owns ~50% of events)")
      }
      val ps = Seq("band_join", "asof_join", "sessionize",
        "sessionize_chunked", "scd2_history", "scd2_chunked", "topk_per_key")
      ps.foreach(q => time(q, out))
      ps.foreach(q => time(q, skewDir))
      ps.foreach { q =>
        val tu = median3(time(q, out))
        val ts = median3(time(q, skewDir))
        println(f"SKEW  $q%-24s uniform=$tu%6.2f s  skew=$ts%6.2f s  ratio=${ts / tu}%5.2f")
      }
      def topkSalted(dir: String): Double = {
        val t0 = System.nanoTime()
        operators.Dedup.topKPerKeySalted(Tables.events(spark, dir), 3,
            Seq("user_id"), Seq(col("value").desc, col("event_id")),
            saltOn = Seq(col("event_id")))
          .select("user_id", "event_id", "value")
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      topkSalted(out); topkSalted(skewDir) // warmup
      val su = median3(topkSalted(out))
      val ss = median3(topkSalted(skewDir))
      println(f"SKEW  topk_per_key_salted      uniform=$su%6.2f s  skew=$ss%6.2f s  ratio=${ss / su}%5.2f")

      // Deeper tier — 2.5M events (25× sf0.1), hot user at 1.25M rows:
      // at the 500k tier the hot task is too small to outrun job
      // overhead, so the parallelism-collapse signal only shows here.
      val xl = "/tmp/scale/sf2.5"
      val xlSkew = "/tmp/scale/sf2.5-skew"
      if (!new java.io.File(s"$xlSkew/events.parquet").isDirectory) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev5 = spark.read.parquet(s"$out/events.parquet")
        val big = (0 until 5).map(i => ev5
          .withColumn("event_id", col("event_id") + lit(i.toLong * 100000000L))
          .withColumn("user_id", col("user_id") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _)
        big.write.mode("overwrite").parquet(s"$xl/events.parquet")
        big.withColumn("user_id",
            when(pmod(xxhash64(col("event_id")), lit(2)) === 0, lit(1L))
              .otherwise(col("user_id")))
          .write.mode("overwrite").parquet(s"$xlSkew/events.parquet")
        System.err.println("[scale] derived sf2.5 uniform + skew events (2.5M rows)")
      }
      ps.foreach(q => time(q, xl))
      ps.foreach(q => time(q, xlSkew))
      ps.foreach { q =>
        val tu = median3(time(q, xl))
        val ts = median3(time(q, xlSkew))
        println(f"SKEWXL $q%-23s uniform=$tu%6.2f s  skew=$ts%6.2f s  ratio=${ts / tu}%5.2f")
      }
      topkSalted(xl); topkSalted(xlSkew)
      val su2 = median3(topkSalted(xl))
      val ss2 = median3(topkSalted(xlSkew))
      println(f"SKEWXL topk_per_key_salted     uniform=$su2%6.2f s  skew=$ss2%6.2f s  ratio=${ss2 / su2}%5.2f")
      spark.stop()
      return
    }
    if (mode == "merge") {
      manifestMergeProfile(spark, src, "warmup") // codegen/JIT warm pass
      val (b1, i1) = manifestMergeProfile(spark, src, "sf0.1")
      val (b5, i5) = manifestMergeProfile(spark, out, "sf0.5")
      println(f"SCALE manifest_merge_build     sf0.1=$b1%6.2f s  sf0.5=$b5%6.2f s  exponent=${math.log(b5 / b1) / math.log(5.0)}%5.2f")
      println(f"SCALE manifest_merge_incr(2%%)  sf0.1=$i1%6.2f s  sf0.5=$i5%6.2f s  exponent=${math.log(i5 / i1) / math.log(5.0)}%5.2f")
      spark.stop()
      return
    }

    val qs = Seq("ngram_jaccard_prefix", "simhash_pairs", "connected_components",
      "cosine_neardup_lsh", "ann_lsh", "ann_ivf", "sessionize", "rollup_agg",
      "tfidf_topk", "decon_semantic", "minhash_lsh_est",
      "repeated_spans", "dedup_survivors", "semdedup_survivors", "mix_sources",
      "pool_embeddings", "boilerplate_lines", "cluster_purity",
      "chunk_documents", "dedup_survivors_best",
      "random_projection", "data_quality", "quantile_filter_by_source",
      "q5_local_supplier", "zorder_key")
    qs.foreach(q => time(q, src)) // warmup: codegen + JIT
    qs.foreach(q => time(q, out))
    qs.foreach { q =>
      val t1 = median3(time(q, src))
      val t5 = median3(time(q, out))
      val expn = math.log(t5 / t1) / math.log(5.0)
      println(f"SCALE $q%-24s sf0.1=$t1%6.2f s  sf0.5=$t5%6.2f s  exponent=$expn%5.2f")
    }

    // The LSH near-dup knob: planes must track log2(n) to hold bucket
    // occupancy (and thus within-bucket quadratic pairing) constant.
    // planes=4 is sized for the sf correctness corpus; at 5x, planes=7
    // restores sf0.1-level occupancy.
    def lshPlanes(dir: String, planes: Int): Double = {
      val t0 = System.nanoTime()
      operators.Dedup.cosineNearDupPairsLsh(Tables.embeddings(spark, dir),
        "vec_id", "embedding", threshold = 0.4, dim = 64,
        planes = planes, tables = 4)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    lshPlanes(out, 7)
    val tp = median3(lshPlanes(out, 7))
    println(f"SCALE cosine_neardup_lsh sf0.5 with occupancy-matched planes=7: $tp%6.2f s")

    val (b1, i1) = manifestMergeProfile(spark, src, "sf0.1")
    val (b5, i5) = manifestMergeProfile(spark, out, "sf0.5")
    println(f"SCALE manifest_merge_build     sf0.1=$b1%6.2f s  sf0.5=$b5%6.2f s  exponent=${math.log(b5 / b1) / math.log(5.0)}%5.2f")
    println(f"SCALE manifest_merge_incr(2%%)  sf0.1=$i1%6.2f s  sf0.5=$i5%6.2f s  exponent=${math.log(i5 / i1) / math.log(5.0)}%5.2f")

    // Compliance-erasure profile (round 8): the erasure contract is
    // touched-bytes ∝ touched-buckets/nBuckets of the TABLE, independent
    // of corpus size at fixed bucket coverage. For each corpus and each
    // key-list size (0.1% / 1% of rows), report the bucket coverage, the
    // byte fraction the rewrite touches (measured from the manifest
    // before the delete), and wall time. nBuckets=256 so a 0.1% key list
    // exercises genuine pruning (≈ |keys| of 256 buckets).
    erasureManifestProfile(spark, src, "sf0.1")
    erasureManifestProfile(spark, out, "sf0.5")
    erasureIvfProfile(spark, src, "sf0.1")
    erasureIvfProfile(spark, out, "sf0.5")
    spark.stop()
  }

  private def fileBytes(fs: org.apache.hadoop.fs.FileSystem,
      paths: Seq[String]): Long =
    paths.map(p => fs.getFileStatus(new Path(p)).getLen).sum

  private def medianOf3(f: => Double): Double = (1 to 3).map(_ => f).sorted.apply(1)

  /** Manifest-bucketed merge at 5×: time the initial build (full corpus
    * through the merge path into an empty target) and then incremental
    * merges of a ~2% batch (proportional to corpus size, so the ideal
    * exponent is 1 for both — cost scales with data touched, and the
    * incremental merge only rewrites the batch's touched buckets). */
  private def manifestMergeProfile(spark: SparkSession, dir: String,
      tag: String): (Double, Double) = {
    val root = s"/tmp/scale/manifest-$tag"
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    val docs = Tables.documents(spark, dir)
    val t0 = System.nanoTime()
    operators.Upsert.mergeIntoManifestBucketedParquet(spark, root, docs,
      Seq("doc_id"), nBuckets = 64)
    val build = (System.nanoTime() - t0) / 1e9
    val batch = docs.where(pmod(xxhash64(col("doc_id"), lit(7)), lit(50)) === 0)
    val inc = medianOf3 {
      val t1 = System.nanoTime()
      operators.Upsert.mergeIntoManifestBucketedParquet(spark, root, batch,
        Seq("doc_id"), nBuckets = 64)
      (System.nanoTime() - t1) / 1e9
    }
    (build, inc)
  }

  private def erasureManifestProfile(spark: SparkSession, dir: String,
      tag: String): Unit = {
      val docs = Tables.documents(spark, dir)
      val n = docs.count()
      Seq(0.001, 0.01).foreach { frac =>
        val root = s"/tmp/scale/erasure-$tag-$frac"
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(root), true)
        operators.Upsert.mergeIntoManifestBucketedParquet(spark, root, docs,
          Seq("doc_id"), nBuckets = 256)
        val k = math.max(1, (n * frac).toInt)
        val keys = docs.select("doc_id").orderBy("doc_id").limit(k)
        val manifest = operators.Upsert.readBucketManifest(spark, root)
        val touched = keys
          .select(pmod(xxhash64(col("doc_id")), lit(256)).cast("int").as("b"))
          .distinct().collect().map(_.getInt(0)).toSet
        val touchedBytes = fileBytes(fs,
          touched.toSeq.flatMap(b => manifest.getOrElse(b, Nil)))
        val totalBytes = fileBytes(fs, manifest.values.flatten.toSeq)
        val t = { // one-shot: a second run would find the keys gone
          val t0 = System.nanoTime()
          operators.Upsert.deleteKeysFromManifestBucketedParquet(spark, root,
            keys, Seq("doc_id"), nBuckets = 256)
          (System.nanoTime() - t0) / 1e9
        }
        println(f"SCALE erasure_manifest $tag%-6s keys=$k%5d (${frac * 100}%4.1f%%) " +
          f"buckets=${touched.size}%3d/256 " +
          f"bytes=${100.0 * touchedBytes / totalBytes}%5.1f%% t=$t%6.2f s")
      }
    }
  /** Round 9: `deleteFromIndex` locates through the idmap (O(|keys|))
    * instead of the whole-cells column scan, so the timed wall is the
    * full erasure — locate + cell rewrites + the idmap's own bucket
    * rewrites — with the former fixed O(index rows) locating floor gone.
    * (The `touched`/bytes accounting above the timer intentionally keeps
    * the old full-scan derivation: it is measurement, not the op.) */
  private def erasureIvfProfile(spark: SparkSession, dir: String,
      tag: String): Unit = {
      val emb = Tables.embeddings(spark, dir)
      val n = emb.count()
      Seq(0.001, 0.01).foreach { frac =>
        val root = s"/tmp/scale/erasure-ivf-$tag-$frac"
        val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new Path(root), true)
        operators.Ivf.buildIndex(spark, root, emb,
          trainOn = emb.where(pmod(col("vec_id"), lit(20)) === 0),
          nlist = 64, iters = 1)
        val k = math.max(1, (n * frac).toInt)
        val keys = emb.select("vec_id").orderBy("vec_id").limit(k)
        val manifest = operators.Upsert.readBucketManifest(spark, s"$root/cells")
        val touched = operators.Ivf.readCells(spark, root)
          .join(keys, Seq("vec_id"), "left_semi")
          .select("__cell").distinct().collect()
          .map(_.getAs[Number]("__cell").intValue()).toSet
        val touchedBytes = fileBytes(fs,
          touched.toSeq.flatMap(c => manifest.getOrElse(c, Nil)))
        val totalBytes = fileBytes(fs, manifest.values.flatten.toSeq)
        val t = {
          val t0 = System.nanoTime()
          operators.Ivf.deleteFromIndex(spark, root, keys)
          (System.nanoTime() - t0) / 1e9
        }
        println(f"SCALE erasure_ivf      $tag%-6s keys=$k%5d (${frac * 100}%4.1f%%) " +
          f"cells=${touched.size}%3d/64  " +
          f"bytes=${100.0 * touchedBytes / totalBytes}%5.1f%% t=$t%6.2f s")
      }
    }
}
