package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode

import graft.sources.WatermarkStore

/** End-to-end incremental pipeline over a temp source/target/state dir:
  * first run backfills, rerun with no new data short-circuits (F6), new
  * data merges incrementally and advances watermarks. */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def doc(src: String, ts: String, ref: String, color: String,
      emb: Seq[Float] = Seq(1f, 2f)) =
    (src, Option(Timestamp.valueOf(ts)), emb, ref, color, "cat",
      Seq("US"), Option.empty[String], false)

  private val cols = Seq("source", "timestamp", "embeddings", "cleaned_ref",
    "color", "category", "country", "embeddings_type", "for_matching")

  test("cjk_unmapped stat counts merge-key ideographs the fold drops") {
    val dir = Files.createTempDirectory("graft-pipe-cjk").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2)
    Seq(
      doc("s1", "2024-02-01 10:00:00", "中国", ""),  // both hanzi mapped
      doc("s1", "2024-02-01 11:00:00", "x兙y", ""), // no tier reads 兙 (U+5159)
      doc("s1", "2024-02-01 12:00:00", "r9", "兡")  // dropped via color too
    ).toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    val stats = Pipeline.run(spark, conf)
    assert(stats.cjkUnmapped == 2L,
      s"expected 2 dropped ideographs, got ${stats.cjkUnmapped}")
    // the mapped key is intact; the unmapped chars silently vanished from
    // keys — which is exactly why the stat exists
    val keys = graft.operators.Upsert.readTarget(spark, conf.targetPath)
      .select("main_refco").collect().map(_.getString(0)).toSet
    assert(keys.contains("zhong guo"))
    assert(keys.contains("xy"))
  }

  test("mergeBuckets = 0 merges on read: later runs append the batch; a snapshot target is adopted") {
    val dir = Files.createTempDirectory("graft-pipe-mor").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2)
    Seq(doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("s1", "2024-02-01 11:00:00", "r2", ""))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    // an existing snapshot-directory target holding the first day
    Pipeline.run(spark, conf.copy(targetPath = s"$dir/seed"))
    graft.operators.Upsert.mergeIntoParquet(spark, conf.targetPath,
      graft.operators.Upsert.readTarget(spark, s"$dir/seed"), Seq("main_refco"))
    Seq(doc("s1", "2024-02-02 10:00:00", "r2", "", Seq(5f, 6f)),
      doc("s1", "2024-02-02 11:00:00", "r3", ""))
      .toDF(cols: _*).write.mode(SaveMode.Append).parquet(conf.sourcePath)
    Pipeline.run(spark, conf)
    val body = graft.operators.Upsert.manifestBody(spark, conf.targetPath, None).get
    val files = graft.operators.Upsert.parseManifestEntries(body)
    assert(files.keySet == Set(0) && files(0).exists(_.startsWith("snap-000000000/")))
    // r2 (updated) was superseded in place, not rewritten
    assert(graft.operators.Upsert.parseRowDeletes(body).values.map(_.size).sum == 1)
    val t = graft.operators.Upsert.readTarget(spark, conf.targetPath)
      .select("main_refco", "embedding_vector").as[(String, Seq[Float])]
      .collect().sortBy(_._1).toSeq
    assert(t == Seq(("r1", Seq(1f, 2f)), ("r2", Seq(5f, 6f)), ("r3", Seq(1f, 2f))))
  }

  test("manifest-commit bucketed pipeline merges incrementally") {
    val dir = Files.createTempDirectory("graft-pipe-manifest").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2,
      mergeBuckets = 4, manifestCommit = true)

    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("s2", "2024-02-01 11:00:00", "r2", "red")
    ).toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    Pipeline.run(spark, conf)
    val m1 = graft.operators.Upsert.readBucketManifest(spark, conf.targetPath)
    assert(m1.nonEmpty)

    Seq(
      doc("s1", "2024-03-01 10:00:00", "r1", "", Seq(9f, 9f)), // update
      doc("s1", "2024-03-01 11:00:00", "r3", "")               // insert
    ).toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    Pipeline.run(spark, conf)

    val t = graft.operators.Upsert.readTarget(spark, conf.targetPath)
    val byKey = t.select("main_refco", "embedding_vector").collect()
      .map(r => r.getString(0) -> r.getSeq[Float](1)).toMap
    assert(byKey.keySet == Set("r1", "r2_red", "r3"))
    assert(byKey("r1") == Seq(9f, 9f)) // updated through the manifest merge
  }

  test("pipeline maintains a persisted IVF index incrementally") {
    val dir = Files.createTempDirectory("graft-pipe-ivf").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2,
      ivfIndexPath = Some(s"$dir/ivf"), ivfNlist = 2)

    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", "", Seq(1f, 2f)),
      doc("s2", "2024-02-01 11:00:00", "r2", "red", Seq(5f, 1f))
    ).toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    Pipeline.run(spark, conf)
    val frozen = graft.operators.Ivf.loadCentroids(spark, s"$dir/ivf")
    assert(frozen.size == 2)

    // second batch: a new key appends against the FROZEN centroids
    Seq(doc("s1", "2024-03-01 10:00:00", "r3", "", Seq(0f, 3f)))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    Pipeline.run(spark, conf)
    assert(graft.operators.Ivf.loadCentroids(spark, s"$dir/ivf") == frozen,
      "incremental run retrained the index")
    val cells = graft.operators.Ivf.readCells(spark, s"$dir/ivf")
    assert(cells.select("main_refco").distinct().count() == 3)
  }

  test("pipeline maintains a persisted HNSW graph incrementally, rebuild-equivalent") {
    val dir = Files.createTempDirectory("graft-pipe-hnsw").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2,
      hnswIndexPath = Some(s"$dir/hnsw"))

    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", "", Seq(1f, 0f)),
      doc("s2", "2024-02-01 11:00:00", "r2", "red", Seq(0f, 1f))
    ).toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    Pipeline.run(spark, conf)
    assert(graft.operators.IndexStore.read(spark, s"$dir/hnsw/nodes")
      .count() == 2)

    // second batch folds in; the graph must equal a from-scratch build
    // over all three vectors (addToIndex's re-cut theorem, through the
    // whole pipeline path)
    Seq(doc("s1", "2024-03-01 10:00:00", "r3", "", Seq(1f, 1f)))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    Pipeline.run(spark, conf)
    val nodes = graft.operators.IndexStore.read(spark, s"$dir/hnsw/nodes")
    assert(nodes.count() == 3)
    val fresh = s"$dir/hnsw-fresh"
    graft.operators.Hnsw.buildIndex(spark, fresh,
      nodes.select(nodes("node_id").as("main_refco"),
        nodes("embedding").as("embedding_vector")),
      idCol = "main_refco", vecCol = "embedding_vector", dim = 2)
    def edges(r: String) = graft.operators.IndexStore
      .read(spark, s"$r/edges").select("layer", "src", "dst", "cos")
      .collect().map(_.toSeq).toSet
    assert(edges(s"$dir/hnsw") == edges(fresh))
  }

  test("backfill, empty-run short-circuit, incremental advance") {
    val dir = Files.createTempDirectory("graft-pipe").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2)

    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("s1", "2024-02-02 10:00:00", "r1", ""),     // same key, newer
      doc("s2", "2024-02-03 10:00:00", "r2", "red"),
      // null timestamp → P10 quarantine (empty embeddings would already be
      // dropped by the F2 scan filter, mirroring the reference's Mongo query)
      ("s2", Option.empty[Timestamp], Seq(1f, 2f),
        "bad", "", "cat", Seq("US"), Option.empty[String], false)
    ).toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)

    val run1 = Pipeline.run(spark, conf)
    assert(run1.recordsProcessed == 3L)
    assert(run1.quarantined == 1L)
    assert(run1.cjkUnmapped == 0L) // all-ASCII keys: nothing dropped
    val t1 = graft.operators.Upsert.readTarget(spark, conf.targetPath)
    assert(t1.count() == 2L) // r1 deduped to latest, r2_red
    assert(WatermarkStore.read(spark, conf.statePath) == Map(
      "s1" -> Timestamp.valueOf("2024-02-02 10:00:00"),
      "s2" -> Timestamp.valueOf("2024-02-03 10:00:00")))

    // Rerun with no new rows: F6 short-circuit, target untouched.
    val run2 = Pipeline.run(spark, conf)
    assert(run2.recordsProcessed == 0L)
    assert(WatermarkStore.read(spark, conf.statePath).size == 2)

    // New increment for s1 only (strictly newer than its watermark).
    Seq(doc("s1", "2024-02-05 10:00:00", "r9", ""))
      .toDF(cols: _*).write.mode(SaveMode.Append).parquet(conf.sourcePath)
    val run3 = Pipeline.run(spark, conf)
    assert(run3.recordsProcessed == 1L)
    val t3 = graft.operators.Upsert.readTarget(spark, conf.targetPath)
    assert(t3.count() == 3L)
    assert(WatermarkStore.read(spark, conf.statePath)("s1") ==
      Timestamp.valueOf("2024-02-05 10:00:00"))
  }

  test("curation hook filters the batch before merge; stats count post-curation") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-pipe").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2,
      // curation: quantile gate on key length composed from the library —
      // keeps keys at or above the batch's median length
      curate = Some(df => graft.operators.Sampling.quantileFilter(
        df, length(col("main_refco")), 5, 10, out = "__len").drop("__len")))

    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("s1", "2024-02-01 11:00:00", "rlonger2", ""),
      doc("s1", "2024-02-01 12:00:00", "rlongest3", "")
    ).toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)

    val run1 = Pipeline.run(spark, conf)
    assert(run1.recordsProcessed == 3L) // staged before curation
    assert(run1.uniqueRecords == 2L)    // short key dropped by the gate
    val t = graft.operators.Upsert.readTarget(spark, conf.targetPath)
    assert(t.select("main_refco").as[String].collect().toSet ==
      Set("rlonger2", "rlongest3"))
  }

  test("quality gate aborts an over-budget batch; watermark does not advance") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-pipe-gate").toString
    def conf(budget: Long) = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2,
      qualityRules = Seq("short_key" -> (length(col("main_refco")) < 3)),
      qualityBudgets = Map("short_key" -> budget))

    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""), // short key: 1 violation
      doc("s1", "2024-02-01 11:00:00", "rlonger", "")
    ).toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(s"$dir/source")

    val e = intercept[IllegalStateException] { Pipeline.run(spark, conf(0L)) }
    assert(e.getMessage.contains("short_key=1"))
    // the failed run must not have advanced state or written the target
    assert(!new java.io.File(s"$dir/state.json").exists())

    // same batch under a tolerant budget goes through
    val ok = Pipeline.run(spark, conf(1L))
    assert(ok.uniqueRecords == 2L)
    assert(graft.operators.Upsert.readTarget(spark, s"$dir/target").count() == 2L)
  }

  test("pipeline with hash-bucketed incremental merge target") {
    val dir = Files.createTempDirectory("graft-pipe-hb").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      mergeBuckets = 8,
      vectorDim = 2)

    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("s2", "2024-02-03 10:00:00", "r2", "red"))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    assert(Pipeline.run(spark, conf).uniqueRecords == 2L)

    Seq(doc("s1", "2024-02-05 10:00:00", "r1", "")) // update same key
      .toDF(cols: _*).write.mode(SaveMode.Append).parquet(conf.sourcePath)
    Pipeline.run(spark, conf)

    val t = graft.operators.Upsert.readTarget(spark, conf.targetPath)
    assert(t.count() == 2L)
    assert(t.where($"main_refco" === "r1")
      .select("original_timestamp").as[String].head() == "2024-02-05T10:00:00")
    // refresh column present and stamped from the FIRST bucketed write on
    assert(t.where($"embedding_inserted_at".isNull).count() == 0L)
  }

  test("bucketed run on a snapshot-layout target is refused; watermark unchanged") {
    val dir = Files.createTempDirectory("graft-pipe-layout").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2)
    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("s2", "2024-02-03 10:00:00", "r2", "red"))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    // the watermark state of a first run, over a snapshot-directory
    // target holding that run's rows (the layout `mergeIntoParquet`
    // writes; `Pipeline.run` commits manifest tables)
    Pipeline.run(spark, conf.copy(targetPath = s"$dir/first"))
    graft.operators.Upsert.mergeIntoParquet(spark, conf.targetPath,
      graft.operators.Upsert.readTarget(spark, s"$dir/first"), Seq("main_refco"))
    val state = java.nio.file.Paths.get(conf.statePath)
    val watermark = Files.readAllBytes(state)

    Seq(doc("s1", "2024-02-05 10:00:00", "r3", ""))
      .toDF(cols: _*).write.mode(SaveMode.Append).parquet(conf.sourcePath)
    val e = intercept[IllegalStateException] {
      Pipeline.run(spark, conf.copy(mergeBuckets = 4))
    }
    assert(e.getMessage.contains("snapshot-directory"), e.getMessage)
    assert(Files.readAllBytes(state).sameElements(watermark),
      "a refused run advanced the watermark")
    assert(graft.operators.Upsert.readTarget(spark, conf.targetPath).count() == 2L)
  }

  test("manifestCommit = false with mergeBuckets > 0 names the removed layout") {
    val dir = Files.createTempDirectory("graft-pipe-nomanifest").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      mergeBuckets = 8, manifestCommit = false,
      vectorDim = 2)
    Seq(doc("s1", "2024-02-01 10:00:00", "r1", ""))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    val e = intercept[IllegalArgumentException](Pipeline.run(spark, conf))
    assert(e.getMessage.contains("dynamic-partition-overwrite"), e.getMessage)
    // refused before any work: nothing staged, merged or recorded
    Seq(conf.stagingPath, conf.targetPath, conf.statePath).foreach { p =>
      assert(!new java.io.File(p).exists(), s"$p written by a refused run")
    }
  }

  test("JSON document source: schema-on-read, scalar/array country, malformed counted") {
    val dir = Files.createTempDirectory("graft-pipe-json").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2,
      sourceFormat = "json")

    Files.createDirectories(java.nio.file.Paths.get(conf.sourcePath))
    val lines = Seq(
      // array country
      """{"source":"s1","timestamp":"2024-02-01 10:00:00","embeddings":[1.0,2.0],""" +
        """"cleaned_ref":"r1","color":"","category":"cat","country":["US","CA"],""" +
        """"for_matching":false}""",
      // scalar country — the isinstance coercion path
      """{"source":"s2","timestamp":"2024-02-02 10:00:00","embeddings":[3.0,4.0],""" +
        """"cleaned_ref":"r2","color":"red","category":"cat","country":"FR",""" +
        """"for_matching":true}""",
      // malformed line -> quarantine count, not a crash and not silent loss
      """{"source":"s3", BROKEN""")
    Files.write(java.nio.file.Paths.get(s"${conf.sourcePath}/docs.json"),
      lines.mkString("\n").getBytes("UTF-8"))

    val stats = Pipeline.run(spark, conf)
    assert(stats.quarantined == 1L)
    assert(stats.recordsProcessed == 2L)
    val t = graft.operators.Upsert.readTarget(spark, conf.targetPath)
    val names = t.select("display_name").as[String].collect().toSet
    assert(names == Set("s1 (US)", "s2 (FR)")) // array takes head, scalar wraps
  }

  test("retry wrapper: a transient post-merge failure converges on rerun") {
    val dir = Files.createTempDirectory("graft-pipe-retry").toString
    def conf(sub: String) = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/$sub/target",
      statePath = s"$dir/$sub/state.json",
      stagingPath = s"$dir/$sub/staging",
      vectorDim = 2)
    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("s2", "2024-02-03 10:00:00", "r2", "red"))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(s"$dir/source")

    // reference run: one clean pass
    Pipeline.run(spark, conf("clean"))
    val expected = graft.operators.Upsert.readTarget(spark, s"$dir/clean/target")
      .select("main_refco", "original_timestamp")
      .as[(String, String)].collect().toSet

    // flaky run: first attempt completes the merge then dies (the
    // at-least-once window); the retry must converge, not double-apply
    var attempts = 0
    val flaky = (s: org.apache.spark.sql.SparkSession, c: Pipeline.Config) => {
      attempts += 1
      val stats = Pipeline.run(s, c)
      if (attempts == 1) throw new RuntimeException("transient sink error")
      stats
    }
    val stats = RunPipeline.runWithRetries(spark, conf("flaky"), retries = 2, flaky)
    assert(attempts == 2)
    assert(stats.recordsProcessed == 0L) // attempt 2 was the F6 no-op rerun
    val got = graft.operators.Upsert.readTarget(spark, s"$dir/flaky/target")
      .select("main_refco", "original_timestamp")
      .as[(String, String)].collect().toSet
    assert(got == expected)
  }

  test("ragged vector is quarantined, never reaches the target") {
    val dir = Files.createTempDirectory("graft-pipe-dim").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      vectorDim = 2) // target DDL VECTOR(FLOAT, 2) for this fixture

    Seq(
      doc("s1", "2024-02-01 10:00:00", "ok", ""),
      doc("s1", "2024-02-02 10:00:00", "ragged", "", emb = Seq(1f, 2f, 3f)))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)

    val stats = Pipeline.run(spark, conf)
    assert(stats.quarantined == 1L)
    assert(stats.recordsProcessed == 1L)
    val t = graft.operators.Upsert.readTarget(spark, conf.targetPath)
    assert(t.select("main_refco").as[String].collect().toSeq == Seq("ok"))
  }

  private def conf(dir: String) = Pipeline.Config(
    sourcePath = s"$dir/source",
    targetPath = s"$dir/target",
    statePath = s"$dir/state.json",
    stagingPath = s"$dir/staging",
    vectorDim = 2)

  /** Parquet data files under `dir`, recursively. */
  private def parquetFiles(dir: String): Seq[java.nio.file.Path] = {
    val walk = Files.walk(java.nio.file.Paths.get(dir))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .toList
    } finally walk.close()
  }

  test("a null source is quarantined; the run commits and records state") {
    val dir = Files.createTempDirectory("graft-pipe-nullsrc").toString
    val c = conf(dir)
    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc(null, "2024-02-01 11:00:00", "r2", ""))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(c.sourcePath)
    val run1 = Pipeline.run(spark, c)
    assert(run1.quarantined == 1L)
    assert(run1.recordsProcessed == 1L)
    assert(run1.sources == 1L)
    assert(WatermarkStore.read(spark, c.statePath) ==
      Map("s1" -> Timestamp.valueOf("2024-02-01 10:00:00")))
    assert(graft.operators.Upsert.readTarget(spark, c.targetPath)
      .select("main_refco").as[String].collect().toSeq == Seq("r1"))
    // the rerun reads the recorded state: nothing new, nothing re-merged
    assert(Pipeline.run(spark, c).recordsProcessed == 0L)
  }

  test("an empty-string source is a watermark key of its own") {
    val dir = Files.createTempDirectory("graft-pipe-emptysrc").toString
    val c = conf(dir)
    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("", "2024-02-01 11:00:00", "r2", ""))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(c.sourcePath)
    val run1 = Pipeline.run(spark, c)
    assert(run1.quarantined == 0L)
    assert(run1.recordsProcessed == 2L)
    assert(run1.sources == 2L)
    val expected = Map(
      "s1" -> Timestamp.valueOf("2024-02-01 10:00:00"),
      "" -> Timestamp.valueOf("2024-02-01 11:00:00"))
    assert(run1.newWatermarks == expected)
    assert(WatermarkStore.read(spark, c.statePath) == expected)
    assert(graft.operators.Upsert.readTarget(spark, c.targetPath).count() == 2L)
    assert(Pipeline.run(spark, c).recordsProcessed == 0L)
  }

  test("kept staging is not re-read under dynamic partition overwrite") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, GraftConf.scaleDefaults(key))
    try {
      val dir = Files.createTempDirectory("graft-pipe-stale").toString
      val c = conf(dir).copy(cleanupStaging = false)
      Seq(
        doc("s1", "2024-02-01 10:00:00", "r1", ""),
        doc("s2", "2024-02-01 11:00:00", "r2", ""))
        .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(c.sourcePath)
      assert(Pipeline.run(spark, c).recordsProcessed == 2L)

      Seq(doc("s1", "2024-02-05 10:00:00", "r3", ""))
        .toDF(cols: _*).write.mode(SaveMode.Append).parquet(c.sourcePath)
      val run2 = Pipeline.run(spark, c)
      assert(run2.recordsProcessed == 1L, "run 2 re-read run 1's staged rows")
      assert(run2.sources == 1L)
      assert(run2.uniqueRecords == 1L)
      assert(spark.read.parquet(c.stagingPath).count() == 1L)
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("staging is flat: no source= directory, at most one file per write task") {
    val dir = Files.createTempDirectory("graft-pipe-flat").toString
    val c = conf(dir).copy(cleanupStaging = false)
    // one source file holding three sources: one write task
    Seq(
      doc("s1", "2024-02-01 10:00:00", "r1", ""),
      doc("s1", "2024-02-02 10:00:00", "r1", ""),
      doc("s2", "2024-02-03 10:00:00", "r2", "red"),
      doc("s3", "2024-02-04 10:00:00", "r3", ""),
      ("s2", Option.empty[Timestamp], Seq(1f, 2f),
        "bad", "", "cat", Seq("US"), Option.empty[String], false))
      .toDF(cols: _*).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(c.sourcePath)
    val writeTasks = spark.read.parquet(c.sourcePath).rdd.getNumPartitions
    val run1 = Pipeline.run(spark, c)
    assert(run1 == Pipeline.RunStats(recordsProcessed = 4L, uniqueRecords = 3L,
      quarantined = 1L, sources = 3L, stagedFiles = run1.stagedFiles,
      stagedBytes = run1.stagedBytes, newWatermarks = Map(
        "s1" -> Timestamp.valueOf("2024-02-02 10:00:00"),
        "s2" -> Timestamp.valueOf("2024-02-03 10:00:00"),
        "s3" -> Timestamp.valueOf("2024-02-04 10:00:00"))))
    val staged = parquetFiles(c.stagingPath)
    assert(!new java.io.File(c.stagingPath).listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("source=")))
    assert(staged.size.toLong == run1.stagedFiles)
    assert(run1.stagedFiles >= 1L && run1.stagedFiles <= writeTasks,
      s"${run1.stagedFiles} staged files from $writeTasks write task(s)")
    assert(run1.stagedBytes == staged.map(Files.size(_)).sum)
    assert(spark.read.parquet(c.stagingPath).select("source").as[String]
      .collect().sorted.toSeq == Seq("s1", "s1", "s2", "s3"))
  }

  test("vector element chunks carry no dictionary; string chunks keep theirs") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    /** column path -> whether any chunk of it in `files` uses a dictionary */
    def dictionaryByColumn(files: Seq[java.nio.file.Path]): Map[String, Boolean] =
      files.flatMap { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri),
          spark.sparkContext.hadoopConfiguration))
        try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
          .map(ch => ch.getPath.toDotString -> ch.getEncodings.asScala.exists(_.usesDictionary))
        finally reader.close()
      }.groupMapReduce(_._1)(_._2)(_ || _)

    Seq(0, 4).foreach { buckets =>
      val dir = Files.createTempDirectory(s"graft-pipe-dict-$buckets").toString
      val c = conf(dir).copy(cleanupStaging = false, mergeBuckets = buckets)
      // few distinct floats, so a dictionary WOULD pay off for the
      // vectors: only the write options can keep it off
      (0 until 40).map(i => doc(s"s${i % 2}", f"2024-02-01 10:$i%02d:00",
          s"r$i", "", Seq((i % 3).toFloat, 1f)))
        .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(c.sourcePath)
      Pipeline.run(spark, c)
      Seq("staged" -> parquetFiles(c.stagingPath),
          "target" -> parquetFiles(c.targetPath)).foreach { case (what, files) =>
        assert(files.nonEmpty, s"$what: no parquet files")
        val dict = dictionaryByColumn(files)
        assert(dict.get("embedding_vector.list.element").contains(false),
          s"$what (mergeBuckets = $buckets): $dict")
        // every row's category is "cat": a dictionary Parquet keeps
        assert(dict.get("category").contains(true),
          s"$what (mergeBuckets = $buckets): $dict")
      }
    }
  }

  test("stagingMetrics counts flat and source-partitioned staging alike") {
    val dir = Files.createTempDirectory("graft-pipe-metrics").toString
    val rows = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("source", "v")
    rows.repartition(2).write.parquet(s"$dir/flat")
    rows.write.partitionBy("source").parquet(s"$dir/nested")
    def sizes(p: String) = {
      val root = java.nio.file.Paths.get(p)
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(Files.size).toSeq finally walk.close()
    }
    Seq(s"$dir/flat", s"$dir/nested").foreach { p =>
      val want = sizes(p)
      assert(Pipeline.stagingMetrics(spark, p) == (want.size.toLong, want.sum), p)
    }
    assert(Pipeline.stagingMetrics(spark, s"$dir/missing") == (0L, 0L))
  }
}
