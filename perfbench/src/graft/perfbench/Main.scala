package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, SparkEntry, Tables}
import graft.operators.{Dedup, Extract, Upsert}
import graft.schema.Schemas
import graft.sources.WatermarkStore

/** Benchmark driver: one workload, one seed, one JVM.
  *
  * It times the program through its public API over inputs that
  * `perfbench/gen.py` generated, and writes what it observed (timings,
  * `RunStats`, target fingerprints, query outputs) to `--out` as JSON.
  * It checks nothing itself: `perfbench/run.py` compares the observations
  * with the generator's expectations and the DuckDB oracles.
  *
  * {{{
  * Main --workload backfill|daily_incremental|daily_incremental_bucketed|query_mix
  *      --seconds N --trace 0|1 --input DIR --work DIR --out FILE
  *      [--plant drop_target_row]
  * }}}
  */
object Main {

  /** The query mix, in run order; a query that reads a session-shared
    * build pays it right before it, inside the pass. */
  val Mix: Seq[(String, Option[(String, (SparkSession, String) => Unit)])] = Seq(
    "q18_big_orders" -> None,
    "merge_source" -> None,
    "pagerank" -> None,
    "kcore" -> None,
    "dedup_survivors" -> Some(("cc_shared_build", SparkEntry.buildSharedCc _)),
    "simhash_pairs" -> None,
    "ann_hnsw" -> Some(("hnsw_edges_shared", SparkEntry.buildSharedHnswEdges _)),
    "bm25_topk" -> None,
    "tokenizer_fertility" -> Some(("bpe_fertility_train", SparkEntry.buildSharedBpeEven _)))

  val SetupReps = 3
  val MinSamples = 5
  val WarmRuns = 5

  /** Bucket count of `daily_incremental_bucketed`. */
  val Buckets = 16

  final case class Opts(workload: String, seconds: Double, trace: Boolean,
      input: String, work: String, out: String, plant: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seconds").toDouble, kv("trace") == "1",
      kv("input"), kv("work"), kv("out"), kv.getOrElse("plant", ""))
    val result = o.workload match {
      case "backfill" => new PipelineBench(o, daily = false, buckets = 0).run()
      case "daily_incremental" => new PipelineBench(o, daily = true, buckets = 0).run()
      case "daily_incremental_bucketed" =>
        new PipelineBench(o, daily = true, buckets = Buckets).run()
      case "query_mix" => new QueryMixBench(o).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(o.out), Json.render(result))
  }

  // ------------------------------------------------------------ helpers

  def newSession(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.maxMetadataStringLength", "100000")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** Recreate the tree `from` at `to` with hard links: the program
    * replaces files (temp file + rename) and never rewrites one in place,
    * so `from` stays intact; every run's checks would show otherwise. */
  def linkTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.createLink(dst, p)
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** Used heap after a full collection, with the session still live. */
  def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    used / 1048576.0
  }

  /** A downstream consumer: read committed tables whole into a noop sink.
    * After one untimed read, each sample is a full collection and then as
    * many reads as take about a second; samples continue until there are
    * five and three seconds have passed. Returns seconds per read. */
  def readSamples(spark: SparkSession, paths: Seq[String]): Seq[Double] = {
    def readAll(): Unit = paths.foreach(p =>
      Upsert.readTarget(spark, p).write.format("noop").mode("overwrite").save())
    val first = timed(readAll())._2
    val perSample = math.max(1, math.round(1.0 / first).toInt)
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.size < 5 || (System.nanoTime() - t0) / 1e9 < 3.0) {
      System.gc()
      out += timed((1 to perSample).foreach(_ => readAll()))._2 / perSample
    }
    out.toSeq
  }

  /** Block until run.py creates `flag`. */
  def waitFor(flag: Path): Unit = {
    val deadline = System.nanoTime() + 150L * 1000000000L
    while (!Files.exists(flag)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"no $flag after 150 s")
      Thread.sleep(50)
    }
  }

  private val started = System.nanoTime()

  /** Progress line on stderr; run.py forwards it. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%6.1f s  $name")

  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Per-layer figures of one span under the metric names of
    * BENCHMARK.json (`<layer>.s`, `.jobs`, …). */
  def spanMetrics(layer: String, s: Recorder.Span, time: String = "s"): Map[String, Double] =
    Map(s"$layer.$time" -> s.seconds, s"$layer.jobs" -> s.jobs.toDouble,
      s"$layer.stages" -> s.stages.toDouble, s"$layer.tasks" -> s.tasks.toDouble,
      s"$layer.gc_ms" -> s.gcMs.toDouble, s"$layer.spill_bytes" -> s.spillBytes.toDouble,
      s"$layer.driver_gap_ms" -> s.driverGapMs.toDouble)

  def addAll(into: mutable.Map[String, Double], m: Map[String, Double]): Unit =
    m.foreach { case (k, v) => into(k) = into.getOrElse(k, 0.0) + v }

  /** Median across iterations of each per-layer metric. */
  def medians(iters: Seq[collection.Map[String, Double]]): Map[String, Double] =
    iters.flatMap(_.keys).distinct.map(k => k -> median(iters.map(_.getOrElse(k, 0.0)))).toMap
}

// ===================================================================== pipeline

/** `backfill` and the two `daily_incremental` workloads: `Pipeline.run`
  * over the generated document source. */
final class PipelineBench(o: Main.Opts, daily: Boolean, buckets: Int) {
  import Main._

  private val work = Paths.get(o.work)
  private val source = work.resolve("source")
  private val live = work.resolve("live")
  private val pristine = work.resolve("pristine")
  private val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var spark: SparkSession = _
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    .withZone(ZoneOffset.UTC)

  private def conf(root: Path): Pipeline.Config = Pipeline.Config(
    sourcePath = source.toString,
    targetPath = root.resolve("target").toString,
    statePath = root.resolve("state/watermarks.json").toString,
    stagingPath = root.resolve("staging").toString,
    sourcesConfigPath = Some(s"${o.input}/sources_config"),
    mergeBuckets = buckets,
    manifestCommit = buckets > 0)

  /** Hard-link the generated files of `input/dir` into the source
    * directory (the program only reads its source). */
  private def link(dir: String): Unit = {
    Files.createDirectories(source)
    Files.list(Paths.get(o.input, dir)).iterator().asScala.foreach { f =>
      Files.createLink(source.resolve(f.getFileName), f)
    }
  }

  private def statsJson(s: Pipeline.RunStats): Map[String, Any] = Map(
    "records_processed" -> s.recordsProcessed, "unique_records" -> s.uniqueRecords,
    "quarantined" -> s.quarantined, "sources" -> s.sources,
    "cjk_unmapped" -> s.cjkUnmapped, "staged_files" -> s.stagedFiles,
    "staged_bytes" -> s.stagedBytes,
    "watermarks" -> s.newWatermarks.map { case (k, v) => k -> tsFmt.format(v.toInstant) })

  /** One attempted `Pipeline.run` (or its traced twin); a failure is
    * recorded and never becomes a timing sample. */
  private def attempt(kind: String, expect: String)(body: => Pipeline.RunStats): Option[Double] =
    try {
      val (stats, dt) = timed(body)
      System.err.println(f"[perfbench] $kind run: $dt%.3f s")
      runs += Map("kind" -> kind, "expect" -> expect, "ok" -> true, "seconds" -> dt,
        "stats" -> statsJson(stats))
      Some(dt)
    } catch {
      case e: Exception =>
        runs += Map("kind" -> kind, "expect" -> expect, "ok" -> false, "error" -> error(e))
        None
    }

  /** Untimed: the pre-run state of the measured operation, and a full
    * collection so no run pays for the garbage of the one before. */
  private def prepareLive(): Unit = {
    deleteTree(live)
    if (daily) linkTree(pristine, live) else Files.createDirectories(live)
    System.gc()
  }

  private def expectName = if (daily) "day2" else "backfill"

  def run(): Map[String, Any] = {
    deleteTree(work)
    Files.createDirectories(work)
    waitFor(Paths.get(o.input, "ready"))
    phase("inputs ready")

    // Set-up, timed SetupReps times: a fresh session that lists and counts
    // the source and, for the daily workloads, builds the day-1 target and
    // watermark state from scratch. The first also pays the cold JVM, which
    // the median leaves out.
    val setup = (1 to SetupReps).map { _ =>
      if (spark != null) stopSession(spark)
      deleteTree(source); deleteTree(pristine)
      link("day1")
      if (!daily) link("day2")
      timed {
        spark = newSession(o)
        spark.read.parquet(source.toString).count()
        if (daily) attempt("setup", "day1")(Pipeline.run(spark, conf(pristine)))
      }._2
    }
    if (daily) link("day2")
    phase("set-up done")

    // A fixed number of untimed runs of the measured operation: the JIT
    // keeps speeding the runs up for about ten of them, so every run of the
    // benchmark stops at the same point of that curve.
    (1 to WarmRuns).foreach { _ =>
      prepareLive()
      attempt("warmup", expectName)(Pipeline.run(spark, conf(live)))
    }

    val budget = if (o.trace) o.seconds / 2 else o.seconds
    val samples = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((samples.size < MinSamples || elapsed < budget) && samples.size < 40) {
      prepareLive()
      attempt("measure", expectName)(Pipeline.run(spark, conf(live))).foreach(samples += _)
      if (runs.count(r => r("ok") == false) > 3) throw new IllegalStateException(
        s"pipeline runs keep failing: ${runs.filter(r => r("ok") == false).map(_("error")).distinct.mkString("; ")}")
    }

    phase("measured")
    val layers = if (o.trace) traced(median(samples.toSeq)) else Map.empty[String, Double]

    val target = live.resolve("target").toString
    val fp = fingerprint(target)
    val reads = readSamples(spark, Seq(target))
    Map(
      "setup_s" -> setup, "run_s" -> samples.toSeq, "target_read_s" -> reads,
      "target_bytes" -> treeBytes(live.resolve("target")),
      "retained_heap_mb" -> retainedHeapMb(),
      "runs" -> runs.toSeq, "target" -> fp, "layers" -> layers)
  }

  /** Order-independent summary of the committed target, the figures
    * `gen.fingerprint` predicts. */
  private def fingerprint(target: String): Map[String, Any] = {
    var df = Upsert.readTarget(spark, target)
    if (o.plant == "drop_target_row") {
      val k = df.select("main_refco").orderBy("main_refco").limit(1).collect()(0).getString(0)
      df = df.where(col("main_refco") =!= k)
    }
    val r = df.agg(
      count(lit(1)), countDistinct(col("main_refco")),
      sum(unix_micros(col("original_timestamp").cast("timestamp")).cast("decimal(38,0)")),
      sum(col("display_name_id")), sum(length(col("cleaned_ref"))),
      sum(element_at(col("embedding_vector"), 1).cast("long")),
      sum(when(size(col("embedding_vector")) =!= Schemas.EmbeddingDim, 1).otherwise(0)))
      .collect()(0)
    def l(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    Map("rows" -> l(0), "dup_keys" -> (l(0) - l(1)),
      "sum_ts_micros" -> BigInt(Option(r.getDecimal(2)).map(_.toBigInteger)
        .getOrElse(java.math.BigInteger.ZERO)),
      "sum_dim_id" -> l(3), "sum_ref_len" -> l(4), "sum_vec0" -> l(5),
      "bad_width" -> l(6))
  }

  // ------------------------------------------------------------- traced run

  /** Traced iterations: the steps of `Pipeline.run`, composed from the same
    * public operators, each inside a span. Dedup is materialized so its
    * cost lands in its own span (the untraced run fuses it into the merge
    * read); that and the listener are the tracing overhead reported. */
  private def traced(untracedRunS: Double): Map[String, Double] = {
    val rec = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(rec)
    val iters = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
    val t0 = System.nanoTime()
    try {
      while (iters.size < 3 || (System.nanoTime() - t0) / 1e9 < o.seconds / 2) {
        prepareLive()
        val m = mutable.Map.empty[String, Double]
        attempt("traced", expectName)(tracedRun(rec, conf(live), m))
        val stepS = Seq("extract.s", "dedup.s", "upsert.s", "watermark.s")
          .map(m.getOrElse(_, 0.0)).sum
        m("trace.steps_s") = stepS
        m("trace.untraced_run_s") = untracedRunS
        m("trace.overhead_s") = stepS - untracedRunS
        val (_, ts) = rec.span("target") {
          Upsert.readTarget(spark, conf(live).targetPath)
            .write.format("noop").mode("overwrite").save()
        }
        addAll(m, spanMetrics("target", ts, time = "scan_s"))
        m("target.files") = Upsert.readTarget(spark, conf(live).targetPath)
          .inputFiles.length.toDouble
        iters += m
      }
    } finally spark.sparkContext.removeSparkListener(rec)
    medians(iters.toSeq)
  }

  private def tracedRun(rec: Recorder, c: Pipeline.Config,
      m: mutable.Map[String, Double]): Pipeline.RunStats = {
    def step[T](layer: String)(body: => T): T = {
      val (out, s) = rec.span(layer)(body)
      addAll(m, spanMetrics(layer, s))
      out
    }
    val session = spark
    import session.implicits._
    val prior = step("watermark")(WatermarkStore.read(spark, c.statePath))

    val (incomingSchema, nBad, nStaged, extract) = {
      val quarantine = Observation("quarantine")
      val ((schema, n), s) = rec.span("extract") {
        val docs = Extract.nonEmptyEmbeddings(Extract.coerceCountry(
          spark.read.schema(Schemas.sourceDoc).parquet(c.sourcePath)))
        val flagged = Extract.flagErrors(docs, dim = c.vectorDim,
            enforceDim = c.enforceVectorDim)
          .observe(quarantine,
            sum(when(size(col("__errors")) > 0, 1L).otherwise(0L)).as("n_bad"))
        val good = flagged.where(size(col("__errors")) === 0).drop("__errors")
        val filtered = Extract.incrementalFilter(good, prior.toSeq.toDF("source", "wm"),
          c.fallbackDate)
        val incoming = Extract.deriveRecord(filtered, keep = Seq("source", "timestamp"))
          .withColumnRenamed("timestamp", "__ts")
        incoming.write.mode("overwrite").option("compression", "snappy")
          .partitionBy("source").parquet(c.stagingPath)
        (incoming.schema, spark.read.schema(incoming.schema).parquet(c.stagingPath).count())
      }
      val bad = quarantine.get("n_bad") match { case n: Long => n; case _ => 0L }
      (schema, bad, n, s)
    }
    addAll(m, spanMetrics("extract", extract))
    m("extract.scan_bytes") = extract.inputBytes.toDouble
    m("extract.rows_in") = extract.inputRecords.toDouble
    m("extract.rows_staged") = nStaged.toDouble
    m("extract.quarantined") = nBad.toDouble
    val stagedBytes = treeBytes(Paths.get(c.stagingPath))
    val staged = spark.read.schema(incomingSchema).parquet(c.stagingPath)
    if (nStaged == 0L) return Pipeline.RunStats(0L, 0L, nBad, 0L, 0L, 0L, prior)

    val dedupPath = c.stagingPath + "-dedup"
    val (_, ds) = rec.span("dedup") {
      Dedup.latestPerKey(staged.drop("source", "__ts"), Seq("main_refco"),
        Seq(col("original_timestamp").desc))
        .write.mode("overwrite").parquet(dedupPath)
    }
    addAll(m, spanMetrics("dedup", ds))
    m("dedup.shuffle_bytes") = ds.shuffleBytes.toDouble

    val targetDir = Paths.get(c.targetPath)
    val before = liveFiles(c.targetPath)
    val filesBefore = allFiles(targetDir)
    val unique = Observation("unique")
    val (_, us) = rec.span("upsert") {
      val dim = spark.read.parquet(c.sourcesConfigPath.get)
        .select("display_name", "display_name_id")
      val batch = spark.read.parquet(dedupPath)
        .join(broadcast(dim), Seq("display_name"), "inner")
        .observe(unique, count(lit(1)).as("n"))
      val refresh = Map("embedding_inserted_at" -> current_timestamp())
      if (c.mergeBuckets > 0)
        Upsert.mergeIntoManifestBucketedParquet(spark, c.targetPath, batch,
          keys = Seq("main_refco"), nBuckets = c.mergeBuckets,
          insertOnlyCols = Set("cleaned_ref"), refreshExprs = refresh)
      else
        Upsert.mergeIntoParquet(spark, c.targetPath, batch, keys = Seq("main_refco"),
          insertOnlyCols = Set("cleaned_ref"), refreshExprs = refresh)
    }
    val after = liveFiles(c.targetPath).toSet
    addAll(m, spanMetrics("upsert", us))
    m("upsert.bytes_read") = us.inputBytes.toDouble
    m("upsert.bytes_written") = us.outputBytes.toDouble
    m("upsert.files_written") =
      (allFiles(targetDir) -- filesBefore).count(_.endsWith(".parquet")).toDouble
    m("upsert.write_amp") = us.outputBytes.toDouble / math.max(1L, stagedBytes)
    m("upsert.touched_frac") =
      if (before.isEmpty) 0.0 else before.count(f => !after.contains(f)).toDouble / before.size

    val advanced = step("watermark") {
      val maxima = staged.groupBy("source").agg(max("__ts").as("wm"))
        .collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
      val adv = WatermarkStore.advance(prior, maxima)
      WatermarkStore.write(spark, c.statePath, adv)
      (maxima.size, adv)
    }
    val (nFiles, nBytes) = Pipeline.stagingMetrics(spark, c.stagingPath)
    deleteTree(Paths.get(c.stagingPath))
    deleteTree(Paths.get(dedupPath))
    Pipeline.RunStats(nStaged, unique.get("n").asInstanceOf[Long], nBad,
      advanced._1.toLong, nFiles, nBytes, advanced._2)
  }

  private def liveFiles(target: String): Seq[String] =
    if (!Files.exists(Paths.get(target))) Nil
    else Upsert.readTarget(spark, target).inputFiles.toSeq

  private def allFiles(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(_.toString).toSet
}

// ==================================================================== query mix

/** `query_mix`: the queries of [[Main.Mix]] in sequence, each pass in a
  * fresh session so the three session-shared builds are paid inside it.
  * Every pass writes each query's result as Parquet for the oracle check. */
final class QueryMixBench(o: Main.Opts) {
  import Main._

  private val data = s"${o.input}/tables"
  private val warmData = s"${o.input}/tables_small"
  private val work = Paths.get(o.work)

  def run(): Map[String, Any] = {
    deleteTree(work.resolve("passes"))
    Files.createDirectories(work)
    // the oracle SQL, for run.py to evaluate in DuckDB while we warm up
    val tmp = work.resolve("oracles.json.tmp")
    Files.writeString(tmp,
      Json.render(Mix.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap))
    Files.move(tmp, work.resolve("oracles.json"), StandardCopyOption.ATOMIC_MOVE)
    var spark = newSession(o)
    pass(spark, warmData, work.resolve("warmup"), None)
    phase("warm-up done")
    waitFor(work.resolve("oracle.done"))
    phase("oracles ready")
    val setup = (1 to SetupReps).map { _ =>
      stopSession(spark)
      timed {
        spark = newSession(o)
        Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
          .foreach(t => Tables(spark, data, t).schema)
      }._2
    }

    val budget = if (o.trace) o.seconds / 2 else o.seconds
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val samples = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (samples.isEmpty && passes.size < 3 ||
        (System.nanoTime() - t0) / 1e9 < budget && passes.size < 10) {
      stopSession(spark); spark = newSession(o); System.gc()
      val dir = work.resolve(s"passes/p${passes.size}")
      val (failed, dt) = timed(pass(spark, data, dir, None))
      passes += Map("dir" -> dir.toString, "failed" -> failed)
      if (failed.isEmpty) samples += dt
    }
    phase("measured")
    if (samples.isEmpty) throw new IllegalStateException(
      s"every query-mix pass failed: ${passes.map(_("failed")).mkString("; ")}")

    val layers = if (!o.trace) Map.empty[String, Double] else {
      val iters = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]
      val t1 = System.nanoTime()
      while (iters.isEmpty || (System.nanoTime() - t1) / 1e9 < o.seconds / 2 && iters.size < 5) {
        stopSession(spark); spark = newSession(o); System.gc()
        val rec = new Recorder(spark.sparkContext)
        spark.sparkContext.addSparkListener(rec)
        val m = mutable.Map.empty[String, Double]
        val dir = work.resolve(s"passes/t${iters.size}")
        val failed = pass(spark, data, dir, Some((rec, m)))
        passes += Map("dir" -> dir.toString, "failed" -> failed)
        m("trace.steps_s") = m.filter { case (k, _) =>
          k.endsWith(".s") && (k.startsWith("query.") || k.startsWith("build."))
        }.values.sum
        m("trace.untraced_run_s") = median(samples.toSeq)
        m("trace.overhead_s") = m("trace.steps_s") - median(samples.toSeq)
        iters += m
      }
      medians(iters.toSeq)
    }

    // the committed outputs of the last untimed-check pass are the
    // "target" a downstream consumer reads
    val last = Paths.get(passes.last("dir").toString)
    val outs = Mix.map(q => last.resolve(q._1).toString).filter(p => Files.exists(Paths.get(p)))
    val reads = readSamples(spark, outs)
    val rows = outs.map(p => spark.read.parquet(p).count()).sum
    val result = Map(
      "setup_s" -> setup, "run_s" -> samples.toSeq, "target_read_s" -> reads,
      "target_bytes" -> outs.map(p => treeBytes(Paths.get(p))).sum, "target_rows" -> rows,
      "retained_heap_mb" -> retainedHeapMb(), "passes" -> passes.toSeq, "layers" -> layers)
    stopSession(spark)
    result
  }

  /** One pass of the mix over `dir`; returns the queries that failed. */
  private def pass(spark: SparkSession, dir: String, out: Path,
      trace: Option[(Recorder, mutable.Map[String, Double])]): Seq[String] =
    Mix.flatMap { case (q, build) =>
      try {
        build.foreach { case (name, fn) =>
          trace match {
            case Some((rec, m)) => m(s"build.$name.s") = rec.span(s"build.$name")(fn(spark, dir))._2.seconds
            case None => fn(spark, dir)
          }
        }
        def write(): Unit = SparkEntry.queries(q)(spark, dir)
          .write.mode("overwrite").parquet(out.resolve(q).toString)
        trace match {
          case Some((rec, m)) =>
            val (_, s) = rec.span(s"query.$q")(write())
            m(s"query.$q.s") = s.seconds
            m(s"query.$q.jobs") = s.jobs.toDouble
            m(s"query.$q.shuffle_bytes") = s.shuffleBytes.toDouble
            m(s"query.$q.driver_gap_ms") = s.driverGapMs.toDouble
          case None => write()
        }
        None
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q failed: ${error(e)}")
          Some(q)
      }
    }

}

/** Minimal JSON rendering for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: BigInt => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
