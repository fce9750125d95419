package graft

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileStatus, Path}

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Extract, Upsert}
import graft.sources.{Parquet, WatermarkStore}

/** End-to-end incremental pipeline — the whole reference DAG as ONE Spark
  * application (SURVEY.md §3.1): read → watermark filter → transform →
  * stage → window dedup → dimension join → merge upsert → advance
  * watermarks → metrics → cleanup.
  *
  * Airflow's per-source dynamic task fan-out becomes partition parallelism;
  * XCom becomes in-job DataFrames; state persists only after the merge
  * succeeds, preserving the reference's at-least-once + idempotent-upsert
  * ordering (`embeddings-pipeline.py:480`).
  *
  * Scale design: the (potentially huge) source is scanned exactly ONCE —
  * the extract stages the incremental batch to Parquet (S4, as the
  * reference does), flat (one file per writing task, `source` a column,
  * not a directory), and every downstream consumer (merge, watermark
  * maxima, row counts, file metrics) reads the much smaller staged batch.
  * Counts come from `Observation` metrics on the staging write — among
  * them one typed per-source aggregate (rows + watermark maxima,
  * [[SourceStats]]) — never from re-executing the transform or re-reading
  * the staged batch. An empty batch short-circuits before the merge (F6,
  * `embeddings-pipeline.py:278-280`) so no merge commit happens for
  * zero new rows.
  */
object Pipeline {

  /** Config mirrored from the reference's Airflow Variables
    * (`CONFIGURATION.md:8-53`). */
  case class Config(
      sourcePath: String,
      targetPath: String,
      statePath: String,
      stagingPath: String,
      sourcesConfigPath: Option[String] = None,
      fallbackDate: Timestamp = DefaultFallback,
      mainRefcoMaxLength: Int = graft.schema.Schemas.MainRefcoMaxLength,
      cleanupStaging: Boolean = true,
      /** The target is a manifest table
        * ([[graft.operators.Upsert.mergeIntoManifestBucketedParquet]]),
        * committed with one atomic manifest publish. > 1 ⇒ hash-bucketed:
        * each run reads and rewrites only the touched buckets. 0 (or 1) ⇒
        * one bucket, merge-on-read: each run writes only the batch's
        * post-merge rows and records the positions of the target rows they
        * supersede; readers drop those rows, and a merge rewrites a file
        * once they pass 30% of its rows (`RunMaintain table-compact`
        * reclaims them all). A first run onto an existing flat snapshot-directory
        * or plain target adopts its files in place. A table's recorded
        * bucket count wins over this field. */
      mergeBuckets: Int = 0,
      /** Selects no writer: bucketed targets are always manifest-committed.
        * `false` with `mergeBuckets > 0` named the removed
        * dynamic-partition-overwrite layout and is refused by [[run]]. */
      manifestCommit: Boolean = true,
      /** Enforce the target DDL's fixed vector width `VECTOR(FLOAT, dim)`
        * (`CONFIGURATION.md:109`): ragged vectors are quarantined
        * (`bad_vector_dim`) instead of flowing into a target that would
        * reject them. */
      enforceVectorDim: Boolean = true,
      vectorDim: Int = graft.schema.Schemas.EmbeddingDim,
      /** `"parquet"` (columnar stand-in for the reference's document scan)
        * or `"json"` (schema-on-read over schemaless documents via
        * [[graft.sources.DocumentSource]]; malformed lines are
        * quarantine-counted as `malformed_json`). */
      sourceFormat: String = "parquet",
      /** When set, the run maintains a persisted IVF ANN index over the
        * target's vectors ([[graft.operators.Ivf]]): the first batch
        * builds it (training on the batch), later batches are assigned
        * against the frozen centroids and appended — the index build is a
        * job, not a query prelude, and probes stay available between
        * runs. */
      ivfIndexPath: Option[String] = None,
      ivfNlist: Int = 16,
      /** When set, the run maintains a persisted HNSW-style graph ANN
        * index over the target's vectors ([[graft.operators.Hnsw]]): the
        * first batch builds it, later batches fold in EXACTLY
        * rebuild-equivalently ([[graft.operators.Hnsw.addToIndex]]'s
        * re-cut theorem) — the graph-family twin of `ivfIndexPath`. */
      hnswIndexPath: Option[String] = None,
      /** Batch-level curation stage, applied AFTER the window dedup and
        * BEFORE the dimension join + merge: compose the library's
        * curation operators (quality gates, [[graft.operators.Sampling]]
        * caps/mixtures, [[graft.operators.Dedup]] survivor selection)
        * over the staged batch — curation never rescans the source, and
        * `uniqueRecords` counts what actually merged. Identity when
        * unset. */
      curate: Option[DataFrame => DataFrame] = None,
      /** Data-quality gate over the staged batch, checked BEFORE curation
        * and merge: named violation predicates with per-rule budgets
        * ([[graft.operators.Validate.enforce]]). A batch over budget
        * aborts the run (throws) with the offending rules named — the
        * watermark does not advance, so a retry re-reads the same
        * increment after the upstream problem is fixed. One extra pass
        * over the staged batch (small), not the source. */
      qualityRules: Seq[(String, org.apache.spark.sql.Column)] = Nil,
      qualityBudgets: Map[String, Long] = Map.empty)

  /** The fallback watermark, 2024-01-01 00:00:00 UTC. */
  val DefaultFallback: Timestamp = Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))

  case class RunStats(
      recordsProcessed: Long,
      uniqueRecords: Long,
      quarantined: Long,
      sources: Long,
      stagedFiles: Long,
      stagedBytes: Long,
      newWatermarks: Map[String, Timestamp],
      cjkUnmapped: Long = 0L)

  def run(spark: SparkSession, conf: Config): RunStats = {
    require(conf.mergeBuckets <= 0 || conf.manifestCommit,
      "mergeBuckets > 0 with manifestCommit = false asks for the " +
        "hash-bucketed dynamic-partition-overwrite layout, which was " +
        "removed: bucketed targets are always manifest-committed")
    // F2 rides the scan: the reference's Mongo query filters empty
    // embeddings server-side. The JSON path additionally keeps malformed
    // lines alive (flag `__malformed`) so they reach the quarantine count
    // instead of vanishing in the filter.
    val (docs, extraChecks) = conf.sourceFormat match {
      case "json" =>
        val d = graft.sources.DocumentSource.readJson(spark, conf.sourcePath)
        (d.where(col("__malformed") ||
            (col("embeddings").isNotNull && size(col("embeddings")) > 0)),
          Seq("malformed_json" -> col("__malformed")))
      case _ =>
        (Extract.nonEmptyEmbeddings(Extract.coerceCountry(
          spark.read.schema(graft.schema.Schemas.sourceDoc)
            .parquet(conf.sourcePath))), Nil)
    }

    // S3: watermark state (missing file => full backfill from fallback)
    val prior = WatermarkStore.read(spark, conf.statePath)

    // F2 + P10 + F3/F4 + P1..P8 — one declarative plan over the source.
    // Quarantine runs BEFORE the watermark filter: a null-timestamp row is
    // malformed (the reference's KeyError→skip path, `:227,233-235`), and
    // the incremental predicate would silently drop it otherwise. The
    // bad-row count is observed BELOW the good-row filter, so it rides the
    // staging pass — the reference logs-and-skips bad rows (`:233-235`),
    // it does not persist them, and a separate bad.count() would re-scan
    // the entire source.
    val quarantineObs = Observation("quarantine")
    val flagged = Extract.flagErrors(docs,
        dim = conf.vectorDim, enforceDim = conf.enforceVectorDim,
        extraChecks = extraChecks)
      .observe(quarantineObs,
        sum(when(size(col("__errors")) > 0, 1L).otherwise(0L)).as("n_bad"),
        // out-of-table CJK in the merge-key inputs: these characters DROP
        // from main_refco (SURVEY §7.4.1's bounded-pinyin divergence) —
        // counted here so the silent key truncation is observable per run
        sum(graft.functions.F.cjkUnmapped(
          concat_ws("_", coalesce(col("cleaned_ref"), lit("")),
            coalesce(col("color"), lit("")))).cast("long"))
          .as("n_cjk_unmapped"))
    val good = flagged.where(size(col("__errors")) === 0)
      .drop("__errors", "__malformed")
    val filtered = Extract.sinceWatermarks(good, prior, conf.fallbackDate)
    // source + event timestamp ride along for the per-source watermarks
    val incoming = Extract.deriveRecord(filtered, keep = Seq("source", "timestamp"))
      .withColumnRenamed("timestamp", "__ts")

    // S4: stage the incremental batch — the ONLY pass over the source.
    // Flat, not partitioned by source: at most one file per writing task
    // and no pre-write sort, and an overwrite replaces the whole staging
    // directory even under dynamic partition overwrite. The row count and
    // the A2/A4 per-source watermark maxima (applied only after the
    // merge) are observed on this write, not read back.
    val perSourceObs = Observation("per_source")
    Upsert.parquetWriter(SourceStats.observe(incoming, perSourceObs))
      .parquet(conf.stagingPath)
    val nQuarantined = quarantineObs.get("n_bad") match {
      case n: Long => n
      case null => 0L
    }
    val nCjkUnmapped = quarantineObs.get("n_cjk_unmapped") match {
      case n: Long => n
      case null => 0L
    }

    val perSource = SourceStats.get(perSourceObs)
    val recordsProcessed = perSource.values.map(_._1).sum
    val maxima = perSource.map { case (src, (_, wm)) => src -> wm }

    // F6: empty-batch short-circuit — no merge, no watermark change.
    if (recordsProcessed == 0L) {
      cleanupStaging(spark, conf)
      return RunStats(0L, 0L, nQuarantined, 0L, 0L, 0L, prior, nCjkUnmapped)
    }

    // W1: keep-latest per merge key, ordering lexicographic on ISO string.
    // Read back with the schema it was written with: no footer read.
    val staged = spark.read.schema(incoming.schema).parquet(conf.stagingPath)
    val batch = staged.drop("source", "__ts")
    val deduped = Dedup.latestPerKey(batch, Seq("main_refco"),
      Seq(col("original_timestamp").desc))

    // Quality gate first (fail fast, before any merge work), then the
    // optional curation stage — both run on the small batch, not the
    // source.
    if (conf.qualityRules.nonEmpty)
      operators.Validate.enforce(deduped, conf.qualityRules, conf.qualityBudgets)
    val curated = conf.curate.fold(deduped)(f => f(deduped))

    // J1: broadcast dimension join (inner — unmatched rows drop silently)
    val withDim = conf.sourcesConfigPath match {
      case Some(p) =>
        val dim = Parquet.read(spark, p).select("display_name", "display_name_id")
        curated.join(broadcast(dim), Seq("display_name"), "inner")
      case None => curated.withColumn("display_name_id", lit(null).cast("long"))
    }

    // A3 via Observation: counted during the merge write, no extra pass.
    val unique = Observation("unique")
    val observed = withDim.observe(unique, count(lit(1)).as("n"))

    // J3: idempotent merge (cleaned_ref inserted but never updated); one
    // bucket is the merge-on-read table
    Upsert.mergeIntoManifestBucketedParquet(spark, conf.targetPath, observed,
      keys = Seq("main_refco"), nBuckets = math.max(1, conf.mergeBuckets),
      insertOnlyCols = Set("cleaned_ref"),
      refreshExprs = Map("embedding_inserted_at" -> current_timestamp()))
    val uniqueRecords = unique.get("n").asInstanceOf[Long]

    // Incremental ANN index maintenance: assign ONLY this batch's vectors
    // (against frozen centroids after the first run) — never a rebuild.
    conf.ivfIndexPath.foreach { idx =>
      val vecs = withDim.select(col("main_refco"), col("embedding_vector"))
      if (new Path(s"$idx/centroids").getFileSystem(
          spark.sparkContext.hadoopConfiguration)
          .exists(new Path(s"$idx/centroids")))
        graft.operators.Ivf.addToIndex(spark, idx, vecs,
          idCol = "main_refco", vecCol = "embedding_vector")
      else
        graft.operators.Ivf.buildIndex(spark, idx, vecs, trainOn = vecs,
          nlist = conf.ivfNlist, iters = 1,
          idCol = "main_refco", vecCol = "embedding_vector")
    }
    conf.hnswIndexPath.foreach { idx =>
      val vecs = withDim.select(col("main_refco"), col("embedding_vector"))
      if (graft.operators.IndexStore.exists(spark, s"$idx/meta"))
        graft.operators.Hnsw.addToIndex(spark, idx, vecs,
          idCol = "main_refco", vecCol = "embedding_vector")
      else
        graft.operators.Hnsw.buildIndex(spark, idx, vecs,
          idCol = "main_refco", vecCol = "embedding_vector",
          dim = conf.vectorDim)
    }

    // A2/A4: advance watermarks to the staged maxima — only after merge
    val advanced = WatermarkStore.advance(prior, maxima)
    WatermarkStore.write(spark, conf.statePath, advanced)

    // S7: file metrics from the staging directory (count + bytes)
    val (nFiles, nBytes) = stagingMetrics(spark, conf.stagingPath)
    cleanupStaging(spark, conf)

    RunStats(recordsProcessed, uniqueRecords, nQuarantined,
      maxima.size.toLong, nFiles, nBytes, advanced, nCjkUnmapped)
  }

  /** source -> (rows, latest `__ts`). */
  private[graft] type PerSource = Map[String, (Long, Timestamp)]

  /** Rows and latest `__ts` per source as ONE typed aggregate, so the
    * staging write observes them: the map
    * `groupBy("source").agg(count(lit(1)), max("__ts"))` would collect,
    * without a second pass. `source` is never null here (`flagErrors`
    * quarantines a null source): a map key cannot be. */
  private[graft] object SourceStats
      extends Aggregator[(String, Timestamp), PerSource, PerSource] {
    def zero: PerSource = Map.empty
    def reduce(b: PerSource, row: (String, Timestamp)): PerSource =
      add(b, row._1, 1L, row._2)
    def merge(a: PerSource, b: PerSource): PerSource =
      b.foldLeft(a) { case (m, (src, (n, wm))) => add(m, src, n, wm) }
    def finish(b: PerSource): PerSource = b
    def bufferEncoder: Encoder[PerSource] = ExpressionEncoder()
    def outputEncoder: Encoder[PerSource] = ExpressionEncoder()

    private def add(m: PerSource, src: String, n: Long, wm: Timestamp): PerSource = {
      val (n0, wm0) = m.getOrElse(src, (0L, null))
      // max semantics: a null never wins
      m.updated(src, (n0 + n, if (wm0 == null || (wm != null && wm.after(wm0))) wm else wm0))
    }

    private val column = udaf(this, Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP))

    /** `df` with the per-source aggregate of its `source` / `__ts`
      * columns observed into `obs`. */
    def observe(df: DataFrame, obs: Observation): DataFrame =
      df.observe(obs, column(col("source"), col("__ts")).as("per_source"))

    /** The observed aggregate, once the action over [[observe]]'s frame
      * ran: source -> (rows, max `__ts`). */
    def get(obs: Observation): PerSource =
      obs.get("per_source") match {
        case null => Map.empty
        case m: scala.collection.Map[_, _] => m.map { case (src, r) =>
          src.asInstanceOf[String] ->
            (r.asInstanceOf[Row].getLong(0), r.asInstanceOf[Row].getTimestamp(1))
        }.toMap
      }
  }

  /** S7: per-run file count and byte size of the staged Parquet batch
    * (reference `embeddings-pipeline.py:397-432` logs files + MB). */
  def stagingMetrics(spark: SparkSession, stagingPath: String): (Long, Long) = {
    val p = new Path(stagingPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    // listStatus, unlike listFiles, loads no per-file permissions
    // (without the native Hadoop library the local FS forks one `ls` per
    // file for those). `run` stages flat, so this is one listing; a
    // staging directory partitioned by source is walked.
    def parts(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) parts(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
      else Nil
    }
    val staged = parts(p)
    (staged.size.toLong, staged.map(_.getLen).sum)
  }

  /** S8: delete the staged batch after a successful merge
    * (reference `embeddings-pipeline.py:434-458`). */
  private def cleanupStaging(spark: SparkSession, conf: Config): Unit =
    if (conf.cleanupStaging) {
      val p = new Path(conf.stagingPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
}
