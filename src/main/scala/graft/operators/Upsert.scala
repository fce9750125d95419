package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Join-based MERGE upsert — the reference's Snowflake `MERGE INTO`
  * (J3, `embeddings-pipeline.py:294-352`) re-expressed on vanilla Spark.
  *
  * Plain Parquet has no transactional MERGE, so the merge is a full-outer
  * join on the key with per-column `coalesce`, honoring the reference's
  * quirk that `cleaned_ref` is inserted but never updated on match (update
  * list `:330-338` omits it; insert list `:340-345` includes it).
  *
  * Scale notes: the updates side is typically small relative to the target
  * (one incremental batch), so Spark plans a shuffled hash / sort-merge
  * join partitioned by the key — each of 1000 executors rewrites only its
  * key range. Idempotence (merge twice ≡ merge once) preserves the
  * reference's at-least-once + idempotent-upsert contract (SURVEY.md §2.9).
  */
object Upsert {

  /** Pure merge: returns the post-merge relation.
    *
    * Semantics match SQL `MERGE ... WHEN MATCHED THEN UPDATE SET c =
    * source.c` exactly: an update row carrying a genuine NULL *overwrites*
    * the target value (per-column `coalesce` cannot express that). A
    * `__touched` marker on the updates side distinguishes "no update row"
    * from "update value is null", and gates `refreshExprs` so rows not in
    * this batch keep their original values (e.g. `embedding_inserted_at`
    * provenance, reference `embeddings-pipeline.py:318,338,345`).
    *
    * @param insertOnlyCols columns taken from the target when the key
    *   matches (the `cleaned_ref` quirk); all other shared non-key columns
    *   take the update's value on match.
    * @param refreshExprs columns recomputed for every *touched* (matched or
    *   inserted) row, e.g. `embedding_inserted_at -> current_timestamp()`
    *   (P9, `:318`); untouched target rows keep their stored value.
    * @param evolveSchema when true, update columns absent from the target
    *   are APPENDED to the output schema (Delta/Iceberg-style additive
    *   schema evolution): touched rows carry the update's value, untouched
    *   rows read NULL — exactly what the full-outer join already yields.
    *   When false (default) unknown update columns are dropped, preserving
    *   the fixed-contract behavior (SURVEY §1.4: the cast list at
    *   `embeddings-pipeline.py:310-318` is authoritative).
    */
  def merge(
      target: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      insertOnlyCols: Set[String] = Set.empty,
      refreshExprs: Map[String, org.apache.spark.sql.Column] = Map.empty,
      evolveSchema: Boolean = false): DataFrame = {
    val t = target.as("t")
    val u = updates.withColumn("__touched", lit(true)).as("u")
    val cond = keys.map(k => col(s"t.$k") <=> col(s"u.$k")).reduce(_ && _)
    val joined = t.join(u, cond, "full_outer")
    val touched = col("u.__touched").isNotNull // row present in this batch

    val updateCols = updates.columns.toSet -- keys
    val outCols = target.columns.map { c =>
      if (keys.contains(c)) coalesce(col(s"u.$c"), col(s"t.$c")).as(c)
      else if (refreshExprs.contains(c))
        when(touched, refreshExprs(c)).otherwise(col(s"t.$c")).as(c)
      else if (!updateCols.contains(c)) col(s"t.$c").as(c)
      else if (insertOnlyCols.contains(c)) coalesce(col(s"t.$c"), col(s"u.$c")).as(c)
      else when(touched, col(s"u.$c")).otherwise(col(s"t.$c")).as(c)
    }
    // Additive evolution: columns only the updates side has. The outer
    // join already leaves them NULL on unmatched (untouched) target rows.
    val appended =
      if (!evolveSchema) Array.empty[org.apache.spark.sql.Column]
      else updates.columns.filterNot(target.columns.contains)
        .map(c => col(s"u.$c").as(c))
    joined.select((outCols ++ appended).toIndexedSeq: _*)
  }

  /** Parquet options of every staging and merge-target write, derived
    * from the schema: snappy (the reference's staging compression,
    * `embeddings-pipeline.py:255`), and no dictionary for the elements of
    * `array<float|double>` columns. Embedding vectors are almost all
    * distinct floats, so a dictionary is hashed for every column chunk
    * only to fall back to plain encoding: CPU spent for the same bytes.
    * String and key columns keep their dictionaries. */
  private[graft] def parquetWriteOptions(
      schema: org.apache.spark.sql.types.StructType): Map[String, String] = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructField}
    Map("compression" -> "snappy") ++ schema.fields.collect {
      case StructField(name, ArrayType(FloatType | DoubleType, _), _, _) =>
        s"parquet.enable.dictionary#$name.list.element" -> "false"
    }
  }

  /** Overwrite-mode Parquet writer of `df` with [[parquetWriteOptions]]. */
  private[graft] def parquetWriter(df: DataFrame)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.write.mode("overwrite").options(parquetWriteOptions(df.schema))

  // ------------------------------------------------------------------
  // Snapshot-pointer target layout (object-store-safe commit, SURVEY §7.3)
  //
  //   <targetPath>/_current            ← pointer file: name of live snapshot
  //   <targetPath>/snap-000000000/     ← immutable Parquet snapshot dirs
  //
  // Directory rename is atomic on HDFS but COPY-based (and non-atomic) on
  // S3/GCS — where a 100 TB target actually lives. The commit here never
  // renames a directory: a new snapshot is fully written under a fresh
  // name, then a tiny pointer FILE is replaced atomically (tmp file +
  // FileContext rename-with-overwrite; on an object store this is one
  // small PUT). A crash at ANY point leaves the pointer referencing the
  // previous complete snapshot — readers never observe a torn table — and
  // the orphan snapshot directory is clobbered/garbage-collected by the
  // next successful run.
  //
  // Every commit rewrites the whole table. `Pipeline.run` no longer
  // writes this layout: it commits one-bucket merge-on-read manifest
  // tables (see the manifest note below), and its first run onto an
  // existing flat snapshot directory adopts that directory's files in
  // place. `mergeIntoParquet` on a manifest table hands the merge to the
  // manifest writer; on a snapshot-directory target it keeps writing
  // snapshots.
  // ------------------------------------------------------------------

  private def pointerPath(targetPath: String): Path = new Path(targetPath, "_current")

  private val pointerLock = new Object

  /** Atomically publish the `_current` pointer: tmp file +
    * FileContext rename-with-overwrite (one small PUT on an object store).
    * Publishes are MONOTONIC — a publisher never moves the pointer to an
    * id at or below the one already published, so a slow pointer repair
    * can never regress past a newer commit it raced with — and serialized
    * within the JVM (the local-FS rename-with-overwrite is delete+rename,
    * not atomic; on S3/GCS the pointer PUT itself is). */
  private def publishPointer(fs: org.apache.hadoop.fs.FileSystem,
      hadoopConf: org.apache.hadoop.conf.Configuration, targetPath: String,
      snapName: String, tmpTag: String): Boolean = pointerLock.synchronized {
    val cur = pointerPath(targetPath)
    if (fs.exists(cur)) {
      val curId = idOf(readFileBody(fs, cur).trim, "snap-")
      if (curId.exists(c => idOf(snapName, "snap-").exists(_ <= c)))
        return false // a same-or-newer commit already published
    }
    val uniq = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(targetPath, s"_current.tmp-$tmpTag-$uniq")
    val out = fs.create(tmp, true)
    try out.write(snapName.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, hadoopConf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(pointerPath(targetPath)),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    true
  }

  /** Claim the right to publish `snapName` on a PLAIN snapshot-pointer
    * target via a create-exclusive `snap-….commit` marker verified by
    * read-back — the cross-process twin of the JVM-local `pointerLock`
    * (ADVICE r8: the loud-conflict check was check-then-publish, so two
    * writers in different JVMs could both publish the same id and the
    * second silently discarded the first's merge). Called immediately
    * before the pointer publish, so the claim window a crash can leave a
    * stale marker in is milliseconds wide; a marker older than
    * [[gcGraceMs]] whose snapshot never published is such a leftover and
    * is reclaimed. NOTE the layout is still single-writer by CONTRACT:
    * two live concurrent writers may interleave snapshot-directory writes
    * before either claims — the loser now fails loudly here and both
    * idempotent batches must be re-run, but the window cannot be closed
    * without the manifest layout's immutable files (use
    * [[mergeIntoManifestBucketedParquet]] for genuine concurrency). */
  private def claimSnapshotId(fs: org.apache.hadoop.fs.FileSystem,
      targetPath: String, snapName: String): Unit = {
    val marker = new Path(targetPath, s"$snapName.commit")
    if (fs.exists(marker) && System.currentTimeMillis() -
        fs.getFileStatus(marker).getModificationTime >= gcGraceMs)
      commitBackend.delete(fs, marker) // crashed claimant: never published
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    commitBackend.putIfAbsent(fs, marker, attempt.getBytes("UTF-8"))
      .foreach { winner =>
        throw new CommitConflictException(
          s"snapshot $snapName of $targetPath is claimed by a concurrent " +
            s"writer (single-writer layout — rerun this idempotent batch; " +
            s"attempt $attempt; winner ${winner.trim})")
      }
  }

  /** Adopt a pre-pointer plain-Parquet target in place: a directory that
    * holds data files (or partition dirs) but no `_current` pointer is the
    * layout this merge wrote BEFORE the snapshot-pointer commit existed.
    * Treating it as an empty table would publish a first snapshot holding
    * only the new batch — every prior row silently vanishes from view
    * (readers resolve the pointer). The existing contents are moved into
    * `snap-000000000` and a pointer to it is published, so the merge that
    * follows sees them as the current snapshot. Idempotent: a crash
    * mid-adoption leaves loose files that the retry keeps moving; the
    * pointer is only published once everything is inside the snapshot.
    * A legacy hash-bucketed directory is refused, not adopted (see
    * [[refuseForeignLayout]]). A committed target returns before any
    * listing. */
  private def adoptLegacyTarget(fs: org.apache.hadoop.fs.FileSystem,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      targetPath: String): Unit = {
    val root = new Path(targetPath)
    if (!fs.exists(root) || fs.exists(pointerPath(targetPath))) return
    val listing = fs.listStatus(root)
    refuseForeignLayout(targetPath, listing, manifestWriter = false)
    val legacy = listing.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") &&
        !(st.isDirectory && n.startsWith("snap-")) &&
        // a crashed manifest-bucketed first commit can leave a stray
        // snap-*.manifest.json FILE at the root (and a crashed plain
        // commit a snap-*.commit claim marker); adopting either into the
        // snapshot would break spark.read.parquet on the snapshot dir
        !n.endsWith(".manifest.json") && !n.endsWith(".commit")
    }
    if (legacy.isEmpty) return // empty or a crashed-first-merge orphan snap
    val snap = new Path(root, "snap-000000000")
    fs.mkdirs(snap)
    legacy.foreach { st =>
      if (!fs.rename(st.getPath, new Path(snap, st.getPath.getName)))
        throw new java.io.IOException(
          s"legacy adoption: could not move ${st.getPath} into $snap")
    }
    publishPointer(fs, hadoopConf, targetPath, "snap-000000000", "adopt")
  }

  /** Refuse a merge target whose root holds a layout the calling writer
    * cannot commit into. Committing anyway would publish a first snapshot
    * or manifest holding only the batch, hiding every prior row:
    *  - a legacy hash-bucketed directory — pointer-less `__bucket=<k>/`
    *    partitions, written by the removed dynamic-partition-overwrite
    *    merge — is refused by every writer (adoption skips `_` names);
    *  - `snap-<n>/` directories ([[mergeIntoParquet]]'s layout) are
    *    refused by the manifest writers.
    * Both stay readable through [[readTarget]]. `listing` is the target
    * root's listing; the manifest layout's own crash leftovers
    * (`data/run-*`, manifest and pointer tmp files, `.commit` markers)
    * pass. */
  private def refuseForeignLayout(targetPath: String,
      listing: Seq[org.apache.hadoop.fs.FileStatus],
      manifestWriter: Boolean): Unit = {
    def hasDir(prefix: String): Boolean = listing.exists(st =>
      st.isDirectory && st.getPath.getName.startsWith(prefix))
    if (hasDir("__bucket="))
      throw new IllegalStateException(s"$targetPath is a legacy " +
        "hash-bucketed directory (pointer-less __bucket=<k>/ partitions of " +
        "the removed dynamic-partition-overwrite merge) and no writer " +
        "accepts it: read it with Upsert.readTarget, then merge the rows " +
        "into a fresh target")
    if (manifestWriter && hasDir("snap-"))
      throw new IllegalStateException(s"$targetPath is a snapshot-directory " +
        "target (snap-<n>/ written by mergeIntoParquet); a manifest commit " +
        "would hide its rows. Keep merging it with mergeIntoParquet, or " +
        "read it with Upsert.readTarget and merge the rows into a fresh target")
  }

  /** Manifest-writer side of [[refuseForeignLayout]]: runs only while no
    * manifest is committed (`manifest` empty), so a commit onto a live
    * manifest table lists nothing extra. */
  private def requireManifestLayout(spark: SparkSession, targetPath: String,
      manifest: Map[Int, Seq[String]]): Unit =
    if (manifest.isEmpty) {
      val root = new Path(targetPath)
      refuseForeignLayout(targetPath, listSafe(
        root.getFileSystem(spark.sparkContext.hadoopConfiguration), root),
        manifestWriter = true)
    }

  /** Name of the committed live snapshot directory under `targetPath`
    * (e.g. `snap-000000003`), if a pointer has been published.
    *
    * The read is serialized against in-JVM pointer publishes and retried
    * on [[org.apache.hadoop.fs.ChecksumException]]: the LOCAL filesystem
    * keeps a `.crc` sidecar whose replacement is not atomic with the
    * pointer rename, so a read racing a publish can see a torn
    * (file, sidecar) pair — an artifact of the checksummed local FS only
    * (HDFS renames atomically; object-store pointer PUTs have no
    * sidecar), surfaced by the N-writer stress test. */
  def currentSnapshot(spark: SparkSession, targetPath: String): Option[String] = {
    val p = pointerPath(targetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var attempts = 0
    while (true) {
      try {
        pointerLock.synchronized {
          if (!fs.exists(p)) return None
          val in = fs.open(p)
          val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
          return Option(s).filter(_.nonEmpty)
        }
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException =>
          attempts += 1
          if (attempts > 5) throw e
          Thread.sleep(10L * attempts)
        case _: java.io.FileNotFoundException => return None // vanished mid-read
      }
    }
    None // unreachable
  }

  /** Read the committed state of a merge target: resolves the `_current`
    * pointer when present — to a manifest (manifest-bucketed layout) or a
    * snapshot directory — otherwise reads `targetPath` directly (a
    * legacy pointer-less directory, e.g. the `__bucket=<k>/` partitions
    * no writer accepts any more: see [[refuseForeignLayout]]). */
  def readTarget(spark: SparkSession, targetPath: String): DataFrame =
    currentSnapshot(spark, targetPath) match {
      case Some(snap) =>
        val mf = new Path(targetPath, s"$snap.manifest.json")
        if (mf.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mf))
          readManifestTable(spark, targetPath)
        else Parquet.read(spark, new Path(targetPath, snap).toString)
      case None =>
        // no pointer: a manifest-layout table whose very first publish
        // was lost still has committed manifests — manifestBody rolls
        // forward to the newest; otherwise this is a plain directory
        val root = new Path(targetPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (committedIds(fs, root).nonEmpty) readManifestTable(spark, targetPath)
        else Parquet.read(spark, targetPath)
    }

  /** MERGE into a snapshot-pointer Parquet target. The merged result is
    * written as a NEW snapshot directory, then the `_current` pointer file
    * is atomically replaced — no directory rename anywhere on the commit
    * path (see layout note above). A missing target behaves as an empty
    * table (first run = pure insert). On a manifest table the merge is
    * [[mergeIntoManifestBucketedParquet]]'s, at the table's recorded
    * bucket count (merge-on-read for one bucket).
    *
    * @param keepSnapshots snapshot dirs retained after a successful commit
    *   (>= 1; the live one counts). Retention > 1 keeps recent snapshots
    *   readable for in-flight readers and time travel — resolve an old one
    *   with [[snapshots]] / [[readTargetAt]] — at the cost of their storage.
    * @param evolveSchema additive schema evolution (see [[merge]]). Only
    *   offered on THIS layout: every snapshot is a full rewrite, so all
    *   files of a snapshot share one schema. The manifest layout keeps
    *   untouched buckets' files verbatim — evolving them would mix schemas
    *   within one table and force mergeSchema on every read; evolve via a
    *   one-off full rewrite instead. */
  def mergeIntoParquet(
      spark: SparkSession,
      targetPath: String,
      updates: DataFrame,
      keys: Seq[String],
      insertOnlyCols: Set[String] = Set.empty,
      refreshExprs: Map[String, org.apache.spark.sql.Column] = Map.empty,
      partitionBy: Seq[String] = Nil,
      keepSnapshots: Int = 1,
      evolveSchema: Boolean = false): Unit = {
    require(keepSnapshots >= 1, "keepSnapshots must be >= 1")
    if (manifestBody(spark, targetPath, None).isDefined) {
      // a manifest table (e.g. the one `Pipeline.run` commits): its own
      // writer merges it; the table's recorded bucket count wins
      require(partitionBy.isEmpty && !evolveSchema, s"$targetPath is a " +
        "manifest table: partitionBy and evolveSchema apply to the " +
        "snapshot-directory layout only")
      mergeIntoManifestBucketedParquet(spark, targetPath, updates, keys,
        nBuckets = 1, insertOnlyCols = insertOnlyCols,
        refreshExprs = refreshExprs, keepSnapshots = keepSnapshots)
      return
    }
    val root = new Path(targetPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hadoopConf)
    adoptLegacyTarget(fs, hadoopConf, targetPath)
    val current = currentSnapshot(spark, targetPath)
    val target = current match {
      case Some(snap) => Parquet.read(spark, new Path(root, snap).toString)
      case None => emptyTargetFor(spark, updates, refreshExprs)
    }
    val merged = merge(target, updates, keys, insertOnlyCols, refreshExprs,
      evolveSchema)

    // Monotonic snapshot ids; a crashed attempt's orphan dir at the next id
    // is simply overwritten by the retry (merge is idempotent).
    val nextId = current.map(_.stripPrefix("snap-").toLong + 1).getOrElse(0L)
    val snapName = f"snap-$nextId%09d"
    val writer = parquetWriter(merged)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(new Path(root, snapName).toString)

    // Publish: claim the id with a create-exclusive marker (cross-process
    // loud conflict, round 9 — see claimSnapshotId), then write the
    // pointer beside the target and rename-with-overwrite onto _current —
    // a single-file atomic replace. This layout is SINGLE-WRITER by
    // contract (every run is a full rewrite; the manifest-bucketed layout
    // is the concurrent-writer path): a detected race fails LOUDLY
    // instead of silently losing one writer's merge — the merge is
    // idempotent, so rerunning the failed batch recovers.
    if (currentSnapshot(spark, targetPath) != current)
      throw new CommitConflictException(
        s"concurrent commit detected on single-writer snapshot target " +
          s"$targetPath (expected $current): rerun this merge, or use " +
          "mergeIntoManifestBucketedParquet for concurrent writers")
    claimSnapshotId(fs, targetPath, snapName)
    if (!publishPointer(fs, hadoopConf, targetPath, snapName, nextId.toString))
      throw new CommitConflictException(
        s"concurrent commit detected on single-writer snapshot target " +
          s"$targetPath (a newer snapshot published first): rerun this merge")

    // GC: keep the newest `keepSnapshots` snapshot dirs (the committed one
    // is the newest by construction); delete older ones + their claim
    // markers, crashed runs' future-id orphans, and stale pointer tmps.
    // Best-effort: the pointer is published — see bestEffortMaintenance.
    bestEffortMaintenance(targetPath, snapName) {
      val retained = (nextId - keepSnapshots + 1) to nextId
      fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        val staleSnap = st.isDirectory && n.startsWith("snap-") &&
          !retained.contains(n.stripPrefix("snap-").toLong)
        val staleMarker = !st.isDirectory && n.endsWith(".commit") &&
          idOf(n.stripSuffix(".commit"), "snap-").exists(!retained.contains(_))
        if (staleSnap || staleMarker ||
            (!st.isDirectory && n.startsWith("_current.tmp-")))
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Run post-commit maintenance (retention GC, stale-marker sweeps)
    * best-effort: once the commit point has passed, a maintenance failure
    * must not propagate — the caller (or its retry wrapper) cannot tell
    * it from a lost merge and would re-run an already-committed batch
    * (at-least-once where the protocol promises exactly-once; observed in
    * the 8-writer CAS stress as an extra snapshot id). Partial sweeps are
    * idempotent; the next commit's retention converges. */
  private def bestEffortMaintenance(targetPath: String, snapName: String)(
      body: => Unit): Unit =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] post-commit maintenance of $targetPath" +
          s" $snapName failed (${e.getClass.getSimpleName}: ${e.getMessage});" +
          " the commit stands — the next commit's retention will converge")
    }

  /** Empty frame with the schema a manifest recorded (`schema_ddl`,
    * written since round 8) — how a fully-erased table stays readable.
    * Manifests too old to carry the field throw, as before. */
  private[graft] def emptyFromManifest(spark: SparkSession, body: String,
      what: String): DataFrame =
    parseManifestString(body, "schema_ddl") match {
      case Some(ddl) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
      case None => throw new IllegalStateException(
        s"$what holds no data files and records no schema (pre-round-8 manifest)")
    }

  /** Time travel: read a merge target AS OF a retained snapshot (a name
    * from [[snapshots]]). Works for both the plain snapshot-pointer layout
    * (reads the snapshot dir) and the manifest-bucketed layout (reads the
    * file set recorded in that snapshot's manifest — data files are
    * immutable and shared across manifests, so any retained manifest is a
    * consistent table version). A snapshot whose manifest lists NO files
    * (a complete erasure emptied every bucket — a legal state) reads as an
    * empty frame with the recorded schema. */
  def readTargetAt(spark: SparkSession, targetPath: String,
      snapshot: String): DataFrame = {
    val mf = new Path(targetPath, s"$snapshot.manifest.json")
    if (mf.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mf)) {
      val body = manifestBody(spark, targetPath, Some(snapshot)).get
      readEntries(spark, targetPath, body,
        parseManifestEntries(body).values.flatten.toSeq,
        s"manifest $snapshot under $targetPath")
    } else Parquet.read(spark, new Path(targetPath, snapshot).toString)
  }

  /** Change-data-feed: the row-level diff between two retained snapshots
    * of a merge target — Delta/Iceberg's CDC read for this layout, the
    * backfill/audit answer to "what did the merges between A and B do".
    * Emits one row per changed key: `change_type` (`insert` / `update` /
    * `delete`) + key columns + the after-image data columns (before-image
    * for deletes). Rows rewritten with IDENTICAL values are excluded —
    * a bucket rewrite carries its cohabitant rows through unchanged, and
    * value-level comparison (null-safe, complex types included) filters
    * them back out.
    *
    * Scale shape: on the manifest-bucketed layout the diff PRUNES to the
    * buckets whose file lists differ between the two manifests —
    * metadata-only I/O decides, then both sides read ONLY rewritten
    * buckets, so CDC between adjacent snapshots costs O(merge batch +
    * cohabitants), never a table scan (pinned by a file-level assertion
    * in CdcSpec). Data files are immutable and shared across manifests,
    * which is what makes any retained pair a consistent diff. The plain
    * snapshot-dir layout falls back to a full two-sided diff. Both
    * snapshots must share the key/data schema (columns are resolved by
    * the newer snapshot's names). */
  def changesBetween(spark: SparkSession, targetPath: String,
      fromSnapshot: String, toSnapshot: String, keys: Seq[String]): DataFrame = {
    val fromBody = manifestBody(spark, targetPath, Some(fromSnapshot))
    val toBody = manifestBody(spark, targetPath, Some(toSnapshot))
    (fromBody, toBody) match {
      case (Some(fb), Some(tb)) =>
        val fm = parseManifestEntries(fb)
        val tm = parseManifestEntries(tb)
        val (fd, td) = (parseRowDeletes(fb), parseRowDeletes(tb))
        // a bucket changed when its files or their superseded rows did
        def state(m: Map[Int, Seq[String]], d: Map[String, Seq[Long]], b: Int) =
          m.getOrElse(b, Nil).map(f => f -> d.getOrElse(f, Nil).toSet).toSet
        val changed = (fm.keySet ++ tm.keySet).filter(b =>
          state(fm, fd, b) != state(tm, td, b))
        def readSide(m: Map[Int, Seq[String]], body: String): DataFrame =
          readEntries(spark, targetPath, body,
            changed.toSeq.sorted.flatMap(b => m.getOrElse(b, Nil)),
            s"snapshot side of changesBetween under $targetPath")
        snapshotDiff(readSide(fm, fb), readSide(tm, tb), keys)
      case _ =>
        snapshotDiff(readTargetAt(spark, targetPath, fromSnapshot),
          readTargetAt(spark, targetPath, toSnapshot), keys)
    }
  }

  /** Row-level classification behind [[changesBetween]]: full outer join
    * on the keys, presence markers, null-safe value comparison over every
    * non-key column. */
  private def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    // internal layout columns (__bucket and friends) are excluded from
    // both comparison and output: they are physical placement, not data —
    // a rebucketing compaction between snapshots would otherwise report
    // the whole table as spurious 'update's (CdcSpec pins this)
    val dataCols = newDf.columns
      .filterNot(c => keys.contains(c) || c.startsWith("__")).toSeq
    // keys match null-safely, as the merge matched them: an unchanged
    // NULL-keyed row is no change
    val o = oldDf.select((keys.map(k => col(k).as(s"__ko_$k")) ++
      dataCols.map(c => col(c).as(s"__old_$c"))): _*)
      .withColumn("__in_old", lit(true))
    val n = newDf.select((keys.map(k => col(k).as(s"__kn_$k")) ++
      dataCols.map(c => col(c).as(s"__new_$c"))): _*)
      .withColumn("__in_new", lit(true))
    val anyDiff = dataCols.map(c => !(col(s"__old_$c") <=> col(s"__new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    keys.foldLeft(o.join(n,
        keys.map(k => col(s"__ko_$k") <=> col(s"__kn_$k")).reduce(_ && _), "full_outer")) {
        (df, k) => df.withColumn(k, coalesce(col(s"__kn_$k"), col(s"__ko_$k")))
      }
      .withColumn("change_type",
        when(col("__in_old").isNull, lit("insert"))
          .when(col("__in_new").isNull, lit("delete"))
          .when(anyDiff, lit("update")))
      .where(col("change_type").isNotNull)
      .select(col("change_type") +: keys.map(col) ++: dataCols.map(c =>
        when(col("change_type") === "delete", col(s"__old_$c"))
          .otherwise(col(s"__new_$c")).as(c)): _*)
  }

  /** Incremental change-feed read over a merge target — the consumer
    * face of [[changesBetween]] (Delta CDF / Iceberg incremental-read
    * shape): a downstream job POLLS this with its stored cursor and gets
    * exactly the rows the merges since then changed, plus the new cursor
    * to persist for the next poll.
    *
    *  - `sinceSnapshot = None` bootstraps: every current row comes back
    *    as an `insert` and the cursor is the current snapshot — the
    *    initial-load contract CDC consumers expect.
    *  - `sinceSnapshot = Some(cursor)` returns the NET row-level diff
    *    from that snapshot to the current one (a key updated twice shows
    *    once with its final value; an insert-then-delete nets out —
    *    per-commit granularity is polling more often, or walking
    *    adjacent retained pairs with [[changesBetween]] directly).
    *  - A cursor that has been vacuumed away fails LOUD with a
    *    re-bootstrap instruction — silently returning a partial diff
    *    would corrupt the consumer's mirror.
    *
    * Scale shape is [[changesBetween]]'s: on the manifest layout the
    * diff prunes to buckets whose file lists differ, so a poll costs
    * O(changed buckets), never a table scan. Retention is the contract:
    * keep at least as many snapshots (vacuum `--keep-snapshots`) as the
    * slowest consumer's poll lag. */
  def readChangeFeed(spark: SparkSession, targetPath: String,
      sinceSnapshot: Option[String], keys: Seq[String]): (DataFrame, String) = {
    val current = currentSnapshot(spark, targetPath).getOrElse(
      throw new IllegalArgumentException(
        s"readChangeFeed: no merge target at $targetPath"))
    sinceSnapshot match {
      case None =>
        val cur = readTargetAt(spark, targetPath, current)
        val dataCols = cur.columns
          .filterNot(c => keys.contains(c) || c.startsWith("__")).toSeq
        (cur.select(lit("insert").as("change_type") +:
          (keys ++ dataCols).map(col): _*), current)
      case Some(cursor) =>
        require(snapshots(spark, targetPath).contains(cursor),
          s"readChangeFeed: cursor snapshot '$cursor' is no longer retained " +
            s"under $targetPath (vacuumed?) — re-bootstrap with sinceSnapshot=None")
        (changesBetween(spark, targetPath, cursor, current, keys), current)
    }
  }

  /** Fold one change-feed batch into a downstream mirror: deletes drop
    * their keys, inserts/updates replace theirs — `applyChanges(mirror,
    * feed)` after every poll keeps the mirror equal to the source
    * snapshot the feed's cursor names (pinned cross-run in CdcSpec).
    * One key-partitioned anti join + a union: O(mirror ⋈ |feed keys|),
    * with the feed side usually broadcast-sized. */
  def applyChanges(state: DataFrame, changes: DataFrame,
      keys: Seq[String]): DataFrame = {
    val touched = changes.select(keys.map(col): _*).distinct()
    val untouched = joinKeys(state, touched, keys, "left_anti")
    val upserts = changes.where(col("change_type") =!= "delete")
      .select(state.columns.map(col).toSeq: _*)
    untouched.unionByName(upserts)
  }

  /** One poll of the change feed applied to a PERSISTED downstream
    * mirror — [[readChangeFeed]]'s consumer loop packaged as an operator
    * (the Delta "CDF-maintained materialization" shape): bootstraps the
    * mirror on first call, then folds each poll's net diff through
    * [[applyChanges]] inside an [[IndexStore]] commit, and records the
    * cursor AFTER the data commits. A crash between the two re-applies
    * the same feed on the next sync — harmless, because applying one
    * feed twice is idempotent (deletes re-delete nothing, upserts
    * rewrite the same values): at-least-once polling, exactly-once
    * mirror state. Single-consumer per mirror by contract (two pollers
    * sharing one cursor file would race it). Returns the cursor now
    * recorded — the target snapshot the mirror equals.
    *
    * Cost per sync is the feed's (bucket-pruned diff) plus one mirror
    * store rewrite; the CLI face is `RunMaintain mirror`. */
  def syncMirror(spark: SparkSession, targetPath: String, mirrorPath: String,
      keys: Seq[String]): String = {
    val dataRoot = s"$mirrorPath/data"
    val cursorPath = new Path(mirrorPath, "_cursor")
    val fs = cursorPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val since: Option[String] =
      if (!fs.exists(cursorPath)) None
      else {
        val in = fs.open(cursorPath)
        val bytes = new java.io.ByteArrayOutputStream()
        try {
          val buf = new Array[Byte](4096)
          var n = in.read(buf)
          while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        Some(bytes.toString("UTF-8").trim)
      }
    val (feed, next) = readChangeFeed(spark, targetPath, since, keys)
    if (!since.contains(next)) {
      val f = feed.localCheckpoint()
      IndexStore.rewriteWith(spark, dataRoot)(() => {
        val data = since match {
          case None => f.drop("change_type")
          case Some(_) => applyChanges(IndexStore.read(spark, dataRoot), f, keys)
        }
        (data, None)
      })
      // cursor AFTER the data commit (temp + rename, WatermarkStore's
      // atomic-ish pattern); a crash before this line replays the feed
      val tmp = new Path(mirrorPath, "_cursor.tmp")
      val out = fs.create(tmp, true)
      try out.write(next.getBytes("UTF-8")) finally out.close()
      if (fs.exists(cursorPath)) fs.delete(cursorPath, false)
      fs.rename(tmp, cursorPath)
    }
    next
  }

  /** Read the current contents of a [[syncMirror]]-maintained mirror. */
  def readMirror(spark: SparkSession, mirrorPath: String): DataFrame =
    IndexStore.read(spark, s"$mirrorPath/data")

  /** Layout-health census of a merge target — the numbers the
    * compaction decision needs, metadata-only (manifest + file statuses,
    * no data read): one row per bucket `(bucket, n_files, bytes)` for
    * the manifest layout, a single `bucket = -1` row for the plain
    * snapshot layout. Feed it to `RunMaintain stats` for the
    * small-file / bucket-skew summary that says when `table-compact`
    * (or `--rebucket`) is due. `superseded_rows` maps each file of the
    * bucket that has rows a merge-on-read commit superseded to their
    * count: the dead rows `table-compact` reclaims (empty when none). */
  def tableStats(spark: SparkSession, targetPath: String): DataFrame = {
    import spark.implicits._
    val snap = currentSnapshot(spark, targetPath).getOrElse(
      throw new IllegalArgumentException(s"no merge target at $targetPath"))
    val fs = new Path(targetPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def len(f: String): Long = fs.getFileStatus(new Path(f)).getLen
    val rows = manifestBody(spark, targetPath, Some(snap)) match {
      case Some(body) =>
        val deletes = parseRowDeletes(body)
        parseManifestEntries(body).toSeq.map { case (b, files) =>
          val resolved = files.map(resolveEntry(targetPath, _))
          (b, files.size.toLong, resolved.map(len).sum,
            files.flatMap(f => deletes.get(f).map(f -> _.size.toLong)).toMap)
        }
      case None =>
        val files = fs.listStatus(new Path(targetPath, snap)).toSeq
          .filter(st => !st.isDirectory &&
            st.getPath.getName.endsWith(".parquet"))
        Seq((-1, files.size.toLong, files.map(_.getLen).sum, Map.empty[String, Long]))
    }
    rows.toDF("bucket", "n_files", "bytes", "superseded_rows")
  }

  /** Snapshot names currently on disk under a merge target, oldest first
    * — snapshot DIRS (plain layout) or retained manifest FILES
    * (manifest-bucketed layout). Once a manifest is committed, `snap-<n>/`
    * directories are the adopted files of the table, not snapshots of
    * it, and are not listed. Read one with [[readTargetAt]]. */
  def snapshots(spark: SparkSession, targetPath: String): Seq[String] = {
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else {
      val listing = fs.listStatus(root).toSeq
      val manifests = listing.collect {
        case st if !st.isDirectory && st.getPath.getName.startsWith("snap-") &&
            st.getPath.getName.endsWith(".manifest.json") =>
          st.getPath.getName.stripSuffix(".manifest.json")
      }
      if (manifests.nonEmpty) manifests.sorted
      else listing.collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("snap-") =>
          st.getPath.getName
      }.sorted
    }
  }

  // ------------------------------------------------------------------
  // Manifest-bucketed target: incremental merge + atomic commit TOGETHER.
  //
  //   <targetPath>/data/run-<id>/__bucket_p=<k>/part-*.parquet  (immutable)
  //   <targetPath>/snap-<id>.manifest.json   bucket -> [file paths]
  //   <targetPath>/_current                  pointer file (atomic replace)
  //
  // mergeIntoParquet commits atomically but rewrites the whole table.
  // This layout also rewrites only touched buckets: a run writes NEW
  // files for its touched buckets only, the new manifest re-points those
  // buckets while untouched buckets keep their existing file entries (no
  // data copied), and the commit is one pointer-file replace. Data files
  // are immutable — a crash anywhere leaves the old manifest's file set
  // fully intact. The same idea as table formats like Iceberg/Delta,
  // reduced to the single-writer pipeline this engine needs.
  // `__bucket` rides IN the data files (the `__bucket_p=` directory level
  // exists only to split files per bucket at write time), so manifest
  // readers need no partition-discovery basePath.
  //
  // One bucket (`nBuckets = 1`, what `Pipeline.run` commits by default)
  // is merge-on-read, the delta-based row-level model of Spark DSv2's
  // `SupportsDelta`:
  //
  //   <targetPath>/data/run-<id>/part-*.parquet   no __bucket column
  //   "0": [every file], "row_deletes": [["<file>", row index, ...], ...]
  //
  // A merge writes only the batch's post-merge rows as new files
  // appended to entry 0, and records the (file, `_metadata.row_index`)
  // positions of the target rows they supersede; the old files are never
  // rewritten. Every reader of entries goes through [[readEntries]],
  // which turns the positions into a scan-side filter; a reader that
  // cannot (the DSv2 scan, the appends stream) refuses the table with
  // [[MergeOnReadUnsupportedException]] ([[requireNoSuperseded]],
  // [[requireHashBuckets]]). A merge also rewrites, in its one write, the
  // files whose recorded rows pass [[MaxDeadFraction]] of their rows, so
  // dead rows and positions stay bounded without maintenance. Compaction
  // rewrites every file that carries positions and drops them; erasure
  // rewrites every file that holds a copy of an erased key, live or
  // superseded. Before its first manifest commit a one-bucket
  // table adopts an existing flat snapshot directory or plain target in
  // place (entries outside `data/`); the GC reclaims those files once no
  // retained manifest references them.
  // ------------------------------------------------------------------

  /** Manifest entries are stored RELATIVE to the table root (e.g.
    * `data/run-000000001/__bucket_p=3/part-x.parquet`): absolute qualified
    * paths would make liveness-by-string-compare break on any
    * `fs.defaultFS`/qualification drift or table relocation — the GC would
    * see every referenced file as dead and delete it. Entries that do look
    * absolute (legacy manifests: a leading `/` or a scheme) still resolve
    * verbatim. */
  private[graft] def resolveEntry(targetPath: String, entry: String): String =
    if (entry.startsWith("/") || entry.contains("://")) entry
    else new Path(targetPath, entry).toString

  /** Scheme/authority-free normal form used ONLY for liveness compares. */
  private def normalize(fs: org.apache.hadoop.fs.FileSystem, p: Path): String =
    fs.makeQualified(p).toUri.getPath

  private def relativizeToRoot(fs: org.apache.hadoop.fs.FileSystem,
      targetPath: String, p: Path): String = {
    val rootN = normalize(fs, new Path(targetPath))
    val fileN = normalize(fs, p)
    if (fileN.startsWith(rootN + "/")) fileN.substring(rootN.length + 1)
    else fileN // outside the root (shouldn't happen): keep absolute
  }

  private def readFileBody(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** THE manifest parser — the read path, the GC liveness sweep, and
    * [[vacuum]] all go through this one function, so "what the table
    * reads" and "what the GC keeps" cannot drift apart (a regex that
    * under-matched here would turn into silent data deletion there). */
  private[graft] def parseManifestEntries(body: String): Map[Int, Seq[String]] =
    "\"(\\d+)\"\\s*:\\s*\\[([^\\]]*)\\]".r.findAllMatchIn(body).map { m =>
      m.group(1).toInt -> m.group(2).split(",").map(_.trim)
        .filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
    }.toMap

  /** Top-level scalar metadata fields (round 8 format additions). Older
    * manifests simply lack them — every reader treats that as None. */
  private[graft] def parseManifestLong(body: String, field: String): Option[Long] =
    s""""$field"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong)

  private[graft] def parseManifestString(body: String, field: String): Option[String] =
    (s""""$field"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r.findFirstMatchIn(body)
      .map(m => m.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))

  /** The target rows a merge-on-read commit superseded, as recorded in a
    * manifest: relative entry -> Parquet row indexes (`_metadata.row_index`)
    * within that file. Field `"row_deletes": [["<rel>", i, j, ...], ...]`:
    * arrays, not an object, so no entry name can ever read as a bucket id
    * to [[parseManifestEntries]]. Absent field: no superseded rows.
    * Scanned by hand, not by a repeated regex group: java.util.regex
    * recurses once per repetition of a group, so a file with thousands
    * of positions would overflow the stack. */
  private[graft] def parseRowDeletes(body: String): Map[String, Seq[Long]] =
    """"row_deletes"\s*:\s*\[""".r.findFirstMatchIn(body).map { m =>
      def malformed(at: Int) = new IllegalStateException(
        s"malformed row_deletes field in a manifest at offset $at")
      val out = Map.newBuilder[String, Seq[Long]]
      var i = m.end
      def skip(): Unit =
        while (i < body.length && (body(i).isWhitespace || body(i) == ',')) i += 1
      skip()
      while (i < body.length && body(i) == '[') {
        val q0 = body.indexOf('"', i)
        val q1 = if (q0 < 0) -1 else body.indexOf('"', q0 + 1)
        val end = if (q1 < 0) -1 else body.indexOf(']', q1)
        if (end < 0) throw malformed(i)
        out += body.substring(q0 + 1, q1) -> body.substring(q1 + 1, end).split(',')
          .iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toVector
        i = end + 1
        skip()
      }
      if (i >= body.length || body(i) != ']') throw malformed(i)
      out.result()
    }.getOrElse(Map.empty)

  /** Whether any of `rels` has rows that `body` records as superseded
    * and `since` (a manifest the reader already served) does not. */
  private[graft] def hasSuperseded(body: String, rels: Iterable[String],
      since: String = ""): Boolean = {
    val (now, before) = (parseRowDeletes(body), parseRowDeletes(since))
    rels.exists(r => now.get(r).exists(rows => !before.get(r).contains(rows)))
  }

  /** THE refusal of a connector that cannot serve a one-bucket
    * merge-on-read table: a reader of `rels` when [[hasSuperseded]]
    * holds (it would serve superseded rows). `who` names the reader,
    * `instead` the way to do it. */
  private[graft] def requireNoSuperseded(path: String, body: String,
      rels: Iterable[String], who: String, instead: String, since: String = ""): Unit =
    if (hasSuperseded(body, rels, since)) throw new MergeOnReadUnsupportedException(
      s"$who cannot serve $path: merge-on-read commits recorded rows of it " +
        s"as superseded, and it would serve them. $instead")

  /** The same refusal for a writer of the hash-bucket placement column
    * (`__bucket`), which a one-bucket table (`nBuckets <= 1`) has not. */
  private[graft] def requireHashBuckets(path: String, nBuckets: Int,
      who: String, instead: String): Unit =
    if (nBuckets <= 1) throw new MergeOnReadUnsupportedException(
      s"$who cannot serve $path: it is a one-bucket merge-on-read table, " +
        s"and it would write the __bucket placement column. $instead")

  /** Manifest field for [[parseRowDeletes]]; nothing when empty. */
  private def rowDeletesField(deletes: Map[String, Seq[Long]]): Seq[String] =
    if (deletes.isEmpty) Nil
    else Seq(deletes.toSeq.sortBy(_._1).map { case (rel, rows) =>
      (("\"" + rel + "\"") +: rows.distinct.sorted.map(_.toString)).mkString("[", ",", "]")
    }.mkString(""""row_deletes": [""", ",", "]"))

  /** The recorded superseded rows of `prior` that still name a file of
    * the next manifest (`referenced`), plus `fresh` ones: the deletes a
    * commit carries forward. A file that leaves the manifest takes its
    * deletes with it. */
  private def carriedDeletes(prior: Map[String, Seq[Long]],
      fresh: Map[String, Seq[Long]], referenced: Set[String]): Map[String, Seq[Long]] =
    (prior.keySet ++ fresh.keySet).filter(referenced).map { rel =>
      rel -> (prior.getOrElse(rel, Nil) ++ fresh.getOrElse(rel, Nil)).distinct
    }.toMap

  /** Columns [[readEntries]] adds with `withPositions`: the row's file as
    * Spark's `_metadata.file_path` names it, and its row index there. */
  private val PosFile = "__pos_file"
  private val PosRow = "__pos_row"

  /** The relative entry among `rels` that a `_metadata.file_path` names. */
  private def entryOfUri(fs: org.apache.hadoop.fs.FileSystem, targetPath: String,
      rels: Seq[String]): String => Option[String] = {
    val byPath = rels.map(r => normalize(fs, new Path(resolveEntry(targetPath, r))) -> r).toMap
    uri => byPath.get(normalize(fs, new Path(new java.net.URI(uri))))
  }

  /** THE reader of manifest entries: `rels` (entries of the manifest
    * `body`) as one frame, without the rows the manifest records as
    * superseded. The driver-held positions become a scan-side filter on
    * `_metadata.file_path` / `_metadata.row_index`, so building the frame
    * runs no job. Entries are relative, so the positions stay valid when
    * the table is moved or hard-linked elsewhere. No entries: an empty
    * frame with the recorded schema (`what` names the read in the error
    * of a manifest too old to record one). `withPositions` adds
    * [[PosFile]] / [[PosRow]] for a commit that supersedes rows. */
  private[graft] def readEntries(spark: SparkSession, targetPath: String,
      body: String, rels: Seq[String], what: => String,
      withPositions: Boolean = false): DataFrame =
    if (rels.isEmpty) emptyFromManifest(spark, body, what)
    else {
      val df = Parquet.readFiles(spark, rels.map(resolveEntry(targetPath, _)))
      val deletes = parseRowDeletes(body)
      // a row of `rel` has a `_metadata.file_path` (Spark's qualified URI
      // of the file) ending with the entry's URI-encoded path: the
      // suffix, so neither the scheme's spelling (`file:/` or `file:///`)
      // nor the table's location matters
      val dropped = rels.distinct.flatMap { rel =>
        deletes.get(rel).map { rows =>
          col("_metadata.file_path").endsWith("/" + new Path(rel).toUri.getRawPath) &&
            col("_metadata.row_index").isInCollection(rows)
        }
      }
      val live = if (dropped.isEmpty) df else df.where(!dropped.reduce(_ || _))
      if (!withPositions) live
      else live.withColumn(PosFile, col("_metadata.file_path"))
        .withColumn(PosRow, col("_metadata.row_index"))
    }

  /** Refusal of a reader or writer that cannot honour the merge-on-read
    * layout: serving a superseded row, or writing the hash-bucket
    * placement column into a one-bucket table. */
  final class MergeOnReadUnsupportedException(msg: String)
      extends UnsupportedOperationException(msg)

  /** Structural completeness check for a manifest body (ADVICE r16): the
    * local hard-link publish and the tmp+rename publish are content-atomic,
    * but a store outside both paths (or a pre-round-17 writer) can expose
    * a manifest mid-write — empty, or truncated where the regex parsers
    * would silently drop the tail entries and serve a partial table. A
    * committed body is one brace-balanced JSON object (the only nested
    * braces are `file_stats`, and no string value contains a brace), so a
    * prefix of one can never pass: truncation either cuts the final `}`
    * or unbalances the `file_stats` object. Used by the roll-forward
    * reader before PREFERRING a newer manifest over the pointed one —
    * never to reject an explicitly-requested snapshot. */
  private[graft] def isCompleteManifest(body: String): Boolean = {
    val t = body.trim
    t.nonEmpty && t.head == '{' && t.last == '}' &&
      t.count(_ == '{') == t.count(_ == '}')
  }

  /** Body of the manifest to read: the requested `snapshot` when given,
    * else the LIVE one. "Live" is NOT just what `_current` points at:
    * manifest CREATION is the commit point and the pointer publish is
    * best-effort post-commit maintenance, so a swallowed publish failure
    * (or a crash between the two) can leave the pointer one commit
    * behind — a pure reader that trusted it would silently serve the
    * previous table version until the next writer repaired it (ADVICE
    * r15). The read path therefore rolls FORWARD itself: if any
    * committed manifest is newer than the pointed one, the newest wins,
    * and the pointer is repaired best-effort in passing so later readers
    * skip the listing. A pointed-at manifest that no longer exists
    * (pointer outlived retention after a partial GC) heals the same way. */
  private[graft] def manifestBody(spark: SparkSession, targetPath: String,
      snapshot: Option[String]): Option[String] = {
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bodyOf(snap: String): Option[String] = {
      val p = new Path(targetPath, s"$snap.manifest.json")
      if (fs.exists(p)) Some(readFileBody(fs, p)) else None
    }
    // Roll-forward candidates are validated with [[isCompleteManifest]]
    // before being preferred over the pointed manifest: a visible-but-
    // mid-write manifest (non-content-atomic store) reads empty or
    // truncated TRANSIENTLY, so an incomplete body gets a couple of short
    // re-reads, then the next-newest complete manifest (ultimately the
    // pointed one — always post-commit-published, hence complete) wins.
    def completeBodyOf(id: Long): Option[String] = {
      var tries = 0
      while (tries < 3) {
        bodyOf(f"snap-$id%09d") match {
          case None => return None
          case Some(b) if isCompleteManifest(b) => return Some(b)
          case Some(_) => tries += 1; if (tries < 3) Thread.sleep(25L)
        }
      }
      System.err.println(s"[graft] snap id $id of $targetPath is visible " +
        "but incomplete (mid-write or torn publish) — roll-forward is " +
        "skipping it")
      None
    }
    def newestCompleteAbove(floor: Long): Option[String] =
      committedIds(fs, root).filter(_ > floor).sorted.reverse.iterator
        .map(completeBodyOf).collectFirst { case Some(b) => b }
    snapshot match {
      case Some(snap) => bodyOf(snap)
      case None =>
        val pointed = currentSnapshot(spark, targetPath)
        val pointedId = pointed.flatMap(idOf(_, "snap-"))
        val newestId = committedIds(fs, root).sorted.lastOption
        (pointedId, newestId) match {
          case (Some(p), Some(n)) if n > p =>
            newestCompleteAbove(p) match {
              case Some(b) =>
                try repairPointer(spark, targetPath)
                catch { case scala.util.control.NonFatal(_) => } // reader may lack write access
                Some(b)
              case None => pointed.flatMap(bodyOf) // nothing complete above
            }
          case (Some(_), _) =>
            pointed.flatMap(bodyOf).orElse(newestCompleteAbove(Long.MinValue))
          case (None, Some(_)) =>
            // committed manifests but no pointer at all: a crash before
            // the very first publish — same roll-forward
            try repairPointer(spark, targetPath)
            catch { case scala.util.control.NonFatal(_) => }
            newestCompleteAbove(Long.MinValue)
          case (None, None) => None
        }
    }
  }

  /** Bucket count this manifest-bucketed target was written with, stored
    * in the manifest since round 8 — the erasure/merge jobs read it back
    * so a caller passing a WRONG `--merge-buckets` cannot silently prune
    * to the wrong buckets and leave keys unerased. */
  def storedNBuckets(spark: SparkSession, targetPath: String): Option[Int] =
    manifestBody(spark, targetPath, None)
      .flatMap(parseManifestLong(_, "nBuckets")).map(_.toInt)

  /** Resolve the effective bucket count: the one `body` (the manifest a
    * commit attempt read) stores wins over the caller's argument (with a
    * stderr note on mismatch); the argument is only trusted for
    * pre-round-8 manifests that never recorded it. */
  private def effectiveNBuckets(targetPath: String, body: Option[String],
      passed: Int): Int = body.flatMap(parseManifestLong(_, "nBuckets")).map(_.toInt) match {
    case Some(stored) =>
      if (stored != passed)
        System.err.println(s"[graft] $targetPath was bucketed nBuckets=$stored; " +
          s"ignoring mismatched argument $passed")
      stored
    case None => passed
  }

  /** The committed manifest of a manifest-bucketed target:
    * bucket -> immutable data-file paths, resolved against the table root
    * (directly readable; on a one-bucket merge-on-read table they still
    * hold the superseded rows [[readManifestTable]] drops). Empty if never
    * committed. */
  def readBucketManifest(spark: SparkSession,
      targetPath: String): Map[Int, Seq[String]] =
    manifestBody(spark, targetPath, None).map(parseManifestEntries)
      .getOrElse(Map.empty).map { case (b, files) =>
        b -> files.map(resolveEntry(targetPath, _))
      }

  /** Read a manifest-bucketed target, optionally pruned to `buckets` —
    * pruning selects manifest ENTRIES, so unneeded files are never listed,
    * let alone scanned — and/or to `ranges` over the manifest's per-file
    * min/max stats ([[FileStats]], round 10): a file whose recorded
    * interval cannot intersect every range is dropped BEFORE Spark lists
    * or opens it. Stats pruning is always sound: a column with no
    * recorded stats (legacy manifest, unsupported type) never prunes, and
    * the caller's own `.where` still applies row-level. A
    * committed-but-empty table (or a prune that hits only emptied
    * buckets / out-of-range files) reads as an empty frame with the
    * recorded schema. */
  def readManifestTable(spark: SparkSession, targetPath: String,
      buckets: Option[Seq[Int]] = None,
      ranges: Seq[FileStats.ColRange] = Nil): DataFrame =
    manifestBody(spark, targetPath, None) match {
      case None =>
        throw new IllegalStateException(s"no committed data under $targetPath")
      case Some(body) =>
        val manifest = parseManifestEntries(body)
        val wantedRel = buckets match {
          case Some(bs) => bs.flatMap(b => manifest.getOrElse(b, Nil))
          case None => manifest.values.flatten.toSeq
        }
        val kept =
          if (ranges.isEmpty) wantedRel
          else {
            val (k, pruned) = FileStats.split(FileStats.parse(body), wantedRel, ranges)
            if (pruned.nonEmpty) // observability: never silently narrow a scan
              System.err.println(s"[graft] file-stats pruning dropped " +
                s"${pruned.size}/${wantedRel.size} files of $targetPath")
            k
          }
        readEntries(spark, targetPath, body, kept, s"committed state of $targetPath")
    }

  /** MERGE into a manifest-bucketed target (see layout note above): reads
    * only the touched buckets' files, writes only their replacements, and
    * commits with one atomic create-exclusive manifest. Cost per run
    * scales with the batch's bucket spread; a crash at any point is
    * invisible to readers. With one bucket the merge is merge-on-read
    * (see [[mergeOnRead]]): it writes only the batch's post-merge rows.
    *
    * CONCURRENT-WRITER SAFE (round 8): the commit is optimistic — if
    * another merge committed first, this one re-reads the new state,
    * re-merges, and retries. The retry budget is PROGRESS-AWARE (round
    * 9, [[chargeRetry]]): only failures with no concurrent commit count
    * against `maxRetries`, so safety is independent of how many writers
    * race. The reference enforced
    * single-writer only by orchestration (`max_active_runs=1`,
    * `embeddings-pipeline.py:92`); here it is a protocol guarantee.
    * The table's bucket count is recorded in the manifest on first commit
    * and WINS over a mismatched `nBuckets` argument thereafter. */
  def mergeIntoManifestBucketedParquet(
      spark: SparkSession,
      targetPath: String,
      updates: DataFrame,
      keys: Seq[String],
      nBuckets: Int = 256,
      insertOnlyCols: Set[String] = Set.empty,
      refreshExprs: Map[String, org.apache.spark.sql.Column] = Map.empty,
      keepSnapshots: Int = 1,
      maxRetries: Int = 5,
      statsCols: Seq[String] = Nil): Unit = {
    require(!updates.columns.contains("__bucket"), "updates must not carry __bucket")
    require(keepSnapshots >= 1, "keepSnapshots must be >= 1")
    var wasted = 0 // no-progress failures only; see chargeRetry
    var committed = false
    while (!committed) {
      val current = repairPointer(spark, targetPath)
      val body = manifestBody(spark, targetPath, current)
      val manifest = body.map(parseManifestEntries).getOrElse(Map.empty)
      val effN = effectiveNBuckets(targetPath, body, nBuckets)
      val nextId = nextFreeId(spark, targetPath, current)
      try {
        if (effN == 1)
          mergeOnRead(spark, targetPath, body, oneBucketBase(spark, targetPath, manifest),
            updates, keys, insertOnlyCols, refreshExprs, nextId, keepSnapshots,
            statsCols)
        else {
          requireManifestLayout(spark, targetPath, manifest)
          val withBucket = updates.withColumn("__bucket",
            pmod(xxhash64(keys.map(col): _*), lit(effN)).cast("int"))
          val touched = withBucket.select("__bucket").distinct()
            .collect().map(_.getInt(0)).sorted // O(nBuckets) driver-side ids
          val touchedFiles = touched.flatMap(b => manifest.getOrElse(b, Nil)).toSeq
          val merged =
            if (touchedFiles.isEmpty)
              refreshExprs.foldLeft(withBucket) { case (df, (c, e)) => df.withColumn(c, e) }
            else merge(readEntries(spark, targetPath, body.get, touchedFiles, ""),
              withBucket, keys, insertOnlyCols, refreshExprs)
          commitSnapshot(spark, targetPath, merged, touched.toIndexedSeq,
            manifest, keys, nextId, keepSnapshots, Some("__bucket"), effN,
            statsCols = statsCols)
        }
        committed = true
      } catch {
        case e: CommitConflictException =>
          wasted = chargeRetry(spark, targetPath, current, wasted, maxRetries, e)
        case scala.util.control.NonFatal(e)
            if racedSince(spark, targetPath, current) =>
          // a concurrent winner committed mid-attempt: this failure (e.g.
          // a task reading a file the winner's GC swept) is collateral,
          // not a merge bug — re-verify against the new state and retry
          // (ADVICE r8); the table advanced, so the retry is productive
          // and does not charge the budget
          wasted = 0
          collateralMergeRetries.incrementAndGet()
          System.err.println(s"[graft] merge attempt on $targetPath failed " +
            s"under a concurrent commit (${e.getClass.getSimpleName}); retrying")
      }
    }
  }

  /** One merge-on-read attempt on a one-bucket table whose entries are
    * `base` (read from `body`, the attempt's manifest): ONE Spark job
    * writes only the batch's post-merge rows — the rows [[merge]] gives
    * the batch, from `updates LEFT OUTER JOIN target` — as new files appended to
    * entry 0, and an `Observation` on that write collects the
    * (file, `_metadata.row_index`) positions of the target rows they
    * supersede. The commit records those positions beside the entries;
    * the old files are never rewritten. A retry after a lost commit race
    * recomputes the positions against the winner's manifest. The first
    * merge into an empty table joins an empty relation, which the
    * optimizer removes: the commit writes the batch as [[merge]] would. */
  private def mergeOnRead(spark: SparkSession, targetPath: String,
      body: Option[String], base: Map[Int, Seq[String]], updates: DataFrame,
      keys: Seq[String], insertOnlyCols: Set[String],
      refreshExprs: Map[String, org.apache.spark.sql.Column], nextId: Long,
      keepSnapshots: Int, statsCols: Seq[String]): Unit = {
    import org.apache.spark.sql.{Observation, Row}
    val rels = base.getOrElse(0, Nil)
    val worn = body.fold(Seq.empty[String])(wornFiles(spark, targetPath, _, rels))
    val target =
      if (rels.isEmpty) emptyTargetFor(spark, updates, refreshExprs)
        .withColumn(PosFile, lit(null).cast("string"))
        .withColumn(PosRow, lit(null).cast("long"))
      else readEntries(spark, targetPath, body.getOrElse(""), rels,
        s"merge target $targetPath", withPositions = true)
    // [[merge]]'s output for the rows of the batch, matched or not:
    // every such row is touched
    val updateCols = updates.columns.toSet -- keys
    val outCols = target.columns.toSeq.filterNot(Set(PosFile, PosRow)).map { c =>
      if (keys.contains(c)) col(s"u.$c").as(c)
      else if (refreshExprs.contains(c)) refreshExprs(c).as(c)
      else if (!updateCols.contains(c)) col(s"t.$c").as(c)
      else if (insertOnlyCols.contains(c)) coalesce(col(s"t.$c"), col(s"u.$c")).as(c)
      else col(s"u.$c").as(c)
    }
    val obs = Observation()
    val batchRows = updates.as("u")
      .join(target.as("t"), keys.map(k => col(s"t.$k") <=> col(s"u.$k")).reduce(_ && _),
        "left_outer")
      .observe(obs, collect_list(when(col(s"t.$PosRow").isNotNull,
        struct(col(s"t.$PosFile"), col(s"t.$PosRow")))).as("superseded"))
      .select(outCols: _*)
    // the worn files' rows that stay live ride along in the same write;
    // the files leave the manifest, and their positions with them
    val rows = if (worn.isEmpty) batchRows
      else batchRows.unionByName(joinKeys(readEntries(spark, targetPath, body.get,
        worn, ""), updates, keys, "left_anti"))
    val relOf = entryOfUri(
      new Path(targetPath).getFileSystem(spark.sparkContext.hadoopConfiguration),
      targetPath, rels)
    def superseded(): Map[String, Seq[Long]] =
      if (rels.isEmpty) Map.empty
      else obs.get("superseded").asInstanceOf[scala.collection.Seq[Row]]
        .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1).map {
          case (uri, rs) => relOf(uri).getOrElse(throw new IllegalStateException(
            s"merge-on-read: superseded row in $uri, not an entry of $targetPath")) ->
            rs.map(_._2).distinct.toSeq
        }
    commitSnapshot(spark, targetPath, rows, Seq(0), Map(0 -> rels.filterNot(worn.toSet)),
      keys, nextId, keepSnapshots, partCol = None, nBuckets = 1, appendEntries = true,
      statsCols = statsCols, preClustered = true, supersede = () => superseded())
  }

  /** Share of a file's rows that may be recorded as superseded before
    * the next merge-on-read commit rewrites the file ([[wornFiles]]).
    * It bounds both the dead bytes a one-bucket table keeps and the
    * positions every read carries as a filter literal. */
  private val MaxDeadFraction = 0.3

  /** The files among `rels` whose superseded rows, as `body` records
    * them, are more than [[MaxDeadFraction]] of the file's rows. Row
    * counts come from the manifest's [[FileStats]], else (an adopted
    * file carries none) from the file's footer: driver metadata only,
    * and only for files that have positions. */
  private def wornFiles(spark: SparkSession, targetPath: String, body: String,
      rels: Seq[String]): Seq[String] = {
    val deletes = parseRowDeletes(body)
    val dirty = rels.distinct.filter(deletes.contains)
    if (dirty.isEmpty) Nil
    else {
      val stats = FileStats.parse(body)
      val conf = spark.sparkContext.hadoopConfiguration
      dirty.filter { rel =>
        val rows = FileStats.rowCount(stats.getOrElse(rel, Map.empty)).getOrElse(
          FileStats.rowCount(FileStats.collect(conf,
            Seq(rel -> resolveEntry(targetPath, rel)), Nil)(rel)).get)
        deletes(rel).size > MaxDeadFraction * rows
      }
    }
  }

  /** One commit that rewrites `subset` of a one-bucket table's files
    * (entry 0 holds `rels`, of manifest `body`): their live rows, less
    * those whose `keys` are in `erase`, become new files sorted by
    * `keys`; the rewritten files leave the manifest, and their recorded
    * positions with them. Shared by compaction and erasure. */
  private def rewriteOneBucketFiles(spark: SparkSession, targetPath: String,
      body: String, rels: Seq[String], subset: Seq[String], keys: Seq[String],
      erase: Option[DataFrame], nextId: Long, keepSnapshots: Int): Unit = {
    val live = readEntries(spark, targetPath, body, subset, "")
    commitSnapshot(spark, targetPath, erase.fold(live)(joinKeys(live, _, keys, "left_anti")),
      Seq(0), Map(0 -> rels.filterNot(subset.toSet)), keys, nextId, keepSnapshots,
      partCol = None, nBuckets = 1, appendEntries = true, preClustered = true)
  }

  /** The empty target a first merge (into either layout) joins: the
    * batch's columns, then the refreshed ones as timestamps. A local
    * relation, so the optimizer drops the join against it. */
  private def emptyTargetFor(spark: SparkSession, updates: DataFrame,
      refreshExprs: Map[String, org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(updates.schema.fields.filterNot(f => refreshExprs.contains(f.name)) ++
        refreshExprs.keys.map(k => StructField(k, TimestampType))))
  }

  /** Entries a one-bucket commit starts from: the committed manifest's,
    * or — before the table's first manifest commit — the files of an
    * existing flat snapshot directory (`snap-<n>/`, [[mergeIntoParquet]]'s
    * layout) or plain Parquet directory, adopted in place: the first
    * manifest lists them, nothing is moved or copied, and the GC reclaims
    * them once no retained manifest references them. A partitioned one
    * (subdirectories of data) cannot be listed as one bucket's files and
    * is refused, as is a legacy `__bucket=<k>/` directory. */
  private def oneBucketBase(spark: SparkSession, targetPath: String,
      manifest: Map[Int, Seq[String]]): Map[Int, Seq[String]] =
    if (manifest.nonEmpty) manifest
    else {
      val root = new Path(targetPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val listing = listSafe(fs, root)
      refuseForeignLayout(targetPath, listing, manifestWriter = false)
      val snapDir = currentSnapshot(spark, targetPath).map(new Path(root, _))
        .filter(fs.isDirectory)
      val dir = snapDir.getOrElse(root)
      val files = (if (snapDir.isDefined) listSafe(fs, dir) else listing).filter { st =>
        val n = st.getPath.getName
        // the root's own bookkeeping and a crashed manifest commit's
        // leftovers (`data/run-*`, manifest and claim files) are not data
        val layout = snapDir.isEmpty && (n == "data" || n.startsWith("snap-"))
        isDataFile(n) && !layout
      }
      files.find(_.isDirectory).foreach { st =>
        throw new IllegalStateException(s"$targetPath holds a partitioned " +
          s"table (${st.getPath.getName}/ under $dir); a one-bucket manifest " +
          "lists files, not partitions. Read it with Upsert.readTarget and " +
          "merge the rows into a fresh target")
      }
      if (files.isEmpty) Map.empty
      else Map(0 -> files.map(st => relativizeToRoot(fs, targetPath, st.getPath)).toSeq.sorted)
    }

  /** INSERT-ONLY commit on the manifest-bucketed layout (round 18): the
    * batch's rows land as NEW files in their hash buckets and the
    * manifest entries EXTEND — nothing is read, joined, or rewritten, so
    * ingest cost is O(batch) regardless of table size (the merge path
    * reads and rewrites every touched bucket; at 100 TB an append-only
    * feed should pay for its batch, not its cohabitants).
    *
    * Contract: key UNIQUENESS is the caller's (an appended key that
    * already exists simply coexists — use
    * [[mergeIntoManifestBucketedParquet]] for upsert semantics). In
    * exchange, two appends never rewrite a shared file, which is what
    * makes the table streamable as appends-per-snapshot
    * ([[graft.sources.GraftAppendsStream]]): each snapshot's new-file
    * set IS the batch. Same optimistic commit protocol as the merge —
    * concurrent appends/merges retry against the winner's state. */
  def appendToManifestBucketedParquet(
      spark: SparkSession,
      targetPath: String,
      rows: DataFrame,
      keys: Seq[String],
      nBuckets: Int = 256,
      keepSnapshots: Int = 1,
      maxRetries: Int = 5,
      statsCols: Seq[String] = Nil): Unit = {
    require(!rows.columns.contains("__bucket"), "rows must not carry __bucket")
    require(keepSnapshots >= 1, "keepSnapshots must be >= 1")
    var wasted = 0
    var committed = false
    while (!committed) {
      val current = repairPointer(spark, targetPath)
      val body = manifestBody(spark, targetPath, current)
      val manifest = body.map(parseManifestEntries).getOrElse(Map.empty)
      val effN = effectiveNBuckets(targetPath, body, nBuckets)
      // one bucket: no placement column, the rows extend entry 0
      val (placed, base, partCol) =
        if (effN == 1) (rows, oneBucketBase(spark, targetPath, manifest), None)
        else {
          requireManifestLayout(spark, targetPath, manifest)
          (rows.withColumn("__bucket",
            pmod(xxhash64(keys.map(col): _*), lit(effN)).cast("int")),
            manifest, Some("__bucket"))
        }
      val touched =
        if (partCol.isEmpty) (if (rows.isEmpty) Array.empty[Int] else Array(0))
        else placed.select("__bucket").distinct()
          .collect().map(_.getInt(0)).sorted
      if (touched.isEmpty) return // empty batch: nothing to commit
      val nextId = nextFreeId(spark, targetPath, current)
      try {
        commitSnapshot(spark, targetPath, placed, touched.toIndexedSeq,
          base, keys, nextId, keepSnapshots, partCol, effN,
          appendEntries = true, statsCols = statsCols,
          preClustered = partCol.isEmpty)
        committed = true
      } catch {
        case e: CommitConflictException =>
          wasted = chargeRetry(spark, targetPath, current, wasted, maxRetries, e)
        case scala.util.control.NonFatal(e)
            if racedSince(spark, targetPath, current) =>
          wasted = 0
          collateralMergeRetries.incrementAndGet()
          System.err.println(s"[graft] append attempt on $targetPath failed " +
            s"under a concurrent commit (${e.getClass.getSimpleName}); retrying")
      }
    }
  }

  /** Count of collateral (non-conflict) merge-retry events — a test seam:
    * ManifestMergeSpec tolerates a burned snapshot id ONLY when one of
    * these actually occurred, so a genuine double-commit regression
    * (burning ids without any collateral failure) still fails loudly. */
  private[operators] val collateralMergeRetries =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Another writer committed the snapshot id this attempt raced for. The
    * attempt's data files are already cleaned up; retry from the new
    * committed state ([[mergeIntoManifestBucketedParquet]] does so
    * automatically). */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** Age before the GC may delete a data file that NO manifest on disk
    * references: such a file is either a crashed attempt's orphan (safe to
    * delete, eventually) or a concurrent same-id loser still mid-write
    * (deleting it fails that writer with an arbitrary IOException instead
    * of a clean conflict — ADVICE r8). Files referenced by any manifest
    * are committed state and are never grace-delayed. Tests that assert
    * immediate orphan collection set this to 0. */
  private[operators] var gcGraceMs: Long =
    sys.props.getOrElse("graft.gc.graceMs", "900000").toLong

  // Test seams for deterministic race simulation (ManifestMergeSpec):
  // fire-once callbacks around the commit point, and a flag that makes
  // the manifest create NON-exclusive — modeling an object store whose
  // PUT blindly overwrites (no conditional PUT), where two racers are
  // both told their create succeeded.
  private[graft] var beforeManifestCreateHook: Option[(String, Long) => Unit] = None
  private[graft] var afterManifestWriteHook: Option[(String, String) => Unit] = None
  private[operators] var createOverwriteForTest: Boolean = false
  // forces HadoopFsBackend down its NON-local (tmp+rename) publish branch
  // on a file:// path, so the branch production HDFS deployments take is
  // exercisable inside the local test suite
  private[operators] var forceGenericPublishForTest: Boolean = false

  /** The publish primitive behind every manifest create and claim marker
    * (see [[CommitBackend]]): [[HadoopFsBackend]] by default; deployments
    * on a conditional-PUT store swap in [[CasBackend]]-shaped wiring and
    * the commit race window closes to zero. Var rather than parameter so
    * the whole protocol stack (merge, indexes, profiles, erasure) flips
    * in one place — tests exercise all three backends. */
  private[operators] var commitBackend: CommitBackend = HadoopFsBackend

  /** True when a commit newer than `before` exists — a non-conflict
    * failure inside an optimistic commit attempt (task IOException,
    * vanished input file) is then plausibly collateral damage from the
    * concurrent winner's GC, and the attempt should RETRY against the new
    * state instead of surfacing an arbitrary error (ADVICE r8). */
  private[operators] def racedSince(spark: SparkSession, targetPath: String,
      before: Option[String]): Boolean = {
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val beforeId = before.flatMap(idOf(_, "snap-")).getOrElse(-1L)
    committedIds(fs, root).exists(_ > beforeId)
  }

  /** Progress-aware retry budget for the optimistic commit loops (round
    * 9): a failed attempt counts against `maxRetries` ONLY when the table
    * did NOT advance since the attempt's state read. A conflict that
    * comes with a concurrent writer's commit is PRODUCTIVE — the system
    * as a whole made progress and the retry re-merges against the new
    * state — so N-writer safety does not depend on N staying under a
    * fixed retry bound (at 8 racing writers a loser can shed far more
    * than 5 races while every one of them advances the table). Wasted
    * (no-progress) attempts — e.g. racing a claim marker whose owner has
    * not yet committed — back off linearly to let the owner finish its
    * claim→manifest window, and only they exhaust the budget. Returns
    * the new wasted count; rethrows `e` when the budget is spent. */
  private[operators] def chargeRetry(spark: SparkSession, targetPath: String,
      before: Option[String], wasted: Int, maxRetries: Int,
      e: Throwable): Int =
    if (racedSince(spark, targetPath, before)) 0
    else {
      val w = wasted + 1
      if (w > maxRetries) throw e
      Thread.sleep(100L * w)
      w
    }

  private[operators] def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Id encoded in a `snap-…` name or a `data/run-…` dir name (attempt
    * suffixes — `run-000000003-a1b2c3d4` — are ignored). */
  private[operators] def idOf(name: String, prefix: String): Option[Long] = {
    val digits = name.stripPrefix(prefix).takeWhile(_.isDigit)
    if (name.startsWith(prefix) && digits.nonEmpty) Some(digits.toLong) else None
  }

  /** listStatus that tolerates a concurrently-vanishing path: a LOSING
    * commit attempt deletes its own run dir while the winner's GC may be
    * mid-listing — the dir disappearing just means nothing to sweep. */
  private def listSafe(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Array[org.apache.hadoop.fs.FileStatus] =
    try { if (fs.exists(p)) fs.listStatus(p) else Array.empty }
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** Ids of every committed manifest on disk (manifest CREATION is the
    * commit point under optimistic concurrency — the pointer is derived,
    * possibly one commit behind after a crash). */
  private[graft] def committedIds(fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.endsWith(".manifest.json"))
        idOf(n.stripSuffix(".manifest.json"), "snap-") else None
    }

  /** Next snapshot id for an optimistic commit attempt: STRICTLY the
    * live read state's id + 1 — committing any higher id would publish a
    * manifest that silently omits the commits in between (the 8-writer
    * CAS stress catches exactly that as a lost update). The wrinkle the
    * completeness-filtered read path (round 17) adds: a TORN manifest at
    * live+1 (a crashed writer won the create but never finished the
    * body) is rolled back over by readers, so the loop would re-contend
    * that id forever. [[reclaimTornManifest]] deletes such a claim once
    * it is provably dead — visible, incomplete, and older than
    * [[gcGraceMs]] (every publish path is content-atomic since r17, so a
    * LIVE writer's incomplete window is milliseconds); until then the
    * attempt just conflicts and retries like any other race. */
  private[graft] def nextFreeId(spark: SparkSession, targetPath: String,
      current: Option[String]): Long = {
    val next = current.flatMap(idOf(_, "snap-")).getOrElse(-1L) + 1L
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    reclaimTornManifest(fs, targetPath, next)
    next
  }

  /** Delete the manifest claiming `id` iff it is permanently torn:
    * visible, structurally incomplete, and aged past [[gcGraceMs]]. A
    * complete manifest (a real commit) and a young incomplete one (a
    * possibly-live writer) are left alone. */
  private def reclaimTornManifest(fs: org.apache.hadoop.fs.FileSystem,
      targetPath: String, id: Long): Unit = {
    val p = new Path(targetPath, f"snap-$id%09d.manifest.json")
    try {
      if (!fs.exists(p)) return
      val st = fs.getFileStatus(p)
      if (isCompleteManifest(readFileBody(fs, p))) return
      if (System.currentTimeMillis() - st.getModificationTime < gcGraceMs) return
      System.err.println(s"[graft] reclaiming torn manifest snap-$id of " +
        s"$targetPath (incomplete, aged past the publish grace) so the id " +
        "can be re-won")
      commitBackend.delete(fs, p)
    } catch { case _: java.io.IOException => } // racer finished/GC'd it: fine
  }

  /** Roll the `_current` pointer forward to the newest committed manifest
    * if a crash (or a concurrent writer mid-publish) left it behind —
    * manifest files only exist once their data files are fully written,
    * so the newest manifest is always a complete, safe table version.
    * Returns the live snapshot name after repair, if any commit exists. */
  private[operators] def repairPointer(spark: SparkSession, targetPath: String): Option[String] = {
    val root = new Path(targetPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hadoopConf)
    // newest COMPLETE manifest wins (see [[isCompleteManifest]]): a
    // mid-write/torn manifest must not capture the pointer — the repair
    // would turn a transient read anomaly into the table's durable state
    val ids = committedIds(fs, root).sorted.reverse
    val topId = ids.find { i =>
      try isCompleteManifest(readFileBody(fs, new Path(root, f"snap-$i%09d.manifest.json")))
      catch { case _: java.io.IOException => false }
    }
    topId match {
      case None => currentSnapshot(spark, targetPath)
      case Some(id) =>
        val top = f"snap-$id%09d"
        // the pointer is derived state: a publish lost to another
        // process's (the local FS's OVERWRITE rename is delete-then-rename)
        // leaves it for the next repair, and `top` is still the table
        if (!currentSnapshot(spark, targetPath).contains(top))
          try publishPointer(fs, hadoopConf, targetPath, top, s"repair-$id")
          catch {
            case e: java.io.IOException =>
              System.err.println(s"[graft] pointer repair of $targetPath to " +
                s"$top lost a race (${e.getClass.getSimpleName}); left to the next repair")
          }
        Some(top)
    }
  }

  /** Shared commit tail for every manifest-table mutation — Upsert's
    * bucketed merge/delete AND the derived-index stores
    * ([[graft.operators.IndexStore]]): write `rows` as new immutable files
    * for exactly the `touched` partitions, record them in a new manifest
    * (untouched partitions keep their existing entries verbatim — no copy;
    * a touched partition whose rewrite produced NO rows maps to an empty
    * entry, which is how deletes empty one), commit, and GC to
    * `keepSnapshots`.
    *
    * Commit protocol (optimistic concurrency, SURVEY §7.6.5): data files
    * land under an ATTEMPT-UNIQUE run dir, then the manifest is created
    * with `overwrite=false` — an atomic create-exclusive, so of N racing
    * writers exactly one owns snapshot `nextId`; losers get
    * [[CommitConflictException]] after deleting their own files, and the
    * caller retries against the winner's state. The pointer publish AFTER
    * the manifest is derived state: a crash between the two is healed by
    * [[repairPointer]] (manifest ⇒ data complete ⇒ roll-forward is safe).
    *
    * @param partCol table's partition column (rides IN the data files; a
    *   `<partCol>_p` copy splits files at write time) — None for an
    *   unpartitioned table (single manifest entry 0, e.g. MinHash sigs).
    * @param appendEntries true = the new files EXTEND the touched
    *   partitions' entry lists (incremental index append); false = they
    *   REPLACE them (merge/delete rewrite).
    * @param nBuckets recorded in the manifest so later jobs can recover
    *   the layout's bucket count (0 = not a hash-bucketed table).
    * @param statsCols extra columns (beyond `sortCols`) to record per-file
    *   min/max stats for (see [[FileStats]]); supported-type columns only
    *   — others are skipped, never an error.
    * @param supersede the merge-on-read positions this commit adds
    *   (relative entry -> row indexes), asked for once the write ran —
    *   an `Observation` of it. Recorded positions of files that stay in
    *   the manifest carry forward; a file that leaves takes its own. */
  private[graft] def commitSnapshot(
      spark: SparkSession,
      targetPath: String,
      rows: DataFrame,
      touched: Seq[Int],
      manifest: Map[Int, Seq[String]],
      sortCols: Seq[String],
      nextId: Long,
      keepSnapshots: Int,
      partCol: Option[String] = Some("__bucket"),
      nBuckets: Int = 0,
      appendEntries: Boolean = false,
      statsCols: Seq[String] = Nil,
      preClustered: Boolean = false,
      supersede: () => Map[String, Seq[Long]] = () => Map.empty): Unit = {
    val root = new Path(targetPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hadoopConf)
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val runDir = new Path(root, f"data/run-$nextId%09d-$attempt")
    // Any failure BEFORE the commit point retires this attempt's files
    // (idempotent: the conflict branches below already delete them). A
    // loser whose tasks died reading inputs a concurrent winner's GC
    // swept must not leave a young orphan run dir — it is unreferenced,
    // so the grace rule in sweepDataRuns would defer it, and the caller's
    // retry loop wants a clean slate (ADVICE r8).
    val (snapName, nextManifest) = try {
    // Cluster by the partition column BEFORE the partitioned write: the
    // upstream distribution (e.g. a merge join's key-hash partitions)
    // spreads every bucket across every task, so a naive partitionBy
    // writes up to touched × tasks files per run — file-count explosion
    // is the 100 TB killer (object-store listing, manifest bloat, probe
    // cost becomes file-bound). One exchange of exactly the touched
    // partitions' rows buys ~one file per partition per run, and makes
    // sortWithinPartitions a TRUE per-partition key sort for row-group
    // pruning (round 9 — surfaced by the idmap erasure profile).
    // preClustered (round 10): the caller already owns the physical
    // layout — e.g. compactManifestBucketedParquet's range partitioning
    // over (__bucket, zvalue) — and the default cluster-by-bucket +
    // key-sort here would destroy it.
    val clustered = partCol match {
      case Some(pc) if !preClustered => rows.repartition(col(pc))
      case _ => rows
    }
    val sorted =
      if (sortCols.nonEmpty && !preClustered)
        clustered.sortWithinPartitions(sortCols.map(col): _*)
      else clustered // key-sorted files: parquet row-group stats prune lookups
    partCol match {
      case Some(pc) =>
        parquetWriter(sorted.withColumn(s"${pc}_p", col(pc)))
          .partitionBy(s"${pc}_p").parquet(runDir.toString)
      case None =>
        parquetWriter(sorted).parquet(runDir.toString)
    }
    val newEntries: Map[Int, Seq[String]] = partCol match {
      case Some(pc) =>
        fs.listStatus(runDir)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"${pc}_p="))
          .map { st =>
            val part = st.getPath.getName.stripPrefix(s"${pc}_p=").toInt
            part -> fs.listStatus(st.getPath).toSeq
              .filter(f => f.isFile && isDataFile(f.getPath.getName))
              .map(f => relativizeToRoot(fs, targetPath, f.getPath))
          }.toMap
      case None =>
        Map(0 -> fs.listStatus(runDir).toSeq
          .filter(f => f.isFile && isDataFile(f.getPath.getName))
          .map(f => relativizeToRoot(fs, targetPath, f.getPath)))
    }

    val nextManifest: Map[Int, Seq[String]] = manifest ++ touched.map { b =>
      val fresh = newEntries.getOrElse(b, Nil)
      b -> (if (appendEntries) manifest.getOrElse(b, Nil) ++ fresh else fresh)
    }.toMap
    val snapName = f"snap-$nextId%09d"
    // Per-file min/max stats (round 10, see [[FileStats]]): footer reads
    // of THIS run's new files only — untouched buckets carry their prior
    // entries forward (files are immutable, so any committed manifest's
    // stats for a path stay valid regardless of which snapshot wins a
    // race). Driver metadata I/O, O(new files), same cost class as the
    // listing above.
    val statsWanted = (sortCols ++ statsCols).distinct
      .filterNot(partCol.contains(_))
    val referenced = nextManifest.values.flatten.toSet
    // one pre-commit manifest read shared by the stats carry and the
    // stream-epoch-marker carry below
    val priorBody = manifestBody(spark, targetPath, None)
    val statsField: Option[String] = if (statsWanted.isEmpty) None else {
      val fresh = FileStats.collect(hadoopConf,
        newEntries.values.flatten.filter(referenced).toSeq.distinct
          .map(rel => rel -> resolveEntry(targetPath, rel)), statsWanted)
      val carried = priorBody
        .map(FileStats.parse).getOrElse(Map.empty)
      val merged = (carried ++ fresh).filter { case (rel, s) =>
        referenced(rel) && s.nonEmpty }
      if (merged.isEmpty) None
      else Some(s""""file_stats": {${FileStats.encode(merged)}}""")
    }
    // schema_ddl makes a FULLY-ERASED table (every entry empty) still
    // readable as an empty frame with the right schema (ADVICE r7).
    val ddl = rows.schema.toDDL.replace("\\", "\\\\").replace("\"", "\\\"")
    // bucket_keys (round 16): recorded ONLY for the hash-bucket layout
    // (partCol __bucket ⇒ sortCols ARE the merge keys, at every call
    // site) so a reader holding key-equality predicates can recompute
    // pmod(xxhash64(keys), nBuckets) and prune to ONE bucket's files —
    // the DSv2 connector's point-lookup path. Index stores partition by
    // __cell/__idb, where bucket ≠ hash(sortCols), and record nothing.
    // A one-bucket table (no placement column) records its merge keys too:
    // every key hashes to its only bucket.
    val keysField =
      if ((partCol.contains("__bucket") || nBuckets == 1) && sortCols.nonEmpty)
        Seq(s""""bucket_keys": "${sortCols.mkString(",")}"""")
      else Nil
    val deletesField = rowDeletesField(carriedDeletes(
      priorBody.map(parseRowDeletes).getOrElse(Map.empty), supersede(), referenced))
    val json = (Seq(s""""attempt": "$attempt"""",
      s""""nBuckets": $nBuckets""", s""""schema_ddl": "$ddl"""") ++
      keysField ++ deletesField ++
      // streaming-sink exactly-once markers survive interleaved
      // batch commits (see commitStreamAppend)
      streamEpochFields(priorBody.map(parseStreamEpochs).getOrElse(Map.empty)) ++
      statsField.toSeq ++
      nextManifest.toSeq.sortBy(_._1).map { case (b, files) =>
        s""""$b": [${files.map(f => "\"" + f + "\"").mkString(",")}]"""
      }).mkString("{", ",", "}")
    val manifestFile = new Path(root, s"$snapName.manifest.json")
    // Commit point, behind the pluggable [[CommitBackend]] (round 10):
    // "create iff absent, tell me who won". Under [[CasBackend]]
    // (conditional-PUT stores) arbitration is atomic and the residual
    // race window is ZERO. Under the default [[HadoopFsBackend]] it is
    // create(overwrite=false) — truly exclusive on HDFS — plus a
    // read-back verify for filesystems where the create is
    // check-then-act (local FS, S3 without conditional PUT): a foreign
    // body after our write means a concurrent PUT overwrote ours, and
    // the loss is DETECTED and surfaced instead of silently discarding a
    // merge. Detection there is guaranteed whenever racing writes are
    // separated by more than the write→read-back gap (milliseconds);
    // PUTs inside that window want the CAS backend, which closes it
    // completely. Losers clean up their files and surface the conflict
    // for a retry against the winner's state.
    beforeManifestCreateHook.foreach(h => h(targetPath, nextId))
    commitBackend.putIfAbsent(fs, manifestFile, json.getBytes("UTF-8"),
        () => afterManifestWriteHook.foreach(h => h(targetPath, snapName)))
      .foreach { winner =>
        fs.delete(runDir, true)
        throw new CommitConflictException(
          s"snapshot $snapName of $targetPath was committed concurrently " +
            s"(attempt $attempt retired; committed body: " +
            s"${winner.take(120)})")
      }
    (snapName, nextManifest)
    } catch { // pre-commit failure: retire this attempt's files (see above)
      case e: Throwable =>
        if (scala.util.control.NonFatal(e)) fs.delete(runDir, true)
        throw e
    }

    // POST-COMMIT maintenance, best-effort by contract: the manifest
    // create above IS the commit — once putIfAbsent returned None the
    // merge is durable, readers resolve it, and this attempt MUST report
    // success. The pointer publish is repairable (repairPointer at every
    // read/loop head) and retention/GC re-run on the next commit, but a
    // failure HERE used to propagate into the caller's retry loop, which
    // cannot distinguish it from a pre-commit loss: racedSince(current)
    // is true (the table advanced — by THIS writer's own commit), so the
    // loop re-merged the already-committed batch and committed it AGAIN
    // (observed in the 8-writer CAS stress as snap-25 where dense commit
    // ids prove 25 merges: a concurrent writer's retention deleted a
    // manifest between this writer's exists() and read — TOCTOU
    // FileNotFoundException — inside the retention scan below). Failures
    // are logged and swallowed; any partially-done sweep is idempotent
    // and the next committer finishes it. Ordering keeps the swallow
    // safe: the live set is fully computed before the first delete, so
    // an aborted scan never GCs with a shrunken liveness view.
    postCommitMaintenance(fs, hadoopConf, targetPath, snapName, nextId,
      nextManifest, keepSnapshots)
  }

  /** The best-effort post-commit tail shared by [[commitSnapshot]] and
    * [[commitFileReplacement]]: pointer publish, retention, data-run GC,
    * stale-manifest cleanup. Swallows non-fatal failures by contract —
    * the manifest create WAS the commit; everything here is repairable
    * by the next reader/committer (see the commitSnapshot comment for
    * the double-commit incident that motivated the swallow). */
  private def postCommitMaintenance(
      fs: org.apache.hadoop.fs.FileSystem,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      targetPath: String,
      snapName: String,
      nextId: Long,
      nextManifest: Map[Int, Seq[String]],
      keepSnapshots: Int): Unit = {
    val root = new Path(targetPath)
    try {
    publishPointer(fs, hadoopConf, targetPath, snapName, nextId.toString)

    // Retention mirrors mergeIntoParquet: keep the newest `keepSnapshots`
    // manifests; live files = the union they reference, so an in-flight
    // reader holding a retained manifest never loses a file under it.
    // Anything with an id ABOVE nextId belongs to a concurrent newer
    // commit — never touched here.
    val retainedIds = (nextId - keepSnapshots + 1) to nextId
    // Liveness parses the retained manifests with parseManifestEntries —
    // the same parser the READ path uses — and compares the scheme-free
    // normal form on both sides, so neither format drift nor
    // qualification drift can make a live file look dead.
    val live = retainedIds.flatMap { i =>
      if (i == nextId) nextManifest.values.flatten
      else {
        // exists→read is TOCTOU with a concurrent later committer's
        // retention delete; a vanished manifest is provably dead state
        // (no reader can resolve it, its shared survivors ride this
        // commit's own entries), so treat it as absent instead of
        // aborting the scan mid-flight
        val p = new Path(root, f"snap-$i%09d.manifest.json")
        try {
          if (!fs.exists(p)) Nil
          else parseManifestEntries(readFileBody(fs, p)).values.flatten
        } catch { case _: java.io.FileNotFoundException => Nil }
      }
    }.map(e => normalize(fs, new Path(resolveEntry(targetPath, e)))).toSet
    // Files referenced by ANY manifest still on disk (incl. the ones about
    // to be retired below): those are committed state, deletable the
    // moment they leave retention. An UNREFERENCED file is different — see
    // sweepDataRuns' grace rule.
    val known = committedIds(fs, root).flatMap { i =>
      if (i == nextId) nextManifest.values.flatten
      else {
        // exists→read is TOCTOU with a concurrent later committer's
        // retention delete; a vanished manifest is provably dead state
        // (no reader can resolve it, its shared survivors ride this
        // commit's own entries), so treat it as absent instead of
        // aborting the scan mid-flight
        val p = new Path(root, f"snap-$i%09d.manifest.json")
        try {
          if (!fs.exists(p)) Nil
          else parseManifestEntries(readFileBody(fs, p)).values.flatten
        } catch { case _: java.io.FileNotFoundException => Nil }
      }
    }.map(e => normalize(fs, new Path(resolveEntry(targetPath, e)))).toSet
    sweepDataRuns(fs, root, targetPath, nextId, live, known)
    sweepAdopted(fs, root, live, known)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val staleManifest = !st.isDirectory && n.endsWith(".manifest.json") &&
        idOf(n.stripSuffix(".manifest.json"), "snap-").exists(_ < retainedIds.head)
      // a crash between a manifest-link tmp's write and its link leaks the
      // tmp (HadoopFsBackend local-atomic path); age-gated so a LIVE
      // racer's tmp — the write→link window is microseconds — never goes
      val staleMfTmp = !st.isDirectory && n.contains(".mftmp-") &&
        System.currentTimeMillis() - st.getModificationTime >= gcGraceMs
      // likewise a pointer tmp: another process may be between its
      // write and its rename
      val stalePointerTmp = !st.isDirectory && n.startsWith("_current.tmp-") &&
        System.currentTimeMillis() - st.getModificationTime >= gcGraceMs
      if (staleManifest || staleMfTmp || stalePointerTmp)
        fs.delete(st.getPath, false)
    }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] post-commit maintenance of $targetPath" +
          s" $snapName failed (${e.getClass.getSimpleName}: ${e.getMessage});" +
          " the commit stands — pointer repair / the next commit's retention" +
          " will converge")
    }
  }

  /** Pin the live table state for a multi-phase operation (the SQL
    * row-level rewrite): (snapshot name, manifest body) of the current
    * head after pointer repair, or None when the table has no
    * manifest-layout commit. The body is read for the NAMED snapshot —
    * not re-resolved — so scan planning and commit validation observe
    * the same version even if commits land in between. */
  private[graft] def pinLive(spark: SparkSession,
      targetPath: String): Option[(String, String)] =
    repairPointer(spark, targetPath).flatMap { snap =>
      manifestBody(spark, targetPath, Some(snap)).map(snap -> _)
    }

  /** Commit a file-level REPLACEMENT against a pinned snapshot — the
    * publish half of the SQL row-level rewrite (MERGE INTO / UPDATE /
    * predicate DELETE through the DSv2 connector): the rewritten data is
    * already on disk as `newByBucket` (manifest-relative paths under a
    * `data/run-…` dir, written by the connector's DataWriters), and this
    * call atomically swaps it in for exactly the files the operation's
    * scan read (`scannedRels`), leaving every other file untouched.
    *
    * Isolation is snapshot-with-write-set-validation, the same contract
    * Iceberg's copy-on-write validates: commits that landed after the
    * pin are tolerated iff they did not touch any bucket this operation
    * scanned or writes (the entry lists of touched buckets must be
    * IDENTICAL to the pinned manifest's). A drifted touched bucket means
    * the rewrite was computed from stale rows — that surfaces as
    * [[CommitConflictException]] for the CALLER to re-run the statement;
    * unlike the library merge loops, the rewritten rows cannot be
    * re-derived here (they are the output of an arbitrary Spark job).
    * Losing the manifest-create race alone is NOT fatal: the written
    * files stay valid, so the loop revalidates against the new head and
    * re-contends with a fresh snapshot id.
    *
    * Returns the committed snapshot name. */
  private[graft] def commitFileReplacement(
      spark: SparkSession,
      targetPath: String,
      pinnedBody: String,
      scannedRels: Set[String],
      newByBucket: Map[Int, Seq[String]],
      keepSnapshots: Int,
      maxRetries: Int = 5): String = {
    require(keepSnapshots >= 1, "keepSnapshots must be >= 1")
    val root = new Path(targetPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hadoopConf)
    val pinnedEntries = parseManifestEntries(pinnedBody)
    val touched: Seq[Int] = (pinnedEntries.collect {
      case (b, rels) if rels.exists(scannedRels) => b
    } ++ newByBucket.keys).toSeq.distinct.sorted
    // per-file stats for the new files, over the columns the table
    // already tracks (driver footer reads, O(new files) — same cost
    // class as commitSnapshot's)
    val statCols = (parseManifestString(pinnedBody, "bucket_keys")
      .map(_.split(",").toSeq).getOrElse(Nil) ++
      FileStats.parse(pinnedBody).values.flatMap(_.keys)).distinct
      .filterNot(Set(FileStats.RowsCol, "__bucket"))
    val newRels = newByBucket.values.flatten.toSeq
    val freshStats = FileStats.collect(hadoopConf,
      newRels.map(rel => rel -> resolveEntry(targetPath, rel)), statCols)
    var wasted = 0
    while (true) {
      val current = repairPointer(spark, targetPath)
      val curBody = manifestBody(spark, targetPath, None).getOrElse(
        throw new IllegalStateException(
          s"$targetPath lost its manifest mid-operation"))
      val curEntries = parseManifestEntries(curBody)
      val (curDeletes, pinnedDeletes) = (parseRowDeletes(curBody), parseRowDeletes(pinnedBody))
      touched.foreach { b =>
        val rels = curEntries.getOrElse(b, Nil)
        if (rels != pinnedEntries.getOrElse(b, Nil) ||
            rels.exists(r => curDeletes.get(r) != pinnedDeletes.get(r)))
          throw new CommitConflictException(
            s"bucket $b of $targetPath changed concurrently since this " +
              "statement pinned its snapshot — the rewrite would publish " +
              "stale rows; re-run the statement against the new state")
      }
      val nextEntries: Map[Int, Seq[String]] = {
        val cleaned = curEntries.map { case (b, rels) =>
          b -> rels.filterNot(scannedRels) }
        (cleaned.keySet ++ newByBucket.keySet).map { b =>
          b -> (cleaned.getOrElse(b, Nil) ++ newByBucket.getOrElse(b, Nil))
        }.toMap
      }
      val nextId = nextFreeId(spark, targetPath, current)
      val snapName = f"snap-$nextId%09d"
      val attempt = java.util.UUID.randomUUID().toString.take(8)
      val referenced = nextEntries.values.flatten.toSet
      val statsField: Option[String] = {
        val carried = FileStats.parse(curBody)
        val merged = (carried ++ freshStats).filter { case (rel, s) =>
          referenced(rel) && s.nonEmpty }
        if (merged.isEmpty) None
        else Some(s""""file_stats": {${FileStats.encode(merged)}}""")
      }
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      // schema / layout metadata carried verbatim from the pinned state:
      // a row-level rewrite never changes the table's shape
      val ddlField = parseManifestString(pinnedBody, "schema_ddl")
        .map(d => s""""schema_ddl": "${esc(d)}"""")
      val keysField = parseManifestString(pinnedBody, "bucket_keys")
        .map(k => s""""bucket_keys": "${esc(k)}"""")
      val nb = parseManifestLong(pinnedBody, "nBuckets").getOrElse(0L)
      val json = (Seq(s""""attempt": "$attempt"""",
        s""""nBuckets": $nb""") ++ ddlField.toSeq ++ keysField.toSeq ++
        rowDeletesField(carriedDeletes(curDeletes, Map.empty, referenced)) ++
        // streaming-sink exactly-once markers survive the rewrite
        streamEpochFields(parseStreamEpochs(curBody)) ++
        statsField.toSeq ++
        nextEntries.toSeq.sortBy(_._1).map { case (b, files) =>
          s""""$b": [${files.map(f => "\"" + f + "\"").mkString(",")}]"""
        }).mkString("{", ",", "}")
      val manifestFile = new Path(root, s"$snapName.manifest.json")
      beforeManifestCreateHook.foreach(h => h(targetPath, nextId))
      commitBackend.putIfAbsent(fs, manifestFile, json.getBytes("UTF-8"),
          () => afterManifestWriteHook.foreach(h => h(targetPath, snapName))) match {
        case Some(winner) =>
          // lost the id race only — the written run files remain valid;
          // revalidate the touched buckets against the winner's state and
          // re-contend (the loop head re-reads; drift throws there)
          wasted = chargeRetry(spark, targetPath, current, wasted, maxRetries,
            new CommitConflictException(
              s"snapshot $snapName of $targetPath was committed " +
                s"concurrently (committed body: ${winner.take(120)})"))
        case None =>
          postCommitMaintenance(fs, hadoopConf, targetPath, snapName, nextId,
            nextEntries, keepSnapshots)
          return snapName
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Epoch markers for the streaming sink's exactly-once contract:
    * `"stream_epoch_<queryId>": N` scalar fields in the manifest, one
    * per writing stream, recording the highest epoch that stream has
    * committed. EVERY commit path carries them forward (merge, append,
    * replacement, stream) — a marker that vanished under an interleaved
    * writer would let a crash-replayed micro-batch re-append its rows.
    * Bounded: at most [[MaxStreamMarkers]] markers are carried (a table
    * written by an unbounded parade of distinct queries sheds the
    * lexicographically smallest ids first; a LIVE stream re-establishes
    * its marker on its next commit, so only a stream that is both idle
    * across 32 foreign stream adoptions AND crash-replaying can lose
    * idempotence — document, don't chase). */
  private[operators] val MaxStreamMarkers = 32

  private[operators] def parseStreamEpochs(body: String): Map[String, Long] =
    "\"stream_epoch_([A-Za-z0-9_-]+)\"\\s*:\\s*(\\d+)".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toLong).toMap

  private[operators] def streamEpochFields(markers: Map[String, Long]): Seq[String] =
    markers.toSeq.sortBy(_._1).takeRight(MaxStreamMarkers)
      .map { case (q, e) => s""""stream_epoch_$q": $e""" }

  /** Streaming-sink commit (round 18): append the micro-batch's
    * already-written per-bucket files to the manifest, exactly once per
    * (query, epoch). The files were laid down by the connector's
    * DataWriters before this call; the manifest create is the atomic
    * commit point, and the epoch marker rides IN the same manifest —
    * so "batch visible" and "batch recorded as committed" are one
    * write, and a crash-replayed epoch (its marker already ≥ epochId in
    * the live manifest) retires its files and returns FALSE instead of
    * double-appending. Returns true when this call committed the epoch.
    *
    * Insert-only semantics by design, mirroring [[GraftAppendsStream]]
    * on the read side: key uniqueness is the pipeline's contract (the
    * reference's incremental extract guarantees it via the watermark);
    * MERGE semantics for a stream are `foreachBatch` +
    * [[mergeIntoManifestBucketedParquet]], where the batch is a real
    * DataFrame and the join can run. */
  private[graft] def commitStreamAppend(
      spark: SparkSession,
      targetPath: String,
      queryId: String,
      epochId: Long,
      newByBucket: Map[Int, Seq[String]],
      schemaDdl: String,
      keys: Seq[String],
      nBuckets: Int,
      keepSnapshots: Int,
      maxRetries: Int = 5): Boolean = {
    val root = new Path(targetPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hadoopConf)
    val newRels = newByBucket.values.flatten.toSeq
    def retireNewFiles(): Unit = newRels.foreach { rel =>
      try fs.delete(new Path(resolveEntry(targetPath, rel)), false)
      catch { case _: java.io.IOException => }
    }
    val statCols = keys.filterNot(_ == "__bucket")
    val freshStats = FileStats.collect(hadoopConf,
      newRels.map(rel => rel -> resolveEntry(targetPath, rel)), statCols)
    var wasted = 0
    while (true) {
      val current = repairPointer(spark, targetPath)
      val curBody = manifestBody(spark, targetPath, None)
      val epochs = curBody.map(parseStreamEpochs).getOrElse(Map.empty)
      if (epochs.get(queryId).exists(_ >= epochId)) {
        // replayed micro-batch: the epoch is already in the committed
        // state — exactly-once means this attempt contributes nothing
        retireNewFiles()
        return false
      }
      val curEntries = curBody.map(parseManifestEntries).getOrElse(Map.empty)
      // a first commit onto a snapshot-dir or legacy target would hide
      // its rows: refuse, and take this epoch's files back out
      try requireManifestLayout(spark, targetPath, curEntries)
      catch { case e: IllegalStateException => retireNewFiles(); throw e }
      val nextEntries = (curEntries.keySet ++ newByBucket.keySet).map { b =>
        b -> (curEntries.getOrElse(b, Nil) ++ newByBucket.getOrElse(b, Nil))
      }.toMap
      val nextId = nextFreeId(spark, targetPath, current)
      val snapName = f"snap-$nextId%09d"
      val attempt = java.util.UUID.randomUUID().toString.take(8)
      val referenced = nextEntries.values.flatten.toSet
      val statsField: Option[String] = {
        val carried = curBody.map(FileStats.parse).getOrElse(Map.empty)
        val merged = (carried ++ freshStats).filter { case (rel, s) =>
          referenced(rel) && s.nonEmpty }
        if (merged.isEmpty) None
        else Some(s""""file_stats": {${FileStats.encode(merged)}}""")
      }
      def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      val ddl = curBody.flatMap(parseManifestString(_, "schema_ddl"))
        .getOrElse(schemaDdl)
      val keysField =
        if (keys.nonEmpty) Seq(s""""bucket_keys": "${esc(keys.mkString(","))}"""")
        else Nil
      val json = (Seq(s""""attempt": "$attempt"""",
        s""""nBuckets": $nBuckets""",
        s""""schema_ddl": "${esc(ddl)}"""") ++ keysField ++
        rowDeletesField(carriedDeletes(
          curBody.map(parseRowDeletes).getOrElse(Map.empty), Map.empty, referenced)) ++
        streamEpochFields(epochs + (queryId -> epochId)) ++
        statsField.toSeq ++
        nextEntries.toSeq.sortBy(_._1).map { case (b, files) =>
          s""""$b": [${files.map(f => "\"" + f + "\"").mkString(",")}]"""
        }).mkString("{", ",", "}")
      val manifestFile = new Path(root, s"$snapName.manifest.json")
      beforeManifestCreateHook.foreach(h => h(targetPath, nextId))
      commitBackend.putIfAbsent(fs, manifestFile, json.getBytes("UTF-8"),
          () => afterManifestWriteHook.foreach(h => h(targetPath, snapName))) match {
        case Some(winner) =>
          wasted = chargeRetry(spark, targetPath, current, wasted, maxRetries,
            new CommitConflictException(
              s"stream epoch $epochId of $targetPath lost the snapshot " +
                s"race (committed body: ${winner.take(120)})"))
        case None =>
          postCommitMaintenance(fs, hadoopConf, targetPath, snapName, nextId,
            nextEntries, keepSnapshots)
          return true
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** GC sweep of `<root>/data/run-*` shared by [[commitSnapshot]] and
    * [[vacuum]]. Three-way liveness (ADVICE r8): `live` files (referenced
    * by a retained manifest) are kept; dead-but-`known` files (referenced
    * only by retired manifests — provably committed, no writer is still
    * producing them) are deleted immediately, so a compliance vacuum's
    * erasure horizon stays immediate; files NO manifest references are
    * deleted only once older than [[gcGraceMs]] — a young unreferenced
    * file may be a concurrent same-id loser still mid-write, and
    * snatching it away would fail that writer with an arbitrary
    * IOException instead of a clean retryable conflict. Deferred orphans
    * are collected by any later sweep once aged. */
  private def sweepDataRuns(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      targetPath: String, topId: Long, live: Set[String],
      known: Set[String]): Unit = {
    val now = System.currentTimeMillis()
    listSafe(fs, new Path(root, "data")).foreach { run =>
      val runId = idOf(run.getPath.getName, "run-")
      if (runId.forall(_ <= topId)) { // skip concurrent newer writers
        var kept = false
        var deferred = false
        def sweep(f: org.apache.hadoop.fs.FileStatus): Unit =
          if (f.isFile && isDataFile(f.getPath.getName)) {
            val n = normalize(fs, f.getPath)
            if (live.contains(n)) kept = true
            else if (known.contains(n) ||
                now - f.getModificationTime >= gcGraceMs)
              fs.delete(f.getPath, false)
            else deferred = true
          }
        listSafe(fs, run.getPath).foreach { e =>
          if (e.isDirectory) listSafe(fs, e.getPath).foreach(sweep) else sweep(e)
        }
        if (!kept && !deferred) fs.delete(run.getPath, true)
      }
    }
  }

  /** GC of adopted files: entries outside `data/`, which a one-bucket
    * table's first manifest listed in place (see [[oneBucketBase]]).
    * One is deleted once it is `known` (committed: a manifest on disk
    * references it) but not `live` (no retained manifest does); a
    * `snap-<n>/` directory left without data files goes with it. */
  private def sweepAdopted(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      live: Set[String], known: Set[String]): Unit = {
    val dataDir = normalize(fs, new Path(root, "data")) + "/"
    val dead = (known -- live).filterNot(_.startsWith(dataDir)).map(new Path(_))
    dead.foreach(p => fs.delete(p, false))
    dead.map(_.getParent).filter(_.getName.startsWith("snap-")).foreach { dir =>
      if (!listSafe(fs, dir).exists(st => isDataFile(st.getPath.getName)))
        fs.delete(dir, true)
    }
  }

  /** DELETE on a snapshot-pointer target: remove the rows matching
    * `predicate` as a NEW snapshot (same atomic pointer commit as
    * [[mergeIntoParquet]] — the delete is invisible until published, and
    * retained older snapshots still time-travel to the pre-delete state,
    * so retention policy is also the compliance-erasure horizon). The
    * right-to-be-forgotten operation a long-lived training corpus needs.
    * Returns the number of rows removed. No-op (0) on an empty target. */
  def deleteFromParquet(
      spark: SparkSession,
      targetPath: String,
      predicate: org.apache.spark.sql.Column,
      partitionBy: Seq[String] = Nil,
      keepSnapshots: Int = 1): Long = {
    require(keepSnapshots >= 1, "keepSnapshots must be >= 1")
    val root = new Path(targetPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return 0L
    adoptLegacyTarget(fs, hadoopConf, targetPath)
    currentSnapshot(spark, targetPath) match {
      case None => 0L
      case Some(snap) =>
        val target = Parquet.read(spark, new Path(root, snap).toString)
        // NOT(pred) keeps rows where pred is NULL too — SQL DELETE
        // semantics (only rows where the predicate IS TRUE are removed)
        val remaining = target.where(!coalesce(predicate, lit(false)))
        val before = target.count()
        val nextId = snap.stripPrefix("snap-").toLong + 1
        val snapName = f"snap-$nextId%09d"
        val writer = parquetWriter(remaining)
        (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
          .parquet(new Path(root, snapName).toString)
        val after = Parquet.read(spark, new Path(root, snapName).toString).count()
        // same loud-conflict contract as mergeIntoParquet (single-writer
        // layout), incl. the cross-process create-exclusive claim (round 9)
        if (!currentSnapshot(spark, targetPath).contains(snap))
          throw new CommitConflictException(
            s"concurrent commit detected on single-writer snapshot target $targetPath")
        claimSnapshotId(fs, targetPath, snapName)
        if (!publishPointer(fs, hadoopConf, targetPath, snapName, nextId.toString))
          throw new CommitConflictException(
            s"concurrent commit detected on single-writer snapshot target $targetPath")
        bestEffortMaintenance(targetPath, snapName) {
          val retained = (nextId - keepSnapshots + 1) to nextId
          fs.listStatus(root).foreach { st =>
            val n = st.getPath.getName
            val staleSnap = st.isDirectory && n.startsWith("snap-") &&
              !retained.contains(n.stripPrefix("snap-").toLong)
            val staleMarker = !st.isDirectory && n.endsWith(".commit") &&
              idOf(n.stripSuffix(".commit"), "snap-").exists(!retained.contains(_))
            if (staleSnap || staleMarker ||
                (!st.isDirectory && n.startsWith("_current.tmp-")))
              fs.delete(st.getPath, true)
          }
        }
        before - after
    }
  }

  /** DELETE by key list on a snapshot-pointer target: anti-join form of
    * [[deleteFromParquet]] — the key list stays distributed (no driver
    * collect), so an arbitrarily large erasure list works. Returns rows
    * removed. */
  def deleteKeysFromParquet(
      spark: SparkSession,
      targetPath: String,
      deleteKeys: DataFrame,
      keys: Seq[String],
      partitionBy: Seq[String] = Nil,
      keepSnapshots: Int = 1): Long = {
    require(keepSnapshots >= 1, "keepSnapshots must be >= 1")
    val root = new Path(targetPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return 0L
    adoptLegacyTarget(fs, hadoopConf, targetPath)
    currentSnapshot(spark, targetPath) match {
      case None => 0L
      case Some(snap) =>
        val target = Parquet.read(spark, new Path(root, snap).toString)
        val remaining = joinKeys(target,
          deleteKeys.select(keys.map(col): _*).distinct(), keys, "left_anti")
        val before = target.count()
        val nextId = snap.stripPrefix("snap-").toLong + 1
        val snapName = f"snap-$nextId%09d"
        val writer = parquetWriter(remaining)
        (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
          .parquet(new Path(root, snapName).toString)
        val after = Parquet.read(spark, new Path(root, snapName).toString).count()
        // same loud-conflict contract as mergeIntoParquet (single-writer
        // layout), incl. the cross-process create-exclusive claim (round 9)
        if (!currentSnapshot(spark, targetPath).contains(snap))
          throw new CommitConflictException(
            s"concurrent commit detected on single-writer snapshot target $targetPath")
        claimSnapshotId(fs, targetPath, snapName)
        if (!publishPointer(fs, hadoopConf, targetPath, snapName, nextId.toString))
          throw new CommitConflictException(
            s"concurrent commit detected on single-writer snapshot target $targetPath")
        bestEffortMaintenance(targetPath, snapName) {
          val retained = (nextId - keepSnapshots + 1) to nextId
          fs.listStatus(root).foreach { st =>
            val n = st.getPath.getName
            val staleSnap = st.isDirectory && n.startsWith("snap-") &&
              !retained.contains(n.stripPrefix("snap-").toLong)
            val staleMarker = !st.isDirectory && n.endsWith(".commit") &&
              idOf(n.stripSuffix(".commit"), "snap-").exists(!retained.contains(_))
            if (staleSnap || staleMarker ||
                (!st.isDirectory && n.startsWith("_current.tmp-")))
              fs.delete(st.getPath, true)
          }
        }
        before - after
    }
  }

  /** DELETE by key on a manifest-bucketed target: remove every row whose
    * key appears in `deleteKeys`, rewriting ONLY the buckets those keys
    * hash to — the erasure job touches ~|keys|/nBuckets of the table, not
    * all of it — under the same atomic manifest publish as the merge. A
    * bucket whose rows are all deleted gets an EMPTY manifest entry (the
    * bucket exists, holds nothing). Untouched buckets keep their file
    * entries verbatim. */
  def deleteKeysFromManifestBucketedParquet(
      spark: SparkSession,
      targetPath: String,
      deleteKeys: DataFrame,
      keys: Seq[String],
      nBuckets: Int = 256,
      keepSnapshots: Int = 1,
      maxRetries: Int = 5): Unit = {
    require(keepSnapshots >= 1, "keepSnapshots must be >= 1")
    var wasted = 0 // no-progress failures only; see chargeRetry
    var committed = false
    while (!committed) {
      val current = repairPointer(spark, targetPath)
      val body = manifestBody(spark, targetPath, current)
      val manifest = body.map(parseManifestEntries).getOrElse(Map.empty)
      requireManifestLayout(spark, targetPath, manifest)
      if (manifest.isEmpty) return
      val effN = effectiveNBuckets(targetPath, body, nBuckets)
      val keyRows = deleteKeys.select(keys.map(col): _*).distinct()
      val nextId = nextFreeId(spark, targetPath, current)
      try {
        if (effN == 1) {
          // one bucket: rewrite only the files holding a copy of a deleted
          // key, live or superseded, so no copy stays on disk; the files
          // leave the manifest with their recorded positions
          val rels = manifest.getOrElse(0, Nil)
          val relOf = entryOfUri(
            new Path(targetPath).getFileSystem(spark.sparkContext.hadoopConfiguration),
            targetPath, rels)
          val raw = Parquet.readFiles(spark, rels.map(resolveEntry(targetPath, _)))
            .withColumn(PosFile, col("_metadata.file_path"))
          val hit = joinKeys(raw, keyRows, keys, "left_semi")
            .select(PosFile).distinct().collect().map(_.getString(0))
            .flatMap(relOf).toSeq
          if (hit.isEmpty) return
          rewriteOneBucketFiles(spark, targetPath, body.get, rels, hit, keys,
            Some(keyRows), nextId, keepSnapshots)
        } else {
          val delKeys = keyRows.withColumn("__bucket",
            pmod(xxhash64(keys.map(col): _*), lit(effN)).cast("int"))
          val touched = delKeys.select("__bucket").distinct()
            .collect().map(_.getInt(0)).sorted
            .filter(manifest.contains) // keys hashing to never-written buckets
          if (touched.isEmpty) return
          val remaining = joinKeys(readEntries(spark, targetPath, body.get,
            touched.flatMap(b => manifest.getOrElse(b, Nil)).toSeq, ""),
            keyRows, keys, "left_anti")
          commitSnapshot(spark, targetPath, remaining, touched.toSeq,
            manifest, keys, nextId, keepSnapshots, Some("__bucket"), effN)
        }
        committed = true
      } catch {
        case e: CommitConflictException =>
          wasted = chargeRetry(spark, targetPath, current, wasted, maxRetries, e)
        case scala.util.control.NonFatal(e)
            if racedSince(spark, targetPath, current) =>
          wasted = 0 // productive: the table advanced (see chargeRetry)
          System.err.println(s"[graft] delete attempt on $targetPath failed " +
            s"under a concurrent commit (${e.getClass.getSimpleName}); retrying")
      }
    }
  }

  /** Compact a manifest-bucketed target: one full rewrite that (a)
    * re-sizes files toward `targetFileRows`, (b) optionally RE-BUCKETS
    * the table (`newNBuckets` — the layout fix when the original bucket
    * count no longer fits the data: 256 tiny files on a small table, or
    * monster buckets after 1000 merges of growth; the new count is
    * recorded in the manifest and WINS for every later merge), and (c)
    * optionally Z-ORDER clusters the rewrite — the same compact/cluster
    * maintenance Delta's OPTIMIZE ... ZORDER BY runs, reduced to this
    * layout.
    *
    * With `zorderCols`, rows are mapped onto the Morton curve
    * ([[Layout.zorderKey]]) after scaling each column to the curve's bit
    * budget by its GLOBAL min/max (one agg; NULL coordinates pin to slot
    * 0), then range-partitioned by `(__bucket, zvalue)` — so every
    * output file covers a narrow range of EVERY clustered dimension and
    * the manifest's [[FileStats]] (recorded for `zorderCols` ++ `keys`)
    * prune range reads on any of them. Without `zorderCols`, files are
    * key-sorted (lookup-friendly row-group stats, same as merge).
    *
    * Participates in the same optimistic commit protocol as merge/delete:
    * concurrent writers are safe, losers retry against the new state with
    * the progress-aware budget. Scale shape: one full-table read + one
    * range exchange (with its sampling pass) + one commit — strictly a
    * maintenance-cadence cost, never on the ingest path. */
  def compactManifestBucketedParquet(
      spark: SparkSession,
      targetPath: String,
      keys: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      targetFileRows: Long = 1L << 20,
      newNBuckets: Option[Int] = None,
      keepSnapshots: Int = 1,
      maxRetries: Int = 5): Unit = {
    require(targetFileRows > 0, "targetFileRows must be positive")
    require(zorderCols.isEmpty || zorderCols.size >= 2 && zorderCols.size <= 4,
      "zorderCols must name 2..4 columns (one column is just a sort: pass keys)")
    require(newNBuckets.forall(_ > 0), "newNBuckets must be positive")
    require(newNBuckets.isEmpty || keys.nonEmpty,
      "re-bucketing needs the merge keys (the bucket hash is over them)")
    var wasted = 0
    var committed = false
    while (!committed) {
      val current = repairPointer(spark, targetPath)
      val body = manifestBody(spark, targetPath, current)
      val oldManifest = body.map(parseManifestEntries).getOrElse(Map.empty)
      requireManifestLayout(spark, targetPath, oldManifest)
      if (oldManifest.isEmpty || oldManifest.values.forall(_.isEmpty)) return
      val storedN = body.flatMap(parseManifestLong(_, "nBuckets")).map(_.toInt)
      val nOut = newNBuckets.orElse(storedN).getOrElse(0)
      // one bucket: no placement column; its merge keys stay recorded
      val partCol = if (nOut == 1) None else Some("__bucket")
      val sortKeys = if (keys.nonEmpty || nOut != 1) keys
        else body.flatMap(parseManifestString(_, "bucket_keys"))
          .map(_.split(",").toSeq).getOrElse(Nil)
      val commit: () => Unit =
        if (nOut == 1 && storedN.contains(1) && zorderCols.isEmpty) {
          // merge-on-read table: rewrite only the files with superseded
          // rows; the rewrite drops those rows and the files leave the
          // manifest with their recorded positions
          val deletes = parseRowDeletes(body.get)
          val rels = oldManifest.getOrElse(0, Nil)
          val dirty = rels.filter(deletes.contains)
          if (dirty.isEmpty) return
          () => rewriteOneBucketFiles(spark, targetPath, body.get, rels, dirty,
            sortKeys, None, nextFreeId(spark, targetPath, current), keepSnapshots)
        } else {
          val read = readManifestTable(spark, targetPath)
          val table = newNBuckets match {
            case Some(1) => read.drop("__bucket")
            case Some(n) => read.drop("__bucket").withColumn("__bucket",
              pmod(xxhash64(keys.map(col): _*), lit(n)).cast("int"))
            case None => read
          }
          val total = table.count()
          if (total == 0L) return
          val nParts = math.max(1, math.ceil(total.toDouble / targetFileRows).toInt)
          val bucketCols = partCol.toSeq.map(col)
          val clustered =
            if (zorderCols.nonEmpty) {
              val aggs = zorderCols.flatMap(c =>
                Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
              val mm = table.agg(aggs.head, aggs.tail: _*).head()
              // row layout: min(c0), max(c0), min(c1), max(c1), ...
              def bounds(i: Int): (Double, Double) =
                (if (mm.isNullAt(2 * i)) 0d else mm.getDouble(2 * i),
                  if (mm.isNullAt(2 * i + 1)) 0d else mm.getDouble(2 * i + 1))
              val bits = math.min(16, 63 / zorderCols.size)
              val top = (1L << bits) - 1L
              val scaled = zorderCols.zipWithIndex.map { case (c, i) =>
                val (lo, hi) = bounds(i)
                if (!(hi > lo)) lit(0L) // constant or all-null dimension
                else coalesce( // NULL coordinate -> curve slot 0
                  least(lit(top), greatest(lit(0L),
                    ((col(c).cast("double") - lit(lo)) * lit(top.toDouble / (hi - lo)))
                      .cast("long"))),
                  lit(0L))
              }
              table.withColumn("__z", Layout.zorderKey(scaled, bits))
                .repartitionByRange(nParts, bucketCols :+ col("__z"): _*)
                .sortWithinPartitions(bucketCols :+ col("__z"): _*)
                .drop("__z") // projection keeps partition-local order
            } else {
              val order = bucketCols ++ sortKeys.map(col)
              table.repartitionByRange(nParts, order: _*)
                .sortWithinPartitions(order: _*)
            }
          // a re-bucket is a FULL re-mapping: every new bucket id is touched
          // and the base manifest is empty, so stale old-bucket entries (and
          // their files) drop out of the new snapshot entirely
          val (touched, baseManifest) = newNBuckets match {
            case Some(n) => ((0 until n): Seq[Int], Map.empty[Int, Seq[String]])
            case None if nOut == 1 => (Seq(0), Map.empty[Int, Seq[String]])
            case None => (oldManifest.keySet.toSeq.sorted, oldManifest)
          }
          () => commitSnapshot(spark, targetPath, clustered, touched, baseManifest,
            sortKeys, nextFreeId(spark, targetPath, current), keepSnapshots, partCol,
            nOut, statsCols = zorderCols, preClustered = true)
        }
      try {
        commit()
        committed = true
      } catch {
        case e: CommitConflictException =>
          wasted = chargeRetry(spark, targetPath, current, wasted, maxRetries, e)
        case scala.util.control.NonFatal(e)
            if racedSince(spark, targetPath, current) =>
          wasted = 0 // productive: the table advanced (see chargeRetry)
          System.err.println(s"[graft] compact attempt on $targetPath failed " +
            s"under a concurrent commit (${e.getClass.getSimpleName}); retrying")
      }
    }
  }

  /** `how` (`left_anti` / `left_semi`) join with NULL-SAFE key equality
    * (`<=>`) — the delete twin of [[merge]]'s match condition. A
    * plain-equality anti join can never remove a NULL-keyed row that
    * merge happily matches, which would make a compliance erasure
    * silently incomplete (ADVICE r7). */
  private def joinKeys(target: DataFrame, delKeys: DataFrame,
      keys: Seq[String], how: String): DataFrame = {
    val t = target.as("t")
    val d = delKeys.as("d")
    t.join(d, keys.map(k => col(s"t.$k") <=> col(s"d.$k")).reduce(_ && _), how)
  }

  /** Tighten retention NOW, without a new commit: keep the newest
    * `keepSnapshots` snapshots (the live one counts) and GC the rest —
    * both layouts. The compliance companion to the delete ops: after an
    * erasure commit, RETAINED older snapshots still hold the erased rows
    * for time travel; vacuum(1) makes the erasure horizon immediate. */
  def vacuum(spark: SparkSession, targetPath: String,
      keepSnapshots: Int = 1): Unit = {
    require(keepSnapshots >= 1, "keepSnapshots must be >= 1")
    val root = new Path(targetPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hadoopConf)
    if (!fs.exists(root)) return
    currentSnapshot(spark, targetPath).foreach { snap =>
      val curId = idOf(snap, "snap-").getOrElse(
        throw new IllegalStateException(s"unparseable snapshot name $snap"))
      val retainedIds = (curId - keepSnapshots + 1) to curId
      val mf = new Path(root, s"$snap.manifest.json")
      if (fs.exists(mf)) {
        // manifest layout: live files = union of retained manifests,
        // parsed with the SAME parseManifestEntries the read path uses —
        // liveness and readability cannot drift (ADVICE r7: the old
        // body-wide regex was a format-evolution landmine).
        def entriesOf(ids: Seq[Long]): Set[String] = ids.flatMap { i =>
          val p = new Path(root, f"snap-$i%09d.manifest.json")
          if (!fs.exists(p)) Nil
          else parseManifestEntries(readFileBody(fs, p)).values.flatten
        }.map(e => normalize(fs, new Path(resolveEntry(targetPath, e)))).toSet
        val live = entriesOf(retainedIds)
        val known = entriesOf(committedIds(fs, root))
        sweepDataRuns(fs, root, targetPath, curId, live, known)
        sweepAdopted(fs, root, live, known)
        fs.listStatus(root).foreach { st =>
          val n = st.getPath.getName
          if (!st.isDirectory && n.endsWith(".manifest.json") &&
              idOf(n.stripSuffix(".manifest.json"), "snap-")
                .exists(_ < retainedIds.head))
            fs.delete(st.getPath, false)
        }
      } else {
        // plain snapshot layout: drop snapshot dirs (and their claim
        // markers) outside retention
        fs.listStatus(root).foreach { st =>
          val n = st.getPath.getName
          val staleSnap = st.isDirectory && n.startsWith("snap-") &&
            !retainedIds.contains(n.stripPrefix("snap-").toLong)
          val staleMarker = !st.isDirectory && n.endsWith(".commit") &&
            idOf(n.stripSuffix(".commit"), "snap-").exists(!retainedIds.contains(_))
          if (staleSnap || staleMarker) fs.delete(st.getPath, true)
        }
      }
    }
  }
}
