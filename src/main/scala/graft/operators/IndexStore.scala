package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Snapshot-committed store for DERIVED-INDEX tables — IVF centroids and
  * cell assignments ([[Ivf]]), MinHash sigs/bands ([[Dedup]]): the same
  * manifest + `_current`-pointer commit protocol as [[Upsert]]'s
  * manifest-bucketed merge targets (it shares `Upsert.commitSnapshot`),
  * applied to the index side of the house.
  *
  * Why: index maintenance used to swap rewritten tables with
  * delete-then-rename — non-atomic (a crash between the delete and the
  * rename loses the whole table) and an O(index-size) copy on object
  * stores, the exact pattern the merge target's snapshot protocol exists
  * to avoid (ADVICE r7). Here every mutation lands as immutable files
  * under `data/run-<id>-<attempt>/`, the manifest create is the atomic
  * commit point, and readers resolve the committed manifest — a crash at
  * ANY point leaves the previous index fully readable, and a rewrite of
  * `k` of `n` partitions moves `k/n` of the bytes, never a full copy.
  *
  * Layout (identical to the merge target's):
  * {{{
  *   <root>/_current                      pointer file (derived, monotonic)
  *   <root>/snap-<id>.manifest.json       partition -> [data file paths]
  *   <root>/data/run-<id>-<attempt>/[<partCol>_p=<v>/]part-*.parquet
  * }}}
  * `partCol` (e.g. `__cell`) rides IN the data files; unpartitioned
  * tables (sigs, bands, centroids) use the single manifest entry 0.
  *
  * Legacy adoption: an index written by earlier rounds is a plain Parquet
  * dir (hive `__cell=` partitions for IVF cells). The first MUTATION
  * through this store folds the legacy contents into snapshot 0 (a
  * one-time rewrite — maintenance-job context) and sweeps the legacy
  * files after the commit; pure READS of a legacy dir pass through
  * untouched, so existing indexes stay probe-able without conversion.
  */
object IndexStore {

  /** Name of the committed snapshot to read: newest manifest if any
    * (manifest creation is the commit point; the pointer may lag one
    * commit after a crash), else whatever the pointer says. Never writes. */
  private def committedSnapshot(spark: SparkSession, root: String): Option[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = Upsert.committedIds(fs, p)
    if (ids.nonEmpty) Some(f"snap-${ids.max}%09d")
    else Upsert.currentSnapshot(spark, root)
  }

  /** true once at least one snapshot has been committed under `root`. */
  def isStore(spark: SparkSession, root: String): Boolean =
    committedSnapshot(spark, root).isDefined

  /** Root children that are PRE-STORE content: anything that is not the
    * store layout (`data/`, manifests, pointer) or Spark write metadata.
    * NB a hive partition dir like `__cell=0` starts with an underscore but
    * IS legacy data — the filter must be layout-denylist, not
    * underscore-allowlist. */
  private def legacyEntries(spark: SparkSession,
      root: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      val layout = n == "data" || n == "_current" ||
        n.startsWith("_current.tmp-") || n.startsWith("snap-")
      val sparkMeta = n == "_SUCCESS" || n == "_temporary" ||
        n.startsWith(".") || n.endsWith(".crc")
      !layout && !sparkMeta
    }
  }

  /** The table holds data — a committed snapshot OR a legacy plain dir. */
  def exists(spark: SparkSession, root: String): Boolean =
    isStore(spark, root) || legacyEntries(spark, root).nonEmpty

  /** Read the committed index table, optionally pruned to `parts` (e.g.
    * the probed IVF cells): pruning selects manifest ENTRIES, so unneeded
    * files are never even listed. Legacy plain dirs read directly, with
    * the prune applied as a partition filter. */
  def read(spark: SparkSession, root: String,
      partCol: Option[String] = None,
      parts: Option[Seq[Int]] = None): DataFrame =
    committedSnapshot(spark, root) match {
      case Some(snap) =>
        val body = Upsert.manifestBody(spark, root, Some(snap)).getOrElse(
          throw new IllegalStateException(s"unreadable manifest $snap under $root"))
        val entries = Upsert.parseManifestEntries(body)
        Upsert.readEntries(spark, root, body, parts match {
          case Some(ps) => ps.flatMap(p => entries.getOrElse(p, Nil))
          case None => entries.values.flatten.toSeq
        }, s"index table $root")
      case None =>
        val df = Parquet.read(spark, root)
        (partCol, parts) match {
          case (Some(pc), Some(ps)) =>
            df.where(col(pc).isin(ps.map(Int.box): _*))
          case _ => df
        }
    }

  /** Append `df` as new files (incremental index add): touched
    * partitions' entry lists are EXTENDED, nothing is rewritten. On a
    * legacy dir this first adopts (legacy ∪ df in one snapshot). */
  def append(spark: SparkSession, root: String, df: DataFrame,
      partCol: Option[String] = None, sortCols: Seq[String] = Nil): Unit =
    if (!isStore(spark, root) && legacyEntries(spark, root).nonEmpty)
      rewrite(spark, root, read(spark, root).unionByName(df), None, partCol, sortCols)
    else commitLoop(spark, root, () => (df, None), partCol, sortCols,
      appendEntries = true)

  /** Rewrite partitions: `touched = Some(ps)` replaces exactly those
    * partitions' entries with `df`'s files (incremental delete/compact —
    * `df` must hold the FULL new content of those partitions and nothing
    * else); `touched = None` replaces the whole table. Callers doing a
    * partial rewrite of a legacy dir must [[adopt]] first.
    *
    * NB `df` here is a CONSTANT plan: use this overload only when the new
    * content does not derive from the store's own committed state (full
    * build from a corpus). A delete/compact whose `df` reads the store
    * must go through [[rewriteWith]] so a conflict retry recomputes
    * against the winner's state instead of recommitting a stale plan. */
  def rewrite(spark: SparkSession, root: String, df: DataFrame,
      touched: Option[Seq[Int]] = None,
      partCol: Option[String] = None, sortCols: Seq[String] = Nil): Unit =
    rewriteWith(spark, root, partCol, sortCols)(() => (df, touched))

  /** Rewrite with RECOMPUTE-ON-RETRY (ADVICE r8): `compute` is invoked
    * inside the optimistic-commit loop, AFTER the committed state is
    * (re-)read — so on a [[graft.operators.Upsert.CommitConflictException]]
    * the transformation (typically: read the store, anti-join a delete
    * list, derive the touched partitions) is rebuilt against the winner's
    * snapshot rather than replayed from a stale file list. Returns
    * `(df, touched)` with `touched` as in [[rewrite]]. */
  def rewriteWith(spark: SparkSession, root: String,
      partCol: Option[String] = None, sortCols: Seq[String] = Nil)(
      compute: () => (DataFrame, Option[Seq[Int]])): Unit =
    commitLoop(spark, root, compute, partCol, sortCols, appendEntries = false)

  /** Fold a legacy plain-dir index into the store (no-op if already a
    * store or nothing exists) — one full rewrite, then the legacy files
    * are swept. Run before a PARTIAL rewrite of a possibly-legacy index. */
  def adopt(spark: SparkSession, root: String,
      partCol: Option[String] = None, sortCols: Seq[String] = Nil): Unit =
    if (!isStore(spark, root) && legacyEntries(spark, root).nonEmpty)
      rewrite(spark, root, read(spark, root), None, partCol, sortCols)

  private def commitLoop(spark: SparkSession, root: String,
      compute: () => (DataFrame, Option[Seq[Int]]), partCol: Option[String],
      sortCols: Seq[String], appendEntries: Boolean,
      maxRetries: Int = 5): Unit = {
    val hadLegacy = legacyEntries(spark, root).nonEmpty
    var wasted = 0 // no-progress failures only; see Upsert.chargeRetry
    var committed = false
    while (!committed) {
      val current = Upsert.repairPointer(spark, root)
      val manifest = current
        .flatMap(s => Upsert.manifestBody(spark, root, Some(s)))
        .map(Upsert.parseManifestEntries).getOrElse(Map.empty)
      // compute() runs AFTER the state read of THIS attempt, so a retry
      // after a conflict rebuilds df/touched from the winner's snapshot —
      // never recommits a plan pinned to pre-conflict files (ADVICE r8)
      val (df, touched) = compute()
      require(touched.isEmpty || !hadLegacy,
        s"partial rewrite of legacy index dir $root — adopt() it first")
      val touchedParts: Seq[Int] = touched.getOrElse(partCol match {
        case Some(pc) =>
          val dfParts = df.select(col(pc).cast("int")).distinct()
            .collect().map(_.getInt(0)).toSeq // O(#partitions) driver ids
          if (appendEntries) dfParts.sorted
          else (manifest.keySet ++ dfParts).toSeq.sorted // full replace
        case None => Seq(0)
      })
      try {
        Upsert.commitSnapshot(spark, root, df, touchedParts, manifest,
          sortCols, Upsert.nextFreeId(spark, root, current),
          keepSnapshots = 1, partCol, nBuckets = 0, appendEntries)
        committed = true
      } catch {
        case e: Upsert.CommitConflictException =>
          wasted = Upsert.chargeRetry(spark, root, current, wasted, maxRetries, e)
        case scala.util.control.NonFatal(e)
            if Upsert.racedSince(spark, root, current) =>
          // collateral of a concurrent winner's GC (it may have swept this
          // attempt's inputs): re-read + recompute + retry (ADVICE r8);
          // productive — the store advanced, no budget charge
          wasted = 0
          System.err.println(s"[graft] index commit on $root failed under a " +
            s"concurrent commit (${e.getClass.getSimpleName}); retrying")
      }
    }
    if (hadLegacy) sweepLegacy(spark, root)
  }

  /** Remove pre-store files after adoption (idempotent; a crash here just
    * leaves garbage the next mutation sweeps again). */
  private def sweepLegacy(spark: SparkSession, root: String): Unit = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    legacyEntries(spark, root).foreach(st => fs.delete(st.getPath, true))
    // stale checksum/marker siblings of swept files
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && (n == "_SUCCESS" || n.endsWith(".crc")))
        fs.delete(st.getPath, false)
    }
  }
}
