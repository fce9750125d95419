package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.sources.Parquet

/** CLI entry point for a compliance-erasure job (right-to-be-forgotten):
  * removes a key list from the merge target AND every content-derived
  * store the pipeline maintains, in one run:
  *
  * {{{
  *   spark-submit --class graft.RunErasure <jar> \
  *     <targetPath> <keysPath> [--key-col main_refco] \
  *     [--merge-buckets 256] [--keep-snapshots 1] \
  *     [--ivf-index <indexPath>] [--ivf-id-col vec_id] \
  *     [--hnsw-index <indexPath>] [--hnsw-id-col main_refco] \
  *     [--neardup-index <indexPath>] [--text-index <indexPath>] \
  *     [--components <storePath>] [--vacuum true]
  * }}}
  *
  * `keysPath` is a Parquet/JSON key list (one column, `--key-col`).
  * Target layout is auto-detected: a manifest target erases via the
  * bucket-pruned rewrite at its recorded bucket count (a one-bucket
  * merge-on-read table rewrites every file that holds a copy of an erased
  * key, live or superseded, so none stays on disk); otherwise the
  * snapshot-pointer key
  * delete runs
  * (it refuses a legacy hash-bucketed directory rather than adopt it).
  * Ordering matters for crash-safety: the TARGET commits first
  * (atomic pointer publish), then the index maintenance jobs — a crash in
  * between leaves indexes over-complete, which a re-run fixes
  * (every step is idempotent), and probes against a stale index only ever
  * return ids the target no longer serves.
  */
object RunErasure {
  private val usage =
    "usage: RunErasure <target> <keysPath> [--key-col c] " +
      "[--merge-buckets n] [--keep-snapshots n] " +
      "[--ivf-index p] [--ivf-id-col c] [--hnsw-index p] " +
      "[--hnsw-id-col c] [--neardup-index p] [--text-index p] " +
      "[--components p] [--vacuum true]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.submitted("graft-erasure")
    try run(spark, args) finally spark.stop()
  }

  /** The erasure job body (separated from [[main]]'s session lifecycle so
    * tests can drive the CLI surface on a shared session). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val Array(target, keysPath) = args.take(2)
    val opts = CliFlags.parse(args.drop(2).toSeq, usage)
    val keyCol = opts.getOrElse("--key-col", "main_refco")
    val keep = opts.get("--keep-snapshots").map(_.toInt).getOrElse(1)

    locally {
      val keys =
        (if (keysPath.endsWith(".json")) spark.read.json(keysPath)
         else Parquet.read(spark, keysPath)).select(col(keyCol))

      val isManifest = operators.Upsert.currentSnapshot(spark, target)
        .exists { snap =>
          val p = new org.apache.hadoop.fs.Path(target, s"$snap.manifest.json")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
        }
      val nBuckets = opts.get("--merge-buckets").map(_.toInt).getOrElse(256)
      if (isManifest) {
        operators.Upsert.deleteKeysFromManifestBucketedParquet(
          spark, target, keys, Seq(keyCol), nBuckets, keep)
        System.err.println(s"[erasure] manifest target: erased keys from $target")
      } else {
        val removed = operators.Upsert.deleteKeysFromParquet(spark, target,
          keys, Seq(keyCol), keepSnapshots = keep)
        System.err.println(s"[erasure] snapshot target: removed $removed rows")
      }

      opts.get("--ivf-index").foreach { idx =>
        operators.Ivf.deleteFromIndex(spark, idx, keys.toDF(
          opts.getOrElse("--ivf-id-col", "vec_id")),
          opts.getOrElse("--ivf-id-col", "vec_id"))
        System.err.println(s"[erasure] IVF index scrubbed: $idx")
      }
      opts.get("--hnsw-index").foreach { idx =>
        operators.Hnsw.deleteFromIndex(spark, idx, keys.toDF(
          opts.getOrElse("--hnsw-id-col", "main_refco")),
          opts.getOrElse("--hnsw-id-col", "main_refco"))
        System.err.println(s"[erasure] HNSW graph scrubbed + healed: $idx")
      }
      opts.get("--neardup-index").foreach { idx =>
        operators.Dedup.deleteFromNearDupIndex(spark, idx,
          keys.toDF("id"))
        System.err.println(s"[erasure] near-dup index scrubbed: $idx")
      }
      opts.get("--text-index").foreach { idx =>
        operators.TextIndex.deleteFromIndex(spark, idx,
          keys.toDF("doc_id"))
        System.err.println(s"[erasure] text index scrubbed: $idx")
      }
      opts.get("--components").foreach { root =>
        operators.Graph.deleteFromComponents(spark, root, keys)
        System.err.println(s"[erasure] component store scrubbed: $root")
      }
      // --vacuum true: expire retained pre-delete snapshots NOW — they
      // still hold the erased rows for time travel until GC'd.
      if (opts.get("--vacuum").exists(_.toBoolean)) {
        operators.Upsert.vacuum(spark, target, keep)
        System.err.println(s"[erasure] vacuumed to $keep snapshot(s)")
      }
    }
  }
}
