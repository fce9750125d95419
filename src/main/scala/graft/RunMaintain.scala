package graft

import org.apache.spark.sql.SparkSession

import graft.sources.Parquet

/** CLI entry point for the periodic maintenance jobs a long-lived
  * deployment schedules next to the pipeline itself — the spark-submit
  * face of the library's compaction/retention operators (the reference
  * delegates all maintenance to its warehouse; on plain Parquet these
  * jobs ARE the warehouse):
  *
  * {{{
  *   spark-submit --class graft.RunMaintain <jar> <action> <path> [opts]
  *
  *   actions:
  *     ivf-compact <indexPath> [--id-col vec_id]
  *         collapse per-add small files in the IVF cell table (and
  *         rebuild its idmap) — one file per cell after
  *     hnsw-compact <indexPath>
  *         collapse per-add appends in the HNSW node table (edges
  *         rewrite wholesale on every add/delete, so they stay compact)
  *     neardup-compact <indexPath>
  *         collapse per-batch appends in the MinHash sigs/bands tables
  *     textindex-compact <indexPath>
  *         collapse per-add fragments in the BM25 postings/doclen tables
  *     table-compact <targetPath> [--keys k1,k2] [--zorder c1,c2]
  *                   [--target-file-rows N] [--rebucket N]
  *         full rewrite of a merge target: resize files, optionally
  *         re-bucket to a count that fits the data, and with --zorder,
  *         Morton-cluster the rewrite so file-stats pruning works on
  *         every named dimension (Delta OPTIMIZE ZORDER's role). On a
  *         one-bucket merge-on-read target (no --zorder / --rebucket) it
  *         rewrites only the files holding superseded rows, dropping them
  *     vacuum <targetPath> [--keep-snapshots 1]
  *         expire retained snapshots of a merge target NOW (compliance
  *         erasure horizon; also the post-incident storage reclaim)
  *     snapshots <targetPath>
  *         list retained snapshot names (oldest first) — the time-travel
  *         surface: read one with Upsert.readTargetAt
  *     changes <targetPath> --keys k1,k2 [--since snap-...] [--out dir]
  *         incremental change-feed poll: rows the merges since --since
  *         changed (all current rows as inserts when --since is absent —
  *         the bootstrap), written as Parquet to --out (or counted to
  *         stderr); stdout prints ONE line, the cursor to pass as the
  *         next poll's --since — pipe-able into the consumer's state
  *     mirror <targetPath> --keys k1,k2 --to <mirrorDir>
  *         cursor-managed change-feed consumer: bootstraps/advances a
  *         persisted downstream mirror of the target (one poll per
  *         invocation — schedule it); stdout prints the recorded cursor
  *     stats <targetPath> [--small-file-bytes N]
  *         metadata-only layout-health census: files/bytes per bucket,
  *         small-file count, bucket skew, superseded (dead) rows — the
  *         table-compact tripwire
  *     expire <targetPath> --ts-col <c> --older-than <ts>
  *            [--key-col main_refco] [--merge-buckets N]
  *            [--keep-snapshots N] [--ivf-index p] [--ivf-id-col c]
  *            [--neardup-index p] [--text-index p] [--components p]
  *            [--vacuum true]
  *         retention TTL: delete every key whose row's timestamp
  *         predates the cutoff — computed key list routed through the
  *         RunErasure path (same layout handling, index scrubs and
  *         snapshot protocol; add --vacuum true for a hard horizon)
  * }}}
  *
  * Each action accepts only the flags its own usage line lists; any
  * other flag, or one without a value, fails the job before it touches
  * anything ([[CliFlags]]): `vacuum <t> --keep-snapshot 5` is refused
  * instead of vacuuming to the default 1 snapshot, and so is
  * `vacuum <t> --zorder c`, a flag of `table-compact`.
  *
  * Every action commits through the snapshot/manifest protocol: a crash
  * mid-job leaves the previous state fully readable, and concurrent
  * pipeline runs keep reading the old snapshot until the pointer flips.
  */
object RunMaintain {
  /** Each action's usage line: its `--flags` are the ones it accepts. */
  private val actions: Seq[(String, String)] = Seq(
    "ivf-compact" -> "<index> [--id-col c]",
    "hnsw-compact" -> "<index>",
    "neardup-compact" -> "<index>",
    "textindex-compact" -> "<index>",
    "table-compact" -> ("<target> [--keys k1,k2] [--zorder c1,c2] " +
      "[--target-file-rows n] [--rebucket n] [--keep-snapshots n]"),
    "vacuum" -> "<target> [--keep-snapshots n]",
    "snapshots" -> "<target>",
    "changes" -> "<target> --keys k1,k2 [--since snap] [--out dir]",
    "mirror" -> "<target> --keys k1,k2 --to dir",
    "stats" -> "<target> [--small-file-bytes n]",
    "expire" -> ("<target> --ts-col c --older-than ts [--key-col c] " +
      "[--merge-buckets n] [--keep-snapshots n] [--ivf-index p] " +
      "[--ivf-id-col c] [--neardup-index p] [--text-index p] " +
      "[--components p] [--vacuum true]"))

  private val usage = "usage: RunMaintain <action> <path> [opts]\n" +
    actions.map { case (a, line) => s"  $a $line" }.mkString("\n")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.submitted("graft-maintain")
    try run(spark, args) finally spark.stop()
  }

  /** Job body, separated from [[main]]'s session lifecycle so tests can
    * drive the CLI surface on a shared session (the [[RunErasure]]
    * pattern). */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val action = args(0)
    val path = args(1)
    val line = actions.toMap.getOrElse(action, throw new IllegalArgumentException(
      s"unknown action '$action' (${actions.map(_._1).mkString(" | ")})\n$usage"))
    val opts = CliFlags.parse(args.drop(2).toSeq, s"usage: RunMaintain $action $line")
    action match {
      case "ivf-compact" =>
        operators.Ivf.compactIndex(spark, path,
          opts.getOrElse("--id-col", "vec_id"))
        System.err.println(s"[maintain] IVF index compacted: $path")
      case "hnsw-compact" =>
        operators.Hnsw.compactIndex(spark, path)
        System.err.println(s"[maintain] HNSW node table compacted: $path")
      case "neardup-compact" =>
        operators.Dedup.compactNearDupIndex(spark, path)
        System.err.println(s"[maintain] near-dup index compacted: $path")
      case "textindex-compact" =>
        operators.TextIndex.compactIndex(spark, path)
        System.err.println(s"[maintain] text index compacted: $path")
      case "table-compact" =>
        def csv(k: String): Seq[String] = opts.get(k).toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        operators.Upsert.compactManifestBucketedParquet(spark, path,
          keys = csv("--keys"), zorderCols = csv("--zorder"),
          targetFileRows = opts.get("--target-file-rows").map(_.toLong)
            .getOrElse(1L << 20),
          newNBuckets = opts.get("--rebucket").map(_.toInt),
          keepSnapshots = opts.get("--keep-snapshots").map(_.toInt).getOrElse(1))
        System.err.println(s"[maintain] table compacted: $path")
      case "vacuum" =>
        val keep = opts.get("--keep-snapshots").map(_.toInt).getOrElse(1)
        operators.Upsert.vacuum(spark, path, keep)
        System.err.println(s"[maintain] vacuumed $path to $keep snapshot(s)")
      case "snapshots" =>
        // stdout, one per line — scriptable (the err stream carries logs)
        operators.Upsert.snapshots(spark, path).foreach(println)
      case "changes" =>
        val keys = opts.get("--keys").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        require(keys.nonEmpty, "changes requires --keys k1,k2")
        val (feed, cursor) = operators.Upsert.readChangeFeed(
          spark, path, opts.get("--since"), keys)
        opts.get("--out") match {
          case Some(out) => feed.write.mode("overwrite").parquet(out)
          case None => System.err.println(s"[maintain] ${feed.count()} change row(s)")
        }
        // stdout: ONE line, the next poll's cursor
        println(cursor)
      case "mirror" =>
        val keys = opts.get("--keys").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
        require(keys.nonEmpty, "mirror requires --keys k1,k2")
        val to = opts.getOrElse("--to",
          throw new IllegalArgumentException("mirror requires --to <mirrorDir>"))
        println(operators.Upsert.syncMirror(spark, path, to, keys))
      case "stats" =>
        val small = opts.get("--small-file-bytes").map(_.toLong)
          .getOrElse(8L << 20) // default: files under 8 MiB are "small"
        val stats = operators.Upsert.tableStats(spark, path).collect()
        val rows = stats.map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        val superseded = stats.map(_.getMap[String, Long](3).values.sum).sum
        val files = rows.map(_._2).sum
        val bytes = rows.map(_._3).sum
        val smallCount = rows.collect {
          case (_, n, b) if n > 0 && b / n < small => n
        }.sum
        val skew =
          if (rows.length <= 1 || files == 0) 1.0
          else rows.map(_._3).max.toDouble /
            math.max(1.0, bytes.toDouble / rows.length)
        // stdout: one summary line, machine-readable — the cron tripwire
        println(f"""{"buckets":${rows.length},"files":$files,"bytes":$bytes,""" +
          f""""small_files":$smallCount,"max_bucket_skew":$skew%.2f,""" +
          f""""superseded_rows":$superseded}""")
        rows.sortBy(_._1).foreach { case (b, n, sz) =>
          System.err.println(f"[maintain] bucket=$b%4d files=$n%5d bytes=$sz%12d")
        }
      case "expire" =>
        // Retention TTL (GDPR data-minimization horizon): rows whose
        // timestamp falls before --older-than leave the table. On an
        // upsert target each key carries one row, so row-level TTL IS
        // key-level erasure with a computed key list — the expired keys
        // are derived from the live snapshot and routed through the
        // SAME RunErasure path (layout detection, bucket-pruned
        // rewrite, optional index/component scrubs, snapshot
        // protocol), so TTL inherits erasure's crash-safety and
        // idempotence for free. Time travel still serves the expired
        // rows until vacuum, exactly like erasure; pass --vacuum true
        // for a hard horizon.
        val tsCol = opts.getOrElse("--ts-col",
          throw new IllegalArgumentException("expire requires --ts-col <c>"))
        val cutoffStr = opts.getOrElse("--older-than",
          throw new IllegalArgumentException(
            "expire requires --older-than <yyyy-MM-dd HH:mm:ss>"))
        // parse driver-side and FAIL LOUD on a malformed cutoff — a null
        // to_timestamp would match nothing and the retention job would
        // exit 0 having silently retained everything. UTC wall clock, as
        // the session's zone ([[GraftSession.submitted]]).
        val cutoff = CliFlags.utcTimestamp("--older-than", cutoffStr)
        val keyCol = opts.getOrElse("--key-col", "main_refco")
        import org.apache.spark.sql.functions.{col, lit}
        // Stage the computed key list UNDER THE TARGET'S filesystem (a
        // _tmp dir beside the table, via the Hadoop FileSystem API): a
        // driver-local temp dir is only correct in local mode — on a
        // cluster with an object-store/HDFS target, executors would
        // write their parts to their own local disks and the compliance
        // job would expire a partial key set (or fail outright).
        val tmpHPath = new org.apache.hadoop.fs.Path(path,
          s"_tmp-expire-${java.util.UUID.randomUUID()}")
        val tmpFs = tmpHPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        try {
          val keysPath = tmpHPath.toString + "/keys"
          // write once, count the written file — no second TTL scan
          operators.Upsert.readTarget(spark, path)
            .where(col(tsCol) < lit(cutoff))
            .select(col(keyCol)).distinct()
            .write.mode("overwrite").parquet(keysPath)
          val n = Parquet.read(spark, keysPath).count()
          if (n == 0) {
            System.err.println(s"[maintain] expire: nothing older than $cutoffStr")
          } else {
            val forward = Seq("--merge-buckets", "--keep-snapshots",
              "--ivf-index", "--ivf-id-col", "--neardup-index",
              "--components", "--text-index", "--vacuum")
              .flatMap(k => opts.get(k).toSeq.flatMap(v => Seq(k, v)))
            RunErasure.run(spark,
              Array(path, keysPath, "--key-col", keyCol) ++ forward)
            System.err.println(
              s"[maintain] expired $n key(s) older than $cutoffStr from $path")
          }
        } finally tmpFs.delete(tmpHPath, true)
    }
  }
}
