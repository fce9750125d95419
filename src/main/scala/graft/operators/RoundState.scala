package graft.operators

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Parquet

/** Durable per-round loop state for CROSS-APPLICATION resume — the
  * complement of [[Ckpt]]'s fault contract. Reliable checkpoints
  * (`spark.graft.checkpointDir`) survive EXECUTOR loss inside one
  * application, but a driver/JVM kill mid-loop loses the application and
  * with it the loop position; at 100 TB an N-hour iterative job must
  * resume at round k, not restart at round 0. A loop that carries a
  * [[RoundState]] commits each round's frame as parquet under
  * `dir/round-<i>/` with a `_COMMITTED` marker written strictly AFTER
  * the data — a crash at any instant leaves the newest MARKED round
  * fully readable and any partial round ignorable. Storage is bounded
  * like the checkpoint rotator: committing round i deletes round i−2.
  *
  * The scheme is deliberately simpler than [[IndexStore]]'s manifest
  * protocol: round state has exactly ONE writer (the loop's driver —
  * concurrent drivers of one iterative job are an orchestration bug, not
  * a supported topology), so a marker file is a sufficient commit point
  * and optimistic retry machinery would be dead weight. */
final class RoundState(spark: SparkSession, dir: String) {
  private val root = new Path(dir)
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def roundDir(i: Int) = new Path(root, s"round-$i")
  private def marker(i: Int) = new Path(roundDir(i), "_COMMITTED")

  /** Newest committed round and its frame, if any. The returned frame is
    * a flat parquet scan — already "pinned" for lineage purposes. */
  def latest(): Option[(Int, DataFrame)] = {
    if (!fs.exists(root)) return None
    val committed = fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("round-") => n.stripPrefix("round-").toInt }
      .filter(i => fs.exists(marker(i)))
    committed.sorted.lastOption
      .map(i => i -> Parquet.read(spark, new Path(roundDir(i), "data").toString))
  }

  /** Commit round `i`: write the frame, then the marker (the commit
    * point), then drop round i−2's files. */
  def commit(i: Int, df: DataFrame): Unit = {
    val rd = roundDir(i)
    if (fs.exists(rd)) fs.delete(rd, true) // a partial write from a crashed run
    df.write.parquet(new Path(rd, "data").toString)
    fs.create(marker(i), true).close()
    if (i >= 2) fs.delete(roundDir(i - 2), true)
  }
}
