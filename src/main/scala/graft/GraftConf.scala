package graft

import org.apache.spark.sql.SparkSession

/** Recommended session configuration for the 100 TB deployment profile.
  *
  * Every entry is a runtime (non-static) SQL conf, so the helper works on
  * a builder or a live session. Values encode the engine's scale
  * assumptions; override per job where measurements say otherwise.
  */
object GraftConf {

  val scaleDefaults: Map[String, String] = Map(
    // AQE re-plans with runtime statistics: coalesces tiny post-shuffle
    // partitions, converts to broadcast when a side turns out small, and
    // splits skewed partitions — the backstop for the power-law keys the
    // dedup/sessionize operators shuffle on.
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    // 128 MB scan splits keep a 100 TB table at ~800k tasks — large enough
    // to amortize task overhead, small enough that one split's rows +
    // shuffle state fit executor memory comfortably.
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    // Dynamic partition overwrite: partitioned overwrites (a caller's
    // `partitionBy` output) replace only the partitions they write. The
    // pipeline stages its batch unpartitioned, so each run's staging
    // write still replaces the whole staging directory.
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
    // Parquet writers: snappy matches the reference's staging compression
    // (embeddings-pipeline.py:255).
    "spark.sql.parquet.compression.codec" -> "snappy",
    // Storage-partitioned joins (round 17): DSv2 scans reporting
    // KeyGroupedPartitioning (the graft connector's hash-bucket layout)
    // join co-partitioned tables with ZERO exchange; pushPartValues
    // aligns sides whose bucket populations differ (empty buckets).
    // Only graft scans report a partitioning, so the flags are inert for
    // every other relation in the plan.
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
    // Runtime bloom-filter join pruning: a selective dimension-side
    // predicate (merge batch ⋈ huge target, probe ⋈ cell table) injects a
    // bloom filter into the fact-side SCAN, skipping row groups whose
    // join keys can't match — the runtime companion to static partition
    // pruning, and exactly the shape of this engine's batch-vs-corpus
    // joins.
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true")

  /** Shuffle partition count sized to the cluster: ~2 waves per shuffle
    * keeps stragglers bounded without drowning the scheduler. */
  def shufflePartitionsFor(totalCores: Int): Int = math.max(1, totalCores * 2)

  /** Apply the scale profile to a live session (runtime confs only). */
  def applyScaleProfile(spark: SparkSession): Unit = {
    scaleDefaults.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.conf.set("spark.sql.shuffle.partitions",
      shufflePartitionsFor(spark.sparkContext.defaultParallelism))
  }
}
