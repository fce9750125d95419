package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession.
  *
  *  - [[local]]: the in-process tools (bench, correctness dump, plan
  *    maps, scale probe, soaks) and the test suite. Every one of them
  *    renders or fingerprints plans, so they all run under the same
  *    [[renderingConfs]].
  *  - [[submitted]]: the spark-submit jobs. Master and executor sizing
  *    come from spark-submit; the session gets the [[GraftConf]] scale
  *    profile and the UTC session zone.
  */
object GraftSession {

  /** SQL confs every plan rendering runs under — the canonical map's
    * sessions, the bench's and every other local tool's alike, so
    * `graft.Bench` hashes stay byte-comparable with the committed map.
    *  - maxMetadataStringLength: the default 100-char truncation cuts
    *    DataFilters at a point that depends on token LENGTHS (a lambda
    *    variable named x_478 vs x_1 shifts the cut), so identical plans
    *    rendered in different sessions hashed apart; rendering-only.
    *  - v2 bucketing (round 17): graft scans grouped by bucket
    *    (KeyGroupedPartitioning, storage-partitioned joins) are part of
    *    the rendering, pinned so no JVM's session defaults leak in;
    *    inert for non-graft relations. */
  val renderingConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.maxMetadataStringLength" -> "100000",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true")

  /** An in-process session on `cpus` local cores: one shuffle partition
    * per core, no UI, WARN logging, [[renderingConfs]]. Returns the live
    * session if one exists (its runtime confs are overwritten). */
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config(renderingConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The session of a spark-submit job, under the scale profile, with
    * timestamps rendered and parsed in UTC whatever the host's zone. */
  def submitted(appName: String): SparkSession = {
    val s = SparkSession.builder().appName(appName).getOrCreate()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    GraftConf.applyScaleProfile(s)
    s
  }
}
