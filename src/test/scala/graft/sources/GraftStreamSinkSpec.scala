package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase
import graft.operators.Upsert

/** Structured Streaming sink for graft tables (round 18):
  * `writeStream.format("graft")` appends each micro-batch as new
  * per-bucket files under the optimistic commit protocol, exactly once
  * per (query, epoch) — the write-side twin of [[GraftAppendsStream]],
  * composing into graft→graft streaming pipelines. */
class GraftStreamSinkSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshTable(tag: String): String =
    Files.createTempDirectory(s"graft-sink-$tag").toString + "/t"

  /** Pre-create the sink target: an empty merge commits the schema and
    * layout without any data files. */
  private def createTarget(path: String): Unit =
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq.empty[(Long, String)].toDF("key", "v"), Seq("key"),
      nBuckets = 4, keepSnapshots = 3)

  private def drainInto(src: String, dst: String, ckpt: String): Unit = {
    val q = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("graft-to-graft pipeline: appends stream through the sink exactly once, across restarts") {
    val src = freshTable("src")
    val dst = freshTable("dst")
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    def append(m: Int): Unit =
      Upsert.appendToManifestBucketedParquet(spark, src,
        (0L until 40L).map(k => (k + m * 1000L, s"v$m-$k")).toDF("key", "v"),
        Seq("key"), nBuckets = 4, keepSnapshots = 5)

    append(0); append(1)
    createTarget(dst)
    drainInto(src, dst, ckpt)
    val firstRun = Upsert.readTarget(spark, dst).select("key", "v")
      .as[(Long, String)].collect().toSeq.sorted
    assert(firstRun == Upsert.readTarget(spark, src).select("key", "v")
      .as[(Long, String)].collect().toSeq.sorted)
    assert(firstRun.size == 80)

    // RESTART with the same checkpoint after the source advances: only
    // the new batch flows — nothing is re-delivered, nothing is lost
    append(2)
    drainInto(src, dst, ckpt)
    val secondRun = Upsert.readTarget(spark, dst).select("key", "v")
      .as[(Long, String)].collect().toSeq.sorted
    assert(secondRun.size == 120, s"got ${secondRun.size}")
    assert(secondRun == Upsert.readTarget(spark, src).select("key", "v")
      .as[(Long, String)].collect().toSeq.sorted)

    // the epoch marker key is the STABLE query id: two runs of the same
    // checkpoint leave exactly ONE marker (a per-run id would leave two
    // and break replay detection across restarts)
    val body = Upsert.manifestBody(spark, dst, None).get
    val markers = "\"stream_epoch_([A-Za-z0-9_-]+)\"".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
    assert(markers.size == 1, s"markers: $markers")

    // the sink target is itself a bucketed graft table: point lookups
    // and the library face both serve it
    assert(spark.read.format("graft").load(dst)
      .where(col("key") === 2005L).count() == 1L)
  }

  test("replayed epoch is a no-op: marker survives interleaved batch commits") {
    val dst = freshTable("replay")
    createTarget(dst)
    // write one batch through the real sink machinery
    val src = freshTable("rsrc")
    Upsert.appendToManifestBucketedParquet(spark, src,
      (0L until 20L).map(k => (k, s"v$k")).toDF("key", "v"),
      Seq("key"), nBuckets = 4, keepSnapshots = 3)
    val ckpt = Files.createTempDirectory("graft-replay-ckpt").toString
    drainInto(src, dst, ckpt)
    val afterFirst = Upsert.readTarget(spark, dst).count()
    assert(afterFirst == 20L)

    // an interleaved BATCH merge must carry the stream's epoch marker
    // forward — otherwise a later crash-replay would double-append
    Upsert.mergeIntoManifestBucketedParquet(spark, dst,
      Seq((9999L, "merged")).toDF("key", "v"), Seq("key"),
      nBuckets = 4, keepSnapshots = 3)

    // simulate the crash-replay of epoch 0: same query id, same epoch,
    // fresh files — commitStreamAppend must refuse and retire the files
    val qid = "\"stream_epoch_([A-Za-z0-9_-]+)\"".r
      .findFirstMatchIn(Upsert.manifestBody(spark, dst, None).get)
      .get.group(1)
    val runRel = "data/run-stream-replaytest-e0"
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedDir = new org.apache.hadoop.fs.Path(dst, s"$runRel/__bucket_p=0")
    fs.mkdirs(stagedDir.getParent)
    (0L until 5L).map(k => (k, "dup")).toDF("key", "v")
      .withColumn("__bucket", lit(0))
      .coalesce(1).write.mode("overwrite").parquet(stagedDir.toString)
    val staged = fs.listStatus(stagedDir).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet")).toSeq
    val committed = Upsert.commitStreamAppend(spark, dst, qid, epochId = 0L,
      newByBucket = Map(0 -> staged.map(n => s"$runRel/__bucket_p=0/$n")),
      schemaDdl = "key BIGINT, v STRING, __bucket INT",
      keys = Seq("key"), nBuckets = 4, keepSnapshots = 3)
    assert(!committed, "replayed epoch was committed twice")
    assert(Upsert.readTarget(spark, dst).count() == afterFirst + 1,
      "replay changed table content")
    // the replayed attempt's files were retired
    assert(staged.forall(n => !fs.exists(
      new org.apache.hadoop.fs.Path(dst, s"$runRel/__bucket_p=0/$n"))))
  }

  test("a target without a recorded merge layout refuses the stream loudly") {
    val dst = Files.createTempDirectory("graft-sink-plain").toString + "/t"
    val src = freshTable("psrc")
    Upsert.appendToManifestBucketedParquet(spark, src,
      Seq((1L, "a")).toDF("key", "v"), Seq("key"), nBuckets = 2)
    val e = intercept[Exception] {
      val q = spark.readStream.format("graft").load(src)
        .writeStream.format("graft").option("path", dst)
        .option("checkpointLocation",
          Files.createTempDirectory("graft-plain-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(e.getMessage != null)
  }

  test("a stream append refuses a snapshot-dir or legacy target and retires its files") {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def refused(dst: String, rows: Long): Unit = {
      // one epoch's files, staged where the sink writes them
      val runRel = "data/run-stream-layouttest-e0"
      val stagedDir = new org.apache.hadoop.fs.Path(dst, s"$runRel/__bucket_p=0")
      (100L until 105L).map(k => (k, "new")).toDF("key", "v")
        .withColumn("__bucket", lit(0))
        .coalesce(1).write.mode("overwrite").parquet(stagedDir.toString)
      val staged = fs.listStatus(stagedDir).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSeq
      val e = intercept[IllegalStateException] {
        Upsert.commitStreamAppend(spark, dst, "layouttest", epochId = 0L,
          newByBucket = Map(0 -> staged.map(n => s"$runRel/__bucket_p=0/$n")),
          schemaDdl = "key BIGINT, v STRING, __bucket INT",
          keys = Seq("key"), nBuckets = 4, keepSnapshots = 1)
      }
      assert(e.getMessage.contains(dst), e.getMessage)
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(dst))
        .exists(_.getPath.getName.endsWith(".manifest.json")),
        "a refused append committed a manifest")
      assert(staged.forall(n => !fs.exists(new org.apache.hadoop.fs.Path(
        stagedDir, n))), "a refused append left its files behind")
      assert(Upsert.readTarget(spark, dst).count() == rows)
    }

    val snapshotTarget = freshTable("snapdir")
    Upsert.mergeIntoParquet(spark, snapshotTarget,
      Seq((1L, "a"), (2L, "b")).toDF("key", "v"), Seq("key"))
    refused(snapshotTarget, rows = 2L)

    val legacyTarget = freshTable("legacy")
    writeLegacyBucketDir(legacyTarget)
    refused(legacyTarget, rows = 20L)
  }
}
