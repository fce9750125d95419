package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Upsert

/** Streaming read of the PLAIN table face (VERDICT r17 #6) — the
  * Iceberg/Delta streaming-read twin for insert-only tables:
  * {{{
  * spark.readStream.format("graft").load(tablePath)      // no "cdc"
  * spark.readStream.table("cat.db.t")                    // catalog face
  * }}}
  * Offsets are snapshot ids; each micro-batch serves the data files a
  * snapshot ADDED, directly and zero-copy (immutable files, no
  * materialization, no change_type column — the batch is table-shaped).
  *
  *  - '''exactly-once''': a batch is the pure function
  *    `files(manifest(e)) − files(manifest(s))` of its pinned offset
  *    pair; manifests and data files are immutable, so replays serve
  *    byte-identical rows.
  *  - '''insert-only contract''': a snapshot transition that REMOVED
  *    files (a merge rewriting a bucket, a delete, a compaction) fails
  *    LOUD naming the offending snapshots — the added files of a rewrite
  *    carry cohabitant rows, so serving them would re-deliver old data.
  *    Tables fed by [[Upsert.appendToManifestBucketedParquet]] (or
  *    `IndexStore.append`) never rewrite; merge workloads stream the CDC
  *    feed instead (`option("cdc", "true")`), which the error points to.
  *  - '''bootstrap''': initial offset −1 serves the full table as of the
  *    pinned end snapshot — consistent with the CDC bootstrap.
  *  - '''vacuumed cursor''': a pinned snapshot whose manifest is gone
  *    fails LOUD with the re-bootstrap instruction.
  *
  * Scale shape: a trigger's cost is the batch's own files — manifest
  * diffing is metadata-only, nothing is listed or opened outside the
  * appended set. */
private[sources] class GraftAppendsStream(schema: StructType,
    path: String, checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark: SparkSession = SparkSession.active

  private case class SnapOffset(id: Long) extends Offset {
    override def json(): String = s"""{"snap": $id}"""
  }

  @volatile private var availableNowTarget: Option[Long] = None

  private def snapName(id: Long): String = f"snap-$id%09d"

  /** Newest COMPLETE committed snapshot id — the stream's "latest". */
  private def newestId: Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.committedIds(fs, root).sorted.reverse.find { i =>
      Upsert.manifestBody(spark, path, Some(snapName(i)))
        .exists(Upsert.isCompleteManifest)
    }.getOrElse(-1L)
  }

  override def initialOffset(): Offset = SnapOffset(-1L)

  override def deserializeOffset(json: String): Offset =
    SnapOffset(""""snap"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"bad graft offset: $json")))

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(newestId)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control latestOffset is used")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    SnapOffset(availableNowTarget.getOrElse(newestId))

  override def reportLatestOffset(): Offset = SnapOffset(newestId)

  private def manifestOf(id: Long): String =
    Upsert.manifestBody(spark, path, Some(snapName(id))).getOrElse(
      throw new IllegalStateException(
        s"graft appends stream: snapshot '${snapName(id)}' is no longer " +
          s"retained under $path (vacuumed?) — delete the checkpoint to " +
          "re-bootstrap, and raise --keep-snapshots above the consumer's lag"))

  private def manifestFiles(body: String): Seq[String] =
    Upsert.parseManifestEntries(body).toSeq.sortBy(_._1).flatMap(_._2)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapOffset].id
    val e = end.asInstanceOf[SnapOffset].id
    if (e <= s) return Array.empty
    val endBody = manifestOf(e)
    val endFiles = manifestFiles(endBody)
    // a merge-on-read commit superseded rows: its added files carry
    // updates, not appends
    val startBody = if (s < 0L) "" else manifestOf(s)
    Upsert.requireNoSuperseded(path, endBody, endFiles,
      s"the graft appends stream over ${snapName(s)}..${snapName(e)}",
      "Stream the change feed instead: .option(\"cdc\", \"true\")",
      since = startBody)
    val added =
      if (s < 0L) endFiles
      else {
        val startFiles = manifestFiles(startBody).toSet
        val removed = startFiles -- endFiles.toSet
        if (removed.nonEmpty) throw new IllegalStateException(
          s"graft appends stream: snapshots ${snapName(s)}..${snapName(e)} " +
            s"of $path REWROTE ${removed.size} file(s) — the table is not " +
            "insert-only over this range, and the added files carry " +
            "cohabitant rows a plain appends read would re-deliver. " +
            "Stream the change feed instead: .option(\"cdc\", \"true\")")
        endFiles.filterNot(startFiles)
      }
    if (added.isEmpty) return Array.empty
    delegateScan(added.map(Upsert.resolveEntry(path, _)))
      .toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    delegateScan(Nil).toBatch.createReaderFactory()

  private def delegateScan(paths: Seq[String]): Scan = {
    val pt = ParquetTable(s"graft-appends.`$path`", spark,
      new CaseInsensitiveStringMap(java.util.Collections.emptyMap()),
      paths, Some(schema), classOf[ParquetFileFormat])
    val sb = pt.newScanBuilder(
      new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
    sb.pruneColumns(schema)
    sb.build()
  }

  override def commit(end: Offset): Unit = () // nothing materialized

  override def stop(): Unit = ()
}
