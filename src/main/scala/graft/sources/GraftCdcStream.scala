package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.Upsert

/** The change feed as a STRUCTURED STREAMING source (VERDICT r16 #3):
  * {{{
  * spark.readStream.format("graft").option("cdc", "true")
  *   .option("keys", "doc_id")          // defaults to the manifest's bucket_keys
  *   .load(tablePath)
  * }}}
  * Each micro-batch is one poll of [[Upsert.readChangeFeed]]: the NET
  * row-level diff (`change_type` + keys + after-image) between the last
  * processed snapshot and the table's current one. Offsets ARE snapshot
  * ids, so the stream inherits the commit protocol's semantics wholesale:
  *
  *  - '''exactly-once''': the offset log pins `(start, end]` snapshot
  *    pairs, and every batch's content is a PURE FUNCTION of that pair
  *    (ADVICE r17) — replays after a crash recompute the same rows. Data
  *    files are immutable and manifests never change once committed, so
  *    the diff is deterministic; a diff batch is ALSO materialized under
  *    the stream's checkpoint before first serve (`_graft_cdc/batch-s-e`),
  *    so a replay whose snapshots have since been vacuumed still serves
  *    byte-identical rows.
  *  - '''bootstrap''': the initial offset is −1; the first batch is the
  *    table AT THE PINNED END SNAPSHOT `e` as `insert`s — served
  *    ZERO-COPY from snapshot `e`'s immutable data files with the
  *    `change_type` column injected at read time, never copied under the
  *    checkpoint (on a large table the old full materialization
  *    duplicated the whole dataset into checkpoint storage) and never
  *    read from the LIVE table (a merge landing between `latestOffset`
  *    and planning must not leak past `e`, or the next batch re-delivers
  *    its rows — ADVICE r17, medium).
  *  - '''vacuumed cursor''': a batch (bootstrap or diff) whose pinned
  *    snapshot is gone fails LOUD with the re-bootstrap instruction —
  *    `CdcSpec`'s polling contract, verbatim. Retention (`vacuum
  *    --keep-snapshots`) must out-live the slowest consumer's trigger
  *    interval, exactly like any other poller.
  *
  * Scale shape: the per-batch diff prunes to the buckets whose file
  * lists differ between the two manifests ([[Upsert.changesBetween]]) —
  * a trigger costs O(merged batch + cohabitants), never a table scan,
  * and the bootstrap costs zero extra writes. The diff materialization
  * is one extra write of the (already small) diff; `commit(end)`
  * garbage-collects batches once the offset log seals them. */
object GraftCdcStream {

  /** CDC output schema for a table schema: `change_type`, keys (in key
    * order), then the remaining data columns in table order — the exact
    * projection [[Upsert.readChangeFeed]] emits. Internal `__` layout
    * columns are excluded (they are placement, not data). */
  def cdcSchema(table: StructType, keys: Seq[String]): StructType = {
    val dataCols = table.fields
      .filterNot(f => keys.contains(f.name) || f.name.startsWith("__"))
    val keyFields = keys.map(k => table.fields.find(_.name == k).getOrElse(
      throw new IllegalArgumentException(
        s"cdc key '$k' is not a column of the table (${table.fieldNames.mkString(", ")})")))
    StructType(
      (org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType, nullable = true) +:
        keyFields.map(_.copy(nullable = true))) ++
        dataCols.map(_.copy(nullable = true)))
  }

  /** Keys for a CDC read: the explicit `keys` option, else the
    * manifest's recorded `bucket_keys`. */
  def resolveKeys(spark: SparkSession, path: String,
      options: CaseInsensitiveStringMap): Seq[String] = {
    val explicit = Option(options.get("keys")).filter(_.nonEmpty)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    explicit.orElse {
      Upsert.manifestBody(spark, path, None)
        .flatMap(Upsert.parseManifestString(_, "bucket_keys"))
        .map(_.split(",").toSeq)
    }.getOrElse(throw new IllegalArgumentException(
      "graft cdc read needs merge keys: pass .option(\"keys\", \"k1,k2\") " +
        "(the manifest records them automatically for hash-bucketed targets)"))
  }
}

/** Scan face for the CDC stream — batch reads are refused on purpose
  * (the batch CDC face is `Upsert.readChangeFeed`; a batch DSv2 read of
  * a *feed* has no cursor to be exact against). */
private[sources] class GraftCdcScanBuilder(schema: StructType, path: String,
    keys: Seq[String]) extends ScanBuilder {
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = schema
    override def description(): String = s"GraftCdcScan $path keys=$keys"
    override def toBatch: Batch =
      throw new UnsupportedOperationException(
        "graft cdc is a streaming source — use spark.readStream, or " +
          "Upsert.readChangeFeed for a one-shot poll")
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new GraftCdcMicroBatchStream(schema, path, keys, checkpointLocation)
  }
}

private[sources] class GraftCdcMicroBatchStream(schema: StructType,
    path: String, keys: Seq[String], checkpointLocation: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def spark: SparkSession = SparkSession.active

  private case class SnapOffset(id: Long) extends Offset {
    override def json(): String = s"""{"snap": $id}"""
  }

  // AvailableNow pins the end offset at stream start so the trigger
  // drains to a FIXED point even while merges keep landing
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

  private def batchDir(s: Long, e: Long): Path =
    new Path(checkpointLocation, s"_graft_cdc/batch-$s-$e")

  /** Serve the (start, end] batch as a pure function of the pinned
    * offset pair (ADVICE r17).
    *
    * Bootstrap (start = −1): snapshot `end`'s immutable data files are
    * served DIRECTLY — the reader injects `change_type = 'insert'` and
    * projects keys + data columns into CDC order; nothing is copied
    * under the checkpoint and the live table is never consulted.
    *
    * Diff: materialized under the checkpoint if not already there, then
    * served. Deterministic across replays: an existing `_SUCCESS`-marked
    * batch is reused verbatim. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapOffset].id
    val e = end.asInstanceOf[SnapOffset].id
    if (e <= s) return Array.empty
    if (s < 0L) {
      val body = Upsert.manifestBody(spark, path, Some(snapName(e))).getOrElse(
        throw new IllegalStateException(
          s"graft cdc stream: bootstrap snapshot '${snapName(e)}' is no " +
            s"longer retained under $path (vacuumed?) — delete the " +
            "checkpoint to re-bootstrap, and raise --keep-snapshots " +
            "above the consumer's lag"))
      val rels = Upsert.parseManifestEntries(body).toSeq.sortBy(_._1).flatMap(_._2)
      if (rels.isEmpty) return Array.empty
      // superseded rows (merge-on-read) must not reach the consumer: the
      // bootstrap is then materialized like a diff, from readTargetAt
      if (!Upsert.hasSuperseded(body, rels))
        return bootstrapScan(rels.map(Upsert.resolveEntry(path, _)))
          .toBatch.planInputPartitions()
          .map(GraftCdcBootstrapPartition(_): InputPartition)
    }
    val dir = batchDir(s, e)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (s < 0L) {
      if (!fs.exists(new Path(dir, "_SUCCESS")))
        Upsert.readTargetAt(spark, path, snapName(e))
          .select(schema.fieldNames.map(c =>
            if (c == "change_type") org.apache.spark.sql.functions.lit("insert").as(c)
            else org.apache.spark.sql.functions.col(c)).toIndexedSeq: _*)
          .write.mode("overwrite").parquet(dir.toString)
    } else if (!fs.exists(new Path(dir, "_SUCCESS"))) {
      require(Upsert.snapshots(spark, path).contains(snapName(s)),
        s"graft cdc stream: cursor snapshot '${snapName(s)}' is no " +
          s"longer retained under $path (vacuumed?) — the stream " +
          "cannot produce an exact diff; delete the checkpoint to " +
          "re-bootstrap, and raise --keep-snapshots above the " +
          "consumer's lag")
      val feed = Upsert.changesBetween(spark, path, snapName(s), snapName(e), keys)
      // project into the declared CDC schema order, then materialize
      val cols = schema.fieldNames.map(org.apache.spark.sql.functions.col)
      feed.select(cols.toIndexedSeq: _*)
        .write.mode("overwrite").parquet(dir.toString)
    }
    delegateScan(Seq(dir.toString)).toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // schema-stable across batches: any batch dir (or none) yields the
    // same factory configuration; bootstrap partitions carry their own
    // marker and route to the insert-injecting reader
    new GraftCdcReaderFactory(
      delegateScan(Nil).toBatch.createReaderFactory(),
      bootstrapScan(Nil).toBatch.createReaderFactory())

  /** CDC schema minus the injected `change_type` — what a bootstrap
    * reader asks the table's parquet files for, in CDC column order. */
  private def bootstrapSchema: StructType = StructType(schema.fields.drop(1))

  private def delegateScan(paths: Seq[String]): Scan =
    parquetScan(paths, schema)

  private def bootstrapScan(paths: Seq[String]): Scan =
    parquetScan(paths, bootstrapSchema)

  private def parquetScan(paths: Seq[String], s: StructType): Scan = {
    val pt = ParquetTable(s"graft-cdc.`$path`", spark,
      new CaseInsensitiveStringMap(java.util.Collections.emptyMap()),
      paths, Some(s), classOf[ParquetFileFormat])
    val sb = pt.newScanBuilder(
      new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
    sb.pruneColumns(s)
    sb.build()
  }

  /** The offset log sealed everything ≤ `end`: the materialized batches
    * up to it can never be replayed — delete them. */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[SnapOffset].id
    val root = new Path(checkpointLocation, "_graft_cdc")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch-")) {
        val endId = n.split("-").lastOption.flatMap(_.toLongOption)
        if (endId.exists(_ <= e)) fs.delete(st.getPath, true)
      }
    }
  }

  override def stop(): Unit = ()
}

/** Marker envelope for a bootstrap split: the inner partition is a plain
  * parquet split of the pinned snapshot's data files; the reader injects
  * the constant `change_type = 'insert'` column. */
private[sources] final case class GraftCdcBootstrapPartition(
    inner: InputPartition) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Routes diff partitions to the CDC-schema parquet factory untouched
  * and bootstrap partitions to the table-file factory wrapped with the
  * insert-constant prefix — one stable factory for every batch of the
  * stream's lifetime (the MicroBatchStream contract). */
private[sources] final class GraftCdcReaderFactory(
    diff: PartitionReaderFactory, boot: PartitionReaderFactory)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = p match {
    case GraftCdcBootstrapPartition(inner) =>
      val r = boot.createReader(inner)
      new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
        // mutable row reuse is the reader contract: consumers project
        // each row (copying values) before calling next() again
        private val prefix =
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString("insert")))
        private val joined =
          new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        override def next(): Boolean = r.next()
        override def get(): org.apache.spark.sql.catalyst.InternalRow =
          joined(prefix, r.get())
        override def close(): Unit = r.close()
      }
    case other => diff.createReader(other)
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    p match {
      case GraftCdcBootstrapPartition(_) =>
        throw new UnsupportedOperationException(
          "bootstrap splits are row-based (constant-column injection)")
      case other => diff.createColumnarReader(other)
    }

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case GraftCdcBootstrapPartition(_) => false
    case other => diff.supportColumnarReads(other)
  }
}
