package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Upsert

/** Structured Streaming SINK for graft tables (round 18):
  * {{{
  * df.writeStream.format("graft")
  *   .option("path", table).option("checkpointLocation", ckpt).start()
  * }}}
  * — the write-side twin of [[GraftAppendsStream]]: each micro-batch
  * lands as NEW per-bucket files appended to the manifest, so ingest is
  * O(batch) regardless of table size and the target stays streamable as
  * appends-per-snapshot (a graft→graft streaming pipeline composes).
  *
  * '''Exactly once.''' The epoch marker (`stream_epoch_<queryId>`)
  * rides IN the committed manifest — batch visibility and batch
  * bookkeeping are ONE atomic manifest create
  * ([[Upsert.commitStreamAppend]]), so a crash between sink commit and
  * checkpoint advance replays the epoch into a no-op (marker already ≥
  * epoch: files retired, nothing re-appended). Every other commit path
  * carries foreign markers forward, so interleaved batch merges cannot
  * launder a replay into duplicates. `queryId` here is Spark's STABLE
  * streaming query id (checkpoint metadata), not the per-run id —
  * pinned by the restart test in GraftStreamSinkSpec.
  *
  * '''Insert-only by design''' (same contract as the appends read
  * face): key uniqueness belongs to the pipeline — the reference's
  * watermark extract guarantees it (`embeddings-pipeline.py:145-177`
  * reads strictly-new rows per run). A stream needing MERGE semantics
  * uses `foreachBatch` + [[Upsert.mergeIntoManifestBucketedParquet]],
  * where the micro-batch is a real DataFrame and the join can run. */
private[sources] final class GraftStreamingAppend(
    path: String,
    keys: Seq[String],
    nBuckets: Int,
    info: LogicalWriteInfo) extends StreamingWrite {

  Upsert.requireHashBuckets(path, nBuckets, "the graft streaming sink",
    "Merge each micro-batch with foreachBatch + " +
      "Upsert.mergeIntoManifestBucketedParquet")

  private val spark = SparkSession.active
  // stable across restarts (stream checkpoint metadata id)
  private val queryId = info.queryId()

  private def epochRunRel(epochId: Long): String =
    s"data/run-stream-${queryId.take(8)}-e$epochId"

  private val physicalSchema = StructType(info.schema().fields :+
    StructField("__bucket", IntegerType, nullable = true))

  override def createStreamingWriterFactory(
      pinfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val opts = Upsert.parquetWriteOptions(physicalSchema)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(opts))
    val owf = new ParquetFileFormat().prepareWrite(spark, job, opts,
      physicalSchema)
    val keyIdx = keys.map(k => info.schema().fieldIndex(k)).toArray
    val keyTypes = keys.map(k =>
      info.schema().fields(info.schema().fieldIndex(k)).dataType).toArray
    new GraftStreamWriterFactory(owf,
      new SerializableConfiguration(job.getConfiguration), path,
      queryId.take(8), physicalSchema, keyIdx, keyTypes, nBuckets)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val newByBucket: Map[Int, Seq[String]] = messages.toSeq
      .collect { case m: GraftBucketWriteMsg => m.files }.flatten
      .groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2) }
    if (newByBucket.isEmpty) return // empty micro-batch: nothing to commit
    val committed = Upsert.commitStreamAppend(spark, path, queryId, epochId,
      newByBucket, schemaDdl = physicalSchema.toDDL, keys = keys,
      nBuckets = nBuckets,
      keepSnapshots = GraftSqlWrite.keepSnapshots(spark))
    if (!committed)
      System.err.println(s"[graft] stream $queryId epoch $epochId on " +
        s"$path was already committed — replayed micro-batch retired " +
        "(exactly-once)")
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val run = new Path(new Path(path), epochRunRel(epochId))
    run.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(run, true)
  }
}

/** Serializable per-task factory: one [[GraftBucketDataWriter]] per
  * (partition, task, epoch), writing into the epoch's run dir. Holds
  * only serializable state — the enclosing [[GraftStreamingAppend]]
  * (with its driver session) never ships. */
private[sources] final class GraftStreamWriterFactory(
    owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    conf: SerializableConfiguration,
    tablePath: String,
    qidShort: String,
    physicalSchema: StructType,
    keyIdx: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    nBuckets: Int) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val runRel = s"data/run-stream-$qidShort-e$epochId"
    new GraftBucketDataWriter(owf, conf, s"$tablePath/$runRel", runRel,
      physicalSchema, keyIdx, keyTypes, nBuckets, partitionId, taskId)
  }
}
