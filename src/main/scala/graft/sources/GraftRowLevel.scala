package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, XxHash64Function}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.operators.{FileStats, Upsert}

/** Group-based copy-on-write row-level operation over a hash-bucketed
  * graft table (round 18) — the engine half of SQL
  * `MERGE INTO` / `UPDATE` / arbitrary-predicate `DELETE` through the
  * catalog. Spark's own rewrite rules (`RewriteMergeIntoTable` and
  * friends) own ALL clause semantics — matched/not-matched/
  * not-matched-by-source, the cardinality check, assignment alignment —
  * and this operation contributes exactly the three things the layout
  * can promise transactionally:
  *
  *  1. '''a pinned scan''' of the live snapshot whose replacement
  *     granularity is explicit: whatever files this scan reads are the
  *     files the commit swaps out (see the pushdown note below);
  *  2. '''runtime group filtering''' on the `__bucket` metadata column:
  *     the optimizer projects matching rows' bucket ids through a
  *     dynamic subquery and [[GraftBucketedScan.filter]] prunes to
  *     affected buckets before any unaffected data file is opened — at
  *     100 TB a ten-row MERGE rewrites ~10/nBuckets of the table, not
  *     all of it;
  *  3. '''a clustered, sorted write''' that lands replacement rows as
  *     one run of per-bucket, key-sorted parquet files and commits them
  *     with [[Upsert.commitFileReplacement]] under the table's
  *     optimistic snapshot protocol (write-set validation at bucket
  *     granularity; concurrent commits to untouched buckets are
  *     tolerated, drift in a touched bucket surfaces as
  *     [[Upsert.CommitConflictException]]).
  *
  * '''Why the scan declines static filter pushdown.''' The rewrite plan
  * places the REMAINING-rows predicate (for DELETE: `NOT cond`) above
  * the scan, and Spark's pushdown rule would happily offer it to the
  * scan. File-level pruning on that predicate is UNSOUND here: a file
  * whose every row matches `cond` (all deleted) would be pruned from the
  * scan, fall out of the replacement set, and its rows would silently
  * survive. Row-level skipping inside a scanned file is fine — dropping
  * a row from the output IS the delete — but the connector cannot
  * separate the two once a filter reaches the file-index layer, so the
  * row-level scan pushes nothing and lets the sound narrowing come from
  * the runtime group filter, whose values are MATCHING rows' buckets
  * (pruning those keeps rows verbatim — exactly right). */
private[sources] final class GraftRowLevelOperation(
    val path: String,
    val dataSchema: StructType, // SQL-visible schema (no __ columns)
    val keys: Seq[String],
    val nBuckets: Int,
    cmd: Command) extends RowLevelOperation {

  /** Live (snapshot name, manifest body) pinned ONCE per statement: the
    * scan plans against it and the commit validates against it, so the
    * whole operation observes one table version. */
  lazy val pinned: (String, String) =
    Upsert.pinLive(SparkSession.active, path).getOrElse(
      throw new UnsupportedOperationException(
        s"graft table $path has no committed manifest snapshot — " +
          "row-level SQL writes need the manifest-bucketed layout"))

  def pinnedBody: String = pinned._2

  /** The scan instance the rewrite executes — captured at build so the
    * write's commit can read the post-runtime-filter file set. */
  @volatile var builtScan: Option[GraftBucketedScan] = None

  override def command(): Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftReplaceDataWrite(
        GraftRowLevelOperation.this, info)
    }

  /** `__bucket` rides the rewrite plan as the group id: the runtime
    * group filter projects it, and the write clusters on it. */
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("__bucket"))

  override def description(): String = s"GraftRowLevelOperation($cmd, $path)"
}

/** Scan builder for the row-level rewrite: the pinned manifest's full
  * file set served bucket-aware, with column pruning but — deliberately —
  * no filter pushdown (see [[GraftRowLevelOperation]]'s scaladoc). */
private[sources] final class GraftRowLevelScanBuilder(
    op: GraftRowLevelOperation) extends ScanBuilder
    with SupportsPushDownRequiredColumns {

  /** Physical schema of the layout's data files: the data columns plus
    * the stored `__bucket` placement column. */
  private val physicalSchema = StructType(op.dataSchema.fields :+
    StructField("__bucket", IntegerType, nullable = true))

  private var required: StructType = physicalSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    Upsert.requireHashBuckets(op.path, op.nBuckets, "the SQL row-level rewrite",
      "Merge into it with Upsert.mergeIntoManifestBucketedParquet " +
        "(or SQL INSERT), delete by its keys, or rebucket it " +
        "(RunMaintain table-compact --rebucket)")
    val spark = SparkSession.active
    val entries = Upsert.parseManifestEntries(op.pinnedBody)
    val stats = FileStats.parse(op.pinnedBody)
    val keyTypes = op.keys.map(k =>
      op.dataSchema.fields(op.dataSchema.fieldIndex(k)).dataType)
    val absByBucket = entries.map { case (b, rels) =>
      b -> rels.map(Upsert.resolveEntry(op.path, _))
    }
    val relByAbs = entries.valuesIterator.flatten
      .map(r => Upsert.resolveEntry(op.path, r) -> r).toMap
    val scan = new GraftBucketedScan(op.path, op.keys, keyTypes, op.nBuckets,
      absByBucket, stats, abs => relByAbs.getOrElse(abs, abs),
      files => {
        val pt = ParquetTable(s"graft-rowlevel.`${op.path}`", spark,
          new CaseInsensitiveStringMap(java.util.Collections.emptyMap()),
          files, Some(physicalSchema), classOf[ParquetFileFormat])
        val sb = pt.newScanBuilder(
          new CaseInsensitiveStringMap(java.util.Collections.emptyMap()))
        sb.pruneColumns(required)
        sb.build() // no data filters — replacement set == scanned set
      },
      rowLevel = true)
    op.builtScan = Some(scan)
    scan
  }
}

/** The replacement write: requests clustering on the `__bucket` group id
  * (carryover/updated rows arrive with it; MERGE-inserted rows carry
  * NULL and co-locate, their true bucket is computed at write) and a
  * per-partition sort on (`__bucket`, keys) — so the writer streams
  * bucket-by-bucket with a bounded set of open files, and every data
  * file lands key-sorted exactly like the library merge's output
  * (parquet row-group stats prune point lookups either way). */
private[sources] final class GraftReplaceDataWrite(
    op: GraftRowLevelOperation, info: LogicalWriteInfo)
    extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column("__bucket")))

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    (Expressions.sort(Expressions.column("__bucket"),
      SortDirection.ASCENDING) +:
      op.keys.map(k => Expressions.sort(Expressions.column(k),
        SortDirection.ASCENDING))).toArray

  override def toBatch: BatchWrite = new GraftReplaceBatchWrite(op, info)

  override def description(): String =
    s"GraftReplaceDataWrite(${op.command()}, ${op.path})"
}

private[sources] final class GraftReplaceBatchWrite(
    op: GraftRowLevelOperation, info: LogicalWriteInfo) extends BatchWrite {

  private val spark = SparkSession.active
  private val attempt = java.util.UUID.randomUUID().toString.take(8)
  // provisional run-dir id: pinned head + 1. A commit-time race may
  // publish under a higher snapshot id — harmless, the manifest
  // references files by path and the GC sweeps by liveness, not dir id.
  private val runRel = {
    val pinnedId = op.pinned._1.stripPrefix("snap-").takeWhile(_.isDigit).toLong
    f"data/run-${pinnedId + 1}%09d-$attempt"
  }
  private def runDirPath = new Path(new Path(op.path), runRel)

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DataWriterFactory = {
    // Spark's own parquet write support, configured exactly like the
    // library write path (Upsert.parquetWriteOptions); the physical
    // schema appends the stored __bucket placement column to the
    // incoming data columns
    val physicalSchema = StructType(info.schema().fields :+
      StructField("__bucket", IntegerType, nullable = true))
    val opts = Upsert.parquetWriteOptions(physicalSchema)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(opts))
    val owf = new ParquetFileFormat().prepareWrite(spark, job, opts,
      physicalSchema)
    val keyIdx = op.keys.map(k => info.schema().fieldIndex(k)).toArray
    val keyTypes = op.keys.map(k =>
      info.schema().fields(info.schema().fieldIndex(k)).dataType).toArray
    new GraftBucketWriterFactory(owf,
      new SerializableConfiguration(job.getConfiguration),
      runDirPath.toString, runRel, physicalSchema, keyIdx, keyTypes,
      op.nBuckets)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val newByBucket: Map[Int, Seq[String]] = messages.toSeq
      .collect { case m: GraftBucketWriteMsg => m.files }.flatten
      .groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2) }
    val scannedRels: Set[String] = op.builtScan match {
      case Some(scan) => scan.currentRels
      // The optimizer can eliminate the row-level scan entirely when the
      // rewrite's output is PROVABLY empty. For DELETE that proof is
      // `NOT cond ≡ false`, i.e. cond is a tautology — every scanned row
      // would be deleted, so the correct replacement set is the whole
      // pinned table (SQL truncate via `DELETE FROM t`). For MERGE/UPDATE
      // an eliminated scan means a statically-empty input (e.g. MERGE
      // USING an empty source) — a no-op, never a truncate.
      case None if op.command() == Command.DELETE =>
        Upsert.parseManifestEntries(op.pinnedBody).values.flatten.toSet
      case None => Set.empty
    }
    if (scannedRels.isEmpty && newByBucket.isEmpty) {
      // nothing matched and nothing inserted: a no-op statement does not
      // burn a snapshot id
      val fs = runDirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(runDirPath, true)
      System.err.println(s"[graft] row-level ${op.command()} on ${op.path} " +
        "matched no groups and wrote no rows — no-op, no commit")
      return
    }
    try {
      val snap = Upsert.commitFileReplacement(spark, op.path, op.pinnedBody,
        scannedRels, newByBucket,
        keepSnapshots = GraftSqlWrite.keepSnapshots(spark))
      System.err.println(s"[graft] row-level ${op.command()} on ${op.path} " +
        s"committed $snap: replaced ${scannedRels.size} files across " +
        s"${newByBucket.size} written buckets " +
        s"(${newByBucket.valuesIterator.map(_.size).sum} new files)")
    } catch {
      case e: Throwable =>
        // the written run is unreachable (never referenced by a
        // manifest) — retire it now rather than waiting out the GC grace
        try {
          val fs = runDirPath
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(runDirPath, true)
        } catch { case _: java.io.IOException => }
        throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = runDirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(runDirPath, true)
  }
}

/** Files written by one task: (bucket id, manifest-relative path). */
private[sources] final case class GraftBucketWriteMsg(
    files: Seq[(Int, String)]) extends WriterCommitMessage

private[sources] final class GraftBucketWriterFactory(
    owf: OutputWriterFactory,
    conf: SerializableConfiguration,
    runAbs: String,
    runRel: String,
    physicalSchema: StructType,
    keyIdx: Array[Int],
    keyTypes: Array[DataType],
    nBuckets: Int) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftBucketDataWriter(owf, conf, runAbs, runRel, physicalSchema,
      keyIdx, keyTypes, nBuckets, partitionId, taskId)
}

/** Per-task writer: routes every row to its hash bucket (recomputed from
  * the key columns with the same xxhash64(seed 42) fold every write and
  * read path uses — NEVER the carried metadata, which is stale the
  * moment an UPDATE touches a key column and NULL for inserts) and lands
  * it in a per-bucket parquet file under the run dir. The requested
  * (__bucket, keys) sort makes bucket switches mostly monotone, so the
  * open-writer map stays tiny; a defensive cap closes the map if an
  * insert-heavy partition interleaves many buckets (a bucket may then
  * get several files — correct, entries are lists). */
private[sources] final class GraftBucketDataWriter(
    owf: OutputWriterFactory,
    conf: SerializableConfiguration,
    runAbs: String,
    runRel: String,
    physicalSchema: StructType,
    keyIdx: Array[Int],
    keyTypes: Array[DataType],
    nBuckets: Int,
    partitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {

  private val MaxOpenWriters = 32

  private lazy val context = new TaskAttemptContextImpl(conf.value,
    new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP,
      partitionId), taskId.toInt))
  private lazy val ext = owf.getFileExtension(context)

  private val open = mutable.LinkedHashMap[Int, OutputWriter]()
  private val files = mutable.ArrayBuffer[(Int, String)]()
  private var seq = 0
  private val bucketCell = new GenericInternalRow(1)
  private val joined = new JoinedRow

  private def bucketOf(row: InternalRow): Int = {
    var h = 42L
    var i = 0
    while (i < keyIdx.length) {
      val idx = keyIdx(i)
      if (!row.isNullAt(idx))
        h = XxHash64Function.hash(row.get(idx, keyTypes(i)), keyTypes(i), h)
      i += 1
    }
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
  }

  private def writerFor(b: Int): OutputWriter = open.getOrElse(b, {
    if (open.size >= MaxOpenWriters) {
      open.valuesIterator.foreach(_.close())
      open.clear()
    }
    val name = f"part-$partitionId%05d-$taskId-$seq$ext"
    seq += 1
    val w = owf.newInstance(s"$runAbs/__bucket_p=$b/$name",
      physicalSchema, context)
    files += ((b, s"$runRel/__bucket_p=$b/$name"))
    open(b) = w
    w
  })

  override def write(row: InternalRow): Unit = {
    val b = bucketOf(row)
    bucketCell.setInt(0, b)
    writerFor(b).write(joined.apply(row, bucketCell))
  }

  /** Two-arg form delivered by ReplaceData's metadata projection: the
    * metadata (stale-able group id) is deliberately ignored — placement
    * is a pure function of the data row's keys. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def commit(): WriterCommitMessage = {
    open.valuesIterator.foreach(_.close())
    open.clear()
    GraftBucketWriteMsg(files.toSeq)
  }

  override def abort(): Unit = {
    try open.valuesIterator.foreach(_.close())
    catch { case _: Throwable => () }
    open.clear()
    // retire this attempt's files (a speculative loser shares the run
    // dir with the winner, so only its own files may go)
    try {
      val fs = new Path(runAbs).getFileSystem(conf.value)
      val root = new Path(runAbs).getParent.getParent // table root
      files.foreach { case (_, rel) =>
        try fs.delete(new Path(root, rel), false)
        catch { case _: java.io.IOException => }
      }
    } catch { case _: java.io.IOException => }
  }

  override def close(): Unit = {
    open.valuesIterator.foreach(_.close())
    open.clear()
  }
}
