package org.apache.spark.sql.graftglue

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 moved the `Column(expr)` constructor behind
  * `org.apache.spark.sql.classic`; living inside the `org.apache.spark.sql`
  * package tree grants access to those `private[sql]` helpers (the same
  * pattern every Spark extension library uses).
  */
object Glue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The schema Spark's Parquet inference takes from `file`'s footer:
    * the Spark row metadata when the writer left it, else the Parquet
    * schema converted under the session's SQL conf (`nanosAsLong`,
    * TIMESTAMP_NTZ inference, binary-as-string). Reads one footer on the
    * driver, where Spark's inference runs a job to read it. */
  def parquetFooterSchema(spark: SparkSession, file: Path): StructType = {
    val input = HadoopInputFile.fromPath(file, SessionStateHelper.getHadoopConf(spark))
    val footer = ParquetFooterReader.readFooter(input, ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(SessionStateHelper.getSqlConf(spark)))
  }

  /** Whether Spark's file index leaves a file or directory of this name
    * out of its listing (`_`/`.` names other than `k=v` directories and
    * the Parquet summary files, and `._COPYING_` files). */
  def fileIndexSkips(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)

  /** Whether the session merges Parquet schemas across files. */
  def parquetMergeSchema(spark: SparkSession): Boolean =
    SessionStateHelper.getSqlConf(spark).isParquetSchemaMergingEnabled

  /** Block until every listener has seen every event posted so far, e.g.
    * the job starts of the actions that just returned (throws after
    * `timeoutMillis`). */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
