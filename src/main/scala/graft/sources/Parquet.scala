package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types.StructType

/** The one schema-less Parquet read of the library.
  *
  * `spark.read.parquet(paths)` without a schema runs a Spark job that
  * reads a single footer (`mergeSchema = false`): a summary file if the
  * listing holds one, else the first data file by path. [[read]] and
  * [[readFiles]] read that footer on the driver instead and hand the
  * schema to the reader, so building the frame runs no job. The frame is
  * the one `spark.read.parquet` builds: the same data schema, and
  * partition columns (`k=v` directories) still inferred by Spark's file
  * index. Both fall back to `spark.read.parquet`, and so to Spark's own
  * error, when no footer is found, when a path is a glob, or when the
  * session merges schemas.
  */
object Parquet {

  /** `spark.read.parquet(paths: _*)`, minus its schema-inference job.
    * Walks each path as Spark's file index lists it: one `listStatus`
    * per directory (never one per file in it), one per path that is a
    * file. For a list of data files use [[readFiles]], which lists
    * nothing. */
  def read(spark: SparkSession, paths: String*): DataFrame =
    readWith(spark, paths) {
      val conf = spark.sparkContext.hadoopConfiguration
      paths.flatMap { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(conf)
        leafFiles(fs, fs.makeQualified(path)).map(_.getPath)
      }
    }

  /** `spark.read.parquet(files: _*)` for paths that are data files, as a
    * manifest lists them. With no directory to walk, the file Spark's
    * inference reads is the first listed name by path, so this reads
    * that one footer and lists nothing, however many files there are. */
  def readFiles(spark: SparkSession, files: Seq[String]): DataFrame =
    readWith(spark, files) {
      val conf = spark.sparkContext.hadoopConfiguration
      files.map { f =>
        val path = new Path(f)
        path.getFileSystem(conf).makeQualified(path)
      }.filterNot(p => Glue.fileIndexSkips(p.getName))
    }

  private val GlobChars = "{}[]*?\\".toSet

  /** Reads `paths` with the footer schema of the file Spark's inference
    * would pick among `leaves`; no footer means no data file or a
    * missing path. */
  private def readWith(spark: SparkSession, paths: Seq[String])(
      leaves: => Seq[Path]): DataFrame = {
    val schema: Option[StructType] =
      if (paths.isEmpty || paths.exists(_.exists(GlobChars)) ||
          Glue.parquetMergeSchema(spark)) None
      else try pick(leaves).map(Glue.parquetFooterSchema(spark, _))
      catch { case _: java.io.FileNotFoundException => None }
    schema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }
  }

  /** Spark's choice among listed leaves: a `_common_metadata`, else a
    * `_metadata`, else the first data file by path. */
  private def pick(leaves: Seq[Path]): Option[Path] = {
    val byName = leaves.sortBy(_.toString)
    byName.find(_.getName == "_common_metadata")
      .orElse(byName.find(_.getName == "_metadata"))
      .orElse(byName.find(p => !isSummary(p.getName)))
  }

  /** The files under `path` Spark's file index lists, by its own name
    * filter. `listStatus`, not `listFiles`: no per-file permission load. */
  private def leafFiles(fs: FileSystem, path: Path): Seq[FileStatus] =
    fs.listStatus(path).toSeq.filterNot(st => Glue.fileIndexSkips(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) leafFiles(fs, st.getPath) else Seq(st))

  private def isSummary(name: String): Boolean =
    name == "_metadata" || name == "_common_metadata"
}
