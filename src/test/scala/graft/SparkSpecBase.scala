package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, one session — keep
  * startup cost out of every suite), built like every local tool's. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(2)
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  spark.sparkContext.setLogLevel("ERROR")

  /** A legacy hash-bucketed merge target built by hand: rows `(key,
    * "v<key>")` for keys 0 until 20 in pointer-less `__bucket=<k>/`
    * partitions (4 buckets), the layout the removed
    * dynamic-partition-overwrite merge wrote. */
  def writeLegacyBucketDir(path: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(20L).select(col("id").as("key"),
        concat(lit("v"), col("id").cast("string")).as("v"))
      .withColumn("__bucket", pmod(xxhash64(col("key")), lit(4)).cast("int"))
      .write.partitionBy("__bucket").parquet(path)
  }

  /** Every file under `path` (relative name -> length, modification
    * time): equal before and after an operation iff it left the tree
    * as it was. */
  def treeState(path: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(path)
    val walk = java.nio.file.Files.walk(root)
    try {
      val it = walk.iterator()
      val out = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) {
        val f = it.next().toFile
        out += root.relativize(f.toPath).toString -> (f.length, f.lastModified)
      }
      out.result()
    } finally walk.close()
  }
}
