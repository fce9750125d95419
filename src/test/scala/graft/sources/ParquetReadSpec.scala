package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.operators.Upsert

/** [[Parquet.read]] and [[Parquet.readFiles]] must build the frame
  * `spark.read.parquet` builds — same schema, same rows, same error —
  * from one footer read on the driver. */
class ParquetReadSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(tag: String) = Files.createTempDirectory(s"graft-pq-$tag").toString

  private def assertSameFrame(paths: String*): Unit =
    assertSameFrameAs(Parquet.read(spark, paths: _*), paths)

  private def assertSameFrameAs(ours: DataFrame, paths: Seq[String]): Unit = {
    val spark0 = spark.read.parquet(paths: _*)
    assert(ours.schema == spark0.schema,
      s"\n${ours.schema.treeString}\nvs Spark's\n${spark0.schema.treeString}")
    assert(ours.collect().toSeq.map(_.toString).sorted ==
      spark0.collect().toSeq.map(_.toString).sorted)
  }

  /** Nested, nullable and non-nullable columns, a decimal and a
    * timestamp: the Spark row metadata carries them all. */
  private def wide(n: Int) = spark.range(n).select(
    col("id"),
    (col("id") % 3).cast("int").as("p"),
    concat(lit("s"), col("id").cast("string")).as("s"),
    array(col("id").cast("float"), lit(1f)).as("v"),
    struct(col("id").as("a"), lit("x").as("b")).as("st"),
    map(lit("k"), col("id")).as("m"),
    (col("id") / 7).cast("decimal(12,3)").as("d"),
    timestamp_seconds(col("id")).as("ts"),
    when(col("id") % 2 === 0, col("id")).as("maybe"))

  test("a Spark-written snapshot directory reads with Spark's schema") {
    val dir = tmp("snap")
    Upsert.mergeIntoParquet(spark, dir, wide(20), keys = Seq("id"))
    val snap = s"$dir/${Upsert.currentSnapshot(spark, dir).get}"
    assertSameFrame(snap)
    assert(Upsert.readTarget(spark, dir).schema == spark.read.parquet(snap).schema)
  }

  test("a partitionBy snapshot keeps Spark's inferred partition columns") {
    val dir = tmp("part")
    Upsert.mergeIntoParquet(spark, dir,
      wide(30).withColumn("q", concat(lit("q"), (col("id") % 2).cast("string"))),
      keys = Seq("id"), partitionBy = Seq("p", "q"))
    val snap = s"$dir/${Upsert.currentSnapshot(spark, dir).get}"
    assert(spark.read.parquet(snap).schema.takeRight(2).map(_.name) == Seq("p", "q"))
    assertSameFrame(snap)
  }

  test("a multi-file manifest read reads with Spark's schema") {
    val dir = tmp("mf")
    Upsert.mergeIntoManifestBucketedParquet(spark, dir, wide(40), keys = Seq("id"),
      nBuckets = 4)
    val files = Upsert.readBucketManifest(spark, dir).values.flatten.toSeq
    assert(files.size > 1)
    assertSameFrame(files: _*)
    assertSameFrameAs(Parquet.readFiles(spark, files), files)
    assertSameFrameAs(Parquet.readFiles(spark, files.reverse), files.reverse)
    assert(Upsert.readTarget(spark, dir).schema == spark.read.parquet(files: _*).schema)
  }

  test("every testdata table, events under both nanosAsLong settings") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"$sf not present")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getOption(key)
    try {
      Seq("false", "true").foreach { nanos =>
        spark.conf.set(key, nanos)
        new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted.foreach { t =>
          val p = s"$sf/$t"
          assert(Parquet.read(spark, p).schema == spark.read.parquet(p).schema,
            s"$t under nanosAsLong=$nanos")
        }
      }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("hidden files are skipped and summary files win, as in Spark's listing") {
    val dir = tmp("hidden")
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(dir)
    // a foreign file under a hidden name sorts first but is never read
    Seq(("x", 1.5)).toDF("other", "w").write.parquet(s"$dir/_scratch")
    Seq(("x", 1.5)).toDF("other", "w").write.parquet(s"$dir/.hidden")
    assertSameFrame(dir)
  }

  test("an empty or missing directory fails with Spark's own error") {
    val empty = tmp("empty")
    def sameError(ours: => Any, theirs: => Any): Unit = {
      val (o, t) = (intercept[Exception](ours), intercept[Exception](theirs))
      assert(o.getClass == t.getClass && o.getMessage == t.getMessage, s"$o vs $t")
    }
    Seq(empty, s"$empty/missing").foreach { p =>
      sameError(Parquet.read(spark, p), spark.read.parquet(p))
    }
    sameError(Parquet.readFiles(spark, Seq(s"$empty/missing.parquet")),
      spark.read.parquet(s"$empty/missing.parquet"))
  }
}
