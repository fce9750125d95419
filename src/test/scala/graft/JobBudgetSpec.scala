package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.graftglue.Glue

import graft.operators.Upsert

/** The Spark jobs the daily run and a target read launch, pinned: a
  * change that adds a job fails here naming every job's call site. Each
  * pin is the count the code reaches; lower it in the change that earns
  * a lower one. */
class JobBudgetSpec extends SparkSpecBase {
  import spark.implicits._

  /** `body`'s result and the call sites of the jobs it started. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val sites = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = sites.synchronized {
        sites += js.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name)
      }
    }
    // events of earlier actions must not reach the new listener
    Glue.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Glue.drainListenerBus(spark.sparkContext)
      (out, sites.synchronized(sites.toList))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def assertBudget(what: String, sites: Seq[String], pinned: Int): Unit =
    assert(sites.size <= pinned,
      s"$what ran ${sites.size} jobs, pinned at $pinned:\n  ${sites.mkString("\n  ")}")

  private def doc(src: String, ts: String, ref: String) =
    (src, Option(Timestamp.valueOf(ts)), Seq(1f, 2f), ref, "", "cat",
      Seq("US"), Option.empty[String], false)

  private val cols = Seq("source", "timestamp", "embeddings", "cleaned_ref",
    "color", "category", "country", "embeddings_type", "for_matching")

  test("daily run, empty rerun and a target read stay inside their job budgets") {
    val dir = Files.createTempDirectory("graft-jobs").toString
    val conf = Pipeline.Config(
      sourcePath = s"$dir/source",
      targetPath = s"$dir/target",
      statePath = s"$dir/state.json",
      stagingPath = s"$dir/staging",
      sourcesConfigPath = Some(s"$dir/dims"),
      vectorDim = 2)
    Seq(("s1 (US)", 1L), ("s2 (US)", 2L)).toDF("display_name", "display_name_id")
      .write.parquet(s"$dir/dims")
    Seq(doc("s1", "2024-02-01 10:00:00", "r1"), doc("s2", "2024-02-01 11:00:00", "r2"))
      .toDF(cols: _*).write.mode(SaveMode.Overwrite).parquet(conf.sourcePath)
    Pipeline.run(spark, conf) // the backfill
    Seq(doc("s1", "2024-03-01 10:00:00", "r1"), doc("s2", "2024-03-01 11:00:00", "r3"))
      .toDF(cols: _*).write.mode(SaveMode.Append).parquet(conf.sourcePath)

    val (stats, incremental) = jobsOf(Pipeline.run(spark, conf))
    assert(stats.recordsProcessed == 2L && stats.uniqueRecords == 2L)
    assertBudget("an incremental Pipeline.run", incremental, 5)

    val (rerun, empty) = jobsOf(Pipeline.run(spark, conf))
    assert(rerun.recordsProcessed == 0L)
    assertBudget("the empty-batch rerun", empty, 1)

    val (_, read) = jobsOf(Upsert.readTarget(spark, conf.targetPath).schema)
    assertBudget("Upsert.readTarget", read, 0)
  }

  test("reading a one-bucket table with superseded rows runs no job") {
    val path = Files.createTempDirectory("graft-jobs-mor").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(path)
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((2L, "B"), (3L, "c")).toDF("id", "v"), Seq("id"), nBuckets = 1)
    val body = Upsert.manifestBody(spark, path, None).get
    assert(Upsert.parseRowDeletes(body).values.map(_.size).sum == 1)
    val (df, read) = jobsOf(Upsert.readTarget(spark, path))
    assertBudget("Upsert.readTarget of a table with superseded rows", read, 0)
    assert(df.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("building a testdata table frame runs no job") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, s"$sf not present")
    val (_, sites) = jobsOf(
      Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
        .foreach(t => Tables(spark, sf, t).schema))
    assertBudget("six Tables frames", sites, 0)
  }
}
