package graft.operators

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpecBase

/** ScalaCheck properties for the merge — the reference's retry-safety
  * contract (at-least-once scheduling + idempotent upsert,
  * `embeddings-pipeline.py:275`) must hold for ARBITRARY batches,
  * including NULL-carrying updates and overlapping keys. */
class MergePropertySpec extends SparkSpecBase {
  import spark.implicits._

  private val rowGen: Gen[(Long, Option[String], Long)] = for {
    k <- Gen.choose(0L, 15L) // small key space forces collisions
    v <- Gen.option(Gen.alphaStr.map(_.take(4)))
    n <- Gen.choose(0L, 99L)
  } yield (k, v, n)

  private val batchGen: Gen[List[(Long, Option[String], Long)]] =
    Gen.listOfN(8, rowGen).map(_.distinctBy(_._1)) // unique keys per batch

  private def df(rows: List[(Long, Option[String], Long)]) =
    rows.map { case (k, v, n) => (k, v.orNull, n) }.toDF("id", "ref", "v")

  private def snapshot(d: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    d.as[(Long, String, Long)].collect().toSet

  private def run(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: merging the same batch twice equals merging once") {
    run(Prop.forAll(batchGen, batchGen) { (t, u) =>
      val once = Upsert.merge(df(t), df(u), Seq("id"))
      val twice = Upsert.merge(once, df(u), Seq("id"))
      snapshot(once) == snapshot(twice)
    })
  }

  test("property: result keys are exactly target-keys union update-keys") {
    run(Prop.forAll(batchGen, batchGen) { (t, u) =>
      val merged = Upsert.merge(df(t), df(u), Seq("id"))
      merged.select("id").as[Long].collect().toSet ==
        (t.map(_._1).toSet ++ u.map(_._1).toSet)
    })
  }

  test("property: matched rows take update values (incl. NULL overwrite)") {
    run(Prop.forAll(batchGen, batchGen) { (t, u) =>
      val merged = snapshot(Upsert.merge(df(t), df(u), Seq("id")))
      val uMap = u.map(r => r._1 -> r).toMap
      merged.forall { case (k, ref, v) =>
        uMap.get(k) match {
          case Some((_, uRef, uV)) => ref == uRef.orNull && v == uV
          case None => t.exists(r => r._1 == k && r._2.orNull == ref && r._3 == v)
        }
      }
    })
  }

  test("property: schema evolution preserves idempotence and old-row NULLs") {
    // updates carry an extra column the target lacks; retry-safety must
    // survive evolution, and rows outside the batch must read NULL for it
    run(Prop.forAll(batchGen, batchGen) { (t, u) =>
      val uDf = df(u).withColumn("extra", concat(lit("x"), col("id")))
      val once = Upsert.merge(df(t), uDf, Seq("id"), evolveSchema = true)
      val twice = Upsert.merge(once, uDf, Seq("id"))
      val got = once.select("id", "extra").as[(Long, Option[String])]
        .collect().toMap
      val uKeys = u.map(_._1).toSet
      val idempotent = twice.select("id", "extra")
        .as[(Long, Option[String])].collect().toMap == got
      idempotent && got.forall { case (k, extra) =>
        if (uKeys.contains(k)) extra.contains(s"x$k") else extra.isEmpty
      }
    })
  }

  test("property: merge-on-read commits then a compaction equal the merge fold") {
    // random rows over keys 0..5 and NULL (matched null-safely), plus
    // fixed ones: day 0 lands key 0 twice (duplicate target keys) and a
    // NULL key, day 2 updates that NULL key, and key 1 is updated every
    // day, with a NULL value on odd days
    val keyGen = Gen.frequency(1 -> Gen.const(Option.empty[Long]),
      6 -> Gen.choose(0L, 5L).map(Option(_)))
    val rowGen = for {
      k <- keyGen
      ref <- Gen.option(Gen.alphaStr.map(_.take(3)))
      v <- Gen.option(Gen.alphaStr.map(_.take(3)))
    } yield (k, ref, v)
    val daysGen = Gen.listOfN(4, Gen.listOfN(5, rowGen))
    import org.apache.spark.sql.types._
    val empty = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("id", LongType), StructField("ref", StringType),
        StructField("v", StringType), StructField("ts", TimestampType))))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "ref", "v", "ts").as[(Option[Long], Option[String], Option[String],
        java.sql.Timestamp)].collect().toSeq.map(_.toString).sorted
    val prop = Prop.forAll(daysGen) { days =>
      val path = java.nio.file.Files.createTempDirectory("graft-mor-prop").toString + "/t"
      val ref = days.zipWithIndex.foldLeft(empty) { case (t, (b, day)) =>
        val fixed: List[(Option[Long], Option[String], Option[String])] =
          (Some(1L), Some(s"d$day"), if (day % 2 == 1) None else Some(s"v$day")) ::
          (day match {
            case 0 => List((Some(0L), Some("a"), Some("x")), (Some(0L), Some("b"), Some("y")),
              (None, Some("n"), Some("n0")))
            case 2 => List((None, Some("m"), None))
            case _ => Nil
          })
        val batch = (fixed ++ b).toDF("id", "ref", "v")
        val refresh = Map("ts" -> lit(java.sql.Timestamp.valueOf(s"2024-01-0${day + 1} 00:00:00")))
        Upsert.mergeIntoManifestBucketedParquet(spark, path, batch, Seq("id"),
          nBuckets = 1, insertOnlyCols = Set("ref"), refreshExprs = refresh)
        Upsert.merge(t, batch, Seq("id"), insertOnlyCols = Set("ref"), refreshExprs = refresh)
      }
      val want = rows(ref)
      val beforeCompaction = rows(Upsert.readTarget(spark, path))
      Upsert.compactManifestBucketedParquet(spark, path)
      val body = Upsert.manifestBody(spark, path, None).get
      beforeCompaction == want && rows(Upsert.readTarget(spark, path)) == want &&
        Upsert.parseRowDeletes(body).isEmpty
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6), prop)
    assert(res.passed, res.status.toString)
  }
}
