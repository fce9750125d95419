package graft

import java.sql.Timestamp

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The per-source stats `Pipeline.run` observes on its staging write
  * must be the map the `groupBy` aggregate they replace collects, for
  * any batch: an empty one, a single source, the `""` source. */
class SourceStatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def rowOf(sources: Gen[String]): Gen[(String, Option[Timestamp])] = for {
    s <- sources
    ts <- Gen.frequency(9 -> Gen.choose(0L, 1L << 30).map(sec => Some(new Timestamp(sec * 1000L))),
      1 -> Gen.const(None))
  } yield (s, ts)

  private val batchGen: Gen[List[(String, Option[Timestamp])]] = Gen.oneOf(
    Gen.const(Nil),
    Gen.listOf(rowOf(Gen.const("only"))),
    Gen.listOf(rowOf(Gen.oneOf("", "a", "b", "src-c"))))

  test("property: observed per-source stats equal groupBy(source).agg(count, max(__ts))") {
    val prop = Prop.forAll(batchGen) { rows =>
      val df = rows.toDF("source", "__ts").repartition(3)
      val obs = Observation()
      Pipeline.SourceStats.observe(df, obs).write.format("noop").mode("overwrite").save()
      val expected = df.groupBy("source").agg(count(lit(1)), max("__ts")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getTimestamp(2))).toMap
      val observed = Pipeline.SourceStats.get(obs)
      Prop(observed == expected) :| s"observed $observed, expected $expected"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, res.status.toString)
  }
}
