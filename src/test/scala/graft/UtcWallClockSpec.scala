package graft

import java.time.Instant
import java.util.TimeZone

/** The spark-submit jobs read wall-clock flags and run their sessions in
  * UTC, whatever zone the driver JVM has. */
class UtcWallClockSpec extends SparkSpecBase {

  /** `body` with the JVM default zone set to a zone off UTC. */
  private def offUtc[T](body: => T): T = {
    val prior = TimeZone.getDefault
    TimeZone.setDefault(TimeZone.getTimeZone("America/Los_Angeles"))
    try body finally TimeZone.setDefault(prior)
  }

  private def config(opts: Map[String, String]) =
    RunPipeline.config("src", "tgt", "state", "staging", opts)

  test("--fallback and the default fallback are UTC wall-clock time off a UTC JVM") {
    offUtc {
      assert(config(Map("--fallback" -> "2024-03-01 08:00:00")).fallbackDate.toInstant ==
        Instant.parse("2024-03-01T08:00:00Z"))
      assert(config(Map.empty).fallbackDate.toInstant == Instant.parse("2024-01-01T00:00:00Z"))
      assert(Pipeline.Config("s", "t", "st", "sg").fallbackDate.toInstant ==
        Instant.parse("2024-01-01T00:00:00Z"))
      val e = intercept[IllegalArgumentException](config(Map("--fallback" -> "03/01/2024")))
      assert(e.getMessage.contains("--fallback"), e.getMessage)
    }
  }

  test("the spark-submit session runs in UTC") {
    val tz = "spark.sql.session.timeZone"
    val touched = GraftConf.scaleDefaults.keySet + tz + "spark.sql.shuffle.partitions"
    val prior = touched.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(tz, "America/Los_Angeles")
      assert(GraftSession.submitted("graft-utc-check").conf.get(tz) == "UTC")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
