package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class ExtractSpec extends SparkSpecBase {
  import spark.implicits._

  test("P6: display_name formats missing country as the literal (None)") {
    val df = Seq(("src1", Some("US")), ("src2", None)).toDF("source", "cc")
    val out = df.select(Extract.displayName(col("source"), col("cc")).as("d"))
      .as[String].collect().sorted
    assert(out.sameElements(Array("src1 (US)", "src2 (None)")))
  }

  test("P7: isoformat omits the fraction exactly when micros are zero") {
    val df = Seq(
      Timestamp.valueOf("2024-03-01 10:20:30"),
      Timestamp.valueOf("2024-03-01 10:20:30.000123")).toDF("ts")
    val out = df.select(Extract.isoTimestamp(col("ts")).as("s")).as[String].collect()
    assert(out.contains("2024-03-01T10:20:30"))
    assert(out.contains("2024-03-01T10:20:30.000123"))
  }

  test("F3/F4: strict > against watermark, inclusive >= against fallback") {
    val wm = Seq(("a", Timestamp.valueOf("2024-01-10 00:00:00"))).toDF("source", "wm")
    val rows = Seq(
      ("a", Timestamp.valueOf("2024-01-10 00:00:00")), // == watermark: dropped
      ("a", Timestamp.valueOf("2024-01-10 00:00:01")), // > watermark: kept
      ("b", Timestamp.valueOf("2024-01-05 00:00:00")), // == fallback: kept
      ("b", Timestamp.valueOf("2024-01-04 23:59:59"))  // < fallback: dropped
    ).toDF("source", "timestamp")
    val fallback = Timestamp.valueOf("2024-01-05 00:00:00")
    val want = Set(Timestamp.valueOf("2024-01-10 00:00:01"), fallback)
    val joined = Extract.incrementalFilter(rows, wm, fallback)
    assert(joined.select("timestamp").as[Timestamp].collect().toSet == want)
    // the driver-held form: "b" is missing from the map, so takes the fallback
    val lookedUp = Extract.sinceWatermarks(rows,
      Map("a" -> Timestamp.valueOf("2024-01-10 00:00:00")), fallback)
    assert(lookedUp.select("timestamp").as[Timestamp].collect().toSet == want)
  }

  test("P5: scalar country strings are coerced to 1-element arrays") {
    val df = Seq(Some("US"), Some(""), None).toDF("country")
    val out = Extract.coerceCountry(df)
      .select(Extract.countryCode(col("country")).as("cc"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSet == Set(Some("US"), None))
  }

  test("P2/P4: main_refco suffixes color only when non-empty, truncates to 100") {
    val long = "x" * 150
    val df = Seq(("ref", "Blue"), ("ref", ""), (long, "c")).toDF("r", "c")
    val out = df.select(Extract.mainRefco(col("r"), col("c")).as("k")).as[String].collect()
    assert(out.contains("ref_blue"))
    assert(out.contains("ref"))
    assert(out.exists(k => k.length == 100 && k.startsWith("xxx")))
  }

  test("P10: quarantine splits bad rows with named failed checks") {
    val df = Seq(
      (Some(Timestamp.valueOf("2024-01-01 00:00:00")), Some(Seq(1f, 2f))),
      (None, Some(Seq(1f, 2f))),
      (Some(Timestamp.valueOf("2024-01-01 00:00:00")), Some(Seq.empty[Float])))
      .toDF("timestamp", "embeddings")
    val (good, bad) = Extract.quarantine(df)
    assert(good.count() == 1)
    val errs = bad.select(explode(col("__errors"))).as[String].collect().toSet
    assert(errs == Set("null_timestamp", "empty_embedding"))
  }
}
