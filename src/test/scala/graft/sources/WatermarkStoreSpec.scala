package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpecBase

class WatermarkStoreSpec extends SparkSpecBase {

  test("render/parse roundtrip incl. escaping") {
    val state = Map(
      "plain" -> Timestamp.valueOf("2024-01-02 03:04:05.123456"),
      "we\"ird\\src" -> Timestamp.valueOf("2024-06-01 00:00:00"))
    assert(WatermarkStore.parse(WatermarkStore.render(state)) == state)
  }

  test("missing file reads as empty map (full-backfill semantics)") {
    val dir = Files.createTempDirectory("graft-wm").toString
    assert(WatermarkStore.read(spark, s"$dir/absent.json").isEmpty)
  }

  test("write then read through the filesystem") {
    val dir = Files.createTempDirectory("graft-wm").toString
    val path = s"$dir/state.json"
    val state = Map("s1" -> Timestamp.valueOf("2024-03-01 12:00:00"))
    WatermarkStore.write(spark, path, state)
    assert(WatermarkStore.read(spark, path) == state)
  }

  test("advance keeps per-source maxima") {
    val prior = Map(
      "a" -> Timestamp.valueOf("2024-01-10 00:00:00"),
      "b" -> Timestamp.valueOf("2024-01-20 00:00:00"))
    val fresh = Map(
      "a" -> Timestamp.valueOf("2024-01-15 00:00:00"), // newer wins
      "b" -> Timestamp.valueOf("2024-01-05 00:00:00"), // older loses
      "c" -> Timestamp.valueOf("2024-01-01 00:00:00")) // new source
    assert(WatermarkStore.advance(prior, fresh) == Map(
      "a" -> Timestamp.valueOf("2024-01-15 00:00:00"),
      "b" -> Timestamp.valueOf("2024-01-20 00:00:00"),
      "c" -> Timestamp.valueOf("2024-01-01 00:00:00")))
  }

  test("watermarks are UTC on disk: a write and a read in different JVM zones agree") {
    val dir = Files.createTempDirectory("graft-wm").toString
    val path = s"$dir/state.json"
    val state = Map(
      "s1" -> Timestamp.from(java.time.Instant.parse("2024-03-01T12:00:00.123456Z")),
      "s2" -> Timestamp.from(java.time.Instant.parse("2024-07-01T23:30:00Z")))
    val zone = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("America/Los_Angeles"))
      WatermarkStore.write(spark, path, state)
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      val read = WatermarkStore.read(spark, path)
      assert(read.map { case (k, v) => k -> v.toInstant } == state.map { case (k, v) => k -> v.toInstant })
    } finally java.util.TimeZone.setDefault(zone)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      .contains("2024-03-01T12:00:00.123456"))
  }
}
