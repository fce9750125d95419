package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Per-file min/max stats in the manifest + file-level data skipping
  * (round 10): the commit records footer stats for key/stats columns,
  * untouched buckets carry theirs forward, and `readManifestTable` with
  * [[FileStats.ColRange]]s drops files that cannot match — without ever
  * opening them. */
class FileStatsSpec extends SparkSpecBase {
  import spark.implicits._

  private def mkTarget(): String =
    Files.createTempDirectory("graft-filestats").toString + "/table"

  private def statsOf(path: String): Map[String, Map[String, FileStats.ColStats]] =
    FileStats.parse(Upsert.manifestBody(spark, path, None).get)

  test("commit records exact per-file min/max for keys and statsCols") {
    val path = mkTarget()
    val rows = (0L until 40L).map(k => (k, k * 100L, s"v$k")).toDF("key", "ts", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows,
      Seq("key"), nBuckets = 4, statsCols = Seq("ts"))
    val stats = statsOf(path)
    val manifest = Upsert.readBucketManifest(spark, path)
    val rel = stats.keySet
    // every referenced file carries stats for both columns
    manifest.values.flatten.foreach { abs =>
      val matching = rel.filter(r => abs.endsWith(r))
      assert(matching.size == 1, s"no stats entry for $abs")
      val byCol = stats(matching.head)
      assert(byCol.contains("key") && byCol.contains("ts"), byCol.keySet.toString)
      // recorded bounds are EXACT: re-read the file and compare
      val a = spark.read.parquet(abs)
        .agg(min("key"), max("key"), min("ts"), max("ts")).head()
      assert(byCol("key").min.get == BigDecimal(a.getLong(0)))
      assert(byCol("key").max.get == BigDecimal(a.getLong(1)))
      assert(byCol("ts").min.get == BigDecimal(a.getLong(2)))
      assert(byCol("ts").max.get == BigDecimal(a.getLong(3)))
      assert(byCol("ts").nulls == 0L)
    }
  }

  test("range read prunes files and returns exactly the matching rows") {
    val path = mkTarget()
    // ts correlates with key so files (bucketed by key hash) get distinct
    // ts ranges only after we partition by a ts-aligned key: use 4 batches
    // with disjoint ts ranges, one bucket each via a constant batch key
    val rows = (0L until 400L).map(k => (k, k * 10L, s"v$k")).toDF("key", "ts", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows,
      Seq("key"), nBuckets = 8, statsCols = Seq("ts"))
    val body = Upsert.manifestBody(spark, path, None).get
    val all = Upsert.parseManifestEntries(body).values.flatten.toSeq
    // a range that covers nothing: everything must prune
    val (keepNone, pruneAll) = FileStats.split(FileStats.parse(body), all,
      Seq(FileStats.ColRange.between("ts", 100000L, 200000L)))
    assert(keepNone.isEmpty && pruneAll.size == all.size)
    val emptyRead = Upsert.readManifestTable(spark, path,
      ranges = Seq(FileStats.ColRange.between("ts", 100000L, 200000L)))
    assert(emptyRead.count() == 0L)
    assert(emptyRead.columns.toSet == Set("key", "ts", "v", "__bucket"))
    // a live range returns exactly what a full-scan filter returns
    val pruned = Upsert.readManifestTable(spark, path,
        ranges = Seq(FileStats.ColRange.between("ts", 500L, 900L)))
      .where($"ts".between(500L, 900L))
      .select("key").as[Long].collect().toSet
    val full = Upsert.readManifestTable(spark, path)
      .where($"ts".between(500L, 900L))
      .select("key").as[Long].collect().toSet
    assert(pruned == full && full.nonEmpty)
  }

  test("key-range pruning: point lookup opens a strict file subset") {
    val path = mkTarget()
    val rows = (0L until 400L).map(k => (k, s"v$k")).toDF("key", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows,
      Seq("key"), nBuckets = 8)
    val body = Upsert.manifestBody(spark, path, None).get
    val all = Upsert.parseManifestEntries(body).values.flatten.toSeq
    // keys are hash-scattered, so a NARROW range still overlaps most
    // files — but a point PAST the domain must prune everything
    val (k1, p1) = FileStats.split(FileStats.parse(body), all,
      Seq(FileStats.ColRange.eqTo("key", 999999L)))
    assert(k1.isEmpty && p1.size == all.size)
  }

  test("untouched buckets carry their stats forward across commits") {
    val path = mkTarget()
    val first = (0L until 40L).map(k => (k, k * 100L, s"v$k")).toDF("key", "ts", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, first,
      Seq("key"), nBuckets = 4, statsCols = Seq("ts"))
    val m1 = Upsert.readBucketManifest(spark, path)
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((7L, 700000L, "UPD")).toDF("key", "ts", "v"),
      Seq("key"), nBuckets = 4, statsCols = Seq("ts"))
    val stats2 = statsOf(path)
    val m2 = Upsert.readBucketManifest(spark, path)
    val untouched = m2.keySet.filter(b => m2(b) == m1.getOrElse(b, Nil))
    assert(untouched.nonEmpty)
    untouched.flatMap(m2(_)).foreach { abs =>
      assert(stats2.keys.exists(r => abs.endsWith(r)),
        s"carried file lost its stats: $abs")
    }
    // the touched bucket's new file records the new ts domain
    val touched = (m2.keySet -- untouched).flatMap(m2(_))
    val newStats = touched.flatMap(abs =>
      stats2.collect { case (r, s) if abs.endsWith(r) => s })
    assert(newStats.exists(_("ts").max.get == BigDecimal(700000L)))
  }

  test("all-null stats column: file prunes under any range; nulls counted") {
    val path = mkTarget()
    // one input partition: a one-bucket commit writes a file per task
    val rows = Seq((1L, Option.empty[Long], "a"),
      (2L, Option.empty[Long], "b")).toDF("key", "ts", "v").coalesce(1)
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows,
      Seq("key"), nBuckets = 1, statsCols = Seq("ts"))
    val body = Upsert.manifestBody(spark, path, None).get
    val stats = FileStats.parse(body)
    val ts = stats.values.head("ts")
    assert(ts.min.isEmpty && ts.max.isEmpty && ts.nulls == 2L)
    val all = Upsert.parseManifestEntries(body).values.flatten.toSeq
    val (kept, pruned) = FileStats.split(stats, all,
      Seq(FileStats.ColRange.atLeast("ts", Long.MinValue)))
    assert(kept.isEmpty && pruned.size == all.size)
  }

  test("string columns record truncated bounds (r17); ranges on them prune soundly") {
    val path = mkTarget()
    // values with a shared >16-byte prefix force real truncation
    val longPfx = "prefix-0123456789abcdef-" // 24 bytes
    val rows = (0L until 10L).map(k => (k, s"$longPfx$k", s"v$k"))
      .toDF("key", "name", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows,
      Seq("key"), nBuckets = 1, statsCols = Seq("name"))
    val body = Upsert.manifestBody(spark, path, None).get
    val stats = FileStats.parse(body)
    val name = stats.values.head("name")
    assert(name.typ == "str" && name.strMin.isDefined && name.strMax.isDefined)
    assert(name.strMin.get.length <= FileStats.StrBoundBytes)
    assert(name.strMax.get.length <= FileStats.StrBoundBytes)
    // widen-only: recorded bounds bracket the true bounds
    val mn = (longPfx + "0").getBytes("UTF-8").toSeq
    val mx = (longPfx + "9").getBytes("UTF-8").toSeq
    assert(FileStats.cmpBytes(name.strMin.get, mn) <= 0)
    assert(FileStats.cmpBytes(name.strMax.get, mx) >= 0)
    val all = Upsert.parseManifestEntries(body).values.flatten.toSeq
    // a value inside the interval keeps the file
    val (kept, _) = FileStats.split(stats, all,
      Seq(FileStats.ColRange.strEq("name", longPfx + "5")))
    assert(kept.size == all.size)
    // a value far outside prunes it
    val (kept2, pruned2) = FileStats.split(stats, all,
      Seq(FileStats.ColRange.strEq("name", "zzz-way-past-the-interval")))
    assert(kept2.isEmpty && pruned2.size == all.size)
    // a NUMERIC range against string stats (type drift) never prunes
    val (kept3, _) = FileStats.split(stats, all,
      Seq(FileStats.ColRange(col = "name", lo = Some(BigDecimal(0)))))
    assert(kept3.size == all.size)
  }

  test("property: string truncation only WIDENS — a present value is never pruned") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // strings biased toward shared long prefixes, unicode, and 0xFF-heavy
    // tails (the truncation-increment carry paths)
    val strGen: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(40)),
      Gen.listOfN(20, Gen.oneOf('a', 'b', 'ü', '語', '￿')).map(_.mkString),
      Gen.alphaNumStr.map(s => "shared-prefix-0123456789-" + s.take(20)),
      Gen.listOfN(18, Gen.const('￿')).map(_.mkString))
    val prop = Prop.forAll(Gen.nonEmptyListOf(strGen)) { values =>
      val bytes = values.map(_.getBytes("UTF-8").toSeq)
      val mn = bytes.min(Ordering.fromLessThan[Seq[Byte]](
        FileStats.cmpBytes(_, _) < 0))
      val mx = bytes.max(Ordering.fromLessThan[Seq[Byte]](
        FileStats.cmpBytes(_, _) < 0))
      val (tMax, unb) = FileStats.truncMax(mx) match {
        case Some(t) => (Some(t), false)
        case None => (None, true)
      }
      val cs = FileStats.ColStats("str", None, None, 0L,
        strMin = Some(FileStats.truncMin(mn)), strMax = tMax,
        strMaxUnbounded = unb)
      // widen-only invariants
      val widenOk = FileStats.cmpBytes(cs.strMin.get, mn) <= 0 &&
        (unb || FileStats.cmpBytes(cs.strMax.get, mx) >= 0)
      // every PRESENT value survives an equality range (no false prune)
      val noFalsePrune = values.forall { v =>
        FileStats.ColRange.strEq("c", v).mayMatch(Some(cs))
      }
      widenOk && noFalsePrune
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("per-file __rows row counts are recorded and carried forward") {
    val path = mkTarget()
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      (0L until 40L).map(k => (k, s"v$k")).toDF("key", "v"),
      Seq("key"), nBuckets = 4)
    val stats = statsOf(path)
    val manifest = Upsert.readBucketManifest(spark, path)
    val total = stats.values.flatMap(FileStats.rowCount).sum
    assert(total == 40L, s"recorded row counts sum to $total")
    // second merge touches one bucket; untouched files keep their counts
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((7L, "UPDATED"), (1007L, "NEW")).toDF("key", "v"),
      Seq("key"), nBuckets = 4)
    val stats2 = statsOf(path)
    val total2 = stats2.values.flatMap(FileStats.rowCount).sum
    assert(total2 == 41L, s"row counts after second merge sum to $total2")
    assert(manifest.nonEmpty) // silence unused warning paranoia
  }

  test("parse tolerates manifests without file_stats (legacy)") {
    assert(FileStats.parse("""{"attempt": "x", "0": ["data/f.parquet"]}""").isEmpty)
  }
}
