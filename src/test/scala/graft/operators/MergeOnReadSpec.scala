package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpecBase
import graft.sources.GraftCatalog

/** The one-bucket merge-on-read table: a merge writes only the batch's
  * post-merge rows and records the positions of the target rows they
  * supersede; every reader drops those rows or refuses the table. Each
  * result is compared with [[Upsert.merge]] folded over the same
  * batches. */
class MergeOnReadSpec extends SparkSpecBase {
  import spark.implicits._

  private def mkTarget(): String =
    Files.createTempDirectory("graft-mor").toString + "/table"

  private type R = (Option[Long], String, String)

  private def batch(rows: R*): DataFrame =
    rows.toDF("id", "ref", "v")

  private val keys = Seq("id")
  private val ins = Set("ref")

  private def rows(df: DataFrame): Seq[R] =
    df.select("id", "ref", "v").as[R].collect().toSeq.sortBy(_.toString)

  /** Merge `batches` into a fresh one-bucket table; returns its path and
    * the reference fold. */
  private def build(batches: Seq[DataFrame]): (String, DataFrame) = {
    val path = mkTarget()
    batches.foreach(b => Upsert.mergeIntoManifestBucketedParquet(spark, path, b,
      keys, nBuckets = 1, insertOnlyCols = ins, keepSnapshots = 16))
    val ref = batches.tail.foldLeft(batches.head)((t, b) =>
      Upsert.merge(t, b, keys, insertOnlyCols = ins))
    (path, ref)
  }

  private val day1 = batch((Some(1L), "r1", "a"), (Some(2L), "r2", "b"),
    (None, "rn", "n"), (Some(3L), "r3", "c"))
  private val day2 = batch((Some(2L), "x2", "B"), (None, "xn", null),
    (Some(4L), "r4", "d"))
  private val day3 = batch((Some(2L), "y2", "BB"), (Some(1L), "y1", "A"),
    (Some(5L), "r5", "e"))

  test("later merges append the batch and record superseded positions; reads equal the merge fold") {
    val (path, ref) = build(Seq(day1, day2, day3))
    val body = Upsert.manifestBody(spark, path, None).get
    assert(Upsert.parseManifestLong(body, "nBuckets").contains(1L))
    assert(Upsert.parseManifestString(body, "bucket_keys").contains("id"))
    assert(Upsert.parseManifestEntries(body).keySet == Set(0))
    // the second commit rewrote no file: every first file is still listed,
    // with the positions of id 2 and the null key
    def snap(n: Int) = Upsert.manifestBody(spark, path, Some(f"snap-$n%09d")).get
    val first = Upsert.parseManifestEntries(snap(0))(0)
    assert(first.forall(Upsert.parseManifestEntries(snap(1))(0).contains))
    assert(Upsert.parseRowDeletes(snap(1)).values.map(_.size).sum == 2)
    val got = Upsert.readTarget(spark, path)
    assert(!got.columns.contains("__bucket"))
    assert(rows(got) == rows(ref))
  }

  test("an empty batch supersedes nothing") {
    val (path, ref) = build(Seq(day1, day1.limit(0)))
    assert(Upsert.parseRowDeletes(Upsert.manifestBody(spark, path, None).get).isEmpty)
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref))
  }

  test("duplicate target keys are all superseded; duplicate batch keys both land") {
    val dupTarget = batch((Some(1L), "a", "1"), (Some(1L), "b", "2"), (Some(2L), "c", "3"))
    val upd = batch((Some(1L), "z", "9"), (Some(2L), "y", "8"), (Some(2L), "w", "7"))
    val (path, ref) = build(Seq(dupTarget, upd))
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref))
  }

  test("time travel, change feed and mirror read through the recorded positions") {
    val (path, _) = build(Seq(day1, day2, day3))
    val snaps = Upsert.snapshots(spark, path)
    assert(snaps == Seq("snap-000000000", "snap-000000001", "snap-000000002"))
    val at1 = Upsert.merge(day1, day2, keys, insertOnlyCols = ins)
    assert(rows(Upsert.readTargetAt(spark, path, snaps(1))) == rows(at1))
    val diff = Upsert.changesBetween(spark, path, snaps(1), snaps(2), keys)
      .select("change_type", "id").as[(String, Option[Long])].collect().toSet
    assert(diff == Set(("update", Some(2L)), ("update", Some(1L)), ("insert", Some(5L))))
    val mirror = Files.createTempDirectory("graft-mor-mirror").toString
    Upsert.syncMirror(spark, path, mirror, keys)
    assert(rows(Upsert.readMirror(spark, mirror)) == rows(Upsert.readTarget(spark, path)))
  }

  test("compaction rewrites only files with superseded rows and clears them; stats count dead rows") {
    val path = mkTarget()
    val rng = new scala.util.Random(7)
    var ref: DataFrame = null
    def deadRows(): Long = Upsert.tableStats(spark, path)
      .select("superseded_rows").as[Map[String, Long]].collect().map(_.values.sum).sum
    (0 until 4).foreach { day =>
      val b = (0 until 30).map(_ => rng.nextInt(40).toLong).distinct
        .map(k => (Option(k), s"ref$day-$k", s"v$day-$k")).toDF("id", "ref", "v")
      Upsert.mergeIntoManifestBucketedParquet(spark, path, b, keys,
        nBuckets = 1, insertOnlyCols = ins)
      ref = if (ref == null) b else Upsert.merge(ref, b, keys, insertOnlyCols = ins)
    }
    val dead = deadRows()
    assert(dead > 0)
    val body = Upsert.manifestBody(spark, path, None).get
    val dirty = Upsert.parseRowDeletes(body).keySet
    val clean = Upsert.parseManifestEntries(body)(0).filterNot(dirty)
    assert(clean.nonEmpty, "the last day's files supersede nothing of their own")
    Upsert.compactManifestBucketedParquet(spark, path)
    val after = Upsert.manifestBody(spark, path, None).get
    assert(Upsert.parseRowDeletes(after).isEmpty)
    val files = Upsert.parseManifestEntries(after)(0)
    assert(clean.forall(files.contains), "a file without superseded rows was rewritten")
    assert(dirty.forall(f => !files.contains(f)))
    assert(deadRows() == 0L)
    assert(Upsert.parseManifestString(after, "bucket_keys").contains("id"))
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref))
    // the rewritten files are gone from disk (keepSnapshots = 1)
    dirty.foreach(f => assert(!Files.exists(java.nio.file.Paths.get(path, f)), f))
  }

  /** `body` throws, somewhere down its cause chain, the named refusal. */
  private def refused(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(_.isInstanceOf[Upsert.MergeOnReadUnsupportedException]),
      s"expected MergeOnReadUnsupportedException, got $e")
  }

  test("the DSv2 read refuses superseded rows until compaction, then equals the fold") {
    val (path, ref) = build(Seq(day1, day2, day3))
    refused(spark.read.format("graft").load(path).collect())
    refused(spark.read.format("graft").load(path).count())
    // a snapshot without superseded rows stays readable
    assert(rows(spark.read.format("graft").option("snapshot", "0").load(path)) == rows(day1))
    Upsert.compactManifestBucketedParquet(spark, path)
    assert(rows(spark.read.format("graft").load(path)) == rows(ref))
    assert(spark.read.format("graft").load(path).count() == ref.count())
  }

  test("SQL DELETE by key rewrites the files holding the key; SQL UPDATE refuses") {
    val cat = "gmor"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      Files.createTempDirectory("graft-mor-wh").toString)
    val noNull = Seq(day1, day2, day3).map(_.where(col("id").isNotNull))
    val (path, ref) = build(noNull)
    spark.sql(s"CREATE TABLE $cat.db.mor USING graft LOCATION '$path'")
    val before = Upsert.manifestBody(spark, path, None).get
    spark.sql(s"DELETE FROM $cat.db.mor WHERE id = 2")
    val after = Upsert.manifestBody(spark, path, None).get
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref.where(col("id") =!= 2L)))
    // the files holding id 2 left the manifest with their positions
    val gone = Upsert.parseManifestEntries(before)(0)
      .filterNot(Upsert.parseManifestEntries(after)(0).toSet)
    assert(gone.nonEmpty && gone.forall(f => !Upsert.parseRowDeletes(after).contains(f)))
    refused(spark.sql(s"UPDATE $cat.db.mor SET v = 'u' WHERE id = 1").collect())
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref.where(col("id") =!= 2L)))
  }

  test("erasure rewrites physically: null-safe keys, rewritten files drop their positions") {
    val (path, ref) = build(Seq(day1, day2, day3))
    val erase = Seq(Option.empty[Long], Some(3L)).toDF("id")
    Upsert.deleteKeysFromManifestBucketedParquet(spark, path, erase, keys)
    val want = ref.where(col("id").isNotNull && col("id") =!= 3L)
    assert(rows(Upsert.readTarget(spark, path)) == rows(want))
    val body = Upsert.manifestBody(spark, path, None).get
    val files = Upsert.parseManifestEntries(body)(0).toSet
    assert(Upsert.parseRowDeletes(body).keySet.subsetOf(files))
    // no rewritten file's bytes still hold an erased key
    val raw = spark.read.parquet(files.toSeq.map(f => s"$path/$f"): _*)
    assert(raw.where(col("id").isNull || col("id") === 3L).count() == 0L)
  }

  test("erasure rewrites the files holding only superseded copies of a key") {
    val (path, ref) = build(Seq(day1, day2, day3))
    def copiesOf2(): Long = {
      val files = Upsert.parseManifestEntries(Upsert.manifestBody(spark, path, None).get)(0)
      spark.read.parquet(files.map(f => s"$path/$f"): _*).where(col("id") === 2L).count()
    }
    // id 2 was updated on days 2 and 3: a superseded copy is still on disk
    assert(copiesOf2() > 1L)
    Upsert.deleteKeysFromManifestBucketedParquet(spark, path, Seq(Some(2L)).toDF("id"), keys)
    assert(copiesOf2() == 0L)
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref.where(!(col("id") <=> 2L))))
  }

  test("tens of thousands of positions parse and read; a merge rewrites a worn file") {
    val path = mkTarget()
    def day(ids: org.apache.spark.sql.Column, v: String): DataFrame =
      spark.range(100000L).where(ids)
        .select(col("id"), lit("r").as("ref"), lit(v).as("v")).coalesce(1)
    def merge(b: DataFrame): Unit = Upsert.mergeIntoManifestBucketedParquet(
      spark, path, b, keys, nBuckets = 1, insertOnlyCols = ins)
    def body = Upsert.manifestBody(spark, path, None).get
    merge(day(lit(true), "a"))
    val first = Upsert.parseManifestEntries(body)(0)
    assert(first.size == 1)
    def positions = Upsert.parseRowDeletes(body).getOrElse(first.head, Nil).size
    merge(day(col("id") < 25000L, "b"))
    assert(positions == 25000)
    // the first file's dead share (25%) is within the bound: it stays
    merge(day(col("id") >= 25000L && col("id") < 35000L, "c"))
    assert(Upsert.parseManifestEntries(body)(0).contains(first.head))
    assert(positions == 35000)
    def counts = Upsert.readTarget(spark, path).groupBy("v").count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map("a" -> 65000L, "b" -> 25000L, "c" -> 10000L))
    // now 35% dead: the next merge rewrites it in the same write
    merge(day(col("id") >= 99990L, "d"))
    assert(!Upsert.parseManifestEntries(body)(0).contains(first.head))
    assert(Upsert.parseRowDeletes(body).isEmpty)
    assert(counts == Map("a" -> 64990L, "b" -> 25000L, "c" -> 10000L, "d" -> 10L))
    assert(Upsert.readTarget(spark, path).select("id").distinct().count() == 100000L)
  }

  test("streams: the appends read refuses, the change feed mirrors the table") {
    val (path, _) = build(Seq(day1, day2))
    val base = Files.createTempDirectory("graft-mor-stream").toString
    refused {
      val q = spark.readStream.format("graft").load(path).writeStream
        .format("noop").option("checkpointLocation", s"$base/a")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000L)
    }
    val nn = Seq(day1, day2, day3).map(_.where(col("id").isNotNull))
    val (p2, _) = build(nn.take(2))
    @volatile var mirror: Seq[R] = Nil
    def drain(): Unit = {
      val q = spark.readStream.format("graft").option("cdc", "true")
        .option("keys", "id").load(p2).writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
          mirror = rows(Upsert.applyChanges(mirror.toDF("id", "ref", "v"), b, keys))
          ()
        }
        .option("checkpointLocation", s"$base/c")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000L)
      assert(!q.isActive)
    }
    drain()
    assert(mirror == rows(Upsert.readTarget(spark, p2)))
    Upsert.mergeIntoManifestBucketedParquet(spark, p2, nn(2), keys,
      nBuckets = 1, insertOnlyCols = ins, keepSnapshots = 16)
    drain()
    assert(mirror == rows(Upsert.readTarget(spark, p2)))
  }

  test("a snapshot-directory target is adopted in place and its files reclaimed after compaction") {
    val path = mkTarget()
    Upsert.mergeIntoParquet(spark, path, day1, keys, insertOnlyCols = ins)
    Upsert.mergeIntoParquet(spark, path, day2, keys, insertOnlyCols = ins)
    assert(Upsert.snapshots(spark, path) == Seq("snap-000000001"))
    Upsert.mergeIntoManifestBucketedParquet(spark, path, day3, keys,
      nBuckets = 1, insertOnlyCols = ins)
    val body = Upsert.manifestBody(spark, path, None).get
    val adopted = Upsert.parseManifestEntries(body)(0).filter(_.startsWith("snap-000000001/"))
    assert(adopted.nonEmpty)
    assert(Upsert.snapshots(spark, path) == Seq("snap-000000002"))
    val ref = Upsert.merge(Upsert.merge(day1, day2, keys, insertOnlyCols = ins),
      day3, keys, insertOnlyCols = ins)
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref))
    // later merges through mergeIntoParquet delegate to the manifest writer
    val day4 = batch((Some(3L), "z3", "C"))
    Upsert.mergeIntoParquet(spark, path, day4, keys, insertOnlyCols = ins)
    val ref4 = Upsert.merge(ref, day4, keys, insertOnlyCols = ins)
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref4))
    assert(Upsert.snapshots(spark, path) == Seq("snap-000000003"))
    Upsert.compactManifestBucketedParquet(spark, path)
    assert(rows(Upsert.readTarget(spark, path)) == rows(ref4))
    assert(!Files.exists(java.nio.file.Paths.get(path, "snap-000000001")),
      "adopted files no manifest references were not reclaimed")
  }

  test("a plain target is adopted in place; a partitioned one is refused") {
    val plain = mkTarget()
    day1.write.parquet(plain)
    Upsert.mergeIntoManifestBucketedParquet(spark, plain, day2, keys,
      nBuckets = 1, insertOnlyCols = ins)
    assert(rows(Upsert.readTarget(spark, plain)) ==
      rows(Upsert.merge(day1, day2, keys, insertOnlyCols = ins)))
    val parted = mkTarget()
    day1.write.partitionBy("v").parquet(parted)
    val e = intercept[IllegalStateException](Upsert.mergeIntoManifestBucketedParquet(
      spark, parted, day2, keys, nBuckets = 1))
    assert(e.getMessage.contains("partitioned"), e.getMessage)
  }

  test("positions are keyed by relative entry: a relocated copy reads the same") {
    val (path, ref) = build(Seq(day1, day2, day3))
    val copy = Files.createTempDirectory("graft-mor-copy").toString + "/moved"
    val src = java.nio.file.Paths.get(path)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = java.nio.file.Paths.get(copy).resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.createLink(dst, p)
    } finally walk.close()
    assert(rows(Upsert.readTarget(spark, copy)) == rows(ref))
  }
}
