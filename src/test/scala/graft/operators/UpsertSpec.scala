package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** J3 MERGE semantics (reference `embeddings-pipeline.py:294-352`). */
class UpsertSpec extends SparkSpecBase {
  import spark.implicits._

  private def target: DataFrame = Seq(
    ("k1", "ref1", Some("old1"), 10L),
    ("k2", "ref2", Some("old2"), 20L)).toDF("key", "cleaned_ref", "etype", "v")

  test("matched rows: genuine NULL in the update overwrites the target") {
    val updates = Seq(("k1", "refU", None: Option[String], 11L))
      .toDF("key", "cleaned_ref", "etype", "v")
    val out = Upsert.merge(target, updates, Seq("key"),
      insertOnlyCols = Set("cleaned_ref"))
    val k1 = out.where($"key" === "k1").as[(String, String, Option[String], Long)].head()
    assert(k1 == (("k1", "ref1", None, 11L))) // etype cleared, cleaned_ref kept
  }

  test("cleaned_ref quirk: not updated on match, inserted on miss") {
    val updates = Seq(
      ("k2", "refU2", Some("new2"), 21L),
      ("k3", "refU3", Some("new3"), 30L)).toDF("key", "cleaned_ref", "etype", "v")
    val out = Upsert.merge(target, updates, Seq("key"),
      insertOnlyCols = Set("cleaned_ref"))
    val rows = out.as[(String, String, Option[String], Long)].collect().toSet
    assert(rows == Set(
      ("k1", "ref1", Some("old1"), 10L),  // untouched
      ("k2", "ref2", Some("new2"), 21L),  // updated, cleaned_ref preserved
      ("k3", "refU3", Some("new3"), 30L)  // inserted with cleaned_ref
    ))
  }

  test("refreshExprs stamp only touched rows") {
    val updates = Seq(("k2", "refU2", Some("new2"), 21L))
      .toDF("key", "cleaned_ref", "etype", "v")
    val stamped = target.withColumn("inserted_at",
      lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    val out = Upsert.merge(stamped, updates, Seq("key"),
      insertOnlyCols = Set("cleaned_ref"),
      refreshExprs = Map("inserted_at" ->
        lit(java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))))
    val byKey = out.select("key", "inserted_at")
      .as[(String, java.sql.Timestamp)].collect().toMap
    assert(byKey("k1") == java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    assert(byKey("k2") == java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
  }

  test("idempotence: merging the same batch twice equals merging once") {
    val updates = Seq(
      ("k2", "refU2", Some("new2"), 21L),
      ("k3", "refU3", None: Option[String], 30L)).toDF("key", "cleaned_ref", "etype", "v")
    val once = Upsert.merge(target, updates, Seq("key"), Set("cleaned_ref"))
    val twice = Upsert.merge(once, updates, Seq("key"), Set("cleaned_ref"))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("mergeIntoParquet: first run inserts, second merges, pointer advances") {
    val dir = Files.createTempDirectory("graft-upsert").toString
    val path = s"$dir/table"
    val updates = Seq(("k1", 1L), ("k2", 2L)).toDF("key", "v")
    Upsert.mergeIntoParquet(spark, path, updates, Seq("key"))
    assert(Upsert.readTarget(spark, path).count() == 2)
    assert(Upsert.currentSnapshot(spark, path).contains("snap-000000000"))
    val more = Seq(("k2", 22L), ("k3", 3L)).toDF("key", "v")
    Upsert.mergeIntoParquet(spark, path, more, Seq("key"))
    val out = Upsert.readTarget(spark, path).as[(String, Long)].collect().toMap
    assert(out == Map("k1" -> 1L, "k2" -> 22L, "k3" -> 3L))
    assert(Upsert.currentSnapshot(spark, path).contains("snap-000000001"))
  }

  test("mergeIntoParquet: keepSnapshots retains history for time travel") {
    val dir = Files.createTempDirectory("graft-upsert-retain").toString
    val path = s"$dir/table"
    def mergeKeep2(rows: Seq[(String, Long)]): Unit =
      Upsert.mergeIntoParquet(spark, path, rows.toDF("key", "v"), Seq("key"),
        keepSnapshots = 2)
    mergeKeep2(Seq(("k1", 1L)))
    mergeKeep2(Seq(("k2", 2L)))
    mergeKeep2(Seq(("k3", 3L)))
    assert(Upsert.snapshots(spark, path) ==
      Seq("snap-000000001", "snap-000000002"))
    assert(Upsert.readTarget(spark, path).count() == 3)
    // time travel: the previous snapshot is still a complete table
    val prev = spark.read.parquet(s"$path/snap-000000001")
      .as[(String, Long)].collect().toMap
    assert(prev == Map("k1" -> 1L, "k2" -> 2L))
  }

  test("schema evolution: new update column appends; untouched rows read NULL") {
    val updates = Seq(
      ("k1", "refU", Some("new1"), 11L, "extra1"),  // matched
      ("k3", "refU3", Some("new3"), 30L, "extra3")) // inserted
      .toDF("key", "cleaned_ref", "etype", "v", "note")
    val out = Upsert.merge(target, updates, Seq("key"), evolveSchema = true)
    assert(out.columns.toSeq == Seq("key", "cleaned_ref", "etype", "v", "note"))
    val byKey = out.select("key", "note").as[(String, Option[String])]
      .collect().toMap
    assert(byKey == Map("k1" -> Some("extra1"), "k3" -> Some("extra3"),
      "k2" -> None)) // untouched: NULL, not dropped
    // default stays contract-fixed: unknown columns are dropped
    val fixed = Upsert.merge(target, updates, Seq("key"))
    assert(!fixed.columns.contains("note"))
  }

  test("mergeIntoParquet: evolveSchema persists across snapshots") {
    val dir = Files.createTempDirectory("graft-upsert-evolve").toString
    val path = s"$dir/table"
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k1", 1L), ("k2", 2L)).toDF("key", "v"), Seq("key"))
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k2", 20L, "en"), ("k3", 30L, "fr")).toDF("key", "v", "lang"),
      Seq("key"), evolveSchema = true, keepSnapshots = 2)
    val now = Upsert.readTarget(spark, path)
      .select("key", "v", "lang").as[(String, Long, Option[String])]
      .collect().map { case (k, v, l) => k -> ((v, l)) }.toMap
    assert(now == Map("k1" -> ((1L, None)), "k2" -> ((20L, Some("en"))),
      "k3" -> ((30L, Some("fr")))))
    // a later non-evolving merge keeps the evolved column (it is in the
    // target schema now)
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k1", 100L)).toDF("key", "v"), Seq("key"), keepSnapshots = 2)
    val after = Upsert.readTarget(spark, path)
    assert(after.columns.contains("lang") &&
      after.where($"key" === "k2" && $"lang" === "en").count() == 1)
  }

  test("readTargetAt: plain and manifest-bucketed time travel") {
    val dir = Files.createTempDirectory("graft-upsert-tt").toString
    val plain = s"$dir/plain"
    Upsert.mergeIntoParquet(spark, plain, Seq(("k1", 1L)).toDF("key", "v"),
      Seq("key"), keepSnapshots = 2)
    Upsert.mergeIntoParquet(spark, plain, Seq(("k1", 9L)).toDF("key", "v"),
      Seq("key"), keepSnapshots = 2)
    val snaps = Upsert.snapshots(spark, plain)
    assert(snaps.size == 2)
    assert(Upsert.readTargetAt(spark, plain, snaps.head)
      .as[(String, Long)].head() == (("k1", 1L)))
    assert(Upsert.readTargetAt(spark, plain, snaps.last)
      .as[(String, Long)].head() == (("k1", 9L)))

    val mb = s"$dir/mb"
    Upsert.mergeIntoManifestBucketedParquet(spark, mb,
      (0L until 10L).map(k => (k, s"v$k")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 2)
    Upsert.mergeIntoManifestBucketedParquet(spark, mb,
      Seq((3L, "u3")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 2)
    val mbSnaps = Upsert.snapshots(spark, mb)
    assert(mbSnaps.size == 2, s"manifest snapshots: $mbSnaps")
    val old = Upsert.readTargetAt(spark, mb, mbSnaps.head)
    assert(old.where($"key" === 3L).select("v").as[String].head() == "v3")
    val cur = Upsert.readTargetAt(spark, mb, mbSnaps.last)
    assert(cur.where($"key" === 3L).select("v").as[String].head() == "u3")
    assert(old.count() == 10 && cur.count() == 10)
  }

  test("lagging pointer: manifest read path rolls forward and repairs (ADVICE r15)") {
    // manifest CREATION is the commit; the pointer publish is best-effort
    // post-commit maintenance. Simulate a swallowed publish failure by
    // committing twice then forcing the pointer back to snap #1 — a pure
    // reader must still serve commit #2 (newest manifest wins) and leave
    // the pointer repaired in passing.
    val dir = Files.createTempDirectory("graft-upsert-lag").toString
    val mb = s"$dir/mb"
    Upsert.mergeIntoManifestBucketedParquet(spark, mb,
      Seq((1L, "v1")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 3)
    Upsert.mergeIntoManifestBucketedParquet(spark, mb,
      Seq((1L, "v2")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 3)
    val cur = new org.apache.hadoop.fs.Path(mb, "_current")
    val fs = cur.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(cur, true) // ids are 0-based: commit #2 = snap-…001
    try out.write("snap-000000000".getBytes("UTF-8")) finally out.close()
    assert(Upsert.readTarget(spark, mb)
      .where($"key" === 1L).select("v").as[String].head() == "v2")
    assert(Upsert.currentSnapshot(spark, mb).contains("snap-000000001"),
      "reader did not repair the lagging pointer")
    // a MISSING pointer (crash before the very first publish) heals too
    fs.delete(cur, false)
    assert(Upsert.readTarget(spark, mb)
      .where($"key" === 1L).select("v").as[String].head() == "v2")
    assert(Upsert.currentSnapshot(spark, mb).contains("snap-000000001"))
    // explicit time travel is untouched by roll-forward
    assert(Upsert.readTargetAt(spark, mb, "snap-000000000")
      .where($"key" === 1L).select("v").as[String].head() == "v1")
  }

  test("deleteFromParquet: predicate rows go, NULL-predicate rows stay") {
    val dir = Files.createTempDirectory("graft-upsert-del").toString
    val path = s"$dir/table"
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k1", Some(1L)), ("k2", Some(9L)), ("k3", None)).toDF("key", "v"),
      Seq("key"), keepSnapshots = 2)
    val removed = Upsert.deleteFromParquet(spark, path, $"v" > 5,
      keepSnapshots = 2)
    assert(removed == 1L)
    // k3's predicate is NULL -> kept (SQL DELETE semantics)
    assert(Upsert.readTarget(spark, path).select("key").as[String]
      .collect().toSet == Set("k1", "k3"))
    // the pre-delete snapshot is still readable (erasure horizon =
    // retention policy)
    val snaps = Upsert.snapshots(spark, path)
    assert(snaps.size == 2)
    assert(Upsert.readTargetAt(spark, path, snaps.head).count() == 3)
    // deleting from a missing/empty target is a no-op
    assert(Upsert.deleteFromParquet(spark, s"$dir/nope", $"v" > 0) == 0L)
  }

  test("vacuum tightens retention without a commit; erasure horizon immediate") {
    val dir = Files.createTempDirectory("graft-upsert-vac").toString
    val path = s"$dir/table"
    Upsert.mergeIntoParquet(spark, path, Seq(("k1", 1L)).toDF("key", "v"),
      Seq("key"), keepSnapshots = 3)
    Upsert.mergeIntoParquet(spark, path, Seq(("k2", 2L)).toDF("key", "v"),
      Seq("key"), keepSnapshots = 3)
    Upsert.deleteFromParquet(spark, path, $"key" === "k1", keepSnapshots = 3)
    assert(Upsert.snapshots(spark, path).size == 3) // pre-delete data lives on
    Upsert.vacuum(spark, path)
    val snaps = Upsert.snapshots(spark, path)
    assert(snaps.size == 1, s"vacuum left $snaps")
    // the live table is untouched; the erased row is now unrecoverable
    assert(Upsert.readTarget(spark, path).select("key").as[String]
      .collect().toSeq == Seq("k2"))
  }

  test("deleteKeysFromParquet: distributed key-list erasure") {
    val dir = Files.createTempDirectory("graft-upsert-delk").toString
    val path = s"$dir/table"
    Upsert.mergeIntoParquet(spark, path,
      (0L until 20L).map(k => (s"k$k", k)).toDF("key", "v"), Seq("key"))
    val removed = Upsert.deleteKeysFromParquet(spark, path,
      Seq("k3", "k7", "k3", "nope").toDF("key"), Seq("key"))
    assert(removed == 2L)
    assert(Upsert.readTarget(spark, path).count() == 18L)
    assert(Upsert.readTarget(spark, path)
      .where($"key".isin("k3", "k7")).count() == 0L)
  }

  test("mergeIntoParquet: crash before pointer publish never tears the table") {
    val dir = Files.createTempDirectory("graft-upsert-crash").toString
    val path = s"$dir/table"
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k1", 1L), ("k2", 2L)).toDF("key", "v"), Seq("key"))

    // Simulate a run that died AFTER fully writing its snapshot but BEFORE
    // publishing the pointer: an orphan snap-000000001 with bogus content.
    Seq(("junk", -1L)).toDF("key", "v").write
      .parquet(s"$path/snap-000000001")
    // Readers resolve the pointer — the orphan is invisible.
    val seen = Upsert.readTarget(spark, path).as[(String, Long)].collect().toMap
    assert(seen == Map("k1" -> 1L, "k2" -> 2L))

    // The retry overwrites the orphan dir, publishes, and GCs old snapshots.
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k2", 22L), ("k3", 3L)).toDF("key", "v"), Seq("key"))
    val out = Upsert.readTarget(spark, path).as[(String, Long)].collect().toMap
    assert(out == Map("k1" -> 1L, "k2" -> 22L, "k3" -> 3L))
    // `.commit` claim markers within retention are by-design residents
    // (round 9 cross-process claim); only snapshot DIRS are asserted here
    val snaps = new java.io.File(path).listFiles().map(_.getName)
      .filter(n => n.startsWith("snap-") && !n.endsWith(".commit")).toSet
    assert(snaps == Set("snap-000000001"), s"GC left: $snaps")
  }

  test("plain layout: cross-process same-id publish race fails loudly via the claim marker") {
    // ADVICE r8: the loud-conflict check was check-then-publish — two
    // writers in different JVMs could both read the pointer before either
    // published, and the second rename silently discarded the first's
    // merge. The create-exclusive claim marker makes the loser fail.
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-claim").toString
    val path = s"$dir/table"
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k1", 1L)).toDF("key", "v"), Seq("key"), keepSnapshots = 2)
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k2", 2L)).toDF("key", "v"), Seq("key"), keepSnapshots = 2)
    // writer B (another JVM) read the pointer BEFORE A's commit: simulate
    // by rewinding the pointer to snap-0 — B then computes the same
    // nextId=1 that A already claimed
    new java.io.File(s"$path/._current.crc").delete()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_current"), "snap-000000000")
    val e = intercept[Upsert.CommitConflictException] {
      Upsert.mergeIntoParquet(spark, path,
        Seq(("k3", 3L)).toDF("key", "v"), Seq("key"), keepSnapshots = 2)
    }
    assert(e.getMessage.contains("claimed"), s"wrong failure mode: $e")
  }

  test("mergeIntoParquet adopts a legacy plain-Parquet target (no _current)") {
    val dir = Files.createTempDirectory("graft-upsert-legacy").toString
    val path = s"$dir/table"
    // The pre-pointer layout: data files directly under targetPath.
    Seq(("k1", 1L), ("k2", 2L)).toDF("key", "v")
      .write.parquet(path)
    assert(Upsert.currentSnapshot(spark, path).isEmpty)
    // First merge after the layout change must NOT treat it as empty.
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k2", 22L), ("k3", 3L)).toDF("key", "v"), Seq("key"))
    val out = Upsert.readTarget(spark, path).as[(String, Long)].collect().toMap
    assert(out == Map("k1" -> 1L, "k2" -> 22L, "k3" -> 3L),
      s"legacy rows must survive adoption, got $out")
    // adopted as snap-000000000, merged into snap-000000001
    assert(Upsert.currentSnapshot(spark, path).contains("snap-000000001"))
    // no loose legacy part files left behind at the root
    val loose = new java.io.File(path).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    assert(loose.isEmpty, s"loose legacy files remain: ${loose.mkString(",")}")
  }

  test("legacy adoption keeps a partitioned legacy layout readable") {
    val dir = Files.createTempDirectory("graft-upsert-legacy-part").toString
    val path = s"$dir/table"
    Seq(("k1", 1L, "a"), ("k2", 2L, "b")).toDF("key", "v", "source")
      .write.partitionBy("source").parquet(path)
    Upsert.mergeIntoParquet(spark, path,
      Seq(("k3", 3L, "a")).toDF("key", "v", "source"), Seq("key"),
      partitionBy = Seq("source"))
    val out = Upsert.readTarget(spark, path)
      .select("key", "v").as[(String, Long)].collect().toMap
    assert(out == Map("k1" -> 1L, "k2" -> 2L, "k3" -> 3L))
  }

  test("mergeIntoParquet refuses a legacy hash-bucketed directory") {
    val path = Files.createTempDirectory("graft-upsert-hb").toString + "/table"
    writeLegacyBucketDir(path)
    val before = treeState(path)
    // adoption skips `__bucket=` names: merging would publish a first
    // snapshot holding only the batch
    val e = intercept[IllegalStateException] {
      Upsert.mergeIntoParquet(spark, path,
        Seq((100L, "new")).toDF("key", "v"), Seq("key"))
    }
    assert(e.getMessage.contains("legacy hash-bucketed") &&
      e.getMessage.contains("readTarget"), e.getMessage)
    assert(treeState(path) == before, "refused merge changed the directory")
    assert(Upsert.readTarget(spark, path).count() == 20L)
  }

  test("snapshot deletes refuse a legacy hash-bucketed directory") {
    val path = Files.createTempDirectory("graft-upsert-hb-del").toString + "/table"
    writeLegacyBucketDir(path)
    val before = treeState(path)
    // each used to return 0 without erasing anything
    val deletes: Seq[(String, () => Long)] = Seq(
      "deleteKeys" -> (() => Upsert.deleteKeysFromParquet(spark, path,
        Seq(5L).toDF("key"), Seq("key"))),
      "deletePredicate" -> (() => Upsert.deleteFromParquet(spark, path,
        col("key") === 5L)))
    deletes.foreach { case (name, delete) =>
      val e = intercept[IllegalStateException](delete())
      assert(e.getMessage.contains("legacy hash-bucketed"), s"$name: ${e.getMessage}")
      assert(treeState(path) == before, s"refused $name changed the directory")
    }
    assert(Upsert.readTarget(spark, path).where(col("key") === 5L).count() == 1L)
  }
}
