package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Manifest-bucketed target: incremental bucket rewrite + atomic
  * pointer commit together (the object-store-safe upgrade over dynamic
  * partition overwrite's torn window). */
class ManifestMergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def mkTarget(): String =
    Files.createTempDirectory("graft-manifest").toString + "/table"

  test("incremental merge rewrites only touched buckets; content is exact") {
    val path = mkTarget()
    val first = (0L until 40L).map(k => (k, s"v$k")).toDF("key", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, first,
      Seq("key"), nBuckets = 4)
    val m1 = Upsert.readBucketManifest(spark, path)
    assert(m1.keySet == Set(0, 1, 2, 3))

    // one key -> one touched bucket; the other 3 buckets must keep their
    // file entries verbatim (no rewrite, no copy)
    val upd = Seq((7L, "UPDATED"), (1007L, "NEW")).toDF("key", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, upd,
      Seq("key"), nBuckets = 4)
    val m2 = Upsert.readBucketManifest(spark, path)
    val touched = m2.keySet.filter(b => m1.getOrElse(b, Nil) != m2(b))
    assert(touched.size <= 2, s"too many buckets rewritten: $touched")
    (m2.keySet -- touched).foreach(b => assert(m2(b) == m1(b)))

    val out = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(out.size == 41)
    assert(out(7L) == "UPDATED" && out(1007L) == "NEW" && out(8L) == "v8")
  }

  test("deleteKeys rewrites only the keys' buckets; emptied bucket -> empty entry") {
    val path = mkTarget()
    val rows = (0L until 40L).map(k => (k, s"v$k")).toDF("key", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows,
      Seq("key"), nBuckets = 4)
    val m1 = Upsert.readBucketManifest(spark, path)
    // keys of bucket 0, computed with the merge's own hash
    val bucketOf = rows.select($"key",
      pmod(xxhash64($"key"), lit(4)).cast("int").as("b"))
      .as[(Long, Int)].collect().toMap
    val b0Keys = bucketOf.filter(_._2 == 0).keys.toSeq
    assert(b0Keys.nonEmpty)

    // partial delete: two bucket-0 keys go, everything else untouched
    val twoKeys = b0Keys.take(2)
    Upsert.deleteKeysFromManifestBucketedParquet(spark, path,
      twoKeys.toDF("key"), Seq("key"), nBuckets = 4)
    val m2 = Upsert.readBucketManifest(spark, path)
    (1 to 3).foreach(b => assert(m2(b) == m1(b), s"bucket $b was rewritten"))
    assert(m2(0) != m1(0))
    val out = Upsert.readManifestTable(spark, path)
      .select("key").as[Long].collect().toSet
    assert(out == (0L until 40L).toSet -- twoKeys)

    // full-bucket delete: bucket 0's entry becomes EMPTY; table readable
    Upsert.deleteKeysFromManifestBucketedParquet(spark, path,
      b0Keys.toDF("key"), Seq("key"), nBuckets = 4)
    val m3 = Upsert.readBucketManifest(spark, path)
    assert(m3(0).isEmpty, s"expected empty bucket-0 entry: ${m3(0)}")
    assert(Upsert.readManifestTable(spark, path)
      .select("key").as[Long].collect().toSet ==
      (0L until 40L).toSet -- b0Keys)

    // a later merge repopulates the emptied bucket
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((b0Keys.head, "BACK")).toDF("key", "v"), Seq("key"), nBuckets = 4)
    assert(Upsert.readManifestTable(spark, path)
      .where($"key" === b0Keys.head).select("v").as[String].head() == "BACK")
  }

  test("vacuum on a manifest target keeps only the live manifest's files") {
    val path = mkTarget()
    def mergeKeep3(rows: Seq[(Long, String)]): Unit =
      Upsert.mergeIntoManifestBucketedParquet(spark, path,
        rows.toDF("key", "v"), Seq("key"), nBuckets = 2, keepSnapshots = 3)
    mergeKeep3((0L until 10L).map(k => (k, s"v$k")))
    mergeKeep3(Seq((3L, "u3")))
    Upsert.deleteKeysFromManifestBucketedParquet(spark, path,
      Seq(7L).toDF("key"), Seq("key"), nBuckets = 2, keepSnapshots = 3)
    assert(Upsert.snapshots(spark, path).size == 3)
    Upsert.vacuum(spark, path)
    assert(Upsert.snapshots(spark, path).size == 1)
    // table reads exactly the post-delete content; every manifest entry
    // resolves to a file that still exists, and no dead files remain
    val t = Upsert.readManifestTable(spark, path)
    assert(t.select("key").as[Long].collect().toSet ==
      (0L until 10L).toSet - 7L)
    val live = Upsert.readBucketManifest(spark, path).values.flatten
      .map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath).toSet
    val onDisk = new java.io.File(s"$path/data").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.isDirectory).flatMap(_.listFiles())
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    assert(onDisk == live, s"dead files survive vacuum: ${onDisk -- live}")
  }

  test("bucket pruning reads only the asked-for buckets' files") {
    val path = mkTarget()
    val rows = (0L until 40L).map(k => (k, k * 10)).toDF("key", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows,
      Seq("key"), nBuckets = 4)
    val manifest = Upsert.readBucketManifest(spark, path)
    val b0 = Upsert.readManifestTable(spark, path, buckets = Some(Seq(0)))
    assert(b0.select("__bucket").distinct().collect().map(_.getInt(0)).toSeq == Seq(0))
    assert(b0.count() ==
      Upsert.readManifestTable(spark, path).where("__bucket = 0").count())
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    assert(b0.inputFiles.map(norm).toSet == manifest(0).map(norm).toSet)
  }

  test("keepSnapshots=2 retains the previous manifest and its files") {
    val path = mkTarget()
    def mergeKeep2(rows: Seq[(Long, String)]): Unit =
      Upsert.mergeIntoManifestBucketedParquet(spark, path,
        rows.toDF("key", "v"), Seq("key"), nBuckets = 2, keepSnapshots = 2)
    mergeKeep2((0L until 10L).map(k => (k, s"v$k")))
    mergeKeep2(Seq((3L, "u3")))
    mergeKeep2(Seq((4L, "u4")))
    val manifests = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.endsWith(".manifest.json")).sorted.toSeq
    assert(manifests == Seq("snap-000000001.manifest.json",
      "snap-000000002.manifest.json"))
    // every file the retained previous manifest references still exists
    val prev = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$path/snap-000000001.manifest.json"))
    // entries are root-relative (legacy manifests may hold absolute URIs)
    "\"([^\"]+\\.parquet)\"".r.findAllMatchIn(prev).map(_.group(1)).foreach { f =>
      val resolved =
        if (f.contains("://") || f.startsWith("/"))
          new java.io.File(new java.net.URI(f).getPath)
        else new java.io.File(path, f)
      assert(resolved.isFile, s"GC ate $f")
    }
    val out = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(out(3L) == "u3" && out(4L) == "u4" && out(5L) == "v5")
  }

  test("crash after data write but before the manifest commit is invisible") {
    val path = mkTarget()
    // orphan files in this sim are freshly written; grace-aged GC (round 9)
    // would rightly defer them — this test asserts the eventual collection
    val savedGrace = Upsert.gcGraceMs
    Upsert.gcGraceMs = 0L
    try {
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("key", "v"), Seq("key"), nBuckets = 2)

    // A crash can only leave data files WITHOUT a manifest (the manifest
    // create is the commit point, strictly after the data lands): orphan
    // run dir, no manifest, no pointer advance.
    Seq((1L, "TORN")).toDF("key", "v").withColumn("__bucket",
        org.apache.spark.sql.functions.lit(0))
      .withColumn("__bucket_p", org.apache.spark.sql.functions.lit(0))
      .write.partitionBy("__bucket_p").parquet(s"$path/data/run-000000001-dead0000")

    val seen = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(String, String)].collect()
    assert(seen.map(_._2).toSet == Set("a", "b"), "reader saw the torn run")

    // the retry converges and GCs the orphan files
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((1L, "a2")).toDF("key", "v"), Seq("key"), nBuckets = 2)
    val out = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a2", 2L -> "b"))
    val manifests = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.endsWith(".manifest.json")).toSeq
    assert(manifests == Seq("snap-000000001.manifest.json"))
    assert(!new java.io.File(s"$path/data/run-000000001-dead0000").exists(),
      "orphan attempt files survived GC")
    } finally Upsert.gcGraceMs = savedGrace
  }

  test("a snapshot-layout target is refused; its rows stay readable") {
    val path = mkTarget()
    Upsert.mergeIntoParquet(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("key", "v"), Seq("key"))
    val before = treeState(path)
    val e = intercept[IllegalStateException] {
      Upsert.mergeIntoManifestBucketedParquet(spark, path,
        Seq((3L, "c")).toDF("key", "v"), Seq("key"), nBuckets = 2)
    }
    assert(e.getMessage.contains("snapshot-directory"), e.getMessage)
    assert(treeState(path) == before, "refused merge changed the target")
    assert(Upsert.readTarget(spark, path).select("key", "v")
      .as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "b"))
  }

  test("a legacy hash-bucketed directory is refused by the manifest writers") {
    val path = mkTarget()
    writeLegacyBucketDir(path)
    val before = treeState(path)
    val writers: Seq[(String, () => Unit)] = Seq(
      "merge" -> (() => Upsert.mergeIntoManifestBucketedParquet(spark, path,
        Seq((100L, "new")).toDF("key", "v"), Seq("key"), nBuckets = 4)),
      "append" -> (() => Upsert.appendToManifestBucketedParquet(spark, path,
        Seq((100L, "new")).toDF("key", "v"), Seq("key"), nBuckets = 4)),
      "deleteKeys" -> (() => Upsert.deleteKeysFromManifestBucketedParquet(
        spark, path, Seq(5L).toDF("key"), Seq("key"), nBuckets = 4)))
    writers.foreach { case (name, write) =>
      val e = intercept[IllegalStateException](write())
      assert(e.getMessage.contains("legacy hash-bucketed") &&
        e.getMessage.contains("readTarget"), s"$name: ${e.getMessage}")
      assert(treeState(path) == before, s"refused $name changed the directory")
    }
    assert(Upsert.readTarget(spark, path).count() == 20L)
  }

  test("a first commit accepts the manifest layout's own crash leftovers") {
    val path = mkTarget()
    // what a crashed first commit can leave: an orphan run dir, a pointer
    // tmp, a manifest-link tmp and a claim marker — no manifest
    Seq((9L, "orphan")).toDF("key", "v").withColumn("__bucket", lit(0))
      .withColumn("__bucket_p", lit(0))
      .write.partitionBy("__bucket_p").parquet(s"$path/data/run-000000000-dead0000")
    Seq("_current.tmp-0-dead0000", "snap-000000000.manifest.json.mftmp-dead0000",
        "snap-000000000.commit").foreach { n =>
      Files.writeString(java.nio.file.Paths.get(path, n), "x")
    }
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("key", "v"), Seq("key"), nBuckets = 2)
    assert(Upsert.readTarget(spark, path).select("key", "v")
      .as[(Long, String)].collect().toMap == Map(1L -> "a", 2L -> "b"))
  }

  test("crash after manifest commit but before pointer publish rolls forward") {
    val path = mkTarget()
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 2)
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((1L, "a2")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 2)
    // simulate losing the pointer publish of the second commit: rewind
    // the pointer to snap-0 while snap-1's manifest (the true commit
    // point) stays on disk
    new java.io.File(s"$path/._current.crc").delete() // stale checksum sidecar
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_current"), "snap-000000000")

    // readers ROLL FORWARD (r16, ADVICE r15): manifest creation is the
    // commit point, so a pure reader serves snap-1 immediately instead of
    // staying stale until the next writer — and repairs the pointer in
    // passing
    val rolled = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(rolled == Map(1L -> "a2", 2L -> "b"))
    assert(Upsert.currentSnapshot(spark, path).contains("snap-000000001"))

    // the next writer repairs the pointer forward and merges ON TOP of
    // the crashed-but-committed snapshot — its effect is not lost
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((3L, "c")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 2)
    val out = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a2", 2L -> "b", 3L -> "c"),
      "roll-forward lost the committed-but-unpublished merge")
  }

  test("two concurrent mergers: exactly one wins each snapshot id, loser retries cleanly") {
    val path = mkTarget()
    val collateralBefore = Upsert.collateralMergeRetries.get()
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      (0L until 10L).map(k => (k, s"v$k")).toDF("key", "v"), Seq("key"), nBuckets = 2)

    // race two writers with different batches on the same target
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val a = Future(Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((100L, "wa")).toDF("key", "v"), Seq("key"), nBuckets = 2,
      keepSnapshots = 3))
    val b = Future(Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((200L, "wb")).toDF("key", "v"), Seq("key"), nBuckets = 2,
      keepSnapshots = 3))
    Await.result(a, 120.seconds)
    Await.result(b, 120.seconds)

    // both batches landed — neither writer clobbered the other
    val out = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(out(100L) == "wa" && out(200L) == "wb" && out(5L) == "v5")
    assert(out.size == 12)

    // ids are dense: initial commit 0, then the two racers take 1 and 2 —
    // whoever lost the race for an id retried onto the next one. Under
    // heavy parallel-suite load a racer can additionally hit a COLLATERAL
    // IO failure mid-attempt (not a commit conflict — e.g. a temp-dir
    // listing racing the winner's cleanup) after its merge content is
    // already safe; the productive-retry branch then re-commits the same
    // idempotent batch on the NEXT id, burning one number. Content
    // exactness is asserted above; allow that extra id ONLY when the
    // collateral-retry counter proves the branch actually fired — a
    // regression that burns ids without any collateral failure still
    // fails here.
    val cur = Upsert.currentSnapshot(spark, path).get
    val collateral = Upsert.collateralMergeRetries.get() - collateralBefore
    assert(cur == "snap-000000002" ||
      (cur == "snap-000000003" && collateral > 0),
      s"unexpected final snapshot $cur (collateral retries: $collateral)")
  }

  test("clustered commit writes one file per touched bucket per run") {
    // The 100 TB file-count contract (round 9): a merge fed by a key-hash
    // join distribution must not write touched x tasks files — the
    // commit clusters by __bucket first, so each run contributes ≈1 file
    // per touched bucket regardless of parallelism.
    val path = mkTarget()
    val rows = (0L until 200L).map(k => (k, s"v$k")).toDF("key", "v")
      .repartition(2) // spread every bucket across both tasks upstream
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows,
      Seq("key"), nBuckets = 8)
    val m = Upsert.readBucketManifest(spark, path)
    assert(m.size == 8)
    m.foreach { case (b, files) =>
      assert(files.size == 1, s"bucket $b has ${files.size} files from one run")
    }
    // an incremental merge touching all buckets again: still 1 file each
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      (0L until 200L by 2).map(k => (k, "u")).toDF("key", "v"),
      Seq("key"), nBuckets = 8)
    Upsert.readBucketManifest(spark, path).foreach { case (b, files) =>
      assert(files.size == 1, s"bucket $b fragmented after rewrite: ${files.size}")
    }
  }

  test("non-atomic create: both racers told create succeeded — loser detects via read-back and retries") {
    // Models an object store without conditional PUT (ADVICE r8 / VERDICT
    // r8 #2): the victim's manifest PUT for snap-1 succeeds, then a
    // concurrent winner's PUT for the SAME id lands over it. The victim's
    // read-back verify must detect the foreign attempt id, retire its
    // files, and retry on top of the winner — no merge is lost and no
    // correctness dependence on an atomic create remains.
    val path = mkTarget()
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      (0L until 10L).map(k => (k, s"v$k")).toDF("key", "v"), Seq("key"), nBuckets = 2)
    val m0 = Upsert.manifestBody(spark, path, Some("snap-000000000"))
      .map(Upsert.parseManifestEntries).get
    // the winner's post-merge content for key 200's bucket, prepared ahead
    val b = spark.range(1)
      .select(pmod(xxhash64(lit(200L)), lit(2)).cast("int")).head().getInt(0)
    val winnerRows = spark.read.parquet(
        m0(b).map(e => Upsert.resolveEntry(path, e)): _*)
      .unionByName(Seq((200L, "wb")).toDF("key", "v")
        .withColumn("__bucket", lit(b)))
    var fired = false
    Upsert.afterManifestWriteHook = Some { (_, snap) =>
      if (snap == "snap-000000001" && !fired) {
        fired = true
        Upsert.afterManifestWriteHook = None
        Upsert.createOverwriteForTest = true // the winner's blind PUT
        try Upsert.commitSnapshot(spark, path, winnerRows, Seq(b), m0,
          Seq("key"), 1L, 1, Some("__bucket"), 2)
        finally Upsert.createOverwriteForTest = false
      }
    }
    try Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((100L, "wa")).toDF("key", "v"), Seq("key"), nBuckets = 2)
    finally Upsert.afterManifestWriteHook = None
    assert(fired, "race hook never fired")
    val out = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(out(100L) == "wa" && out(200L) == "wb" && out(5L) == "v5",
      s"a racer's merge was lost: $out")
    assert(out.size == 12)
    // the loser detected the overwrite and recommitted as snap-2
    assert(Upsert.currentSnapshot(spark, path).contains("snap-000000002"))
  }

  test("optimistic concurrency stress: 4 writers x 3 rounds — dense ids, no lost updates, exact GC") {
    val path = mkTarget()
    val collateralBefore = Upsert.collateralMergeRetries.get()
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      (0L until 20L).map(k => (k, "base")).toDF("key", "v"), Seq("key"),
      nBuckets = 4, keepSnapshots = 2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = 4
    val rounds = 3
    val futs = (0 until writers).map { w =>
      Future {
        (0 until rounds).foreach { r =>
          Upsert.mergeIntoManifestBucketedParquet(spark, path,
            (0 until 5).map(j => (1000L + w * 100 + r * 10 + j, s"w$w-r$r"))
              .toDF("key", "v"),
            Seq("key"), nBuckets = 4, keepSnapshots = 2, maxRetries = 64)
        }
      }
    }
    futs.foreach(Await.result(_, 600.seconds))

    // zero lost updates: every writer's every round landed
    val out = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    for (w <- 0 until writers; r <- 0 until rounds; j <- 0 until 5)
      assert(out(1000L + w * 100 + r * 10 + j) == s"w$w-r$r",
        s"lost update: writer $w round $r item $j")
    assert(out.size == 20 + writers * rounds * 5)

    // dense snapshot ids: initial commit 0 + exactly one id per merge —
    // every raced id was retried onto the next, none skipped or reused.
    // Same tolerance as the two-writer race above: a COLLATERAL IO
    // failure mid-attempt (a task reading a file the winner's GC swept)
    // after the merge content is already safe re-commits the idempotent
    // batch on the next id, burning one number — allowed ONLY when the
    // collateral-retry counter proves that branch actually fired, so a
    // genuine double-commit regression still fails.
    val lastId = Upsert.currentSnapshot(spark, path)
      .flatMap(s => "\\d+".r.findFirstIn(s)).get.toLong
    val collateral = Upsert.collateralMergeRetries.get() - collateralBefore
    assert(lastId >= writers * rounds &&
      lastId - writers * rounds <= collateral,
      s"snapshot ids not dense: last=$lastId, merges=${writers * rounds}, " +
        s"collateral retries=$collateral")

    // GC left exactly the retained manifests' files: every loser retired
    // its own attempt dir, every superseded known file was swept
    def norm(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val retained = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".manifest.json"))
    assert(retained.length == 2, s"retention drifted: ${retained.toSeq}")
    val live = retained.flatMap { f =>
      Upsert.parseManifestEntries(
          java.nio.file.Files.readString(f.toPath))
        .values.flatten.map(e => norm(Upsert.resolveEntry(path, e)))
    }.toSet
    val onDisk = new java.io.File(s"$path/data").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .flatMap(f => if (f.isDirectory) f.listFiles() else Array(f))
      .filter(_.getName.endsWith(".parquet")).map(f => norm(f.getAbsolutePath))
      .toSet
    assert(onDisk == live,
      s"GC drift: extra=${onDisk -- live} missing=${live -- onDisk}")
  }

  test("backend semantics: CAS arbitration has a ZERO window; blind PUT cannot arbitrate") {
    val dir = Files.createTempDirectory("graft-backend").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(dir, n)
    // CAS: the second PUT is refused with the winner's body even though it
    // arrives long after the winner's verify completed — the exact
    // ordering the FS read-back can never catch.
    assert(CasBackend.putIfAbsent(fs, p("cas"), "a".getBytes).isEmpty)
    assert(CasBackend.putIfAbsent(fs, p("cas"), "b".getBytes).contains("a"))
    // delete clears arbitration state so a reclaimed marker can be re-won
    CasBackend.delete(fs, p("cas"))
    assert(CasBackend.putIfAbsent(fs, p("cas"), "c".getBytes).isEmpty)
    // Blind PUT: the same late second write silently WINS the file — both
    // writers are told None (the undetectable lost update that motivates
    // conditional PUT). The suite's race test below shows the read-back
    // still catches overwrites landing BEFORE the verify.
    val prevDelay = BlindPutBackend.verifyDelayMs
    BlindPutBackend.verifyDelayMs = 0L
    try {
      assert(BlindPutBackend.putIfAbsent(fs, p("blind"), "a".getBytes).isEmpty)
      assert(BlindPutBackend.putIfAbsent(fs, p("blind"), "b".getBytes).isEmpty)
    } finally BlindPutBackend.verifyDelayMs = prevDelay
    // Hadoop FS backend: exclusive create wins, second writer refused
    assert(HadoopFsBackend.putIfAbsent(fs, p("hfs"), "a".getBytes).isEmpty)
    assert(HadoopFsBackend.putIfAbsent(fs, p("hfs"), "b".getBytes).contains("a"))
  }

  test("generic (non-local) publish branch is content-atomic: tmp + rename, never visible-empty") {
    // ADVICE r16: fs.create(path) exposes the manifest EMPTY first on
    // HDFS-like stores, and a roll-forward reader racing it parses a
    // truncated body. The branch must stage the full body and rename it
    // into place — at the afterWrite seam (post-publish, pre-verify) the
    // destination must already hold the COMPLETE body.
    val dir = Files.createTempDirectory("graft-generic-pub").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(n: String) = new org.apache.hadoop.fs.Path(dir, n)
    val body = """{"attempt": "t", "nBuckets": 2, "schema_ddl": "k BIGINT"}"""
    Upsert.forceGenericPublishForTest = true
    try {
      var seenAtHook: String = null
      assert(HadoopFsBackend.putIfAbsent(fs, p("m"), body.getBytes, () => {
        val in = fs.open(p("m"))
        try seenAtHook = scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      }).isEmpty)
      assert(seenAtHook == body,
        s"manifest visible without its full content at publish: '$seenAtHook'")
      // loser is refused with the winner's body; no tmp litter remains
      assert(HadoopFsBackend.putIfAbsent(fs, p("m"), "x".getBytes).contains(body))
      val litter = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .map(_.getPath.getName).filter(_.contains(".mftmp-"))
      assert(litter.isEmpty, s"leaked publish tmps: ${litter.toSeq}")
    } finally Upsert.forceGenericPublishForTest = false
  }

  test("roll-forward reader skips a truncated (mid-write) manifest instead of serving a partial table") {
    // ADVICE r16 (medium): a visible snap-N.manifest.json is only
    // PREFERRED over the pointed manifest when it parses as a complete
    // body — a truncated one (non-content-atomic store, torn publish)
    // must neither be served nor capture the pointer via repair.
    val path = mkTarget()
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      (0L until 20L).map(k => (k, s"v$k")).toDF("key", "v"),
      Seq("key"), nBuckets = 2, keepSnapshots = 5)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val full = Upsert.manifestBody(spark, path, Some("snap-000000000")).get
    assert(Upsert.isCompleteManifest(full))
    // hand-plant a TRUNCATED newer manifest: cut inside the entry list so
    // the regex parser would silently drop entries if it were trusted
    val torn = full.substring(0, full.length * 2 / 3)
    assert(!Upsert.isCompleteManifest(torn))
    val tornPath = new org.apache.hadoop.fs.Path(path, "snap-000000001.manifest.json")
    val out = fs.create(tornPath, true)
    try out.write(torn.getBytes("UTF-8")) finally out.close()
    // the reader rolls PAST the torn manifest back to the pointed one
    val read = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(read.size == 20 && read(7L) == "v7",
      s"truncated manifest leaked into the read path: ${read.size} rows")
    // pointer repair must not promote the torn manifest either
    assert(Upsert.repairPointer(spark, path).contains("snap-000000000"))
    // a NEW merge must reclaim the torn claim once it is provably dead
    // (aged past the publish grace) and commit AT that id — never skip
    // over it (skipping would omit intermediate commits in a real race)
    fs.setTimes(tornPath, System.currentTimeMillis() - Upsert.gcGraceMs - 1000L, -1L)
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((7L, "UPDATED")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 5)
    val after = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(after(7L) == "UPDATED" && after.size == 20)
    assert(Upsert.currentSnapshot(spark, path).contains("snap-000000001"),
      "merge did not re-win the reclaimed torn id")
  }

  test("blind-PUT store: overwrite inside the verify window is detected and retried") {
    // The createOverwriteForTest race scenario, driven through the
    // BlindPutBackend itself: the victim's manifest PUT for snap-1
    // lands, then the winner's blind PUT overwrites it BEFORE the
    // victim's (delayed) verify — the read-back layer alone must detect
    // the foreign body, retire the victim's files, and retry on top.
    val path = mkTarget()
    Upsert.commitBackend = BlindPutBackend
    try {
      Upsert.mergeIntoManifestBucketedParquet(spark, path,
        (0L until 10L).map(k => (k, s"v$k")).toDF("key", "v"), Seq("key"),
        nBuckets = 2)
      val m0 = Upsert.manifestBody(spark, path, Some("snap-000000000"))
        .map(Upsert.parseManifestEntries).get
      val b = spark.range(1)
        .select(pmod(xxhash64(lit(200L)), lit(2)).cast("int")).head().getInt(0)
      val winnerRows = spark.read.parquet(
          m0(b).map(e => Upsert.resolveEntry(path, e)): _*)
        .unionByName(Seq((200L, "wb")).toDF("key", "v")
          .withColumn("__bucket", lit(b)))
      var fired = false
      Upsert.afterManifestWriteHook = Some { (_, snap) =>
        if (snap == "snap-000000001" && !fired) {
          fired = true
          Upsert.afterManifestWriteHook = None
          // the winner's whole commit (incl. its own delayed verify) runs
          // inside the victim's verify window
          Upsert.commitSnapshot(spark, path, winnerRows, Seq(b), m0,
            Seq("key"), 1L, 1, Some("__bucket"), 2)
        }
      }
      try Upsert.mergeIntoManifestBucketedParquet(spark, path,
        Seq((100L, "wa")).toDF("key", "v"), Seq("key"), nBuckets = 2)
      finally Upsert.afterManifestWriteHook = None
      assert(fired, "race hook never fired")
      val out = Upsert.readManifestTable(spark, path)
        .select("key", "v").as[(Long, String)].collect().toMap
      assert(out(100L) == "wa" && out(200L) == "wb" && out(5L) == "v5",
        s"a racer's merge was lost: $out")
      assert(out.size == 12)
      assert(Upsert.currentSnapshot(spark, path).contains("snap-000000002"))
    } finally Upsert.commitBackend = HadoopFsBackend
  }

  test("optimistic concurrency stress under the CAS backend: 8 writers x 3 rounds, zero window") {
    // Same stress as the FS-backend test below, arbitrated by the
    // conditional-PUT simulation: zero lost updates AND the residual
    // write->verify window is zero by construction (CasBackend refuses a
    // late racer atomically — no timing assumption anywhere). Dense ids
    // prove every conflict was a clean loser retry, never a silent win.
    // 8 writers (vs the FS test's 4): CAS arbitration is where the
    // production object-store deployment lands, so it carries the
    // heavier contention (round-13 VERDICT item; SURVEY §7.6.2).
    val path = mkTarget()
    Upsert.commitBackend = CasBackend
    try {
      Upsert.mergeIntoManifestBucketedParquet(spark, path,
        (0L until 20L).map(k => (k, "base")).toDF("key", "v"), Seq("key"),
        nBuckets = 4, keepSnapshots = 2)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = 8
      val rounds = 3
      val futs = (0 until writers).map { w =>
        Future {
          (0 until rounds).foreach { r =>
            Upsert.mergeIntoManifestBucketedParquet(spark, path,
              (0 until 5).map(j => (1000L + w * 100 + r * 10 + j, s"w$w-r$r"))
                .toDF("key", "v"),
              Seq("key"), nBuckets = 4, keepSnapshots = 2, maxRetries = 64)
          }
        }
      }
      futs.foreach(Await.result(_, 600.seconds))
      val out = Upsert.readManifestTable(spark, path)
        .select("key", "v").as[(Long, String)].collect().toMap
      for (w <- 0 until writers; r <- 0 until rounds; j <- 0 until 5)
        assert(out(1000L + w * 100 + r * 10 + j) == s"w$w-r$r",
          s"lost update: writer $w round $r item $j")
      assert(out.size == 20 + writers * rounds * 5)
      assert(Upsert.currentSnapshot(spark, path)
        .contains(f"snap-${writers * rounds}%09d"))
    } finally Upsert.commitBackend = HadoopFsBackend
  }

  test("nBuckets is persisted in the manifest; a wrong argument cannot mis-prune") {
    val path = mkTarget()
    val rows = (0L until 40L).map(k => (k, s"v$k")).toDF("key", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows, Seq("key"),
      nBuckets = 8)
    assert(Upsert.storedNBuckets(spark, path).contains(8))
    // erasure called with the WRONG bucket count: stored value wins, the
    // keys are still actually erased
    Upsert.deleteKeysFromManifestBucketedParquet(spark, path,
      Seq(3L, 17L).toDF("key"), Seq("key"), nBuckets = 256)
    val out = Upsert.readManifestTable(spark, path)
      .select("key").as[Long].collect().toSet
    assert(!out.contains(3L) && !out.contains(17L) && out.size == 38)
    // a merge with a mismatched count keeps the table's own bucketing
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((3L, "back")).toDF("key", "v"), Seq("key"), nBuckets = 4)
    assert(Upsert.storedNBuckets(spark, path).contains(8))
    assert(Upsert.readManifestTable(spark, path).count() == 39)
  }

  test("NULL keys: erasure matches merge's null-safe key semantics") {
    val path = mkTarget()
    val rows = Seq((Some(1L), "a"), (None, "nullkey"), (Some(2L), "b"))
      .toDF("key", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, path, rows, Seq("key"),
      nBuckets = 2)
    assert(Upsert.readManifestTable(spark, path).count() == 3)
    // a delete list carrying NULL must erase the NULL-keyed row (merge
    // would have matched it via <=>)
    Upsert.deleteKeysFromManifestBucketedParquet(spark, path,
      Seq[Option[Long]](None, Some(2L)).toDF("key"), Seq("key"), nBuckets = 2)
    val left = Upsert.readManifestTable(spark, path)
      .select("v").as[String].collect().toSet
    assert(left == Set("a"), s"NULL-keyed row survived erasure: $left")
  }

  test("full erasure: empty table stays readable with schema; time travel works") {
    val path = mkTarget()
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((1L, "a"), (2L, "b")).toDF("key", "v"), Seq("key"),
      nBuckets = 2, keepSnapshots = 2)
    Upsert.deleteKeysFromManifestBucketedParquet(spark, path,
      Seq(1L, 2L).toDF("key"), Seq("key"), nBuckets = 2, keepSnapshots = 2)
    val empty = Upsert.readManifestTable(spark, path)
    assert(empty.count() == 0)
    assert(empty.columns.toSet == Set("key", "v", "__bucket"),
      s"schema lost on full erasure: ${empty.columns.toSeq}")
    // time travel TO the fully-erased snapshot is legal
    val atErased = Upsert.readTargetAt(spark, path, "snap-000000001")
    assert(atErased.count() == 0 && atErased.columns.contains("key"))
    // and the pre-erasure snapshot still holds the rows
    assert(Upsert.readTargetAt(spark, path, "snap-000000000").count() == 2)
    // merging into the emptied table starts clean
    Upsert.mergeIntoManifestBucketedParquet(spark, path,
      Seq((9L, "z")).toDF("key", "v"), Seq("key"), nBuckets = 2,
      keepSnapshots = 2)
    assert(Upsert.readManifestTable(spark, path).count() == 1)
  }

  test("vacuum GCs with the structured parser on round-8 manifests (format evolution)") {
    val path = mkTarget()
    def mergeK2(rows: Seq[(Long, String)]): Unit =
      Upsert.mergeIntoManifestBucketedParquet(spark, path,
        rows.toDF("key", "v"), Seq("key"), nBuckets = 2, keepSnapshots = 3)
    mergeK2((0L until 10L).map(k => (k, s"v$k")))
    mergeK2(Seq((3L, "u3")))
    mergeK2(Seq((4L, "u4")))
    // round-8 manifests carry nBuckets + schema_ddl metadata fields; the
    // old body-wide ".parquet" regex had no notion of fields at all. The
    // invariant that matters: vacuum keeps EXACTLY what the read path
    // resolves, before and after.
    val beforeRows = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    Upsert.vacuum(spark, path, keepSnapshots = 1)
    val afterRows = Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(afterRows == beforeRows, "vacuum changed the committed state")
    // every file the live manifest references survived the GC
    Upsert.readBucketManifest(spark, path).values.flatten.foreach { f =>
      assert(new java.io.File(new java.net.URI(
        if (f.contains("://")) f else "file://" + f).getPath).isFile
        || new java.io.File(f).isFile, s"GC ate live file $f")
    }
    // only the live manifest remains
    val manifests = new java.io.File(path).listFiles()
      .map(_.getName).filter(_.endsWith(".manifest.json")).toSeq
    assert(manifests.size == 1)
  }
}
