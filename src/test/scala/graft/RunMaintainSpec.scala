package graft

import org.apache.spark.sql.functions._

/** The maintenance CLI drives the same compaction/retention operators
  * the specs cover individually — these tests pin the flag surface. */
class RunMaintainSpec extends SparkSpecBase {
  import spark.implicits._

  test("neardup-compact action collapses appended index fragments") {
    val idx = java.nio.file.Files.createTempDirectory("graft-maint-nd").toString
    def batch(ids: Seq[Long]) = operators.Dedup.minHashIndex(
      ids.map(i => (i, s"w$i a b c")).toDF("doc_id", "text"),
      "doc_id", "text", n = 1, numHashes = 16, bands = 4)
    val (s0, b0) = batch(Seq(1L, 2L))
    operators.IndexStore.rewrite(spark, s"$idx/sigs", s0)
    operators.IndexStore.rewrite(spark, s"$idx/bands", b0)
    val (s1, b1) = batch(Seq(3L, 4L))
    operators.IndexStore.append(spark, s"$idx/sigs", s1)
    operators.IndexStore.append(spark, s"$idx/bands", b1)
    def sigFiles = operators.Upsert.readBucketManifest(spark, s"$idx/sigs")
      .values.map(_.size).sum
    assert(sigFiles >= 2)
    RunMaintain.run(spark, Array("neardup-compact", idx))
    assert(sigFiles <= 2)
    assert(operators.Dedup.readNearDupIndexTable(spark, idx, "sigs")
      .count() == 4)
  }

  test("vacuum action tightens retention on a manifest target") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-vac").toString
    val path = s"$dir/table"
    def mergeK3(rows: Seq[(Long, String)]): Unit =
      operators.Upsert.mergeIntoManifestBucketedParquet(spark, path,
        rows.toDF("key", "v"), Seq("key"), nBuckets = 2, keepSnapshots = 3)
    mergeK3((0L until 6L).map(k => (k, s"v$k")))
    mergeK3(Seq((1L, "u1")))
    mergeK3(Seq((2L, "u2")))
    assert(operators.Upsert.snapshots(spark, path).size == 3)
    RunMaintain.run(spark, Array("vacuum", path, "--keep-snapshots", "1"))
    assert(operators.Upsert.snapshots(spark, path).size == 1)
    val out = operators.Upsert.readManifestTable(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(out(1L) == "u1" && out(2L) == "u2" && out(0L) == "v0")
  }

  test("snapshots action lists retained snapshot names oldest-first") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-snap").toString
    val path = s"$dir/table"
    def mergeK(rows: Seq[(Long, String)]): Unit =
      operators.Upsert.mergeIntoManifestBucketedParquet(spark, path,
        rows.toDF("key", "v"), Seq("key"), nBuckets = 2, keepSnapshots = 2)
    mergeK(Seq((1L, "a")))
    mergeK(Seq((2L, "b")))
    val stdout = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8")) {
      RunMaintain.run(spark, Array("snapshots", path))
    }
    val lines = stdout.toString("UTF-8").trim.split("\n").toSeq
    assert(lines == Seq("snap-000000000", "snap-000000001"), lines.toString)
    // each listed name resolves through the time-travel read
    assert(operators.Upsert.readTargetAt(spark, path, lines.head)
      .count() == 1) // first snapshot: only key 1
  }

  test("ivf-compact action dedups and collapses the cell table") {
    val idx = java.nio.file.Files.createTempDirectory("graft-maint-ivf").toString
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    operators.Ivf.buildIndex(spark, idx, emb.where(col("vec_id") < 40),
      trainOn = emb.where(col("vec_id") < 40), nlist = 2, iters = 1)
    operators.Ivf.addToIndex(spark, idx,
      emb.where(col("vec_id") >= 40 && col("vec_id") < 60))
    RunMaintain.run(spark, Array("ivf-compact", idx))
    val perCell = operators.Upsert.readBucketManifest(spark, s"$idx/cells")
      .map { case (c, fs) => c -> fs.size }
    assert(perCell.values.forall(_ == 1), s"still fragmented: $perCell")
    assert(operators.Ivf.readCells(spark, idx).count() == 60)
  }

  test("stats action: per-bucket census on a manifest target; plain layout one row") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-maint-stats")
      .toString + "/t"
    operators.Upsert.mergeIntoManifestBucketedParquet(spark, root,
      (0L until 40L).map(k => (k, s"v$k")).toDF("key", "v"),
      Seq("key"), nBuckets = 4)
    // a second merge fragments some buckets — stats must count the files
    operators.Upsert.mergeIntoManifestBucketedParquet(spark, root,
      Seq((1L, "u"), (2L, "u")).toDF("key", "v"), Seq("key"), nBuckets = 4)
    val st = operators.Upsert.tableStats(spark, root)
      .select("bucket", "n_files", "bytes").as[(Int, Long, Long)].collect()
    assert(st.map(_._1).toSet == (0 until 4).toSet)
    assert(st.forall { case (_, n, b) => n >= 1 && b > 0 })
    RunMaintain.run(spark, Array("stats", root)) // CLI summary path
    // plain snapshot layout: one bucket=-1 row covering the table
    val plain = java.nio.file.Files.createTempDirectory("graft-maint-stats2")
      .toString + "/t"
    operators.Upsert.mergeIntoParquet(spark, plain,
      Seq((1L, "a")).toDF("key", "v"), Seq("key"))
    val pst = operators.Upsert.tableStats(spark, plain)
      .select("bucket", "n_files", "bytes").as[(Int, Long, Long)].collect()
    assert(pst.length == 1 && pst.head._1 == -1 && pst.head._2 >= 1)
  }

  test("expire action: TTL delete via the erasure path; idempotent; time travel until vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-exp").toString
    val path = s"$dir/table"
    val rows = Seq(
      (1L, "old", java.sql.Timestamp.valueOf("2025-01-01 00:00:00")),
      (2L, "old2", java.sql.Timestamp.valueOf("2025-06-01 00:00:00")),
      (3L, "fresh", java.sql.Timestamp.valueOf("2026-02-01 00:00:00")))
    operators.Upsert.mergeIntoManifestBucketedParquet(spark, path,
      rows.toDF("key", "v", "ts"), Seq("key"), nBuckets = 2,
      keepSnapshots = 3)
    def expire(): Unit = RunMaintain.run(spark, Array("expire", path,
      "--ts-col", "ts", "--older-than", "2026-01-01 00:00:00",
      "--key-col", "key", "--merge-buckets", "2",
      "--keep-snapshots", "3"))
    expire()
    val live = operators.Upsert.readTarget(spark, path)
      .select("key", "v").as[(Long, String)].collect().toMap
    assert(live == Map(3L -> "fresh"))
    // the pre-expire snapshot still serves the expired rows (time travel)
    val snaps = operators.Upsert.snapshots(spark, path)
    assert(operators.Upsert.readTargetAt(spark, path, snaps.head)
      .count() == 3)
    // re-running with nothing left to expire is a no-op (no new snapshot)
    expire()
    assert(operators.Upsert.snapshots(spark, path) == snaps)
    // hard horizon: vacuum flag drops the snapshots that held the rows
    RunMaintain.run(spark, Array("expire", path,
      "--ts-col", "ts", "--older-than", "2026-03-01 00:00:00",
      "--key-col", "key", "--merge-buckets", "2", "--vacuum", "true"))
    assert(operators.Upsert.readTarget(spark, path).count() == 0)
    assert(operators.Upsert.snapshots(spark, path).size == 1)
  }

  test("expire forwards --text-index; malformed cutoff fails loud") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-expti").toString
    val (path, idx) = (s"$dir/table", s"$dir/idx")
    val docs = Seq(
      (1L, "stale words here", java.sql.Timestamp.valueOf("2025-01-01 00:00:00")),
      (2L, "fresh words here", java.sql.Timestamp.valueOf("2026-02-01 00:00:00")))
      .toDF("doc_id", "text", "ts")
    operators.Upsert.mergeIntoParquet(spark, path,
      docs.withColumnRenamed("doc_id", "main_refco"), Seq("main_refco"))
    operators.TextIndex.buildIndex(spark, idx, docs, nShards = 4)
    intercept[IllegalArgumentException] {
      RunMaintain.run(spark, Array("expire", path,
        "--ts-col", "ts", "--older-than", "01/01/2026", "--key-col", "main_refco"))
    }
    RunMaintain.run(spark, Array("expire", path,
      "--ts-col", "ts", "--older-than", "2026-01-01 00:00:00",
      "--key-col", "main_refco", "--text-index", idx))
    assert(operators.Upsert.readTarget(spark, path).count() == 1)
    // the TTL'd doc's postings left the index too (the compliance hole)
    assert(operators.IndexStore.read(spark, s"$idx/postings")
      .where(col("doc_id") === 1L).count() == 0)
    assert(operators.IndexStore.read(spark, s"$idx/doclen")
      .where(col("doc_id") === 1L).count() == 0)
  }

  test("unknown action is rejected") {
    intercept[IllegalArgumentException] {
      RunMaintain.run(spark, Array("defrag", "/tmp/x"))
    }
  }

  test("an unknown or value-less flag is refused before the action runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-flags").toString
    val path = s"$dir/table"
    Seq(0L, 1L, 2L).foreach { k =>
      operators.Upsert.mergeIntoManifestBucketedParquet(spark, path,
        Seq((k, s"v$k")).toDF("key", "v"), Seq("key"), nBuckets = 2,
        keepSnapshots = 5)
    }
    val before = treeState(path)
    // `--keep-snapshot 5` would vacuum down to the default 1 snapshot
    Seq(Seq("--keep-snapshot", "5"), Seq("--keep-snapshots")).foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        RunMaintain.run(spark, Array("vacuum", path) ++ bad)
      }
      assert(e.getMessage.contains(s"'${bad.head}'") &&
        e.getMessage.contains("usage: RunMaintain"), e.getMessage)
      assert(treeState(path) == before, s"$bad changed the table")
    }
    assert(operators.Upsert.snapshots(spark, path).size == 3)
  }

  test("another action's flag is refused before the action runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maint-own").toString
    val path = s"$dir/table"
    Seq(0L, 1L).foreach { k =>
      operators.Upsert.mergeIntoManifestBucketedParquet(spark, path,
        Seq((k, s"v$k")).toDF("key", "v"), Seq("key"), nBuckets = 2,
        keepSnapshots = 5)
    }
    val before = treeState(path)
    // --zorder belongs to table-compact; vacuum used to accept and ignore it
    val e = intercept[IllegalArgumentException] {
      RunMaintain.run(spark, Array("vacuum", path, "--zorder", "c"))
    }
    assert(e.getMessage.contains("'--zorder'") &&
      e.getMessage.contains("usage: RunMaintain vacuum"), e.getMessage)
    assert(treeState(path) == before, "the refused vacuum changed the table")
    assert(operators.Upsert.snapshots(spark, path).size == 2)
  }
}
