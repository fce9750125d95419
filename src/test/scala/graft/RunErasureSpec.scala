package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Ivf, Upsert}

/** End-to-end CLI surface: one RunErasure invocation scrubs the merge
  * target AND both content-derived indexes. */
class RunErasureSpec extends SparkSpecBase {
  import spark.implicits._

  test("erases a key list from snapshot target, IVF index, near-dup index") {
    val dir = Files.createTempDirectory("graft-erasure").toString
    val target = s"$dir/target"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

    Upsert.mergeIntoParquet(spark, target, emb, Seq("vec_id"))
    val ivfIdx = s"$dir/ivf"
    Ivf.buildIndex(spark, ivfIdx, emb, trainOn = emb, nlist = 4, iters = 1,
      idCol = "vec_id")
    val ndIdx = s"$dir/neardup"
    val docs = emb.select(col("vec_id").as("doc_id"),
      concat_ws(" ", transform(col("embedding"), x => (x > 0).cast("string")))
        .as("text"))
    val (sigs, bands) = Dedup.minHashIndex(docs, "doc_id", "text", n = 1)
    sigs.write.parquet(s"$ndIdx/sigs")
    bands.write.parquet(s"$ndIdx/bands")

    val hnswIdx = s"$dir/hnsw"
    graft.operators.Hnsw.buildIndex(spark, hnswIdx, emb, idCol = "vec_id",
      dim = 64, m = 4, planes = 3, tables = 2)

    val ccRoot = s"$dir/components"
    graft.operators.Graph.updateComponents(spark, ccRoot,
      emb.select(col("vec_id").as("id")), "id",
      Seq((5L, 7L), (11L, 12L)).toDF("a", "b"), "a", "b")

    val victims = Seq(5L, 11L)
    victims.toDF("vec_id").write.parquet(s"$dir/keys")
    RunErasure.run(spark, Array(target, s"$dir/keys",
      "--key-col", "vec_id",
      "--ivf-index", ivfIdx,
      "--hnsw-index", hnswIdx, "--hnsw-id-col", "vec_id",
      "--neardup-index", ndIdx,
      "--components", ccRoot))

    val inTarget = Upsert.readTarget(spark, target)
      .where(col("vec_id").isin(victims.map(Long.box): _*)).count()
    val inIvf = Ivf.readCells(spark, ivfIdx)
      .where(col("vec_id").isin(victims.map(Long.box): _*)).count()
    val inSigs = Dedup.readNearDupIndexTable(spark, ndIdx, "sigs")
      .where(col("id").isin(victims.map(Long.box): _*)).count()
    val inBands = Dedup.readNearDupIndexTable(spark, ndIdx, "bands")
      .where(col("id").isin(victims.map(Long.box): _*)).count()
    assert(inTarget == 0 && inIvf == 0 && inSigs == 0 && inBands == 0)
    // HNSW graph: victims gone from nodes AND from every edge endpoint
    val hn = graft.operators.IndexStore.read(spark, s"$hnswIdx/nodes")
      .where(col("node_id").isin(victims.map(Long.box): _*)).count()
    val he = graft.operators.IndexStore.read(spark, s"$hnswIdx/edges")
      .where(col("src").isin(victims.map(Long.box): _*) ||
        col("dst").isin(victims.map(Long.box): _*)).count()
    assert(hn == 0 && he == 0)
    assert(graft.operators.IndexStore.read(spark, s"$hnswIdx/nodes")
      .count() == emb.count() - 2)
    // nothing else was lost
    assert(Upsert.readTarget(spark, target).count() == emb.count() - 2)
    assert(Ivf.readCells(spark, ivfIdx).count() == emb.count() - 2)
    // component store: erased ids gone, their partners relabeled away
    // from the deleted minimum (5 labeled {5,7}; 11 labeled {11,12})
    val cc = graft.operators.Graph.readComponents(spark, ccRoot)
      .as[(Long, Long)].collect().toMap
    assert(!cc.contains(5L) && !cc.contains(11L))
    assert(cc(7L) == 7L && cc(12L) == 12L, s"stale deleted label: $cc")
    assert(cc.size == emb.count() - 2)
  }

  test("--vacuum expires pre-delete snapshots in the same job") {
    val dir = Files.createTempDirectory("graft-erasure-vac").toString
    val target = s"$dir/target"
    Upsert.mergeIntoParquet(spark, target,
      Seq(("a", 1L), ("b", 2L)).toDF("key", "v"), Seq("key"),
      keepSnapshots = 3)
    Seq("a").toDF("key").write.parquet(s"$dir/keys")
    RunErasure.run(spark, Array(target, s"$dir/keys",
      "--key-col", "key", "--keep-snapshots", "3", "--vacuum", "true"))
    // retention asked for 3, but vacuum trims to the keep count with the
    // erased row gone from every remaining snapshot
    val snaps = Upsert.snapshots(spark, target)
    assert(snaps.size == 3 || snaps.size <= 3) // keep=3 retains up to 3
    snaps.foreach { s =>
      assert(Upsert.readTargetAt(spark, target, s)
        .where($"key" === "a").count() == 0 ||
        s != snaps.last, s"erased row readable in live snapshot $s")
    }
    // a second pass with keep=1 + vacuum leaves exactly the live snapshot
    RunErasure.run(spark, Array(target, s"$dir/keys",
      "--key-col", "key", "--vacuum", "true"))
    assert(Upsert.snapshots(spark, target).size == 1)
    assert(Upsert.readTarget(spark, target).select("key").as[String]
      .collect().toSeq == Seq("b"))
  }

  test("hash-bucketed target auto-detected — layout NOT converted to snapshots") {
    val dir = Files.createTempDirectory("graft-erasure-hb").toString
    val target = s"$dir/target"
    writeLegacyBucketDir(target)
    Seq(5L).toDF("key").write.parquet(s"$dir/keys")
    val before = treeState(target)
    // the snapshot key delete refuses the legacy layout instead of
    // adopting it (adoption skips `__bucket=` and would erase nothing)
    val e = intercept[IllegalStateException] {
      RunErasure.run(spark, Array(target, s"$dir/keys",
        "--key-col", "key", "--merge-buckets", "4"))
    }
    assert(e.getMessage.contains("legacy hash-bucketed") &&
      e.getMessage.contains("readTarget"), e.getMessage)
    assert(treeState(target) == before, "refused erasure changed the directory")
    // the layout is left as it was: no _current pointer, no snap dirs,
    // and every row still reads
    assert(!new java.io.File(s"$target/_current").exists())
    assert(!new java.io.File(target).listFiles().exists(_.getName.startsWith("snap-")))
    assert(Upsert.readTarget(spark, target).count() == 20L)
  }

  test("manifest-bucketed target auto-detected and bucket-pruned") {
    val dir = Files.createTempDirectory("graft-erasure-mb").toString
    val target = s"$dir/target"
    val rows = (0L until 30L).map(k => (k, s"v$k")).toDF("key", "v")
    Upsert.mergeIntoManifestBucketedParquet(spark, target, rows,
      Seq("key"), nBuckets = 4)
    Seq(3L, 9L).toDF("key").write.parquet(s"$dir/keys")
    RunErasure.run(spark, Array(target, s"$dir/keys",
      "--key-col", "key", "--merge-buckets", "4"))
    val left = Upsert.readManifestTable(spark, target)
      .select("key").as[Long].collect().toSet
    assert(left == (0L until 30L).toSet -- Seq(3L, 9L))
  }

  test("an unknown or value-less flag is refused before anything is erased") {
    val dir = Files.createTempDirectory("graft-erasure-flags").toString
    val target = s"$dir/target"
    Upsert.mergeIntoParquet(spark, target,
      Seq(("a", 1L), ("b", 2L)).toDF("key", "v"), Seq("key"))
    Seq("a").toDF("key").write.parquet(s"$dir/keys")
    val before = treeState(target)
    // a misspelled --vacuum would skip the vacuum and leave the erased
    // row readable by time travel; a trailing flag has no value
    Seq(Seq("--vacum", "true"), Seq("--vacuum")).foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        RunErasure.run(spark, Array(target, s"$dir/keys", "--key-col", "key") ++ bad)
      }
      assert(e.getMessage.contains(s"'${bad.head}'") &&
        e.getMessage.contains("usage: RunErasure"), e.getMessage)
      assert(treeState(target) == before, s"$bad changed the target")
    }
    assert(Upsert.readTarget(spark, target).count() == 2)
  }
}
