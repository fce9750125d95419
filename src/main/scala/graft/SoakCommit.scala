package graft

import org.apache.spark.sql.functions._

import graft.operators.Upsert

/** Cross-process multi-writer commit soak (VERDICT r15 #3) — the driver
  * of `tools/soak_commit.sh`: two SEPARATE JVMs race serial MERGE batches
  * into one manifest-bucketed target, including a leg where one writer is
  * HARD-KILLED (`Runtime.halt`, no hooks) at the exact commit point. The
  * round-15 exactly-once bug (post-commit maintenance TOCTOU re-merging a
  * committed batch) was found by the IN-PROCESS 8-writer stress; this is
  * the same contract exercised across real process boundaries, where no
  * JVM-local lock (`pointerLock`) can paper over a protocol hole.
  *
  * Modes:
  *  - `writer <target> <wid> <nMerges> [killAt [before|after [startAt]]]`
  *    runs merges `startAt until nMerges`, each inserting a unique
  *    20-row batch (keys `w<wid>_m<i>_r<j>`, val = i) plus updating the
  *    writer's serial hot key `hot_w<wid>` to i. With `killAt` ≥ 0 the
  *    JVM halts at that merge — `after`: the instant the manifest file
  *    is durably created (commit happened, pointer NOT published,
  *    retention NOT run); `before`: just before the create (the attempt
  *    must be lost without a trace).
  *  - `verify <target> <nWriters> <nMerges> <expectCommits>` asserts the
  *    exactly-once contract: committed snapshot ids are DENSE
  *    `0 until expectCommits` (every merge committed exactly once — a
  *    lost merge leaves a hole in the row set, a re-merged batch burns
  *    an extra id), every batch's 20 rows carry exactly their merge's
  *    val, every hot key reads its writer's last merge, and the DSv2
  *    connector (`spark.read.format("graft")`) serves the identical
  *    row multiset. Prints `SOAKC verify PASS rows=<n>`.
  */
object SoakCommit {
  private val RowsPerBatch = 20

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    import spark.implicits._

    def batch(wid: Int, i: Int) =
      ((0 until RowsPerBatch).map(j => (s"w${wid}_m${i}_r$j", i.toLong)) :+
        (s"hot_w$wid", i.toLong)).toDF("key", "v")

    args.toList match {
      case "writer" :: target :: widS :: nS :: rest =>
        val wid = widS.toInt
        val n = nS.toInt
        val killAt = rest.headOption.map(_.toInt).getOrElse(-1)
        val killMode = rest.lift(1).getOrElse("after")
        val startAt = rest.lift(2).map(_.toInt).getOrElse(0)
        @volatile var cur = -1
        if (killAt >= 0 && killMode == "after")
          Upsert.afterManifestWriteHook = Some((_, snap) =>
            if (cur == killAt) {
              System.err.println(s"[soakc] w$wid HALT after manifest $snap (merge $cur)")
              Runtime.getRuntime.halt(137)
            })
        if (killAt >= 0 && killMode == "before")
          Upsert.beforeManifestCreateHook = Some((_, id) =>
            if (cur == killAt) {
              System.err.println(s"[soakc] w$wid HALT before manifest create snap-$id (merge $cur)")
              Runtime.getRuntime.halt(137)
            })
        for (i <- startAt until n) {
          cur = i
          Upsert.mergeIntoManifestBucketedParquet(spark, target, batch(wid, i),
            Seq("key"), nBuckets = 8, keepSnapshots = 1024, maxRetries = 10)
          println(s"SOAKC w$wid merged $i")
        }
        println(s"SOAKC w$wid done")
        spark.stop()

      case "verify" :: target :: nwS :: nmS :: expS :: Nil =>
        val nWriters = nwS.toInt
        val nMerges = nmS.toInt
        val expect = expS.toInt
        val root = new org.apache.hadoop.fs.Path(target)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val ids = Upsert.committedIds(fs, root).sorted
        require(ids == (0L until expect.toLong),
          s"snapshot ids not dense 0..${expect - 1}: $ids — a lost merge " +
            "leaves a hole in the rows, a re-merged batch burns an extra id")
        val t = Upsert.readTarget(spark, target)
          .select("key", "v").as[(String, Long)].collect().toMap
        val expectedRows = nWriters * nMerges * RowsPerBatch + nWriters
        require(t.size == expectedRows, s"rows: ${t.size} != $expectedRows")
        for (w <- 0 until nWriters; i <- 0 until nMerges) {
          for (j <- 0 until RowsPerBatch)
            require(t.get(s"w${w}_m${i}_r$j").contains(i.toLong),
              s"batch row w${w}_m${i}_r$j missing or wrong: ${t.get(s"w${w}_m${i}_r$j")}")
          ()
        }
        for (w <- 0 until nWriters)
          require(t.get(s"hot_w$w").contains((nMerges - 1).toLong),
            s"hot_w$w: ${t.get(s"hot_w$w")} != ${nMerges - 1}")
        // the DSv2 connector must serve the identical committed state
        val viaConnector = spark.read.format("graft").load(target)
          .select("key", "v").as[(String, Long)].collect().toMap
        require(viaConnector == t, "connector read differs from readTarget")
        println(s"SOAKC verify PASS rows=${t.size} commits=${ids.size}")
        spark.stop()

      case other =>
        System.err.println(s"usage: writer <target> <wid> <n> [killAt [before|after [startAt]]] | " +
          s"verify <target> <nWriters> <nMerges> <expectCommits>; got: $other")
        sys.exit(2)
    }
  }
}
