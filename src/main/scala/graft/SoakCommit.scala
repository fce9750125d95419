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
  *  - `mor-writer <target> <wid> <nMerges>` merges into a ONE-bucket
  *    (merge-on-read) table batches that overlap the other writer's:
  *    besides its own rows, every batch updates the shared keys
  *    `shared_<j>` to `100 * wid + i`. A writer that loses a commit race
  *    must recompute the superseded positions against the winner's
  *    manifest; stale positions would leave two live rows for a key.
  *  - `mor-verify <target> <nWriters> <nMerges>` replays the commits:
  *    every snapshot must be the one before it merged with exactly one
  *    not-yet-seen batch (no key twice), every batch must appear once,
  *    and the table must equal `Upsert.merge` folded over the batches in
  *    that commit order. The DSv2 connector must refuse the table by
  *    name while it records superseded rows, and serve it otherwise.
  *    Merges also rewrite worn files, so retries race those too. Prints
  *    `SOAKC mor-verify PASS rows=<n>`.
  */
object SoakCommit {
  private val RowsPerBatch = 20

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    import spark.implicits._

    def batch(wid: Int, i: Int) =
      ((0 until RowsPerBatch).map(j => (s"w${wid}_m${i}_r$j", i.toLong)) :+
        (s"hot_w$wid", i.toLong)).toDF("key", "v")

    def morBatch(wid: Int, i: Int) =
      ((0 until 5).map(j => (s"w${wid}_m${i}_r$j", i.toLong)) ++
        (0 until 5).map(j => (s"shared_$j", 100L * wid + i))).toDF("key", "v")

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

      case "mor-writer" :: target :: widS :: nS :: Nil =>
        val wid = widS.toInt
        for (i <- 0 until nS.toInt) {
          Upsert.mergeIntoManifestBucketedParquet(spark, target, morBatch(wid, i),
            Seq("key"), nBuckets = 1, keepSnapshots = 1024, maxRetries = 10)
          println(s"SOAKC mor w$wid merged $i")
        }
        println(s"SOAKC mor w$wid done")
        spark.stop()

      case "mor-verify" :: target :: nwS :: nmS :: Nil =>
        val batches = (for (w <- 0 until nwS.toInt; i <- 0 until nmS.toInt)
          yield (w, i) -> morBatch(w, i).as[(String, Long)].collect().toMap).toMap
        val root = new org.apache.hadoop.fs.Path(target)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val ids = Upsert.committedIds(fs, root).sorted
        require(ids == (0L until batches.size.toLong),
          s"snapshot ids not dense 0..${batches.size - 1}: $ids")
        var state = Map.empty[String, Long]
        val order = ids.map { id =>
          val rows = Upsert.readTargetAt(spark, target, f"snap-$id%09d")
            .select("key", "v").as[(String, Long)].collect()
          val snap = rows.toMap
          require(snap.size == rows.length, s"snap-$id serves a key twice: " +
            "superseded positions were not recomputed against the winner")
          val used = batches.collect { case (b, rs) if state ++ rs == snap => b }
          require(used.size == 1, s"snap-$id is not the state before it " +
            s"merged with exactly one batch (matches: $used)")
          state = snap
          used.head
        }
        require(order.distinct.size == batches.size, s"batches not each committed once: $order")
        val empty = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          morBatch(0, 0).schema)
        val fold = order.foldLeft(empty)((t, b) => Upsert.merge(t, morBatch(b._1, b._2), Seq("key")))
          .select("key", "v").as[(String, Long)].collect().sorted.toSeq
        val t = Upsert.readTarget(spark, target).select("key", "v")
          .as[(String, Long)].collect().sorted.toSeq
        require(t == fold, "table differs from the Upsert.merge fold in commit order")
        // the DSv2 connector refuses the table while it records superseded
        // rows (a merge rewrites a worn file, so it may record none)
        val body = Upsert.manifestBody(spark, target, None).get
        val served =
          try Some(spark.read.format("graft").load(target).select("key", "v")
            .as[(String, Long)].collect().sorted.toSeq)
          catch { case _: Upsert.MergeOnReadUnsupportedException => None }
        require(served == (if (Upsert.hasSuperseded(body,
            Upsert.parseManifestEntries(body).values.flatten)) None else Some(t)),
          "the DSv2 connector served superseded rows, or refused a table without them")
        println(s"SOAKC mor-verify PASS rows=${t.size} commits=${ids.size} " +
          s"writers=${order.map(_._1).mkString("")}")
        spark.stop()

      case other =>
        System.err.println(s"usage: writer <target> <wid> <n> [killAt [before|after [startAt]]] | " +
          s"verify <target> <nWriters> <nMerges> <expectCommits> | " +
          s"mor-writer <target> <wid> <n> | mor-verify <target> <nWriters> <nMerges>; got: $other")
        sys.exit(2)
    }
  }
}
