package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  test("W1: keep-latest per key with deterministic tie-break") {
    val df = Seq(
      ("k1", "2024-01-01T00:00:00", 1L),
      ("k1", "2024-01-02T00:00:00", 2L),
      ("k1", "2024-01-02T00:00:00", 3L), // timestamp tie -> larger id wins
      ("k2", "2024-01-01T00:00:00", 4L)).toDF("key", "ots", "id")
    val out = Dedup.latestPerKey(df, Seq("key"),
      Seq(col("ots").desc, col("id").desc))
    assert(out.select("id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("exact dedup keeps the smallest tie-break row") {
    val df = Seq(("a", 10L), ("a", 3L), ("b", 7L)).toDF("k", "id")
    val out = Dedup.exact(df, Seq("k"), col("id"))
    assert(out.select("id").as[Long].collect().toSet == Set(3L, 7L))
  }

  test("shingles: distinct word n-grams; short docs yield empty") {
    val df = Seq("a b c d", "a b").toDF("text")
    val out = Dedup.withShingles(df, "text", 3)
      .select("shingles").as[Seq[String]].collect()
    assert(out.contains(Seq("a b c", "b c d")))
    assert(out.contains(Seq.empty))
  }

  test("repeatedSpanStats: cross-doc spans count, self-repetition does not") {
    val df = Seq(
      (1L, "the quick brown fox jumps high"),     // shares "the quick brown",
      (2L, "the quick brown cat sits low"),       //   "quick brown"? no: k=3 spans
      (3L, "totally unique words here only now"), // nothing shared
      (4L, "echo echo echo echo echo")            // self-repetition only
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpanStats(df, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // docs 1,2 share exactly the span "the quick brown"
    assert(out(1L) == ((4L, 1L, false)))
    assert(out(2L) == ((4L, 1L, false)))
    assert(out(3L) == ((4L, 0L, false)))
    // doc 4: one distinct span ("echo echo echo"), in no other doc
    assert(out(4L) == ((1L, 0L, false)))
  }

  test("ngramContainmentPairs: catches the quote/subset case Jaccard misses") {
    val frag = "alpha beta gamma delta epsilon"
    val long = ("zero one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen seventeen ") + frag
    val df = Seq((1L, "en", long), (2L, "en", frag),
      (3L, "en", "wholly unrelated words appear here")).toDF("doc_id", "lang", "text")
    val cont = Dedup.ngramContainmentPairs(df, "doc_id", "text", "lang",
      n = 3, thresholdNum = 9, thresholdDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq == Seq((1L, 2L, 1.0))) // fragment fully contained
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", "lang",
      n = 3, thresholdNum = 1, thresholdDen = 2)
    assert(jac.where(col("a_id") === 1 && col("b_id") === 2).count() == 0,
      "jaccard at 0.5 should NOT pair the fragment with the long doc")
  }

  test("duplicatedPassageSpans: locates and merges cross-doc duplicated runs") {
    val df = Seq(
      (1L, "one two three four five six"),
      (2L, "zero one two three four seven"),
      (3L, "totally distinct vocabulary in this document")
    ).toDF("doc_id", "text")
    // shared 3-token windows: "one two three" + "two three four" — their
    // overlapping char ranges must merge into ONE passage per doc
    val out = Dedup.duplicatedPassageSpans(df, "doc_id", "text", w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSet == Set((1L, 0L, 18L, 2L), (2L, 5L, 23L, 2L)))
  }

  test("duplicatedPassageSpans: within-doc repetition counts toward the census") {
    val df = Seq((1L, "p q r s t p q r s t")).toDF("doc_id", "text")
    // "p q r" (and every other 3-gram of the repeated half) occurs twice
    // IN THE SAME doc — minOccurrences counts occurrences, not documents
    val out = Dedup.duplicatedPassageSpans(df, "doc_id", "text", w = 3)
    assert(out.count() > 0)
  }

  test("removeSpans splices merged passages out; null/empty spans are identity") {
    val docs = Seq(
      (1L, "one two three four five six"),
      (2L, "zero one two three four seven"),
      (3L, "totally distinct vocabulary in this document")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedPassageSpans(docs, "doc_id", "text", w = 3)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("spans"))
    val cleaned = docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), Dedup.removeSpans(col("text"), col("spans")).as("clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleaned(1L) == " five six")
    assert(cleaned(2L) == "zero  seven")
    assert(cleaned(3L) == "totally distinct vocabulary in this document")
  }

  test("duplicatedPassageSpans invariants: spans disjoint ascending; splice length = len − Σ widths") {
    val docs = (0L until 40L).map { i =>
      val words = (0 until 20).map(j => s"w${(i * 5 + j * 3) % 17}")
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val sp = Dedup.duplicatedPassageSpans(docs, "doc_id", "text", w = 4)
    val rows = sp.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) => assert(s2 > e1) // gap => not merged
        case _ =>
      }
    }
    val spans = sp.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("spans"))
    val bad = docs.join(spans, Seq("doc_id"), "left")
      .select(length(Dedup.removeSpans(col("text"), col("spans"))).cast("long")
          .as("clean_len"),
        (length(col("text")).cast("long") -
          coalesce(aggregate(col("spans"), lit(0L),
            (a, s) => a + s("span_end") - s("span_start")), lit(0L))).as("expect"))
      .where(col("clean_len") =!= col("expect")).count()
    assert(bad == 0)
  }

  test("duplicatedPassageSpans: degenerate inputs — empty text, short docs, exact-w dups") {
    val df = Seq(
      (1L, ""),                       // empty
      (2L, "just two"),               // under w tokens: no windows
      (3L, "a b c"),                  // exactly w — one window…
      (4L, "a b c"),                  // …duplicated across docs
      (5L, "   "),                    // only spaces: all-blank windows dropped
      (6L, "   ")                     // …even though doc 5 and 6 "match"
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedPassageSpans(df, "doc_id", "text", w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // docs 3 and 4: the single full-width window [0, 5); whitespace-only
    // docs contribute nothing
    assert(out == Set((3L, 0L, 5L), (4L, 0L, 5L)), out.toString)
  }

  test("removeDuplicatedPassages: one-call transform cleans only the affected docs") {
    val df = Seq(
      (1L, "one two three four five six"),
      (2L, "zero one two three four seven"),
      (3L, "totally distinct vocabulary in this document")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedPassages(df, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == " five six")
    assert(out(2L) == "zero  seven")
    assert(out(3L) == "totally distinct vocabulary in this document")
    assert(out.size == 3) // no row loss, no duplication from the join
  }

  test("duplicatedPassageSpans: property — equals a naive in-memory reference") {
    // Brute-force reference: enumerate every w-window, census by exact
    // string, mark char ranges, merge overlaps — straight-line Scala,
    // no Spark — over a corpus seeded to produce chains, repeats, and
    // cross-doc shares.
    val w = 3
    val docs = (0L until 30L).map { i =>
      val words = (0 until 15).map(j => s"t${(i * 3 + j * 5) % 11}")
      (i, words.mkString(" "))
    }
    def naive(corpus: Seq[(Long, String)]): Set[(Long, Long, Long)] = {
      val wins = corpus.flatMap { case (id, text) =>
        val toks = text.split(" ", -1)
        val starts = toks.scanLeft(0L)((a, t) => a + t.length + 1)
        (0 to toks.length - w).map { i =>
          val win = toks.slice(i, i + w).mkString(" ")
          (id, starts(i), starts(i) + win.length, win)
        }.filter(_._4.trim.nonEmpty) // blank windows excluded, as in the operator
      }
      val dup = wins.groupBy(_._4).filter(_._2.size >= 2).keySet
      val hits = wins.filter(h => dup.contains(h._4))
      hits.groupBy(_._1).flatMap { case (id, hs) =>
        val sorted = hs.map(h => (h._2, h._3)).sortBy(identity)
        val merged = sorted.foldLeft(List.empty[(Long, Long)]) {
          case (acc, (s, e)) => acc match {
            case (ps, pe) :: rest if s <= pe => (ps, math.max(pe, e)) :: rest
            case _ => (s, e) :: acc
          }
        }
        merged.map { case (s, e) => (id, s, e) }
      }.toSet
    }
    val got = Dedup.duplicatedPassageSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", w = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == naive(docs), s"spark=${got.size} naive=${naive(docs).size}")
  }

  test("repeatedSpanStats: ownership form equals the naive frequency join") {
    // random-ish corpus with heavy span sharing across docs
    val docs = (0L until 60L).map { i =>
      val words = (0 until 12).map(j => s"w${(i * 7 + j * 3) % 23}")
      (i, words.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val fast = Dedup.repeatedSpanStats(df, "doc_id", "text", k = 3)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    // naive reference: explode, frequency table, join back on span
    val ex = Dedup.withShingles(df, "text", 3)
      .select(col("doc_id"), explode(col("shingles")).as("span"))
    val freq = ex.groupBy("span").agg(count(lit(1)).as("n"))
    val naive = ex.join(freq, "span")
      .groupBy("doc_id").agg(count(lit(1)).as("n_spans"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("mostly_duplicated",
        col("n_spans") > 0 && lit(2) * col("n_shared") >= col("n_spans"))
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(fast == naive)
  }

  test("repeatedSpanStats: mostly_duplicated flags a templated doc") {
    val df = Seq(
      (1L, "boiler plate header text body one"),
      (2L, "boiler plate header text body two"),
      (3L, "fresh different content entirely here")).toDF("doc_id", "text")
    val out = Dedup.repeatedSpanStats(df, "doc_id", "text", k = 3)
      .where(col("mostly_duplicated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // docs 1,2 share spans "boiler plate header", "plate header text",
    // "header text body" = 3 of their 4 spans each -> mostly duplicated
    assert(out == Set(1L, 2L))
  }

  test("semanticDedupSurvivors: planted duplicate vector dropped, min kept") {
    val base = (1 to 64).map(_.toFloat / 64f)
    val near = base.updated(0, 0.9f) // cosine ~1 with base
    val far = (1 to 64).map(i => if (i % 2 == 0) 1f else -1f)
    val df = Seq((1L, base, 0), (2L, near, 0), (3L, far, 1))
      .toDF("vec_id", "embedding", "label")
    val kept = Dedup.semanticDedupSurvivors(df, "vec_id", "embedding",
        threshold = 0.9, dim = 64, planes = 2, tables = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("n-gram Jaccard finds the planted near-duplicate pair only") {
    val near1 = "the quick brown fox jumps over the lazy dog today"
    val near2 = "the quick brown fox jumps over the lazy cat today"
    val other = "completely different words with nothing shared here at all"
    val df = Seq((1L, near1, "b"), (2L, near2, "b"), (3L, other, "b"))
      .toDF("doc_id", "text", "src")
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", "src",
      n = 3, thresholdNum = 1, thresholdDen = 2)
    val pairs = out.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("prefix-filtered Jaccard equals the exhaustive join") {
    val near1 = "the quick brown fox jumps over the lazy dog today"
    val near2 = "the quick brown fox jumps over the lazy cat today"
    val other = "completely different words with nothing shared here at all"
    val df = Seq((1L, near1, "b"), (2L, near2, "b"), (3L, other, "b"),
      (4L, near1, "c")) // same text, different block -> no cross-block pair
      .toDF("doc_id", "text", "src")
    val exhaustive = Dedup.ngramJaccardPairs(df, "doc_id", "text", "src",
      n = 3, thresholdNum = 1, thresholdDen = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val prefix = Dedup.ngramJaccardPairsPrefix(df, "doc_id", "text", "src",
      n = 3, thresholdNum = 1, thresholdDen = 2)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(prefix == exhaustive && prefix == Set((1L, 2L)))
  }

  test("index-estimated Jaccard tracks exact Jaccard within 3 sigma") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"), // J(1,2) = 1
      (3L, "a b c d e f g h x y") // J(1,3) = 8/12
    ).toDF("doc_id", "text")
    val (sigs, bands) = Dedup.minHashIndex(docs, "doc_id", "text",
      n = 1, numHashes = 128, bands = 32)
    val est = Dedup.minHashPairsAgainstIndex(sigs, bands, sigs, bands,
        numHashes = 128, threshold = 0.0)
      .where(col("batch_id") < col("index_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est((1L, 2L)) == 1.0) // identical docs: signatures equal exactly
    val exact = 8.0 / 12.0
    val sigma = math.sqrt(exact * (1 - exact) / 128)
    assert(math.abs(est((1L, 3L)) - exact) <= 3 * sigma,
      s"est ${est((1L, 3L))} vs exact $exact")
  }

  test("deleteFromNearDupIndex: erased keys leave both sigs and bands") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "k l m n o p q r s t")).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-del").toString
    val (sigs, bands) = Dedup.minHashIndex(docs, "doc_id", "text",
      n = 1, numHashes = 128, bands = 32)
    sigs.write.parquet(s"$idx/sigs")
    bands.write.parquet(s"$idx/bands")
    Dedup.deleteFromNearDupIndex(spark, idx, Seq(2L).toDF("id"))
    def tbl(t: String) = Dedup.readNearDupIndexTable(spark, idx, t)
    val sigIds = tbl("sigs").select("id").as[Long].collect().toSet
    val bandIds = tbl("bands").select("id").as[Long].collect().toSet
    assert(sigIds == Set(1L, 3L) && bandIds == Set(1L, 3L))
    // the legacy plain dir was adopted into the snapshot store on rewrite
    assert(Upsert.currentSnapshot(spark, s"$idx/sigs").isDefined)
    // the erased doc no longer collides with its surviving twin
    val est = Dedup.minHashPairsAgainstIndex(
      tbl("sigs"), tbl("bands"), tbl("sigs"), tbl("bands"),
      numHashes = 128, threshold = 0.0)
      .where(col("batch_id") =!= col("index_id")).count()
    assert(est == 0L)

    // crash sim: a later erasure attempt dies after writing its files but
    // before its manifest commit — the committed index is untouched and
    // the retry converges (grace-aged GC set to 0: the forged orphan is
    // freshly written and this asserts its EVENTUAL collection)
    val savedGrace = Upsert.gcGraceMs
    Upsert.gcGraceMs = 0L
    try {
      tbl("sigs").limit(1)
        .write.parquet(s"$idx/sigs/data/run-000000001-dead0000")
      assert(tbl("sigs").select("id").as[Long].collect().toSet == Set(1L, 3L),
        "crashed attempt leaked into reads")
      Dedup.deleteFromNearDupIndex(spark, idx, Seq(3L).toDF("id"))
      assert(tbl("sigs").select("id").as[Long].collect().toSet == Set(1L))
      assert(!new java.io.File(s"$idx/sigs/data/run-000000001-dead0000").exists(),
        "orphan attempt files survived GC")
    } finally Upsert.gcGraceMs = savedGrace
  }

  test("erasure racing a streaming append: neither the append nor the delete is lost") {
    // ADVICE r8's exact scenario: a streaming sigs/bands append commits
    // between an erasure's read and its commit. The old code recommitted
    // the erasure's stale anti-join plan, silently overwriting the
    // append; rewriteWith recomputes against the winner's snapshot.
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-race").toString
    def batch(ids: Seq[Long]) = Dedup.minHashIndex(
      ids.map(i => (i, s"w$i a b c")).toDF("doc_id", "text"),
      "doc_id", "text", n = 1, numHashes = 16, bands = 4)
    val (s0, b0) = batch(Seq(1L, 2L, 3L))
    IndexStore.rewrite(spark, s"$idx/sigs", s0)
    IndexStore.rewrite(spark, s"$idx/bands", b0)
    val (s1, b1) = batch(Seq(10L, 11L))
    var fired = false
    Upsert.beforeManifestCreateHook = Some { (tp, _) =>
      if (!fired && tp == s"$idx/sigs") {
        fired = true
        Upsert.beforeManifestCreateHook = None
        IndexStore.append(spark, s"$idx/sigs", s1) // the racing micro-batch
      }
    }
    try Dedup.deleteFromNearDupIndex(spark, idx, Seq(2L).toDF("id"))
    finally Upsert.beforeManifestCreateHook = None
    assert(fired, "race hook never fired")
    val sigIds = Dedup.readNearDupIndexTable(spark, idx, "sigs")
      .select("id").as[Long].collect().toSet
    assert(sigIds == Set(1L, 3L, 10L, 11L),
      s"append or delete lost under the race: $sigIds")
  }

  test("compactNearDupIndex collapses per-batch append fragments; pairs unchanged") {
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-compact").toString
    def batch(ids: Seq[Long]): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
      Dedup.minHashIndex(
        ids.map(i => (i, s"w$i a b c d e f g h")).toDF("doc_id", "text"),
        "doc_id", "text", n = 1, numHashes = 32, bands = 8)
    // first batch creates the store; three more append (streaming cadence)
    val (s0, b0) = batch(Seq(1L, 2L))
    IndexStore.rewrite(spark, s"$idx/sigs", s0)
    IndexStore.rewrite(spark, s"$idx/bands", b0)
    (1 to 3).foreach { i =>
      val (s, b) = batch(Seq(10L * i, 10L * i + 1))
      IndexStore.append(spark, s"$idx/sigs", s)
      IndexStore.append(spark, s"$idx/bands", b)
    }
    def files(t: String): Int =
      Upsert.readBucketManifest(spark, s"$idx/$t").values.map(_.size).sum
    assert(files("sigs") >= 4, s"appends did not fragment: ${files("sigs")}")

    val before = Dedup.minHashPairsAgainstIndex(
      s0, b0, Dedup.readNearDupIndexTable(spark, idx, "sigs"),
      Dedup.readNearDupIndexTable(spark, idx, "bands"),
      numHashes = 32, threshold = 0.5)
      .collect().map(_.toString).sorted
    Dedup.compactNearDupIndex(spark, idx)
    assert(files("sigs") <= 2 && files("bands") <= 2,
      s"still fragmented: sigs=${files("sigs")} bands=${files("bands")}")
    assert(Dedup.readNearDupIndexTable(spark, idx, "sigs").count() == 8)
    val after = Dedup.minHashPairsAgainstIndex(
      s0, b0, Dedup.readNearDupIndexTable(spark, idx, "sigs"),
      Dedup.readNearDupIndexTable(spark, idx, "bands"),
      numHashes = 32, threshold = 0.5)
      .collect().map(_.toString).sorted
    assert(before.sameElements(after), "compaction changed candidate results")
  }

  test("MinHash-LSH pairs ⊇ verified-exact pairs on planted near-dups") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base.replace("w40", "zz") // jaccard ≈ 35/41 over 3-shingles
    val rand = new scala.util.Random(7)
    val noise = (1 to 20).map(i =>
      (100L + i, (1 to 40).map(_ => s"n${rand.nextInt(500)}").mkString(" ")))
    val df = ((1L, base) +: (2L, nearDup) +: noise).toDF("doc_id", "text")
    val lsh = Dedup.minHashLshPairs(df, "doc_id", "text",
      n = 3, numHashes = 128, bands = 32, threshold = 0.5)
    val pairs = lsh.select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("SimHash: identical docs collide at hamming 0; verify filter is exact") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally unrelated content stream")).toDF("doc_id", "text")
    val out = Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 3)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Int)].collect()
    assert(out.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    intercept[IllegalArgumentException] {
      Dedup.simHashPairs(df, "doc_id", "text", maxHamming = 4)
    }
  }

  test("cosine near-dup: exact and LSH agree on a planted duplicate") {
    val v = Seq.fill(8)(1.0f)
    val near = 0.99f +: Seq.fill(7)(1.0f)
    val far = Seq.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v), (2L, near), (3L, far)).toDF("vec_id", "embedding")
    val exact = Dedup.cosineNearDupPairs(df, "vec_id", "embedding", 0.99)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(exact == Set((1L, 2L)))
    val lsh = Dedup.cosineNearDupPairsLsh(df, "vec_id", "embedding", 0.99,
      dim = 8, planes = 4, tables = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh == Set((1L, 2L)))
  }

  test("crossDupRate: planted snapshot overlap counted per group; new-vs-new excluded") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val old = Seq((0L, base, "s1"), (2L, "totally different words here now", "s1"),
      (4L, "unrelated content in source two", "s2")).toDF("doc_id", "text", "source")
    // new: 1 = near-dup of old doc 0; 3 = fresh; 5 and 7 = near-dups of
    // EACH OTHER but of nothing old (must NOT count); 9 = fresh in s2
    val fresh = Seq((1L, base + " iota", "s1"), (3L, "entirely new material", "s1"),
      (5L, "repeated new pair one two three four five", "s1"),
      (7L, "repeated new pair one two three four five six", "s1"),
      (9L, "novel snapshot content", "s2")).toDF("doc_id", "text", "source")
    val out = Dedup.crossDupRate(old, fresh, "doc_id", "text",
        blockCol = "source", rateKeyCol = "source",
        n = 3, thresholdNum = 1, thresholdDen = 2)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("s1") == (("s1", 4L, 1L, 250L)), out.toString)
    assert(out("s2") == (("s2", 1L, 0L, 0L)), out.toString)
  }

  test("autoPlanes: doubling the corpus keeps per-bucket candidate volume ~constant") {
    // formula side: each doubling adds exactly one plane, so expected
    // occupancy n / 2^planes stays inside (target/2, target]
    for (n <- Seq(512L, 4096L, 1L << 20, 1L << 30, 1L << 40)) {
      val p = Dedup.autoPlanes(n, targetBucketRows = 64)
      if (p > 4 && p < 30) { // inside the clamp: exact occupancy law
        assert(Dedup.autoPlanes(2 * n, 64) == math.min(30, p + 1), s"n=$n")
        val occ = n.toDouble / (1L << p)
        assert(occ > 32.0 - 1e-9 && occ <= 64.0 + 1e-9, s"n=$n occ=$occ")
      } else // at a clamp edge the count must still be monotone + bounded
        assert(Dedup.autoPlanes(2 * n, 64) >= p && p >= 4 && p <= 30, s"n=$n")
    }
    // measured side: REAL SRP bucketing of pseudo-random vectors — the
    // per-bucket quadratic candidate volume must stay ~flat across two
    // corpus doublings when planes auto-size (it would 4x per doubling
    // with a fixed plane count)
    def volume(n: Int): Double = {
      val rnd = new scala.util.Random(7)
      val vecs = (0 until n).map(i =>
        (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
      val df = vecs.toDF("vec_id", "v")
      val planes = Dedup.autoPlanes(n, targetBucketRows = 64)
      val perBucket = Dedup.withSrpBuckets(df, "v", planes, seed = 42L,
          dim = 16, tables = 1)
        .select(org.apache.spark.sql.functions.element_at(
          org.apache.spark.sql.functions.col("__buckets"), 1).as("b"))
        .groupBy("b").count()
        .select(org.apache.spark.sql.functions.avg(
          org.apache.spark.sql.functions.expr("count * (count - 1) / 2")))
        .as[Double].collect().head
      perBucket
    }
    val v1 = volume(2000); val v2 = volume(4000); val v4 = volume(8000)
    // SRP buckets on random data are not perfectly uniform; allow 3x wiggle
    // against the 16x quadratic blow-up a fixed plane count would show
    assert(v2 / v1 < 3.0 && v1 / v2 < 3.0, s"v1=$v1 v2=$v2")
    assert(v4 / v1 < 3.0 && v1 / v4 < 3.0, s"v1=$v1 v4=$v4")
  }

  test("AutoPlanes construction launches zero Spark jobs") {
    // round-12 regression target: the auto default ran an eager count()
    // at plan construction — a hidden job inside lazy-looking DataFrame
    // code. Count job starts via a listener; delivery is async, so the
    // listener bus is drained before attaching and before counting.
    org.apache.spark.sql.graftglue.Glue.drainListenerBus(spark.sparkContext)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val df = (1L to 100L).map(i => (i, Array.fill(8)(i.toFloat)))
        .toDF("vec_id", "embedding")
      Dedup.cosineNearDupPairsLsh(df, "vec_id", "embedding", 0.9, dim = 8)
      org.apache.spark.sql.graftglue.Glue.drainListenerBus(spark.sparkContext)
      assert(jobs.get() == 0, s"plan construction started ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("autoPlanesFor: local-relation rowCount and size-estimate fallback agree with autoPlanes") {
    // local relation: exact rowCount drives the formula
    val small = (1L to 100L).map(i => (i, Array.fill(8)(i.toFloat)))
      .toDF("vec_id", "embedding")
    assert(Dedup.autoPlanesFor(small, dim = 8) == Dedup.autoPlanes(100L))
    // size fallback: a fabricated sizeInBytes via a parquet round-trip
    val dir = java.nio.file.Files.createTempDirectory("autoplanes").toString
    small.write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)
    val p = Dedup.autoPlanesFor(scanned, dim = 8)
    assert(p >= 4 && p <= 30) // clamped, estimate-driven, no job required
  }

  test("AutoPlanes default drives the pair query without an explicit knob") {
    // same planted-duplicate scenario as the exact/LSH agreement test,
    // but with the occupancy-matched default (tiny corpus -> 4 planes)
    val rnd = new scala.util.Random(3)
    val base = Array.fill(8)(rnd.nextGaussian().toFloat)
    val rows = Seq((1L, base), (2L, base.map(x => x * 1.0001f))) ++
      (3L to 40L).map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val lsh = Dedup.cosineNearDupPairsLsh(df, "vec_id", "embedding", 0.999,
      dim = 8, tables = 4)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(lsh.contains((1L, 2L)))
  }

  test("capPerKey: overflow-free Knuth hash on ids beyond 2^32") {
    // ids ≥ ~3.5e9 overflow a naive id*2654435761 Long multiply (throws
    // under ANSI mode); the split form must agree with BigInt arithmetic.
    val ids = Seq(1L, 7L, 3_500_000_001L, 4_294_967_295L, 8_589_934_593L,
      Long.MaxValue, Long.MaxValue - 41L)
    val df = ids.map(i => (i, "k")).toDF("id", "key")
    val kept = Dedup.capPerKey(df, 3, Seq("key"), "id")
      .select("id").as[Long].collect().toSet
    def knuth(id: Long): BigInt =
      (BigInt(id).mod(BigInt(2).pow(32)) * 2654435761L).mod(BigInt(2).pow(32))
    val expected = ids.sortBy(i => (knuth(i), BigInt(i))).take(3).toSet
    assert(kept == expected)
  }

  test("lshCalibration: census consistency and the occupancy law direction") {
    val rnd = new scala.util.Random(7)
    val emb = (1L to 60L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val out = Dedup.lshCalibration(emb, "embedding",
        planesOptions = Seq(2, 4, 6), seed = 42L, dim = 8)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // every option sees the whole corpus
    assert(out.values.forall(_._3 == 60L))
    // census agrees with a direct per-option bucket count
    for (p <- Seq(2, 4, 6)) {
      val direct = emb
        .select(graft.functions.F.srpBucket(col("embedding"), p, 42L, 8)
          .as("b"))
        .groupBy("b").count().as[(Long, Long)].collect().map(_._2)
      val pairs = direct.map(c => c * (c - 1) / 2).sum
      assert(out(p.toLong)._2 == direct.length.toLong, s"planes=$p buckets")
      assert(out(p.toLong)._4 == direct.max, s"planes=$p max")
      assert(out(p.toLong)._5 == pairs, s"planes=$p pairs")
    }
    // the law's direction: more planes → no fewer buckets, no more pairs
    assert(out(2L)._2 <= out(4L)._2 && out(4L)._2 <= out(6L)._2)
    assert(out(2L)._5 >= out(4L)._5 && out(4L)._5 >= out(6L)._5)
  }

  test("salted top-k equals plain top-k, including on a hot key") {
    val hot = (1 to 500).map(i => (1L, i.toLong))
    val cold = Seq((2L, 7L), (2L, 3L), (3L, 9L))
    val df = (hot ++ cold).toDF("k", "v")
    val plain = Dedup.topKPerKey(df, 3, Seq("k"), Seq(col("v").desc))
      .as[(Long, Long)].collect().toSet
    val salted = Dedup.topKPerKeySalted(df, 3, Seq("k"), Seq(col("v").desc),
      saltOn = Seq(col("v")), saltBuckets = 8)
      .as[(Long, Long)].collect().toSet
    assert(salted == plain)
  }
}
