package graft

/** The shared-build table ([[SparkEntry.sharedBuilds]]) must not outlive
  * its sessions (VERDICT r8 #4) and must name its consumers exactly.
  * Eviction is wired to each session's application-end listener; the
  * per-row tests drive the listener's exact eviction call per session and
  * assert the store never grows across session lifecycles. */
class SharedCcSpec extends SparkSpecBase {

  SparkEntry.sharedBuilds.foreach { row =>
    val dir = "/root/testdata/sf0.001"
    test(s"shared build ${row.name}: per-session values, a rebuild is a hit, " +
        "eviction returns to base") {
      val base = row.size
      val s1 = spark.newSession()
      val s2 = spark.newSession()
      val v1 = row(s1, dir)
      assert(row.isCached(s1, dir) && !row.isCached(s2, dir))
      assert(row.size == base + 1)
      val v2 = row(s2, dir)
      assert(!(v2 eq v1), "sessions must not share values")
      assert(row.size == base + 2)
      assert(row(s2, dir) eq v2, "a second read for the same session must be a hit")
      assert(row.size == base + 2)

      // what the application-end listener runs, driven per closed session
      SharedBuild.evict(SharedBuild.sessionKey(s1))
      assert(row.size == base + 1, "s1's value survived eviction")
      SharedBuild.evict(SharedBuild.sessionKey(s2))
      assert(row.size == base, "the store grew across two session lifecycles")

      // eviction is not poisoning: a fresh build for the session works
      row.build(s1, dir)
      assert(row.size == base + 1)
      SharedBuild.evict(SharedBuild.sessionKey(s1))
      assert(row.size == base)
    }
  }

  test("shared-CC cache evicts per session; map does not grow across lifecycles") {
    val dir = "/root/testdata/sf0.001"
    val cc = SparkEntry.ccSharedBuild
    val base = cc.size
    val s1 = spark.newSession()
    SparkEntry.buildSharedCc(s1, dir)
    assert(cc.size == base + 1)
    val s2 = spark.newSession()
    SparkEntry.buildSharedCc(s2, dir)
    assert(cc.size == base + 2, "sessions must not share entries")
    // second build for the SAME session+dir is a cache hit, not growth
    SparkEntry.buildSharedCc(s2, dir)
    assert(cc.size == base + 2)

    // what the application-end listener runs, driven per closed session
    SharedBuild.evict(SharedBuild.sessionKey(s1))
    assert(cc.size == base + 1, "s1's entries survived eviction")
    SharedBuild.evict(SharedBuild.sessionKey(s2))
    assert(cc.size == base, "map grew across two session lifecycles")

    // eviction is not poisoning: a fresh build for the session works
    SparkEntry.buildSharedCc(s1, dir)
    assert(cc.size == base + 1)
    SharedBuild.evict(SharedBuild.sessionKey(s1))
    assert(cc.size == base)
  }

  test("shared BPE merge cache rides the same per-session eviction") {
    val dir = "/root/testdata/sf0.001"
    val bpe = SparkEntry.bpeMergesShared
    val base = bpe.size
    val s1 = spark.newSession()
    bpe.build(s1, dir)
    assert(bpe.size == base + 1)
    bpe.build(s1, dir) // hit, not growth
    assert(bpe.size == base + 1)
    SharedBuild.evict(SharedBuild.sessionKey(s1))
    assert(bpe.size == base, "BPE cache survived session end")
  }

  test("constructing each query populates exactly the builds naming it a consumer") {
    val dir = "/root/testdata/sf0.001"
    val unknown = SparkEntry.sharedBuilds.flatMap(_.consumers).toSet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"consumers that are not registered queries: $unknown")
    val s = spark.newSession()
    val drift = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, fn) =>
      SharedBuild.evict(SharedBuild.sessionKey(s))
      fn(s, dir)
      val read = SparkEntry.sharedBuilds.filter(_.isCached(s, dir)).map(_.name).toSet
      val named = SparkEntry.sharedBuilds.filter(_.consumers(q)).map(_.name).toSet
      if (read == named) None
      else Some(s"$q reads [${read.toSeq.sorted.mkString(", ")}] " +
        s"but is named by [${named.toSeq.sorted.mkString(", ")}]")
    }
    SharedBuild.evict(SharedBuild.sessionKey(s))
    assert(drift.isEmpty, drift.mkString("\n", "\n", ""))
  }
}
