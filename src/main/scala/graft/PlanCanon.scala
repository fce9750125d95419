package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The CANONICAL plan map protocol (VERDICT r15 #2): one authoritative,
  * committed rendering of every registered entry's normalized physical
  * plan, so a plan regression is a failing test naming the entry — not a
  * post-hoc bench-artifact diff.
  *
  * - `bench/plans_canonical/<name>.txt` holds the [[PlanNorm]]-normalized
  *   plan of each `SparkEntry.queries` entry plus the nine labeled
  *   shared-build frames, built under the OFFICIAL bench knobs (sf0.1
  *   data, shuffle.partitions = 4, maxMetadataStringLength = 100000 so
  *   the truncation point — which depends on raw exprId token lengths —
  *   never fires on a real plan) so the map is byte-comparable with what
  *   `graft.Bench` fingerprints — one artifact, no run-vs-committed
  *   provenance wrinkle.
  * - [[PlanSnap]] regenerates the directory. Regeneration is the
  *   EXPLICIT, reviewed action: run it after an intentional plan change
  *   and review the git diff for the shapes that matter (new shuffles,
  *   lost broadcasts, lost pushdown).
  * - `PlanGateSpec` rebuilds every entry's plan in-process and fails on
  *   any divergence from the committed map, naming the entry and writing
  *   the rebuilt text to `target/plans_gate/` for diffing.
  */
object PlanCanon {

  val canonicalDir = "bench/plans_canonical"

  /** A fresh session under [[GraftSession.renderingConfs]] — per use, so
    * neither the bench JVM nor the test JVM leaks its own defaults into
    * the rendering. Partition counts ride in Exchange nodes, so
    * shuffle.partitions is part of the rendering. */
  def configured(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", 4)
    GraftSession.renderingConfs.foreach { case (k, v) => s.conf.set(k, v) }
    // plan RENDERING (treeString truncation width) reads SQLConf.get,
    // which resolves through the thread's ACTIVE session — without this
    // the new session's width is ignored and metadata truncates at the
    // caller session's default 100 chars
    SparkSession.setActiveSession(s)
    s
  }

  /** Build every shared build (the Bench recycle set) — construction of
    * a dependent entry would otherwise trigger the build mid-render. */
  def buildSharedCaches(s: SparkSession, sfDir: String): Unit =
    SparkEntry.sharedBuilds.foreach(_.build(s, sfDir))

  /** Every fingerprinted frame: the registered queries plus the labeled
    * shared-build corpus-facing stages, name-sorted. */
  def frames(s: SparkSession, sfDir: String): Seq[(String, () => DataFrame)] =
    (SparkEntry.queries.toSeq.map { case (n, fn) => n -> (() => fn(s, sfDir)) } ++
      labeledBuildFrames(s, sfDir)).sortBy(_._1)

  /** The labeled shared builds' plan frames, by label. */
  def labeledBuildFrames(s: SparkSession, sfDir: String): Seq[(String, () => DataFrame)] =
    SparkEntry.sharedBuilds.flatMap(b => b.planFrame.map(f => b.name -> (() => f(s, sfDir))))

  /** Fingerprint protocol v2 (round 16): normalize the PLAIN
    * `executedPlan.toString`, NOT `.canonicalized.toString`. The r15
    * protocol canonicalized first, but canonicalization REORDERS
    * commutative operands by hashCode, and expression trees that carry a
    * Java enum (`NumericEvalContext(ANSI,…)` etc.) inherit the enum's
    * IDENTITY hashCode — per-JVM — so 6–9 entries' renderings flipped
    * between fresh JVMs on identical code (caught by back-to-back
    * PlanSnap runs; url/langid/q19/unigram_fertility families). The raw
    * rendering makes no hash-order decisions and measured 0/231 unstable
    * across fresh JVMs, keeps real column names (more reviewable diffs),
    * and the remaining run-varying tokens (exprIds, lambda counters,
    * multi-distinct Expand/functions order) are exactly what [[PlanNorm]]
    * already normalizes textually. Protocol break is one-time: r16
    * hashes are not comparable to r15's — diff the committed TEXT. */
  def normalizedPlan(mk: () => DataFrame): String =
    PlanNorm.normalize(mk().queryExecution.executedPlan.toString)
}

/** Regenerate the canonical plan map — `runMain graft.PlanSnap [sfDir]`.
  * Clears and rewrites [[PlanCanon.canonicalDir]]; review the git diff. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val outDir = java.nio.file.Paths.get(
      args.lift(1).getOrElse(PlanCanon.canonicalDir))
    val base = GraftSession.local(4)
    val s = PlanCanon.configured(base)
    PlanCanon.buildSharedCaches(s, sfDir)
    if (java.nio.file.Files.isDirectory(outDir)) {
      val old = java.nio.file.Files.list(outDir)
      try {
        import scala.jdk.CollectionConverters._
        old.iterator().asScala.foreach(java.nio.file.Files.delete)
      } finally old.close()
    }
    java.nio.file.Files.createDirectories(outDir)
    var failed = 0
    PlanCanon.frames(s, sfDir).foreach { case (name, mk) =>
      try {
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"),
          PlanCanon.normalizedPlan(mk))
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[plansnap] $name FAILED: $e")
      }
    }
    println(s"[plansnap] wrote ${PlanCanon.frames(s, sfDir).size - failed} " +
      s"plans to $outDir (sfDir=$sfDir, failed=$failed)")
    base.stop()
    if (failed > 0) sys.exit(1)
  }
}
