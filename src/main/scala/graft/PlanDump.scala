package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}

/** Plan auditor: writes `PLANS.md` — one row per registered query with
  * the physical-plan shape facts that matter at 100 TB (shuffle count,
  * join strategies, whole-stage-codegen spans, scan pushdown) so plan
  * regressions are reviewable in a diff, not only catchable by the
  * PlanSpec subset. Usage: `runMain graft.PlanDump [sfDir] [outFile]`.
  */
object PlanDump {

  /** Fingerprint of the library sources the audited plans derive from:
    * SHA-256 (truncated) over sorted (relative path, bytes) of every
    * `.scala` under src/main. PLANS.md embeds it and PlanFreshnessSpec
    * recomputes it — the audit FAILS THE BUILD when stale (VERDICT r8
    * #1: a plan audit that silently lags the code catches nothing). */
  def sourceFingerprint(root: String = "src/main/scala"): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val base = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(base)
    try {
      val files = {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala
          .filter(p => p.toString.endsWith(".scala")).toVector
          .sortBy(p => base.relativize(p).toString)
      }
      files.foreach { p =>
        md.update(base.relativize(p).toString.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(p))
      }
      md.digest().take(8).map(b => f"$b%02x").mkString
    } finally walk.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.local(8)

    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case o => Seq(o)
      }
      self ++ p.children.flatMap(flatten)
    }

    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan
        val nodes = flatten(plan)
        def n(sub: String) = nodes.count(_.nodeName.contains(sub))
        val shuffles = nodes.count {
          case _: BroadcastExchangeExec => false
          case _: Exchange => true
          case _ => false
        }
        val broadcasts = nodes.count {
          case _: BroadcastExchangeExec => true
          case _ => false
        }
        val joins = Seq(
          "BHJ" -> n("BroadcastHashJoin"), "SMJ" -> n("SortMergeJoin"),
          "SHJ" -> n("ShuffledHashJoin"), "BNLJ" -> n("BroadcastNestedLoop"))
          .filter(_._2 > 0).map { case (k, v) => s"$v $k" }.mkString(" ")
        val pushed = plan.toString.linesIterator
          .exists(l => l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
        f"| $name | $shuffles | $broadcasts | ${if (joins.isEmpty) "—" else joins} | " +
          f"${n("Generate")} | ${n("Window")} | ${n("WholeStageCodegen")} | " +
          f"${if (pushed) "yes" else "—"} |"
      } catch {
        case e: Exception => s"| $name | (plan failed: ${e.getClass.getSimpleName}) |||||||"
      }
    }

    val header =
      s"""# Physical-plan audit (generated by `graft.PlanDump` on $sfDir)
         |
         |Source fingerprint: ${sourceFingerprint()}
         |(PlanFreshnessSpec fails when this lags the sources — regenerate
         |after any src/main change.)
         |
         |Regenerate: `sbt "runMain graft.PlanDump"`. Shuffle = non-broadcast
         |exchanges; WSCG = whole-stage-codegen spans; pushdown = any
         |non-empty `PushedFilters` on a scan. The scale contract per
         |operator lives in SURVEY.md §2.12; this table is the current
         |plan's shape, so a regression (new shuffle, lost broadcast, lost
         |pushdown) shows up as a diff here. Note: plans are captured
         |BEFORE execution, so AQE-wrapped queries (any with an exchange)
         |show the initial plan — WSCG spans materialize at runtime there,
         |which is why only exchange-free plans report a WSCG count.
         |
         || query | shuffles | broadcasts | joins | generate | window | wscg | pushdown |
         ||---|---|---|---|---|---|---|---|""".stripMargin
    val body = (header +: rows).mkString("\n") + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      body.getBytes("UTF-8"))
    System.err.println(s"[plandump] wrote ${rows.size} rows to $outFile")
    spark.stop()
  }
}
