package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // 4 queries in flight: Spark schedules concurrent actions from separate
    // threads; every query writes its own directory, so runs are
    // independent and the wall time is bounded by the slowest stragglers
    // instead of the serial sum.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // Per-query self-report (round-5 lesson: the driver's correctness file
    // came back empty with no way to tell which side died — now every run
    // leaves a verify_status.json naming each query's outcome and cost).
    val status =
      new java.util.concurrent.ConcurrentHashMap[String, (String, Double)]()
    // Optional local-iteration subset: SPARK_GRAFT_ONLY=q1,q2 runs just
    // those queries (and dumps just their oracles). Unset → full suite,
    // which is what the driver runs.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val tasks = SparkEntry.queries.toSeq.filter(t => selected(t._1)).map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val t0 = System.nanoTime()
          def secs = (System.nanoTime() - t0) / 1e9
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            status.put(name, ("ok", secs))
          } catch { case e: Throwable =>
            status.put(name, (s"err: ${e.getMessage}", secs))
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Static oracles + the data-dependent completions (AutoPlanes gate
    // family): the latter interpolate literals derived from THIS corpus's
    // plan statistics, so they can only be generated here, where the
    // session and sfDir are in hand — "oracle-build time".
    val json = (SparkEntry.oracleSql ++
        SparkEntry.dataDependentOracles(spark, sfDir))
      .filter(t => selected(t._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val statusJson = {
      import scala.jdk.CollectionConverters._
      status.asScala.toSeq.sortBy(_._1).map { case (name, (st, s)) =>
        s"${q(name)}: {${q("status")}: ${q(st)}, ${q("seconds")}: ${String.format(java.util.Locale.ROOT, "%.2f", Double.box(s))}}"
      }.mkString("{", ",", "}")
    }
    Files.writeString(Paths.get(s"$outDir/verify_status.json"), statusJson)
    spark.stop()
  }
}
