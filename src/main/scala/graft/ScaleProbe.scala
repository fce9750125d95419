package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Parquet

/** Compute-bound scaling probe (round 19, VERDICT r18 #5).
  *
  * The driver's 8-vs-32-core comparison at sf0.1 carries no parallelism
  * signal: nearly every entry is 0.1–3 s and floored by fixed per-job
  * scheduling, so every ratio reads ≈1 and parallelism claims are
  * unfalsifiable. This tool manufactures a larger deterministic input by
  * REPLICATING the sf0.1 tables `copies`× with every join/identity key
  * offset per copy (so self-joins, graphs and dedup structures stay
  * disjoint across copies — work scales linearly, never quadratically;
  * dimension tables nation/region are NOT replicated, and foreign keys
  * shift consistently within a copy), then times a fixed list of
  * LINEAR-SHAPE declared queries against it with the noop sink at the
  * session's core count.
  *
  * This is measurement infrastructure only: it writes exclusively under
  * /tmp, is NOT part of the bench contract (`graft.Bench` is untouched),
  * and no declared query reads anything this tool produces. Run once per
  * core count:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleProbe"
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.ScaleProbe"
  *
  * Env: SPARK_GRAFT_SCALE_SRC (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE_COPIES (default 10), SPARK_GRAFT_SCALE_DIR
  * (default /tmp/graft_scale_x<copies>), SPARK_GRAFT_SCALE_ONLY
  * (comma list overriding the probe set). Prints one JSON line:
  * {"metric":"scale_probe","copies":N,"cpus":C,"queries":{name:sec},...}
  */
object ScaleProbe {

  /** Queries whose work is LINEAR in the replicated input. Deliberately
    * excluded: the *_recall harnesses and cosine_topk (the exact side is
    * the labeled quadratic operator — copies² pairs), and the text
    * near-dup pair family (replicated documents share every shingle, so
    * the blocked self-join fans out copies² pairs per block — real, but
    * it measures the replication artifact, not the operator). */
  private val DefaultProbe = Seq(
    // TPC-H joins/aggregates over offset keys
    "q1_agg", "q3_shipping_priority", "q18_big_orders", "q21_waiting_supplier",
    // iterative graph loops (disjoint per-copy subgraphs share item nodes)
    "pagerank", "trustrank", "communities", "kcore", "bfs_layers",
    "triangle_count", "clustering_coeff",
    // sessionization / windows / time series
    "sessionize", "sessionize_chunked", "session_paths", "winsorize",
    // token-keyed text aggregates (vocab-bounded exchanges)
    "bigram_surprisal", "unigram_encode", "tfidf_topk", "tokenizer_fertility",
    "langid_calibration", "dsir_scores",
    // capped co-occurrence (the skew-bounded pair join)
    "item_cooccurrence")

  /** Per-table identity/join keys shifted by copy·OFFSET. Consistent
    * within a copy ⇒ referential structure preserved; disjoint across
    * copies ⇒ no cross-copy joins. nationkey/regionkey stay put (dims
    * are shared, not replicated). */
  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** ≫ any base id; ≡ 0 mod 10 so id-modulo block structures (the
    * doc-clique graphs, the %50 benchmark split) replicate cleanly. */
  private val Offset = 1000000000000L

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale_x$copies")
    val probe = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(DefaultProbe)
    // heap comes from the forked JVM's -Xmx (build.sbt: SPARK_DRIVER_MEM)
    val spark = GraftSession.local(cpus)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try {
      buildIfMissing(spark, src, dir, copies, cpus)
      val times = probe.map { name =>
        val fn = SparkEntry.queries.getOrElse(name,
          sys.error(s"unknown query: $name"))
        // warmup once (codegen/JIT), then median of 3 timed noop runs —
        // the Bench methodology at probe scale
        spark.sparkContext.setJobDescription(s"scaleprobe:$name:warmup")
        noop(fn(spark, dir))
        val samples = (1 to 3).map { i =>
          spark.sparkContext.setJobDescription(s"scaleprobe:$name:$i")
          val t0 = System.nanoTime()
          noop(fn(spark, dir))
          (System.nanoTime() - t0) / 1e9
        }.sorted
        name -> samples(1)
      }
      val q = times.map { case (n, s) => s""""$n":${f"$s%.3f"}""" }
        .mkString(",")
      println(s"""{"metric":"scale_probe","copies":$copies,"cpus":$cpus,""" +
        s""""src":"$src","dir":"$dir","queries":{$q}}""")
    } finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def buildIfMissing(spark: SparkSession, src: String, dir: String,
      copies: Int, cpus: Int): Unit = {
    val marker = new java.io.File(s"$dir/_SCALE_OK_$copies")
    if (marker.exists()) return
    val t0 = System.nanoTime()
    for ((table, keys) <- keyCols.toSeq.sortBy(_._1)) {
      val base = Parquet.read(spark, s"$src/$table.parquet")
      val stacked = (0 until copies).map { i =>
        keys.foldLeft(base) { (d, k) =>
          d.withColumn(k, (col(k) + lit(i * Offset)).cast(base.schema(k).dataType))
        }
      }.reduce(_ unionByName _)
      // enough files that downstream scans parallelize AND skewed keys
      // scatter across map outputs (cf. SkewHandlingSpec)
      stacked.repartition(cpus * 2)
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
    }
    for (dim <- Seq("nation", "region")) {
      Parquet.read(spark, s"$src/$dim.parquet")
        .write.mode("overwrite").parquet(s"$dir/$dim.parquet")
    }
    marker.getParentFile.mkdirs()
    marker.createNewFile()
    System.err.println(f"[scaleprobe] built $dir (${copies}x $src) in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
