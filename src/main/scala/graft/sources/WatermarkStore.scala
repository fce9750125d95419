package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession

/** The reference's incremental-state file — a JSON map
  * `{source -> ISO-8601 last-processed timestamp}` in object storage
  * (reference `embeddings-pipeline.py:106-130,374-395`).
  *
  * Semantics preserved: a missing file means full backfill (empty map);
  * state is written only *after* a successful merge (DAG edge `:480`);
  * timestamps are ISO-8601 strings on disk. Uses the Hadoop FS API so the
  * same code serves local disk, HDFS or object stores.
  */
object WatermarkStore {

  def read(spark: SparkSession, path: String): Map[String, java.sql.Timestamp] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val raw = try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toString(StandardCharsets.UTF_8.name())
    } finally in.close()
    parse(raw)
  }

  /** Atomic-ish write: temp file + rename. */
  def write(spark: SparkSession, path: String,
      state: Map[String, java.sql.Timestamp]): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(render(state).getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** Merge new per-source maxima into prior state (A2/A4 fan-in,
    * `embeddings-pipeline.py:365-372`): keep the greater timestamp. */
  def advance(prior: Map[String, java.sql.Timestamp],
      fresh: Map[String, java.sql.Timestamp]): Map[String, java.sql.Timestamp] =
    (prior.keySet ++ fresh.keySet).map { k =>
      val v = (prior.get(k), fresh.get(k)) match {
        case (Some(a), Some(b)) => if (a.after(b)) a else b
        case (a, b)             => a.orElse(b).get
      }
      k -> v
    }.toMap

  // -- minimal JSON codec for the flat string->string map ---------------

  private[sources] def render(state: Map[String, java.sql.Timestamp]): String =
    state.toSeq.sortBy(_._1).map { case (k, v) =>
      s"""  "${escape(k)}": "${v.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime}""""
    }.mkString("{\n", ",\n", "\n}")

  private[sources] def parse(raw: String): Map[String, java.sql.Timestamp] = {
    val entry = """"((?:[^"\\]|\\.)*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    entry.findAllMatchIn(raw).map { m =>
      unescape(m.group(1)) ->
        java.sql.Timestamp.from(
          java.time.LocalDateTime.parse(m.group(2)).toInstant(java.time.ZoneOffset.UTC))
    }.toMap
  }

  private def escape(s: String): String =
    s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString }
  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")
}
