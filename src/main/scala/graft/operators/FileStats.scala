package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Per-file column statistics for manifest-bucketed tables — Delta/Iceberg
  * style DATA SKIPPING, reduced to what the engine's read paths need.
  *
  * At commit time [[Upsert.commitSnapshot]] reads the parquet FOOTERS of
  * the run's new files (pure metadata I/O, same cost class as the file
  * listing the commit already does — nothing rescans data) and records
  * min/max/null-count per supported top-level column in the manifest under
  * a flat `"file_stats"` object, plus one `__rows` row-count entry per
  * file (round 17 — the stats-only aggregate answer for `COUNT(*)`).
  * Untouched buckets carry their previous entries forward, so stats stay
  * exact for every referenced file without ever re-opening old files.
  *
  * At read time [[Upsert.readManifestTable]] accepts [[ColRange]]
  * predicates and drops manifest entries whose recorded interval cannot
  * intersect them — BEFORE Spark ever lists or opens the file. Bucket
  * pruning already kills key-equality lookups; file stats add the
  * orthogonal axis a 100 TB table is actually range-scanned on (event
  * time, ingest batch, id ranges): a reader asking for one day of a
  * year-long table opens ~1/365 of the files, and the decision costs one
  * manifest read on the driver. Row-group pruning inside a file still
  * happens (files are key-sorted / z-ordered); file-level stats make the
  * same decision WITHOUT the object-store round-trip per footer — at
  * 100 TB the footer reads themselves are the bottleneck this kills.
  *
  * Supported stat types: INT64, INT32, FLOAT, DOUBLE physical parquet
  * columns (covers bigint/int/double/float plus timestamp-micros and
  * date-days, which Spark stores as INT64/INT32), and — round 17
  * (VERDICT r16 #4) — UTF8 STRING columns with TRUNCATED bounds,
  * Iceberg-style: the recorded lower bound is a ≤16-byte prefix of the
  * file's min (a prefix can only SHRINK a lower bound — sound), and the
  * recorded upper bound is a 16-byte prefix of the max with its last
  * byte incremented (carrying left; only WIDENS the upper bound — sound;
  * an all-0xFF prefix records `*` = unbounded). Both comparisons are
  * unsigned lexicographic over UTF-8 bytes, exactly parquet's UTF8
  * ordering, so prefix/equality predicates on string keys (`main_refco`
  * IS one) now prune files; the widen-only property is scalacheck-pinned
  * in FileStatsSpec. A column with no recorded stats never prunes —
  * absence is always safe (legacy manifests included).
  *
  * Encoding is FLAT — `"<relpath>|<col>": "<t>|<min>|<max>|<nulls>"` —
  * so the same regex discipline as the rest of the manifest parser
  * applies (no nested-brace parsing; string bounds are HEX-encoded so
  * values contain no quotes, pipes, or braces). An all-null column
  * encodes empty min/max and still prunes range predicates (a range
  * never matches NULL).
  */
object FileStats {

  /** Longest recorded string bound, in bytes — the Iceberg default.
    * Bounds at or under this length are exact; longer ones are
    * truncation-widened (see above). */
  val StrBoundBytes = 16

  /** Reserved pseudo-column carrying the file's row count
    * (`"cnt|<rows>|<rows>|0"`): real column names are identifiers, so
    * the dunder name can never collide. */
  val RowsCol = "__rows"

  /** One file-column statistic. Numeric columns use decimal-comparable
    * `min`/`max` (None = column all-null in this file). String columns
    * (`typ == "str"`) use `strMin`/`strMax` UTF-8 bound bytes instead:
    * both None = all-null; `strMaxUnbounded` = truncation overflowed, no
    * finite upper bound is recorded. */
  final case class ColStats(typ: String, min: Option[BigDecimal],
      max: Option[BigDecimal], nulls: Long,
      strMin: Option[Seq[Byte]] = None, strMax: Option[Seq[Byte]] = None,
      strMaxUnbounded: Boolean = false)

  /** Unsigned lexicographic byte comparison — parquet's UTF8 order. */
  private[operators] def cmpBytes(a: Seq[Byte], b: Seq[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Truncate a string MIN bound: a byte prefix is ≤ the original in
    * unsigned order, so it can only widen the interval downward. */
  private[operators] def truncMin(bytes: Seq[Byte]): Seq[Byte] =
    bytes.take(StrBoundBytes)

  /** Smallest byte string strictly greater than EVERY string carrying
    * prefix `p`: increment the last non-0xFF byte and drop what follows.
    * None = all bytes are 0xFF — no finite successor exists. */
  private[graft] def prefixSuccessor(p: Seq[Byte]): Option[Seq[Byte]] = {
    val b = p.toArray
    var i = b.length - 1
    while (i >= 0) {
      if ((b(i) & 0xff) != 0xff) {
        b(i) = (b(i) + 1).toByte
        return Some(b.toSeq.take(i + 1))
      }
      i -= 1
    }
    None
  }

  /** Truncate a string MAX bound: the [[prefixSuccessor]] of the 16-byte
    * prefix is strictly above everything sharing it, so truncation can
    * only widen the interval upward. None = every prefix byte was 0xFF —
    * no finite bound exists at this length (unbounded). An untruncated
    * (≤16-byte) max is recorded exactly. */
  private[operators] def truncMax(bytes: Seq[Byte]): Option[Seq[Byte]] =
    if (bytes.length <= StrBoundBytes) Some(bytes)
    else prefixSuccessor(bytes.take(StrBoundBytes))

  /** Inclusive-by-default range predicate over one column. Numeric
    * bounds (`lo`/`hi`) live in the column's PHYSICAL domain: micros
    * since epoch for timestamps, days for dates, the numeric value
    * otherwise. String bounds (`sLo`/`sHi`) are raw UTF-8 bytes. A range
    * carries ONE of the two families; the other stays None. AND-composed
    * by the read path. */
  final case class ColRange(col: String,
      lo: Option[BigDecimal] = None, hi: Option[BigDecimal] = None,
      loInclusive: Boolean = true, hiInclusive: Boolean = true,
      sLo: Option[Seq[Byte]] = None, sHi: Option[Seq[Byte]] = None) {

    /** Could a file with these stats contain a matching row? Missing
      * stats ⇒ yes (never prune blind); all-null column ⇒ no (NULL
      * never satisfies a range); numeric range against string stats (or
      * vice versa) ⇒ yes (type drift never prunes). */
    def mayMatch(s: Option[ColStats]): Boolean = s match {
      case None => true
      case Some(cs) if cs.typ == "str" =>
        if (sLo.isEmpty && sHi.isEmpty) true
        else (cs.strMin, cs.strMax, cs.strMaxUnbounded) match {
          case (None, None, false) => false // all-null file column
          case (mnOpt, mxOpt, unb) =>
            // recorded bounds only WIDEN: strMin ≤ true min,
            // strMax ≥ true max (or unbounded) — so every prune below
            // is implied for the true values too
            val loOk = sLo.forall { l =>
              unb || mxOpt.forall { mx =>
                if (loInclusive) cmpBytes(mx, l) >= 0 else cmpBytes(mx, l) > 0
              }
            }
            val hiOk = sHi.forall { h =>
              mnOpt.forall { mn =>
                if (hiInclusive) cmpBytes(mn, h) <= 0 else cmpBytes(mn, h) < 0
              }
            }
            loOk && hiOk
        }
      case Some(cs) => (cs.min, cs.max) match {
        case _ if lo.isEmpty && hi.isEmpty => true
        case (Some(mn), Some(mx)) =>
          lo.forall(l => if (loInclusive) mx >= l else mx > l) &&
            hi.forall(h => if (hiInclusive) mn <= h else mn < h)
        case _ => false // all-null file column
      }
    }
  }

  object ColRange {
    def eqTo(col: String, v: Long): ColRange =
      ColRange(col, Some(BigDecimal(v)), Some(BigDecimal(v)))
    def atLeast(col: String, v: Long): ColRange =
      ColRange(col, lo = Some(BigDecimal(v)))
    def between(col: String, lo: Long, hi: Long): ColRange =
      ColRange(col, Some(BigDecimal(lo)), Some(BigDecimal(hi)))
    def strEq(col: String, v: String): ColRange = {
      val b = v.getBytes("UTF-8").toSeq
      ColRange(col, sLo = Some(b), sHi = Some(b))
    }
  }

  /** Read footers of `files` (relativePath → absolutePath) and collect
    * stats for `cols`, plus the [[RowsCol]] row count. A column is
    * recorded only when EVERY row group carries usable statistics for
    * it — a single stats-less row group makes the whole file's column
    * unknown (conservative: unknown never prunes). Unsupported physical
    * types are skipped silently. */
  def collect(conf: Configuration, files: Seq[(String, String)],
      cols: Seq[String]): Map[String, Map[String, ColStats]] = {
    val wanted = cols.toSet
    files.map { case (rel, abs) =>
      rel -> collectOne(conf, abs, wanted)
    }.toMap
  }

  // per-column fold state across row groups: numeric or string bounds
  private final case class Acc(tag: String, mn: Option[BigDecimal],
      mx: Option[BigDecimal], bMn: Option[Seq[Byte]], bMx: Option[Seq[Byte]],
      nulls: Long)

  private def collectOne(conf: Configuration, absPath: String,
      wanted: Set[String]): Map[String, ColStats] = {
    val in = HadoopInputFile.fromPath(new Path(absPath), conf)
    val reader = ParquetFileReader.open(in)
    try {
      val acc = scala.collection.mutable.Map.empty[String, Acc]
      var bad = Set.empty[String]
      var rows = 0L
      reader.getFooter.getBlocks.forEach { bg =>
        rows += bg.getRowCount
        bg.getColumns.forEach { cc =>
          val path = cc.getPath.toArray
          if (path.length == 1 && wanted.contains(path(0)) && !bad(path(0))) {
            val name = path(0)
            val prim = cc.getPrimitiveType
            val tag = prim.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT64 => "i64"
              case PrimitiveTypeName.INT32 => "i32"
              case PrimitiveTypeName.DOUBLE => "f64"
              case PrimitiveTypeName.FLOAT => "f32"
              case PrimitiveTypeName.BINARY
                  if prim.getLogicalTypeAnnotation ==
                    LogicalTypeAnnotation.stringType() => "str"
              case _ => null
            }
            val st = cc.getStatistics
            if (tag == null || st == null || st.isEmpty && cc.getValueCount > 0) {
              bad += name; acc.remove(name)
            } else {
              val prev = acc.getOrElse(name, Acc(tag, None, None, None, None, 0L))
              if (prev.tag != tag) { bad += name; acc.remove(name) }
              else if (!st.hasNonNullValue)
                acc(name) = prev.copy(nulls = prev.nulls + st.getNumNulls)
              else if (tag == "str") {
                val mn = st.genericGetMin.asInstanceOf[Binary].getBytes.toSeq
                val mx = st.genericGetMax.asInstanceOf[Binary].getBytes.toSeq
                acc(name) = prev.copy(
                  bMn = Some(prev.bMn.filter(cmpBytes(_, mn) < 0).getOrElse(mn)),
                  bMx = Some(prev.bMx.filter(cmpBytes(_, mx) > 0).getOrElse(mx)),
                  nulls = prev.nulls + st.getNumNulls)
              } else {
                val mn = toDecimal(st.genericGetMin.asInstanceOf[AnyRef])
                val mx = toDecimal(st.genericGetMax.asInstanceOf[AnyRef])
                acc(name) = prev.copy(
                  mn = Some(prev.mn.filter(_ < mn).getOrElse(mn)),
                  mx = Some(prev.mx.filter(_ > mx).getOrElse(mx)),
                  nulls = prev.nulls + st.getNumNulls)
              }
            }
          }
        }
      }
      val byCol = acc.iterator.map { case (c, a) =>
        if (a.tag == "str") {
          val (tMax, unb) = a.bMx.map(truncMax) match {
            case Some(Some(t)) => (Some(t), false)
            case Some(None) => (None, true) // 0xFF overflow: unbounded
            case None => (None, false)      // all-null
          }
          c -> ColStats("str", None, None, a.nulls,
            strMin = a.bMn.map(truncMin), strMax = tMax, strMaxUnbounded = unb)
        } else c -> ColStats(a.tag, a.mn, a.mx, a.nulls)
      }.toMap
      // row count rides along whenever any stats collection happens —
      // the manifest-only COUNT(*) answer (aggregate pushdown, r17)
      byCol + (RowsCol -> ColStats("cnt",
        Some(BigDecimal(rows)), Some(BigDecimal(rows)), 0L))
    } finally reader.close()
  }

  private def toDecimal(v: AnyRef): BigDecimal = v match {
    case l: java.lang.Long => BigDecimal(l.longValue())
    case i: java.lang.Integer => BigDecimal(i.intValue())
    case d: java.lang.Double => BigDecimal(java.lang.Double.toString(d))
    case f: java.lang.Float => BigDecimal(java.lang.Float.toString(f))
    case other => BigDecimal(other.toString)
  }

  /** The file's recorded row count, if this manifest carries one. */
  def rowCount(byCol: Map[String, ColStats]): Option[Long] =
    byCol.get(RowsCol).flatMap(_.min).map(_.toLong)

  // ---- flat JSON encoding ------------------------------------------------
  // "file_stats": {"<rel>|<col>": "<t>|<min>|<max>|<nulls>", ...}
  // Paths are generated (no '|' or '"'); column names are identifiers.
  // String bounds are hex so the value charset stays parser-safe; '*' in
  // the max slot = unbounded upper.

  private def hex(b: Seq[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString

  private def unhex(s: String): Seq[Byte] =
    s.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toSeq

  /** Render the flat file_stats object body (no surrounding braces). */
  def encode(stats: Map[String, Map[String, ColStats]]): String =
    stats.toSeq.sortBy(_._1).flatMap { case (rel, byCol) =>
      byCol.toSeq.sortBy(_._1).map { case (c, s) =>
        val (mn, mx) =
          if (s.typ == "str")
            (s.strMin.map(hex).getOrElse(""),
              if (s.strMaxUnbounded) "*" else s.strMax.map(hex).getOrElse(""))
          else
            (s.min.map(_.bigDecimal.toPlainString).getOrElse(""),
              s.max.map(_.bigDecimal.toPlainString).getOrElse(""))
        s""""$rel|$c": "${s.typ}|$mn|$mx|${s.nulls}""""
      }
    }.mkString(",")

  /** Parse a manifest body's file_stats object back to the stats map.
    * Absent field (pre-round-10 manifests) parses as empty. */
  def parse(body: String): Map[String, Map[String, ColStats]] = {
    val obj = """"file_stats"\s*:\s*\{([^}]*)\}""".r
      .findFirstMatchIn(body).map(_.group(1)).getOrElse("")
    val entry = """"([^"|]+)\|([^"|]+)"\s*:\s*"([^"|]*)\|([^"|]*)\|([^"|]*)\|([^"|]*)"""".r
    entry.findAllMatchIn(obj).toSeq.groupBy(_.group(1)).map { case (rel, ms) =>
      rel -> ms.map { m =>
        val typ = m.group(3)
        val stats =
          if (typ == "str") {
            val mn = if (m.group(4).isEmpty) None else Some(unhex(m.group(4)))
            val (mx, unb) =
              if (m.group(5) == "*") (None, true)
              else if (m.group(5).isEmpty) (None, false)
              else (Some(unhex(m.group(5))), false)
            ColStats(typ, None, None, m.group(6).toLong, mn, mx, unb)
          } else {
            val mn = if (m.group(4).isEmpty) None else Some(BigDecimal(m.group(4)))
            val mx = if (m.group(5).isEmpty) None else Some(BigDecimal(m.group(5)))
            ColStats(typ, mn, mx, m.group(6).toLong)
          }
        m.group(2) -> stats
      }.toMap
    }
  }

  /** Partition `files` (relative paths) into (kept, pruned) under the
    * AND of `ranges`, given a manifest's stats map. */
  def split(stats: Map[String, Map[String, ColStats]],
      files: Seq[String], ranges: Seq[ColRange]): (Seq[String], Seq[String]) =
    files.partition { rel =>
      val byCol = stats.getOrElse(rel, Map.empty)
      ranges.forall(r => r.mayMatch(byCol.get(r.col)))
    }
}
