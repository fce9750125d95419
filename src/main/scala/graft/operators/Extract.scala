package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.functions.F
import graft.schema.Schemas

/** The reference's extract+transform stage re-expressed as one declarative
  * projection (reference `embeddings-pipeline.py:132-273`).
  *
  * The reference paginates Mongo in 1000-doc batches and loops per document
  * in Python; here the whole thing is a single `select` over a document
  * DataFrame — Catalyst pushes the filters and column pruning into the scan
  * and whole-stage codegen fuses the projection, so it parallelizes across
  * however many partitions the source has (the 100 TB path).
  */
object Extract {

  /** F2: embeddings non-null, present and non-empty
    * (`embeddings-pipeline.py:147`; `size` returns -1/0 for null/empty so
    * `isNotNull && size > 0` covers all three Mongo clauses). */
  def nonEmptyEmbeddings(df: DataFrame, col: String = "embeddings"): DataFrame =
    df.where(df(col).isNotNull && size(df(col)) > 0)

  /** F3/F4: per-source incremental filter — strict `>` against the
    * per-source watermark, inclusive `>=` against the fallback date when a
    * source has no watermark yet (`embeddings-pipeline.py:151-158`).
    *
    * `watermarks` is a tiny (source, wm) DataFrame — broadcast so the
    * filter costs one map-side hash probe per row, never a shuffle, but
    * the broadcast is a Spark job of its own. A caller holding the
    * watermarks on the driver (`graft.Pipeline`) uses [[sinceWatermarks]],
    * which needs neither the join nor the job.
    */
  def incrementalFilter(
      df: DataFrame,
      watermarks: DataFrame,
      fallback: Timestamp,
      tsCol: String = "timestamp",
      srcCol: String = "source"): DataFrame = {
    val wm = broadcast(watermarks.withColumnRenamed("wm", "__wm"))
    df.join(wm, Seq(srcCol), "left")
      .where(when(col("__wm").isNotNull, col(tsCol) > col("__wm"))
        .otherwise(col(tsCol) >= lit(fallback)))
      .drop("__wm")
  }

  /** [[incrementalFilter]] for watermarks held on the driver, over the
    * `source` and `timestamp` columns: each row's source is looked up in
    * a `map<source, wm>` literal, so the plan has no join and building it
    * runs no broadcast job. A source missing from the map, or a null
    * source, takes the fallback. */
  def sinceWatermarks(
      df: DataFrame,
      watermarks: Map[String, Timestamp],
      fallback: Timestamp): DataFrame = {
    val wm = typedLit(watermarks).apply(col("source"))
    df.where(when(wm.isNotNull, col("timestamp") > wm)
      .otherwise(col("timestamp") >= lit(fallback)))
  }

  /** P2–P4: the normalized, truncated merge key
    * (`embeddings-pipeline.py:198-207`): `cleaned_ref` suffixed with
    * `_color` only when color is non-empty, collation-normalized, capped. */
  def mainRefco(cleanedRef: Column, color: Column,
      maxLen: Int = Schemas.MainRefcoMaxLength): Column =
    substring(
      F.normalizeKey(concat_ws("_", cleanedRef, F.emptyToNull(color))),
      1, maxLen)

  /** P5: first element of `country` when non-empty, else null
    * (`embeddings-pipeline.py:210-214`; contract schema fixes
    * array<string>, scalar inputs are normalized at ingest via
    * [[coerceCountry]]). */
  def countryCode(country: Column): Column =
    when(size(country) > 0, element_at(country, 1))

  /** P5 ingest normalization: the reference accepts `country` as either a
    * list or a scalar string (`embeddings-pipeline.py:211-214` isinstance
    * checks). Normalize whatever the source delivered to `array<string>`:
    * scalar non-empty string → 1-element array; empty string / null →
    * null; arrays pass through. */
  def coerceCountry(df: DataFrame, c: String = "country"): DataFrame =
    df.schema(c).dataType match {
      case ArrayType(StringType, _) => df
      case StringType =>
        df.withColumn(c, when(col(c).isNotNull && col(c) =!= "", array(col(c))))
      case other =>
        df.withColumn(c,
          when(col(c).isNotNull, array(col(c).cast(StringType))))
    }

  /** P10 per-row error isolation (`embeddings-pipeline.py:183,233-235`):
    * the reference wraps each document in try/except — malformed rows are
    * logged and skipped, the batch continues. Vectorized execution has no
    * exceptions, so validation predicates split the input instead: rows
    * failing any check go to the quarantine side output with the list of
    * failed checks; good rows continue. One narrow projection, no shuffle.
    */
  def quarantine(df: DataFrame,
      embCol: String = "embeddings",
      tsCol: String = "timestamp",
      dim: Int = Schemas.EmbeddingDim,
      enforceDim: Boolean = false): (DataFrame, DataFrame) = {
    val flagged = flagErrors(df, embCol, tsCol, dim, enforceDim)
    val good = flagged.where(size(col("__errors")) === 0).drop("__errors")
    val bad = flagged.where(size(col("__errors")) > 0)
    (good, bad)
  }

  /** The P10 validation projection itself: every row flagged with its
    * failed checks in `__errors` (empty array = good). Lets callers count
    * or route bad rows in the SAME pass that consumes the good ones (via
    * `observe`), instead of re-scanning the source for the bad side.
    * When `df` carries a `source` column, a null source is flagged
    * `null_source`: it has no watermark key, so it could never advance
    * state. */
  def flagErrors(df: DataFrame,
      embCol: String = "embeddings",
      tsCol: String = "timestamp",
      dim: Int = Schemas.EmbeddingDim,
      enforceDim: Boolean = false,
      extraChecks: Seq[(String, Column)] = Nil): DataFrame = {
    val checks: Seq[(String, Column)] = Seq(
      "null_timestamp" -> col(tsCol).isNull,
      "empty_embedding" -> (col(embCol).isNull || size(col(embCol)) === 0)) ++
      (if (enforceDim) Seq("bad_vector_dim" -> (size(col(embCol)) =!= dim)) else Nil) ++
      (if (df.columns.contains("source")) Seq("null_source" -> col("source").isNull)
       else Nil) ++
      extraChecks
    val errs = array(checks.map { case (n, c) =>
      when(c, lit(n)).otherwise(lit(null))
    }: _*)
    df.withColumn("__errors", filter(errs, e => e.isNotNull))
  }

  /** P6: `"{source} ({country_code})"` — preserving the Python f-string
    * quirk that a missing country formats as the literal `"None"`
    * (`embeddings-pipeline.py:216`). */
  def displayName(source: Column, countryCode: Column): Column =
    concat(source, lit(" ("), coalesce(countryCode, lit("None")), lit(")"))

  /** P7: `timestamp.isoformat()` — Python omits the fraction entirely when
    * microseconds are zero (`embeddings-pipeline.py:227`). */
  def isoTimestamp(ts: Column): Column =
    when(date_format(ts, "SSSSSS") === "000000",
      date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"))
      .otherwise(date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))

  /** P1–P8: the full per-document transform producing the staged-record
    * contract schema (`embeddings-pipeline.py:182-235`, FIXTURES.md §A.2).
    * Rows lacking a timestamp are dropped, mirroring the per-doc
    * KeyError→skip path (`:227,233-235`). */
  /** @param keep source columns carried through the projection unchanged
    *   (e.g. `source`/`timestamp` for downstream partitioning/watermarks —
    *   referencing them *after* this projection would be unresolvable). */
  def deriveRecord(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val cc = countryCode(col("country"))
    docs
      .where(col("timestamp").isNotNull)
      .select(Seq(
        coalesce(col("cleaned_ref"), lit("")).as("cleaned_ref"),
        coalesce(col("category"), lit("")).as("category"),
        mainRefco(coalesce(col("cleaned_ref"), lit("")), coalesce(col("color"), lit("")))
          .as("main_refco"),
        displayName(col("source"), cc).as("display_name"),
        col("embeddings_type"),
        coalesce(col("for_matching"), lit(false)).as("for_matching"),
        col("embeddings").as("embedding_vector"),
        isoTimestamp(col("timestamp")).as("original_timestamp")) ++
        keep.map(col): _*)
  }
}
