package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid time-series repair over an event stream — the step
  * between raw events and any trend/anomaly model: models assume a
  * CONTINUOUS axis, but an event table simply has no row for a silent
  * day, and a naive groupBy-day feed silently teaches the model that
  * gaps don't exist (cf. [[Anomaly.madOutlierDays]], whose medians are
  * correct either way but whose day coverage comes from this). */
object TimeSeries {

  /** SQL fragment for the FLOOR bucket of a unix-seconds expression:
    * `(x - pmod(x, w)) div w`. Spark's bare `div` truncates toward zero,
    * which puts 1969-12-31T23:59:59 on day 0 — the calendar-wrong day;
    * pmod's non-negative remainder makes the subtraction land on an
    * exact multiple, so the `div` is exact floor division at every
    * input. Floor also matches `cast(timestamp AS long)` itself, which
    * FLOORS sub-second negatives (−0.5 s → −1, measured) — so the whole
    * second/day/week chain is floor end to end, and the DuckDB oracles
    * mirror it with an explicit floor form (DuckDB's integer `//`
    * truncates, `-7 // 2 = -3`, so a bare `//` would diverge pre-1970 —
    * round-13 ADVICE closure, corrected in both directions). */
  def epochBucketSql(unixSeconds: String, width: Long): String =
    s"($unixSeconds - pmod($unixSeconds, $width)) div $width"

  /** [[epochBucketSql]] at the day width — the integer-calendar day. */
  def epochDaySql(unixSeconds: String): String =
    epochBucketSql(unixSeconds, 86400L)

  /** Per key: the continuous day axis from the key's first to last
    * observed day, with `n` = that day's event count (0 on silent
    * days), `last_n` = the most recent OBSERVED day's count
    * (forward-fill), and `gap_age` = days since that observation (0 on
    * observed days — the staleness signal a freshness monitor pages
    * on). Day = `unix_seconds div 86400`, the integer-calendar
    * discipline.
    *
    * Scale shape: the event stream shuffles ONCE to (key, day) counts;
    * the axis is a per-key `sequence` explode bounded by the key's day
    * span (never the corpus), the fill joins axis-to-counts on
    * (key, day), and the forward-fill windows run per key over
    * |days|-sized partitions. A key silent for years costs rows
    * proportional to its span — the honest representation of that
    * span. */
  def gapFill(events: DataFrame, tsCol: String, keyCol: String): DataFrame = {
    val daily = events
      .select(col(keyCol).as("key"),
        expr(epochDaySql(s"cast($tsCol as long)")).as("day"))
      .groupBy("key", "day").agg(count(lit(1)).as("__obs_n"))
    val axis = daily.groupBy("key")
      .agg(min("day").as("__d0"), max("day").as("__d1"))
      .select(col("key"),
        explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val w = Window.partitionBy("key").orderBy("day")
    axis.join(daily, Seq("key", "day"), "left")
      .withColumn("n", coalesce(col("__obs_n"), lit(0L)))
      .withColumn("last_n", last(col("__obs_n"), ignoreNulls = true).over(w))
      .withColumn("gap_age",
        col("day") - last(when(col("__obs_n").isNotNull, col("day")),
          ignoreNulls = true).over(w))
      .select("key", "day", "n", "last_n", "gap_age")
  }

  /** Exact rolling 7-day active users next to daily actives — the
    * DAU/WAU pair as a daily SERIES (where [[Funnel]]'s stickiness is
    * the scalar ratio): for each day in the observed range, how many
    * distinct keys were active in the trailing `windowDays` days.
    * Exactness without a sliding distinct: each (key, active-day) pair
    * COVERS the `windowDays` days it keeps the key active for — explode
    * the slim distinct pair table by that bounded factor, distinct
    * again ((key, cover-day) — a key active twice in one window counts
    * once), count per day. Trailing days beyond the last observed day
    * are clipped.
    *
    * Scale shape: the event stream collapses to (key, day) ONCE
    * (map-side combined distinct); everything after operates on that
    * slim table ×windowDays — keyed exchanges only, no window
    * functions, no per-day corpus rescans. */
  def rollingActive(events: DataFrame, tsCol: String,
      keyCol: String = "user_id", windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1)
    val ud = events
      .select(col(keyCol).as("key"),
        expr(epochDaySql(s"cast($tsCol as long)")).as("day"))
      .distinct()
    val bounds = ud.agg(min("day"), max("day")).head()
    if (bounds.isNullAt(0)) return ud.sparkSession.emptyDataFrame
      .selectExpr("cast(null as long) day", "cast(null as long) dau",
        s"cast(null as long) wau_${windowDays}d").limit(0)
    val (d0, d1) = (bounds.getLong(0), bounds.getLong(1))
    val cover = ud
      .select(col("key"),
        explode(sequence(col("day"),
          least(col("day") + (windowDays - 1), lit(d1)))).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as(s"wau_${windowDays}d"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    // full day axis d0..d1: a total-outage gap longer than the window
    // must read as explicit zeros — those are exactly the days a
    // monitor pages on, not days to omit
    ud.sparkSession.range(d0, d1 + 1).select(col("id").as("day"))
      .join(cover, Seq("day"), "left")
      .join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col(s"wau_${windowDays}d"), lit(0L))
          .as(s"wau_${windowDays}d"))
  }

  /** Burstiness (Fano factor) of each key's daily event counts — the
    * variance-to-mean ratio of the per-day series, in exact integer
    * milli-units: `F = Var(x)/Mean(x) = (d·Σx² − (Σx)²)/(d·Σx)` over the
    * key's d OBSERVED days. F ≈ 1000 reads Poisson (organic traffic);
    * F ≫ 1000 is bursty (crawl waves, incident retries, batch
    * re-ingests) — the dispersion signal next to
    * [[Anomaly.madOutlierDays]]'s point alerts and `weekly_trend`'s
    * drift. Silent days are deliberately NOT zero-filled (that is
    * [[gapFill]]'s contract): this reads dispersion across days the key
    * actually fired. The numerator `d·Σx² − (Σx)²` is ≥ 0 by
    * Cauchy–Schwarz, so DECIMAL(38,0) floor-division matches the
    * oracle's HUGEINT `//` exactly.
    *
    * Scale shape: the stream collapses to (key, day) counts ONCE
    * (map-side combined), then one per-key rollup of three running sums
    * — no windows, no axis explode; Σx² accumulates in DECIMAL(38,0)
    * (a billion-event day squares past long range). Day =
    * `unix_seconds div 86400`, the integer-calendar discipline. */
  def fanoFactor(events: DataFrame, tsCol: String, keyCol: String): DataFrame =
    fanoFactorFromDaily(countsOf(events, tsCol, keyCol))

  /** [[fanoFactor]] over a pre-aggregated `(key, day, n)` daily-count
    * table — the [[DailyCounts]] profile path: the monitor reads the
    * persisted fold instead of rescanning event history. */
  def fanoFactorFromDaily(daily: DataFrame): DataFrame =
    daily.select(col("key"), col("n").as("__x"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_days"),
        sum("__x").as("n_events"),
        sum(col("__x").cast("decimal(38,0)") * col("__x")).as("__sx2"))
      .withColumn("sum_x2", col("__sx2").cast("long"))
      .withColumn("fano_milli", expr(
        "CAST((n_days * __sx2 - CAST(n_events AS DECIMAL(38,0)) * n_events)" +
          " * 1000 AS DECIMAL(38,0)) div" +
          " (CAST(n_days AS DECIMAL(38,0)) * n_events)"))
      .select("key", "n_days", "n_events", "sum_x2", "fano_milli")

  /** Exact sample autocorrelation of each key's daily-count series at
    * the given lags, in integer milli-units — the seasonality detector:
    * r₇ ≈ 1000 is a hard weekly cycle (weekday/weekend traffic), r₁ high
    * is day-over-day momentum, r ≈ 0 is memoryless. The series is the
    * key's ZERO-FILLED day axis from first to last observed day (unlike
    * [[fanoFactor]]'s observed-days dispersion, a periodicity read-out
    * is meaningless with the silent days cut out).
    *
    * Exactness: `r_ℓ = Σ(xₜ−μ)(xₜ₊ℓ−μ) / Σ(xₜ−μ)²` is computed with the
    * mean CLEARED of division — multiply every deviation by d (the axis
    * length): `dev_t = d·x_t − S` gives `r_ℓ = Σ devₜ·devₜ₊ℓ / Σ devₜ²`
    * exactly, in DECIMAL(38,0). The numerator can be NEGATIVE and
    * Spark's `div` truncates toward zero while SQL `//` floors, so the
    * reported milli value is `sign(num)·(|num|·1000 div den)` — both
    * engines agree on non-negative operands. Constant series (den = 0)
    * and lags beyond the axis report NULL.
    *
    * Scale shape: the stream collapses to (key, day) counts ONCE; the
    * axis explode is bounded by each key's day span; ONE key exchange
    * serves the whole-partition sums and the ordered lead windows
    * (shared sort), and the lag fan-out is |lags| extra columns, not
    * extra passes. */
  /** The `(key, day, n)` daily-count table of an event stream — the
    * shared first exchange of the monitor family, and exactly the frame
    * [[DailyCounts]] persists incrementally. */
  private def countsOf(events: DataFrame, tsCol: String,
      keyCol: String): DataFrame =
    events
      .select(col(keyCol).as("key"),
        expr(epochDaySql(s"cast($tsCol as long)")).as("day"))
      .groupBy("key", "day").agg(count(lit(1)).as("n"))

  /** Zero-filled per-key day axis over a `(key, day, n)` table:
    * `(key, day, __x)` from each key's first to last observed day, with
    * `__d` (axis length) and `__s` (total events) as whole-partition
    * window columns. Shared by the autocorrelation and changepoint
    * monitors (both the event-scan and the [[DailyCounts]] profile
    * paths). */
  private def zeroFilledFromDaily(daily: DataFrame): DataFrame = {
    val axis = daily.groupBy("key")
      .agg(min("day").as("__d0"), max("day").as("__d1"))
      .select(col("key"),
        explode(sequence(col("__d0"), col("__d1"))).as("day"))
    val wAll = Window.partitionBy("key")
    axis.join(daily.withColumnRenamed("n", "__obs"),
        Seq("key", "day"), "left")
      .withColumn("__x", coalesce(col("__obs"), lit(0L)))
      .withColumn("__d", count(lit(1)).over(wAll))
      .withColumn("__s", sum("__x").over(wAll))
  }

  /** [[zeroFilledFromDaily]] from raw events: the (key, day) count
    * table feeds both the axis derivation and the fill join —
    * localCheckpoint pins the event scan to ONE execution (the Cooccur
    * precedent). */
  private def zeroFilledDays(events: DataFrame, tsCol: String,
      keyCol: String): DataFrame =
    zeroFilledFromDaily(countsOf(events, tsCol, keyCol).localCheckpoint())

  def autocorrMilli(events: DataFrame, tsCol: String, keyCol: String,
      lags: Seq[Int] = Seq(1, 7)): DataFrame =
    autocorrOver(zeroFilledDays(events, tsCol, keyCol), lags)

  /** [[autocorrMilli]] over a pre-aggregated `(key, day, n)` table —
    * the [[DailyCounts]] profile path. */
  def autocorrMilliFromDaily(daily: DataFrame,
      lags: Seq[Int] = Seq(1, 7)): DataFrame =
    autocorrOver(zeroFilledFromDaily(daily), lags)

  private def autocorrOver(filled: DataFrame, lags: Seq[Int]): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be >= 1")
    val wOrd = Window.partitionBy("key").orderBy("day")
    val dev = filled
      .withColumn("__dev",
        (col("__d") * col("__x") - col("__s")).cast("decimal(38,0)"))
    val withLeads = lags.foldLeft(dev) { (df, l) =>
      df.withColumn(s"__lead$l", lead(col("__dev"), l).over(wOrd))
    }
    val aggs = sum(col("__dev") * col("__dev")).as("__den") +:
      lags.map(l => sum(col("__dev") * col(s"__lead$l")).as(s"__num$l"))
    val byKey = withLeads.groupBy("key")
      .agg(max("__d").as("n_days"), aggs: _*)
    byKey
      .selectExpr("key", "n_days", "__den",
        s"stack(${lags.size}, " +
          lags.map(l => s"CAST($l AS BIGINT), __num$l").mkString(", ") +
          ") AS (lag, __num)")
      .withColumn("r_milli", expr(
        "CASE WHEN __den > 0 AND __num IS NOT NULL THEN " +
          "CAST(CASE WHEN __num < 0 THEN -((-__num) * 1000 div __den) " +
          "ELSE __num * 1000 div __den END AS BIGINT) END"))
      .select("key", "lag", "n_days", "r_milli")
  }

  /** Most-likely single changepoint of each key's daily-count series
    * (CUSUM, Page 1954 / Pettitt-style single-split): the day `t`
    * maximizing `|C_t| = |Σ_{u≤t}(d·x_u − S)|` over the ZERO-FILLED
    * axis — the scaled cumulative deviation from the key's own mean
    * rate, which telescopes to 0 at the axis end, so its peak marks
    * where the level SHIFTED (deploys, source cutovers, crawl-policy
    * changes). `C_t = d·cumx_t − t·S`, so `|C_t| div (d·S)` is exactly
    * `|fraction-of-events-seen − fraction-of-days-elapsed|` — reported
    * as `cusum_permille`, the scale-free uniformity deviation (0 =
    * perfectly steady rate; a hard step at mid-axis reads hundreds).
    * Ties break to the EARLIEST day; `mean_before_milli` /
    * `mean_after_milli` are the exact per-day rates either side of the
    * split (after = NULL in the degenerate one-day-axis case). All
    * arithmetic in DECIMAL(38,0); every division floors non-negatives,
    * so the SQL mirror is exact.
    *
    * Scale shape: the [[zeroFilledDays]] exchange (one key shuffle,
    * checkpoint-pinned scan), one ordered prefix-sum window, and a
    * single per-key argmax aggregation — the split's flanking sums
    * ride INSIDE the argmax struct (cumx, index), so no second pass
    * joins the changepoint back to the series. */
  def changepointDay(events: DataFrame, tsCol: String,
      keyCol: String): DataFrame =
    changepointOver(zeroFilledDays(events, tsCol, keyCol))

  /** [[changepointDay]] over a pre-aggregated `(key, day, n)` table —
    * the [[DailyCounts]] profile path. */
  def changepointFromDaily(daily: DataFrame): DataFrame =
    changepointOver(zeroFilledFromDaily(daily))

  /** Exact OLS trend of each key's daily-count series, in integer
    * milli-units of events/day per day — the GRADUAL-drift companion to
    * [[changepointDay]]'s step detector and `weekly_trend`'s
    * week-over-week ratio: `slope = (d·Σt·x − Σt·Σx)/(d·Σt² − (Σt)²)`
    * over the zero-filled axis with t = 1..d. The numerator can be
    * NEGATIVE where `div` (toward zero) and `//` (floor) diverge, so the
    * milli value is sign-routed like [[autocorrMilli]]'s; one-day axes
    * (den = 0) report NULL. All sums in DECIMAL(38,0).
    *
    * Scale shape: the shared [[zeroFilledDays]] exchange + one ordered
    * row_number window + a single per-key rollup of three sums. */
  def trendSlopeMilli(events: DataFrame, tsCol: String,
      keyCol: String): DataFrame =
    trendOver(zeroFilledDays(events, tsCol, keyCol))

  /** Day-of-week traffic profile per key over the ZERO-FILLED axis —
    * WHICH days carry the weekly cycle [[autocorrMilli]] detects:
    * per (key, weekday) the observed axis-day count, exact mean daily
    * events ×1000, and the weekday's share of the key's total in
    * permille. Weekday = `day mod 7` on the epoch-day axis (epoch day 0
    * was a Thursday: 0 = Thu … 6 = Wed — the locale-free integer
    * calendar, documented rather than localized). Zero-filling matters:
    * a silent Monday must drag Monday's mean down, not vanish.
    *
    * Scale shape: the shared [[zeroFilledDays]] exchange, then one
    * (key, weekday) rollup — ≤7 rows per key. */
  def dowProfile(events: DataFrame, tsCol: String,
      keyCol: String): DataFrame =
    dowProfileOver(zeroFilledDays(events, tsCol, keyCol))

  private def dowProfileOver(filled: DataFrame): DataFrame =
    filled
      .withColumn("__dow", expr("pmod(day, 7)"))
      .groupBy("key", "__dow")
      .agg(count(lit(1)).as("n_days"), sum("__x").as("n_events"),
        max("__s").as("__tot"))
      .select(col("key"), col("__dow").as("weekday"), col("n_days"),
        col("n_events"),
        expr("CAST(CAST(n_events AS DECIMAL(38,0)) * 1000 div n_days " +
          "AS BIGINT)").as("mean_daily_milli"),
        expr("CASE WHEN __tot > 0 THEN CAST(CAST(n_events AS " +
          "DECIMAL(38,0)) * 1000 div __tot AS BIGINT) ELSE 0 END")
          .as("share_permille"))

  private def trendOver(filled: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("key").orderBy("day")
    filled
      .withColumn("__t", row_number().over(wOrd).cast("long"))
      .groupBy("key")
      .agg(max("__d").as("n_days"), max("__s").as("n_events"),
        sum(col("__t").cast("decimal(38,0)") * col("__x")).as("__stx"),
        sum(col("__t").cast("decimal(38,0)") * col("__t")).as("__stt"),
        sum("__t").as("__st"))
      .withColumn("__num", expr(
        "n_days * __stx - CAST(__st AS DECIMAL(38,0)) * n_events"))
      .withColumn("__den", expr(
        "n_days * __stt - CAST(__st AS DECIMAL(38,0)) * __st"))
      .withColumn("slope_milli", expr(
        "CASE WHEN __den > 0 THEN " +
          "CAST(CASE WHEN __num < 0 THEN -((-__num) * 1000 div __den) " +
          "ELSE __num * 1000 div __den END AS BIGINT) END"))
      .select("key", "n_days", "n_events", "slope_milli")
  }

  private def changepointOver(filled: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("key").orderBy("day")
    filled
      .withColumn("__cumx", sum("__x").over(wOrd))
      .withColumn("__idx", row_number().over(wOrd).cast("long"))
      .withColumn("__c", abs(
        col("__d").cast("decimal(38,0)") * col("__cumx") -
          col("__idx").cast("decimal(38,0)") * col("__s")))
      .groupBy("key")
      .agg(max("__d").as("n_days"), max("__s").as("n_events"),
        min(struct((-col("__c")).as("__negc"), col("day").as("__day"),
          col("__cumx").as("__bx"), col("__idx").as("__bi"))).as("__top"))
      .select(col("key"), col("n_days"), col("n_events"),
        col("__top.__day").as("cp_day"),
        expr("CASE WHEN n_events > 0 THEN CAST((-__top.__negc) * 1000 " +
          "div (CAST(n_days AS DECIMAL(38,0)) * n_events) AS BIGINT) " +
          "ELSE 0 END").as("cusum_permille"),
        expr("CAST(CAST(__top.__bx AS DECIMAL(38,0)) * 1000 " +
          "div __top.__bi AS BIGINT)").as("mean_before_milli"),
        expr("CASE WHEN n_days > __top.__bi THEN " +
          "CAST(CAST(n_events - __top.__bx AS DECIMAL(38,0)) * 1000 " +
          "div (n_days - __top.__bi) AS BIGINT) END")
          .as("mean_after_milli"))
  }
}
