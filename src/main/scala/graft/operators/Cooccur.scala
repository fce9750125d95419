package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item co-occurrence mining over a (user, item) interaction log — the
  * bipartite-projection step behind "users who touched A also touched B"
  * co-curation signals (and the classic place a naive implementation
  * melts at scale: one power-law user joins against itself quadratically).
  *
  * The standard mitigation is built in, not optional: per-user DEGREE
  * CAPPING. Each user contributes at most `maxItemsPerUser` interactions
  * to pairing, chosen by a deterministic portable hash rank
  * ([[graft.functions.F.mix64]] of `user:item`, ties by item) — so the
  * within-user pair fan-out is bounded by `D·(D−1)/2` whatever the user's
  * true degree, the cap is reproducible run-to-run (no `rand()`), and an
  * external SQL oracle can replay the exact same sample. Degrees for the
  * overlap score are computed on the CAPPED table, keeping numerator and
  * denominator consistent.
  *
  * Output: `(item_a, item_b, co, overlap_permille)` for `item_a <
  * item_b`, `co ≥ minCo`, with `overlap_permille = 1000·co div
  * min(deg_a, deg_b)` — the overlap coefficient in exact integer
  * permille (containment's cousin on the interaction graph).
  *
  * 100 TB shape: one distinct on (user, item); one user-keyed window for
  * the cap (bounded output per user); the pair generation is a self
  * equi-join on `user` of a ≤D-per-user table — per-user work is O(D²),
  * never O(degree²); co-counts and degrees are map-side-combined
  * aggregations; the degree table is items-sized and broadcast back. */
object Cooccur {

  def itemCooccurrence(interactions: DataFrame, userCol: String,
      itemCol: String, maxItemsPerUser: Int = 20, minCo: Long = 2L): DataFrame = {
    require(maxItemsPerUser > 1, "maxItemsPerUser must be > 1")
    require(minCo >= 1, "minCo must be >= 1")
    val ui = interactions
      .select(col(userCol).as("u"), col(itemCol).as("item"))
      .where(col("u").isNotNull && col("item").isNotNull)
      .distinct()
    val rank = graft.functions.F.mix64(
      concat_ws(":", col("u").cast("string"), col("item").cast("string")))
    // The capped table feeds THREE consumers (both pair sides + the
    // degree table); without materialization the distinct + user-keyed
    // window re-executes per consumer (the plan audit counted 11
    // shuffles for a documented-4 shape). localCheckpoint pins the
    // ≤D-per-user result once — the ccSharedBuild precedent.
    val capped = ui
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("u")).orderBy(rank.asc, col("item").asc)))
      .where(col("__rn") <= maxItemsPerUser)
      .select("u", "item")
      .localCheckpoint()
    val a = capped.select(col("u"), col("item").as("item_a"))
    val b = capped.select(col("u"), col("item").as("item_b"))
    val pairs = a.join(b, Seq("u")).where(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b").agg(count(lit(1)).as("co"))
      .where(col("co") >= minCo)
    val deg = capped.groupBy(col("item")).agg(count(lit(1)).as("deg"))
    pairs
      .join(broadcast(deg.select(col("item").as("item_a"), col("deg").as("__da"))),
        Seq("item_a"))
      .join(broadcast(deg.select(col("item").as("item_b"), col("deg").as("__db"))),
        Seq("item_b"))
      .select(col("item_a"), col("item_b"), col("co"),
        expr("co * 1000 div least(__da, __db)").as("overlap_permille"))
  }

  /** Market-basket LIFT between event types over sessions — "do these
    * two actions co-occur in a session more than chance": the basket is
    * the gaps-and-islands session ([[Sessionize.sessions]]'s islands),
    * presence is per-session DISTINCT (a bot session repeating one type
    * 10⁶ times counts once), and
    * `lift‰ = 1000 · n_ab · N div (n_a · n_b)` in exact integers —
    * >1000 = attraction, <1000 = repulsion. Pairs below `minCount`
    * drop (noise floor). Output `(a, b, n_ab, lift_permille)` with
    * `a < b` canonical.
    *
    * Scale shape: ONE key exchange computes the island ids (the
    * sessionize sort), the distinct collapses each session to ≤|types|
    * rows, and the pair self-join fans out ≤|types|² per session — the
    * type domain bounds everything downstream; the singles table is
    * |types| rows, broadcast back. */
  def basketLift(events: DataFrame, gapSeconds: Long,
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", minCount: Long = 5L): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy(col(tsCol))
    val gapFlag = when(
      col(tsCol).cast("long") - lag(col(tsCol), 1).over(byKey).cast("long")
        > gapSeconds, 1L).otherwise(0L)
    // The sessionized presence table feeds FOUR consumers (total,
    // singles, both pair sides); localCheckpoint materializes the
    // sessionize sort + distinct ONCE instead of re-running the window
    // per consumer (the plan audit counted 10 Window nodes for the
    // documented one-key-exchange shape). Eager by design: unlike a
    // plan-construction count(), the checkpointed blocks are what every
    // consumer then READS — nothing recomputes.
    val st = events
      .where(col(keyCol).isNotNull && col(typeCol).isNotNull)
      .withColumn("__ns", gapFlag)
      .withColumn("__sid", sum(col("__ns")).over(byKey) + 1L)
      .select(col(keyCol).as("__k"), col("__sid"), col(typeCol).as("t"))
      .distinct()
      .localCheckpoint()
    // one-row session total cross-joined in (the oracle's CROSS JOIN tot)
    val tot = st.select("__k", "__sid").distinct()
      .agg(count(lit(1)).as("__n"))
    val singles = st.groupBy("t").agg(count(lit(1)).as("n_t"))
    val pairs = st.select(col("__k"), col("__sid"), col("t").as("a"))
      .join(st.select(col("__k"), col("__sid"), col("t").as("b")),
        Seq("__k", "__sid"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minCount)
    pairs
      .join(broadcast(singles.select(col("t").as("a"), col("n_t").as("n_a"))),
        Seq("a"))
      .join(broadcast(singles.select(col("t").as("b"), col("n_t").as("n_b"))),
        Seq("b"))
      .crossJoin(broadcast(tot))
      // DECIMAL(38,0) numerator: 1000·n_ab·N wraps a Long near
      // n_ab·N ~ 9·10¹⁵ (silently — DuckDB would error instead);
      // 128-bit keeps the exact-integer contract at corpus scale
      .select(col("a"), col("b"), col("n_ab"),
        expr("cast((cast(1000 as decimal(38,0)) * n_ab * __n) " +
          "div (cast(n_a as decimal(38,0)) * n_b) as bigint)")
          .as("lift_permille"))
  }
}
