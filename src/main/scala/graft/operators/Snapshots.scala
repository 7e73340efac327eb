package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Snapshot / leaderboard / gain operators.
  *
  * Re-expresses the reference's flagship pipelines over an exploded
  * relational snapshot table instead of a JSON-blob-per-day document
  * (SURVEY.md §1.4). The event log (`events`) plays the role of the raw
  * observation stream; a *snapshot* is "latest value per (game-day, user)".
  *
  * Reference semantics covered here:
  *  - snapshot point lookup `.single()`  — /root/reference/lib/src/etl.dart:224-227 (S6)
  *  - existence probe                    — etl.dart:286-289 (S7)
  *  - diff join + positive-gain filter   — etl.dart:229-247 (J1, F4, F5)
  *  - sort by value desc + dense rank    — etl.dart:88,143,220,249-255 (O1, O4)
  *  - top-K page cap (~1000 entries)     — etl.dart:501,544 (O7)
  *  - positional points 1001 - rank      — etl.dart:504-510 (O6)
  *
  * Scale notes (100 TB design stance):
  *  - `dailySnapshot` is a single hash aggregate keyed (day, user): map-side
  *    partial agg + one shuffle on the group key; no window, no sort.
  *  - The diff join keys on `user_id` after each side has been reduced to
  *    one row per user — join input is |users|, not |events|. At cluster
  *    scale both sides hash-partition on user_id; AQE will broadcast the
  *    smaller snapshot when it fits.
  *  - Global `row_number` ranking is inherently a single-reducer step; it is
  *    only ever applied *after* the data is reduced to per-user rows (≤ one
  *    row per user) or behind a top-K limit, so the sort input is small by
  *    construction. Spark plans a TakeOrderedAndProject for sort+limit.
  */
object Snapshots {

  /** One row per (day, user): the latest observed value, "latest" defined by
    * the monotonically increasing `event_id` (unique, so tie-free — unlike
    * ns timestamps which Spark truncates to µs). Mirrors the reference's
    * daily `exp-record` materialization (etl.dart:115-121). */
  def dailySnapshot(events: DataFrame): DataFrame =
    events
      .select(to_date(col("ts")).as("day"), col("user_id"), col("value"), col("event_id"))
      .groupBy("day", "user_id")
      .agg(max_by(col("value"), col("event_id")).as("value"))

  /** Latest day present in the log — 1-row DataFrame, broadcast into the
    * queries below (declarative; no driver-side collect). */
  private def endDay(snap: DataFrame): DataFrame =
    broadcast(snap.agg(max(col("day")).as("end_day")))

  /** The latest day's slice of a snapshot frame (keeps the end_day bound
    * column for callers that need it). */
  def latestSlice(snap: DataFrame): DataFrame =
    snap.join(endDay(snap), col("day") === col("end_day"))

  /** Flagship diff query (E2 / J1): gain per user between the snapshot
    * `lookbackDays` before the latest day and the latest day.
    * Inner join ≡ the reference's `firstWhere` because the snapshot builder
    * guarantees one row per (day, user) (SURVEY.md §7.4). Null values never
    * reach the subtraction (snapshot drops users absent that day; inner
    * join drops users present on only one side — F5). Gain ≤ 0 is dropped
    * (etl.dart:236) and the survivors are ranked densely (etl.dart:249-255)
    * with user_id as deterministic tiebreak. */
  def gain(events: DataFrame, lookbackDays: Int): DataFrame = {
    val snap = dailySnapshot(events)
    gainBetween(snap, endDay(snap), date_sub(col("end_day"), lookbackDays))
  }

  /** All-time variant: first observed day vs latest day (the reference's
    * `last365days` degenerates to this on a 30-day log — etl.dart:200-213). */
  def gainAllTime(events: DataFrame): DataFrame = {
    val snap = dailySnapshot(events)
    val bounds =
      broadcast(snap.agg(max(col("day")).as("end_day"), min(col("day")).as("start_day")))
    gainBetween(snap, bounds, col("start_day"))
  }

  /** Single-pass diff: instead of materializing the two snapshot sides and
    * joining them (which re-scans and re-aggregates the log per side), tag
    * each snapshot row against the broadcast date bounds, keep the two days
    * of interest, and pivot end/start into one row per user with
    * conditional aggregation. One scan, two shuffles, one broadcast join —
    * the formulation that survives a 100× scale-up. Users missing either
    * side yield NULL and are dropped by the gain filter (F5 semantics). */
  private def gainBetween(snap: DataFrame, bounds: DataFrame, startExpr: Column): DataFrame = {
    val gains = snap
      .join(bounds, col("day") === col("end_day") || col("day") === startExpr)
      .groupBy("user_id")
      .agg(
        max(when(col("day") === col("end_day"), col("value"))).as("end_value"),
        max(when(col("day") =!= col("end_day"), col("value"))).as("start_value"))
      .withColumn("gain", col("end_value") - col("start_value"))
      .filter(col("gain") > 0)
    // Distributed global rank (RankUtils): the gainer set is unbounded
    // (every active user), so no single-partition rank window here.
    RankUtils
      .globalRowNumber(gains, Seq(col("gain").desc, col("user_id").asc), "rank")
      .select("rank", "user_id", "gain")
      .orderBy("rank")
  }

  /** Current leaderboard (E1): latest snapshot ordered by value desc,
    * dense rank + positional points `1001 - rank` (etl.dart:504-510), top-K
    * cap ≈ the reference's 20-page scan limit (etl.dart:501). Spark plans
    * sort+limit as TakeOrderedAndProject — no global sort materialized. */
  def leaderboard(events: DataFrame, topK: Int = 1000): DataFrame = {
    val snap = dailySnapshot(events)
    val order = Seq(col("value").desc, col("user_id").asc)
    // sort+limit FIRST: plans as TakeOrderedAndProject (per-partition
    // top-K + merge), so the rank below only ever numbers <= topK rows,
    // already sorted on one partition: no exchange, no sort, no window.
    val top = snap
      .join(endDay(snap), col("day") === col("end_day"))
      .select(col("user_id"), col("value"))
      .orderBy(order: _*)
      .limit(topK)
    RankUtils.globalRowNumber(top, order, "rank")
      .withColumn("points", lit(1001L) - col("rank"))
      .select("rank", "user_id", "value", "points")
      .orderBy("rank")
  }

  /** Point lookup by date (S6): the full snapshot for one specific day —
    * here `end_day - offsetDays`. On a date-partitioned table this prunes to
    * a single partition (SURVEY.md §2.1 S8). */
  def pointLookup(events: DataFrame, offsetDays: Int): DataFrame = {
    val snap = dailySnapshot(events)
    snap
      .join(endDay(snap), col("day") === date_sub(col("end_day"), offsetDays))
      .select(col("user_id"), col("value"))
      .orderBy("user_id")
  }

  /** O8 (etl.dart:139, :225): the reference's `.single()` — return THE row
    * and throw unless exactly one exists. `take(2)` stops after two rows
    * (limit pushdown), so the uniqueness probe never materializes the full
    * result; this is an action, as in the reference. */
  def single(df: DataFrame): org.apache.spark.sql.Row = {
    val rows = df.take(2)
    if (rows.length != 1)
      throw new IllegalStateException(
        s"single(): expected exactly 1 row, found ${if (rows.isEmpty) "0" else "2 or more"}")
    rows(0)
  }

  /** O4 conditional re-rank (etl.dart:249-255, `_recordAddMissingRank`):
    * preserve upstream ranks when the record already carries them; assign
    * fresh ranks under `order` only when absent. The reference peeks at the
    * first entry (an all-or-nothing invariant on its blobs); the
    * declarative equivalent is a broadcast any-rank-present flag — no
    * driver-side peek, no action. Fresh ranks come from the distributed
    * rank construction, not a single-partition window.
    *
    * Precondition: ranks are all-present or all-absent (the reference's
    * blob invariant — it only ever inspects `first.rank`). A frame that
    * violates it (mixed null/non-null) is still well-defined here: the
    * per-row `coalesce` repairs null rows with a fresh rank instead of
    * leaving them null, which is strictly safer than the reference's
    * behavior (it would emit null ranks for the tail rows). */
  def rankIfMissing(df: DataFrame, order: Seq[Column], rankCol: String = "rank"): DataFrame = {
    val flag = broadcast(df.agg(max(col(rankCol)).isNotNull.as("__has_rank")))
    RankUtils.globalRowNumber(df.withColumnRenamed(rankCol, "__orig"), order, "__fresh")
      .crossJoin(flag)
      .withColumn(rankCol,
        when(col("__has_rank"), coalesce(col("__orig").cast("long"), col("__fresh")))
          .otherwise(col("__fresh")))
      .drop("__orig", "__fresh", "__has_rank")
  }

  /** Existence / idempotency probe (S7, etl.dart:286-289): row count for the
    * latest day as a 1-row frame. The reference gates recompute on this. */
  def existsProbe(events: DataFrame): DataFrame = {
    val withDay = events.select(to_date(col("ts")).as("day"))
    withDay
      .join(broadcast(withDay.agg(max(col("day")).as("end_day"))), col("day") === col("end_day"))
      .agg(count(lit(1)).as("n_events"))
  }

  /** Full-outer state merge (J3 in its literal join form, etl.dart:360-382):
    * yesterday's accumulator FULL OUTER JOIN today's snapshot on the key —
    * matched rows take today's value, unmatched-today rows are new,
    * unmatched-yesterday rows carry forward. The aggregation re-expression
    * ([[OnlineTime.daily]]) is the cheaper path when the history is an
    * append-only log; this join form is what a true read-modify-write
    * state table needs. */
  def stateMerge(events: DataFrame): DataFrame = {
    val snap = dailySnapshot(events)
    val bounds = endDay(snap)
    val today = snap.join(bounds, col("day") === col("end_day"))
      .select(col("user_id").as("uid_t"), col("value").as("v_today"))
    val yesterday = snap.join(bounds, col("day") === date_sub(col("end_day"), 1))
      .select(col("user_id").as("uid_y"), col("value").as("v_yesterday"))
    today
      .join(yesterday, col("uid_t") === col("uid_y"), "full_outer")
      .select(
        coalesce(col("uid_t"), col("uid_y")).as("user_id"),
        coalesce(col("v_today"), col("v_yesterday")).as("value"),
        when(col("uid_t").isNotNull && col("uid_y").isNotNull, "updated")
          .when(col("uid_t").isNotNull, "new")
          .otherwise("carried").as("status"))
      .orderBy("user_id")
  }

  /** UNION ALL shape (U1, etl.dart:78,:325,:497,:539): the reference unions
    * per-page/per-world partial scans into one snapshot; here two category
    * sub-scans union and aggregate. Catalyst pushes the per-branch filters
    * below the union into each scan (`PushDownPredicates`), so at scale
    * each branch reads only its partition slice. */
  def categoryUnion(events: DataFrame, catA: String, catB: String): DataFrame = {
    def side(c: String) =
      events.filter(col("event_type") === c).select(col("user_id"), col("value"))
    side(catA)
      .unionByName(side(catB))
      .groupBy("user_id")
      .agg(
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Composite multi-category score ("Rook Master", E3 / A1 / J2 / O5):
    * per category, score users by their summed metric, award positional
    * points `1001 - rank` (etl.dart:556), then total points across
    * categories and re-rank. The reference's 7 sequential left joins
    * (etl.dart:550-570) are re-expressed as one union-free groupBy over the
    * category column — semantically equal because absent categories
    * contribute 0 points, and one shuffle instead of seven joins.
    * Money-typed metric goes through DECIMAL so the per-user sums are exact
    * and engine-order-independent. */
  /** Per-(category, user) scores with positional points — the detail level
    * the reference grafts into each entry's nested `expanded` struct
    * (etl.dart:557-565), exposed as rows instead of nested JSON. */
  def rookmasterCategories(events: DataFrame): DataFrame = {
    val scores = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("score"))
    // Grouped distributed rank: a per-category Window.partitionBy would put
    // every user of one category into ONE task's sort (parallelism =
    // |categories| — five tasks at any scale). Same construction as the
    // gain family's global rank, extended with the group key.
    RankUtils
      .groupedRowNumber(scores, Seq("event_type"),
        Seq(col("score").desc, col("user_id").asc), "cat_rank")
      .withColumn("points", lit(1001L) - col("cat_rank"))
      .select(col("event_type"), col("user_id"), col("score").cast("double").as("score"),
        col("cat_rank"), col("points"))
      .orderBy("event_type", "cat_rank")
  }

  def rookmaster(events: DataFrame): DataFrame = {
    val scores = events
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("value").cast(DecimalType(18, 2))).as("score"))
    // Per-category positional points via the grouped distributed rank (see
    // rookmasterCategories — no single-task per-category sort).
    val pts = RankUtils
      .groupedRowNumber(scores, Seq("event_type"),
        Seq(col("score").desc, col("user_id").asc), "__cat_rank")
      .withColumn("points", lit(1001L) - col("__cat_rank"))
    val totals = pts
      .groupBy("user_id")
      .agg(sum(col("points")).as("total_points"), count(lit(1)).as("n_categories"))
    // Distributed global rank: the totals set is one row per user —
    // unbounded at corpus scale, so no single-partition rank window here
    // (same construction as the gain family).
    RankUtils
      .globalRowNumber(totals, Seq(col("total_points").desc, col("user_id").asc), "rank")
      .select("rank", "user_id", "total_points", "n_categories")
      .orderBy("rank")
  }
}
