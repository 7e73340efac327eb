package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic event-time as-of join — the two-table operator Spark has no
  * native join type for (design-brief custom-op list, alongside the range
  * join): for every left row, attach the value columns of the single
  * LATEST right row with the same key and `rightTs <= leftTs` (inclusive,
  * ASOF-LEFT semantics: left rows with no prior right row keep nulls).
  * The single-table sibling ([[EventsAnalytics.asofCarryForward]]) carries
  * a marker forward within one stream; this joins two streams — the
  * trades⋈quotes shape.
  *
  * Re-expressed Spark-first as union + ordered carry-forward, NOT a
  * per-left-row subquery: tag right rows 0 and left rows 1, union on a
  * common schema, and take `last(value, ignoreNulls)` over
  * (key ORDER BY ts, tag ROWS UNBOUNDED PRECEDING) — right rows sort
  * before left rows at equal ts, which is exactly the inclusive `>=`.
  * One shuffle on the key, per-key linear scan, no join fanout at all:
  * the classic O((|L|+|R|) log) formulation that survives 100 TB (the
  * naive `l.ts >= r.ts` join is a nested loop PLUS a per-left argmax).
  *
  * Requirement: `right` must be unique per (key, rightTs) — pre-aggregate
  * ties (e.g. `max_by(value, event_id)`) or the carried value at a tied
  * timestamp is partition-order-dependent.
  */
object AsofJoin {

  def asofJoin(left: DataFrame, right: DataFrame,
               key: String, leftTs: String, rightTs: String,
               valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(valueCols.intersect(leftCols).isEmpty,
      s"value columns ${valueCols.intersect(leftCols).mkString(",")} clash with left columns")
    val reserved = Seq("__ts", "__tag", "__vals")
    require(reserved.intersect(leftCols ++ right.columns).isEmpty,
      s"column names ${reserved.mkString("/")} are reserved by asofJoin")
    // The right row's value columns ride as ONE struct: the struct is
    // non-null for every right row even when individual value fields are
    // NULL, so `last(ignoreNulls)` carries the latest right ROW — a NULL
    // field in the as-of row stays NULL (per-column carry would silently
    // substitute a STALE earlier value, and with several valueCols could
    // stitch fields from different right rows into a tuple that exists
    // nowhere).
    val valsType = org.apache.spark.sql.types.StructType(
      valueCols.map(c => right.schema(c).copy(name = c)))
    val l = left
      .withColumn("__ts", col(leftTs)).withColumn("__tag", lit(1))
      .select(col("__ts") +: col("__tag") +: leftCols.map(col) :+
        lit(null).cast(valsType).as("__vals"): _*)
    val r = right
      .withColumn("__ts", col(rightTs)).withColumn("__tag", lit(0))
      .select(col("__ts") +: col("__tag") +:
        leftCols.map(c =>
          if (c == key) col(key) else lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(valueCols.map(col): _*).as("__vals"): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__vals", last(col("__vals"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(leftCols.map(col) ++ valueCols.map(c => col(s"__vals.$c").as(c)): _*)
  }

  /** Native-operator formulation of [[asofJoin]] via the custom
    * [[graft.plans.AsofJoinNode]] / [[graft.plans.AsofJoinExec]] plan
    * (hash-cluster + sort both sides, per-partition two-pointer merge —
    * no union, no window). Same contract as [[asofJoin]]; NULL keys match
    * nothing (SQL semantics — see the exec's scaladoc).
    *
    * The right side is re-projected through fresh aliases so the custom
    * binary node never sees duplicate expression ids when both sides
    * derive from the same source (the self-join dedup the analyzer does
    * for built-in Join nodes, done here by construction). */
  def asofJoinNative(left: DataFrame, right: DataFrame,
                     key: String, leftTs: String, rightTs: String,
                     valueCols: Seq[String]): DataFrame = {
    require(valueCols.intersect(left.columns.toSeq).isEmpty,
      s"value columns ${valueCols.intersect(left.columns.toSeq).mkString(",")} clash with left columns")
    val spark = left.sparkSession
    graft.GraftFunctions.installStrategy(spark, graft.plans.AsofJoinStrategy)
    val rFresh = right.select(
      (key +: rightTs +: valueCols.toList).map(c => col(c).as(c + "__r")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rFresh.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    val node = graft.plans.AsofJoinNode(
      lPlan, rPlan,
      attr(lPlan, key), attr(rPlan, key + "__r"),
      attr(lPlan, leftTs), attr(rPlan, rightTs + "__r"),
      valueCols.map(c => attr(rPlan, c + "__r")))
    org.apache.spark.sql.GraftColumnBridge.ofRows(spark, node)
      .select(left.columns.map(col).toIndexedSeq ++
        valueCols.map(c => col(c + "__r").as(c)): _*)
  }

  /** Fixture query: each `view` event joined to the value of the user's
    * latest `purchase` at-or-before it (null if none yet). Right side is
    * pre-aggregated to one row per (user, µs) with `max_by` on the unique
    * event_id, satisfying the uniqueness requirement deterministically. */
  def viewsWithLastPurchase(events: DataFrame): DataFrame =
    viewsWithLastPurchaseVia(events, asofJoin)

  /** [[viewsWithLastPurchase]] through the native custom operator — gated
    * against the same DuckDB ASOF oracle as the composed formulation. */
  def viewsWithLastPurchaseNative(events: DataFrame): DataFrame =
    viewsWithLastPurchaseVia(events, asofJoinNative)

  private def viewsWithLastPurchaseVia(
      events: DataFrame,
      join: (DataFrame, DataFrame, String, String, String, Seq[String]) => DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts").as("pts"))
      .agg(max_by(col("value"), col("event_id")).as("last_purchase_value"))
      .withColumnRenamed("pts", "ts_r")
    join(views, purchases, "user_id", "ts", "ts_r", Seq("last_purchase_value"))
      .select("event_id", "user_id", "last_purchase_value")
      .orderBy("event_id")
  }
}
