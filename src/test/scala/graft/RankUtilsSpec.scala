package graft

import graft.operators.RankUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class RankUtilsSpec extends SparkSpec {
  import spark.implicits._

  test("distributed global rank equals the single-partition window rank") {
    val df = (1 to 5000).map(i => (i.toLong, (i * 2654435761L % 997).toDouble))
      .toDF("id", "score").repartition(13)
    val order = Seq(col("score").desc, col("id").asc)
    val viaWindow = df
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaUtils = RankUtils.globalRowNumber(df.repartitionByRange(7, order: _*), order, "rank")
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUtils === viaWindow)
  }

  test("ranks are dense 1..n regardless of partition boundaries") {
    val df = (1 to 100).map(i => (i.toLong, 1.0)).toDF("id", "score") // all ties
    val order = Seq(col("score").desc, col("id").asc)
    val ranks = RankUtils.globalRowNumber(df.repartitionByRange(9, order: _*), order, "rank")
      .select("rank").collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq === (1L to 100L))
  }

  test("distributed running sum equals the single-partition window prefix sum") {
    val df = (1 to 5000).map(i => (i.toLong, (i * 2654435761L % 997).toDouble,
      (i * 31 % 50 + 1).toLong)).toDF("id", "score", "v").repartition(13)
    val order = Seq(col("score").desc, col("id").asc)
    val viaWindow = df
      .withColumn("cum", sum(col("v")).over(Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (parts <- Seq(1, 7, 32)) {
      val viaUtils = RankUtils
        .globalRunningSum(df.repartitionByRange(parts, order: _*), order, col("v"), "cum")
        .select("id", "cum").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaUtils === viaWindow, s"partitions=$parts")
    }
  }

  test("grouped distributed rank equals the per-group window rank") {
    val df = (1 to 5000).map { i =>
      (i.toLong, s"cat${i % 5}", (i * 2654435761L % 97).toDouble) // heavy ties
    }.toDF("id", "cat", "score").repartition(13)
    val order = Seq(col("score").desc, col("id").asc)
    val viaWindow = df
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("cat")).orderBy(order: _*)).cast("long"))
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaUtils = RankUtils
      .groupedRowNumber(df.repartitionByRange(7, col("cat") +: order: _*), Seq("cat"), order,
        "rank")
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUtils === viaWindow)
  }

  test("grouped rank treats a NULL group key as its own stratum (no dropped rows)") {
    // Window.partitionBy puts NULL keys in their own partition; the
    // replacement must too — a null-unsafe offsets join would silently
    // DROP every NULL-group row instead.
    val df = Seq(
      (1L, Option("x"), 3.0), (2L, Option("x"), 1.0),
      (3L, Option.empty[String], 9.0), (4L, Option.empty[String], 2.0)
    ).toDF("id", "cat", "score").repartition(5)
    val order = Seq(col("score").desc, col("id").asc)
    val viaWindow = df
      .withColumn("rank",
        row_number().over(Window.partitionBy(col("cat")).orderBy(order: _*)).cast("long"))
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaUtils = RankUtils
      .groupedRowNumber(df.repartitionByRange(3, col("cat") +: order: _*), Seq("cat"), order,
        "rank")
      .select("id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaUtils.size === 4, "NULL-group rows must not vanish")
    assert(viaUtils === viaWindow)
  }

  test("ranking a cached frame equals the window rank and scans the cache once") {
    // AQE never reuses an exchange above a cached relation, so a rank that
    // re-read its input for partition offsets scanned the cache twice.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = (1 to 5000).map(i => (i.toLong, (i * 2654435761L % 997).toDouble))
      .toDF("id", "score").repartition(13).cache()
    try {
      val order = Seq(col("score").desc, col("id").asc)
      val viaWindow = df
        .withColumn("rank", row_number().over(Window.orderBy(order: _*)).cast("long"))
        .select("id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val q = RankUtils.globalRowNumber(df, order, "rank").select("id", "rank")
      assert(q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap === viaWindow)
      val scans = new AdaptiveSparkPlanHelper {}
        .collect(q.queryExecution.executedPlan) { case s: InMemoryTableScanExec => s }
      assert(scans.size === 1, q.queryExecution.executedPlan.toString)
    } finally df.unpersist(blocking = true)
  }

  test("nested rank: ranks nulled for half the rows, repaired by rankIfMissing") {
    // The rank_repair shape: the repair ranks a frame that already holds a
    // rank, and cross-joins a flag computed from that same frame.
    val df = (1 to 3000).map(i => (i.toLong, (i * 2654435761L % 97).toDouble))
      .toDF("user_id", "value").repartition(7)
    val order = Seq(col("value").desc, col("user_id").asc)
    val seeded = RankUtils.globalRowNumber(df, order, "rank")
      .withColumn("rank",
        when(col("user_id") % 2 === 0, col("rank")).otherwise(lit(null).cast("long")))
    val repaired = operators.Snapshots.rankIfMissing(seeded, order)
      .select("user_id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaWindow = df
      .withColumn("rank", row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select("user_id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(repaired === viaWindow)
    // A self-join of a ranked frame resolves, and its sides agree.
    val ranked = RankUtils.globalRowNumber(df, order, "rank")
    val self = ranked.join(ranked.withColumnRenamed("rank", "rank2"), "user_id")
    assert(self.filter(col("rank") === col("rank2")).count() === 3000)
  }

  test("gain ranks after one range exchange; its orderBy(rank) plans no exchange or sort") {
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // Ten days of 200 users whose value grows daily: every user gains.
    val events = (for (d <- 1 to 10; u <- 1 to 200) yield
      (d * 1000L + u, java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00"), s"u$u",
        (d * (u % 37 + 1)).toDouble)).toDF("event_id", "ts", "user_id", "value")
    val q = operators.Snapshots.gain(events, 7)
    assert(q.collect().map(_.getAs[Long]("rank")).toSeq === (1L to 200L))
    val h = new AdaptiveSparkPlanHelper {}
    val plan = q.queryExecution.executedPlan
    val rank = h.collectFirst(plan) { case r: plans.RowNumberExec => r }
    assert(rank.isDefined, s"no rank operator:\n$plan")
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan) =
      h.collect(p) { case e: ShuffleExchangeLike => e }
    assert(exchanges(plan).size === exchanges(rank.get).size, s"exchange after the rank:\n$plan")
    assert(h.collect(plan) { case s: SortExec => s }.size ===
      h.collect(rank.get) { case s: SortExec => s }.size, s"sort after the rank:\n$plan")
    val ranges = exchanges(rank.get).filter(_.outputPartitioning.isInstanceOf[RangePartitioning])
    assert(ranges.size === 1, s"expected one range exchange:\n$plan")
  }

  test("rookmaster plans contain no per-category single-task rank window") {
    // The scale hazard: row_number().over(Window.partitionBy(event_type))
    // sorts each category in ONE task (parallelism = |categories|). Both
    // rookmaster queries must rank through RowNumberExec instead: no
    // window at all, and each rank operator's input range-partitioned on
    // its full order into more than one partition.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val events = sources.Tables.events(spark, "/root/testdata/sf0.001")
    for (q <- Seq(operators.Snapshots.rookmaster(events),
                  operators.Snapshots.rookmasterCategories(events))) {
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(plan.collect { case w: WindowExec => w }.isEmpty, s"rank window found:\n$plan")
      val ranks = plan.collect { case r: plans.RowNumberExec => r }
      assert(ranks.exists(_.groups == 1), s"expected a grouped rank operator:\n$plan")
      ranks.foreach { r =>
        r.child.outputPartitioning match {
          case RangePartitioning(ordering, n) =>
            assert(n > 1, s"single-partition rank input:\n$plan")
            assert(ordering.map(_.child.canonicalized) === r.order.map(_.child.canonicalized))
          case other => fail(s"rank input is $other, not range-partitioned:\n$plan")
        }
      }
    }
  }
}
