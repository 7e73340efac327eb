package graft

import graft.sources.PagedLeaderboard
import org.apache.spark.sql.functions.col

/** S2 semantics via DSv2: the level-threshold early stop becomes partition
  * pruning at planning time; the fetch counter proves pages beyond the
  * cutoff were never read. */
class PagedLeaderboardSpec extends SparkSpec {

  private def read(maxPages: Int = 1000) =
    spark.read.format("graft.sources.PagedLeaderboardProvider")
      .option("maxPages", maxPages.toString).load()

  test("level filter prunes page partitions (early termination as pushdown)") {
    PagedLeaderboard.pagesFetched.set(0)
    val rows = read().filter(col("level") >= 30).count()
    // level >= 30 holds through rank (500-30)*10+10 = 4710 -> 95 pages
    assert(rows === 4710)
    assert(PagedLeaderboard.pagesFetched.get() === 95,
      s"fetched ${PagedLeaderboard.pagesFetched.get()} pages, expected 95 of 1000")
  }

  test("limit pushdown caps the pages fetched") {
    PagedLeaderboard.pagesFetched.set(0)
    val got = read().limit(120).collect()
    assert(got.length === 120)
    assert(PagedLeaderboard.pagesFetched.get() <= 3)
  }

  test("unfiltered scan reads everything; rows are the deterministic curve") {
    PagedLeaderboard.pagesFetched.set(0)
    val df = read(maxPages = 4)
    assert(df.count() === 200)
    assert(PagedLeaderboard.pagesFetched.get() === 4)
    val r100 = df.filter(col("rank") === 100).collect().head
    assert(r100.getAs[Int]("level") === PagedLeaderboard.levelOf(100))
    assert(r100.getAs[Long]("value") === PagedLeaderboard.valueOf(100))
    assert(r100.getAs[String]("name") === "char_100")
  }

  test("pages pack into at most one partition per slot; rows come back in rank order") {
    PagedLeaderboard.pagesFetched.set(0)
    val df = read().filter(col("level") >= 30)
    val parts = df.queryExecution.toRdd.getNumPartitions
    assert(parts <= spark.sparkContext.defaultParallelism, s"$parts partitions for 95 pages")
    assert(parts > 1, "95 pages must still spread over the slots")
    assert(df.select("rank").collect().map(_.getInt(0)).toSeq === (1 to 4710))
    assert(PagedLeaderboard.pagesFetched.get() === 95)
  }

  test("filter semantics unaffected by pruning (Spark re-applies residuals)") {
    val a = read(maxPages = 10).filter(col("level") >= 495 && col("vocation") === "None")
      .count()
    // level >= 495: ranks 1..60; vocation None: rank % 5 == 0 -> 12 rows
    assert(a === 12)
  }
}
