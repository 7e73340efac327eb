package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.SnapshotJson
import graft.operators.Snapshots
import graft.sinks.VersionedStore
import graft.sources.{LeaderboardHttpFixture, PagedLeaderboard}

/** `etl_cycle`: one op is one simulated game day of the leaderboard job.
  *
  *  1. extract   - paged HTTP scan with `level >= 30` pushdown, plus the
  *                 worlds fetch;
  *  2. transform - stamp the day, apply the seeded exp drift, gain 1d/7d
  *                 over the stored history plus today;
  *  3. append / merge / delete / maintain - commit the snapshot, upsert the
  *                 gains, one upsert per seeded online tick (+5 minutes per
  *                 sighted player), 7-day snapshot retention, and every 7th
  *                 day optimize + expire + vacuum of the snapshots;
  *  4. read      - the top-1000 leaderboard, the app's one GET of the day.
  *
  * Setup commits the state days 1..13 would have left (7 retained days of
  * snapshots and online time, the latest gains), so the timed op is day 14,
  * a maintenance day: the round is that one day.
  * Every expectation checked after an op is computed from the seed alone.
  */
final class EtlWorkload(spark: SparkSession, tracer: Tracer, root: String, seed: Long)
    extends Workload {
  import PerfBench._
  import EtlWorkload._
  import spark.implicits._

  private val hs = s"$root/highscores"
  private val gainsRoot = s"$root/gains"
  private val online = s"$root/online"
  private val roots = Seq(hs, gainsRoot, online)
  private val ranks = PagedLeaderboard.lastQualifyingRank(MinLevel)
  /** Cumulative drift per rank (index rank - 1) through the current day. */
  private val cum = new Array[Long](ranks)
  private var day = 0
  private var base = ""

  def setup(): Unit = {
    new File(root).mkdirs()
    base = LeaderboardHttpFixture.ensureStarted()
    // Cumulative drift per day before the first timed day, to rebuild the
    // state those days stored.
    val cums = (1 until FirstDay).map { d =>
      val delta = drift(d)
      delta.indices.foreach(i => cum(i) += delta(i))
      d -> cum.clone()
    }.toMap
    def snapshotRows(d: Int) = (1 to ranks).map { r =>
      (java.sql.Date.valueOf(dateOf(d)), s"char_$r", PagedLeaderboard.levelOf(r),
        PagedLeaderboard.valueOf(r) + cums(d)(r - 1), PagedLeaderboard.vocationOf(r), s"W${r % 8}")
    }
    def snapshots(days: Range) = days.flatMap(snapshotRows)
      .toDF("day", "name", "level", "value", "vocation", "world")
    val last = FirstDay - 1
    VersionedStore.commitAppend(snapshots(last - 6 to last), hs, statsCols = Seq("day"))
    // The latest gains, ranked as Snapshots.gain ranks them: gain desc, name.
    val lastGains = Seq(1 -> "1d", 7 -> "7d").flatMap { case (n, p) =>
      (1 to ranks).map(r => (s"char_$r", cums(last)(r - 1) - cums(last - n)(r - 1)))
        .sortBy { case (name, g) => (-g, name) }.zipWithIndex
        .map { case ((name, g), i) => (name, p, g, i + 1L, java.sql.Date.valueOf(dateOf(last))) }
    }
    VersionedStore.commitAppend(lastGains.toDF("name", "period", "gain", "rank", "day"),
      gainsRoot, statsCols = Seq("day"))
    val minutes = (last - 6 to last).flatMap { d =>
      ticks(d).flatten.groupBy(identity).map { case (r, seen) =>
        (java.sql.Date.valueOf(dateOf(d)), s"char_$r", 5L * seen.size)
      }
    }
    VersionedStore.commitAppend(minutes.toDF("day", "name", "minutes"), online,
      statsCols = Seq("day"))
    day = last
  }

  private def dateOf(d: Int): LocalDate = LocalDate.of(2024, 1, 1).plusDays(d - 1L)

  /** Today's exp gain per rank: 1..1000, drawn from the seed. */
  private def drift(d: Int): Array[Long] = {
    val rng = new java.util.SplittableRandom(seed * 1000003L + d)
    Array.fill(ranks)(1L + rng.nextInt(1000))
  }

  /** Today's online ticks, as the ranks each one sights. A tick samples the
    * players the reference's online scan keeps (vocation "None"; its level
    * bound of 10 is below the extract's), and the seed decides which of
    * them are online: each one independently, with probability 1/2. */
  private def ticks(d: Int): Seq[Seq[Int]] = {
    val rng = new java.util.SplittableRandom(seed * 998244353L + d)
    val rook = (1 to ranks).filter(r => PagedLeaderboard.vocationOf(r) == "None")
    Seq.fill(TicksPerDay)(rook.filter(_ => rng.nextBoolean()))
  }

  private def version(r: String): Long = VersionedStore.currentVersion(spark, r)

  private def sqlDate(d: LocalDate) = lit(java.sql.Date.valueOf(d))

  /** The store's rows in the event-log shape graft.operators.Snapshots reads. */
  private def asEvents(df: DataFrame): DataFrame =
    df.select(lit(0L).as("event_id"), col("day").cast("timestamp").as("ts"),
      col("name").as("user_id"), col("value"))

  def round(r: Int, firstOp: Int): Seq[String] = Seq(oneDay(firstOp))

  /** The next day is not the same work: only every 7th day maintains. */
  override def repeatable: Boolean = false

  private def oneDay(op: Int): String = {
    day += 1
    val d = day
    val date = dateOf(d)
    val delta = drift(d)
    delta.indices.foreach(i => cum(i) += delta(i))
    val sightings = ticks(d)
    val expectCommits = 1 + 1 + sightings.size + 1 + (if (d % 7 == 0) 1 else 0)

    isolate(spark)
    val jvm = new JvmProbe
    jvm.start()
    val v0 = roots.map(version).sum
    val req0 = LeaderboardHttpFixture.requests + LeaderboardHttpFixture.worldsRequests
    val pages0 = PagedLeaderboard.pagesFetched.get()
    val files0 = storeFiles()
    var appendBytes = 0L
    val rec = new Json().field("op", op).field("name", s"day$d")
    val errors = mutable.ArrayBuffer.empty[String]
    var leaders: Array[org.apache.spark.sql.Row] = Array.empty
    var extracted = 0L
    var top1Gain = -1L
    val t0 = System.nanoTime()
    try {
      val (_, total) = tracer.span("op", op, -1) { rootSpan =>
        def step[T](name: String)(body: => T): T = {
          val (v, s) = tracer.span(name, op, rootSpan)(_ => body)
          rec.field(s"${name}_s", s)
          v
        }
        val ext = step("extract") {
          val worlds = SnapshotJson.parseWorlds(spark, PagedLeaderboard.fetchWorldsJson(base))
            .select(col("name").as("world"))
          val df = spark.read.format("graft.sources.PagedLeaderboardProvider")
            .option("maxPages", "1000").option("baseUrl", base).load()
            .filter(col("level") >= MinLevel)
            .join(broadcast(worlds), Seq("world"))
            .cache()
          extracted = df.count()
          df
        }
        val (snap, gains) = step("transform") {
          val driftDf = cum.indices.map(i => (s"char_${i + 1}", cum(i))).toDF("name", "drift")
          val snap = ext.join(driftDf, Seq("name"))
            .select(sqlDate(date).as("day"), col("name"), col("level"),
              (col("value") + col("drift")).as("value"), col("vocation"), col("world"))
            .cache()
          snap.count()
          val hist = asEvents(VersionedStore.read(spark, hs).get.unionByName(snap))
          val gains = Seq(1 -> "1d", 7 -> "7d").map { case (n, p) =>
            Snapshots.gain(hist, n).select(col("user_id").as("name"), lit(p).as("period"),
              col("gain"), col("rank"), sqlDate(date).as("day"))
          }.reduce(_ unionByName _).cache()
          top1Gain = gains.filter(col("period") === "1d" && col("rank") === 1)
            .select("gain").as[Long].collect().headOption.getOrElse(0L)
          (snap, gains)
        }
        step("append") {
          val before = if (tracer.enabled) dirBytes(hs) else 0L
          VersionedStore.commitAppend(snap, hs, statsCols = Seq("day"))
          if (tracer.enabled) appendBytes = dirBytes(hs) - before
        }
        step("merge") {
          VersionedStore.mergeInto(spark, gainsRoot, gains, Seq("name", "period"),
            statsCols = Seq("day"))
          sightings.foreach { seen =>
            val today = VersionedStore.read(spark, online,
                Seq(VersionedStore.ColRange.eq("day", date.toString))).get
              .filter(col("day") === sqlDate(date)).select("name", "minutes")
            val src = seen.map(r => s"char_$r").toDF("name").join(today, Seq("name"), "left")
              .select(sqlDate(date).as("day"), col("name"),
                (coalesce(col("minutes"), lit(0L)) + 5L).as("minutes"))
            VersionedStore.mergeInto(spark, online, src, Seq("day", "name"), statsCols = Seq("day"))
          }
        }
        step("delete") {
          VersionedStore.deleteWhere(spark, hs, col("day") < sqlDate(date.minusDays(6)),
            statsCols = Seq("day"))
        }
        if (d % 7 == 0) step("maintain") {
          VersionedStore.optimize(spark, hs, unix_date(col("day")), buckets = 7, statsCols = Seq("day"))
          VersionedStore.expire(spark, hs, keepLast = 2)
          VersionedStore.vacuum(spark, hs)
        }
        // The app's GET, beside the writes.
        val (rows, readS) = tracer.span("read", op, rootSpan) { _ =>
          Snapshots.leaderboard(asEvents(VersionedStore.read(spark, hs).get), 1000).collect()
        }
        leaders = rows
        rec.raw("reads_s", s"[$readS]")
      }
      rec.field("total_s", total)
    } catch {
      case t: Throwable =>
        rec.field("total_s", (System.nanoTime() - t0) / 1e9)
        errors += s"${t.getClass.getName}: ${t.getMessage}"
    }
    rec.field("gc_s", jvm.gcSeconds).field("heap_peak_mb", jvm.heapPeakMb)
      .field("cache_entries", graft.operators.CacheRegistry.liveCount)
      .field("cached_mb", cachedMb(spark))
      .raw("counters", countersJson(tracer, op))

    // Checks, outside the timed op; every expectation comes from the seed.
    spark.sparkContext.setJobGroup(Tracer.CheckGroup, "check", interruptOnCancel = false)
    if (errors.isEmpty) try {
      def expect(what: String, got: Any, want: Any): Unit =
        if (got != want) errors += s"$what: got $got, want $want"
      expect("extract rows", extracted, ranks.toLong)
      expect("top-1 1d gain", top1Gain, delta.max)
      val topValue = cum.indices.map(i => PagedLeaderboard.valueOf(i + 1) + cum(i)).max
      expect("leaderboard rows", leaders.length, 1000)
      expect("leaderboard top value", leaders.headOption.map(_.getAs[Long]("value")), Some(topValue))
      expect("highscores rows", VersionedStore.read(spark, hs).get.count(), ranks * 7L)
      val minutes = VersionedStore.read(spark, online).get
        .filter(col("day") === sqlDate(date)).select("name", "minutes").as[(String, Long)]
        .collect().toMap
      val want = sightings.flatten.groupBy(identity).map { case (r, s) => s"char_$r" -> 5L * s.size }
      expect("online minutes", minutes == want, true)
      expect("commits", roots.map(version).sum - v0, expectCommits.toLong)
    } catch {
      case t: Throwable => errors += s"check failed: ${t.getClass.getName}: ${t.getMessage}"
    }
    spark.sparkContext.clearJobGroup()
    val files1 = storeFiles()
    val written = files1.filter { case (p, _) => !files0.contains(p) }
    rec.field("http_requests",
        LeaderboardHttpFixture.requests + LeaderboardHttpFixture.worldsRequests - req0)
      .field("pages_fetched", PagedLeaderboard.pagesFetched.get() - pages0)
      .field("extract_rows", extracted)
      .field("commits", expectCommits)
      .field("store_bytes_written", written.values.sum)
      .field("store_files_written", written.size)
      .field("append_bytes", appendBytes)
      .field("log_bytes", files1.collect { case (p, s) if !p.contains("/data-") => s }.sum)
      .field("ok", errors.isEmpty)
      .field("error", if (errors.isEmpty) null else errors.mkString("; "))
    rec.render
  }

  /** Every file under the store roots, path -> bytes. */
  private def storeFiles(): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.isFile) Seq(f.getPath -> f.length)
      else Seq.empty
    walk(new File(root)).toMap
  }

  private def dirBytes(r: String): Long =
    storeFiles().collect { case (p, s) if p.startsWith(r + "/") => s }.sum

  override def finalState(): String = {
    val files = storeFiles()
    val live = roots.map(r => VersionedStore.read(spark, r).map(_.count()).getOrElse(0L)).sum
    new Json().field("store_bytes", files.values.sum).field("live_rows", live).render
  }
}

object EtlWorkload {
  /** The extract's pushed-down level bound: 95 pages, 4,710 rows. */
  val MinLevel = 30
  /** The first timed day, a maintenance day; setup commits what the days
    * before it leave behind. */
  val FirstDay = 14
  /** Online ticks a day. The reference samples every 5 minutes, 288 times
    * a day; that many merges would make up most of the op. */
  val TicksPerDay = 2
}
