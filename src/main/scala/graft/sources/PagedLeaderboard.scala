package graft.sources

import java.util
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 model of the reference's paginated leaderboard scan
  * (SURVEY.md §2.1 S2, /root/reference/lib/src/etl.dart:50-90): the live
  * API serves 50-entry pages in rank order, and the reference stops paging
  * once the last entry's level drops below 30 (etl.dart:83) — a
  * predicate-driven early termination.
  *
  * Here that early termination is *planning-time partition pruning*: the
  * scan builder accepts `level >= X` filter pushdown and LIMIT pushdown,
  * and plans only the page partitions that can contain qualifying rows
  * (level is monotonically non-increasing in rank, exactly like the real
  * leaderboard). Contiguous page ranges are packed into at most one
  * [[InputPartition]] per slot, so a cluster fetches pages in parallel —
  * the Spark-native replacement for the reference's sequential
  * 500 ms-per-page loop — without one task (and one written file
  * downstream) per 50-row page.
  *
  * TWO page-payload paths share every plan-side mechanism (pushdown,
  * pruning, partitioning):
  *  - `baseUrl` set → LIVE ingestion: one real `java.net.http` GET + JSON
  *    parse per page ([[PagedLeaderboard.fetchPage]]). The sandbox is
  *    zero-egress, so specs and the oracle-gated query drive it against
  *    the in-process [[LeaderboardHttpFixture]] server over real
  *    localhost HTTP; pointing `baseUrl` at the external API is a config
  *    change, not a code change.
  *  - no `baseUrl` → the deterministic synthetic generator serves the
  *    same rows the fixture server serializes, which is why both paths
  *    share one DuckDB oracle.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.PagedLeaderboardProvider")
  *     .option("maxPages", "1000").load()
  *     .filter($"level" >= 30)        // planned: only pages 1..95
  * }}}
  */
object PagedLeaderboard {
  val PageSize = 50
  val BaseLevel = 500

  val schema: StructType = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("level", IntegerType, nullable = false),
    StructField("value", LongType, nullable = false),
    StructField("vocation", StringType, nullable = false),
    StructField("world", StringType, nullable = false)))

  private val vocations = Array("None", "Knight", "Paladin", "Druid", "Sorcerer")

  /** Monotone non-increasing level curve: drops 1 every 10 ranks. */
  def levelOf(rank: Int): Int = math.max(8, BaseLevel - (rank - 1) / 10)

  def valueOf(rank: Int): Long = 10000000000L - rank.toLong * 1000L

  def vocationOf(rank: Int): String = vocations(rank % vocations.length)

  /** Last rank that can satisfy `level >= minLevel` (monotonicity). */
  def lastQualifyingRank(minLevel: Int): Int =
    if (minLevel > BaseLevel) 0
    else if (minLevel <= 8) Int.MaxValue
    else (BaseLevel - minLevel) * 10 + 10

  /** Pages "fetched" — incremented per page read; tests assert the
    * pushdown actually pruned the fetch count. */
  val pagesFetched = new AtomicLong(0L)

  /** Shared JDK HTTP client for the live-ingestion path — thread-safe,
    * one per executor JVM. */
  lazy val httpClient: java.net.http.HttpClient = java.net.http.HttpClient.newHttpClient()

  /** Shared Jackson mapper — construction is heavyweight and the instance
    * is thread-safe for reads, so one per executor JVM, not one per page. */
  lazy val jsonMapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** Driver-side worlds-dimension fetch — ONE real GET, exactly the
    * reference's `_getWorlds` call shape (etl.dart:92-105). Returns the
    * raw JSON; shape-guarded parsing lives in
    * [[graft.functions.SnapshotJson.parseWorlds]] so malformed payloads
    * degrade to zero rows instead of failing the pipeline. */
  def fetchWorldsJson(base: String): String = {
    val req = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"$base/worlds")).GET().build()
    val rsp = httpClient.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(rsp.statusCode() == 200, s"worlds: HTTP ${rsp.statusCode()}")
    rsp.body()
  }

  /** One REAL `GET {base}/highscores?page=N` + JSON parse (jackson, from
    * Spark's own classpath) → the page's rows in rank order. Non-200 or
    * malformed payloads throw — a failed fetch must fail the task loudly,
    * not return a silently short page. */
  def fetchPage(base: String, page: Int): IndexedSeq[(Int, String, Int, Long, String, String)] = {
    val req = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"$base/highscores?page=$page")).GET().build()
    val rsp = httpClient.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    require(rsp.statusCode() == 200, s"page $page: HTTP ${rsp.statusCode()}")
    val root = jsonMapper.readTree(rsp.body())
    val entries = root.get("entries")
    require(entries != null && entries.isArray, s"page $page: no entries array")
    (0 until entries.size).map { i =>
      val e = entries.get(i)
      (e.get("rank").asInt(), e.get("name").asText(), e.get("level").asInt(),
        e.get("value").asLong(), e.get("vocation").asText(), e.get("world").asText())
    }
  }
}

class PagedLeaderboardProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = PagedLeaderboard.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val raw = properties.asScala.getOrElse("maxPages", "1000")
    val maxPages = try raw.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"option 'maxPages' must be a positive integer, got '$raw'")
    }
    require(maxPages > 0, s"option 'maxPages' must be positive, got $maxPages")
    val baseUrl = Option(properties.get("baseUrl")).filter(_.nonEmpty)
    new PagedLeaderboardTable(maxPages, baseUrl)
  }
}

class PagedLeaderboardTable(maxPages: Int, baseUrl: Option[String] = None)
    extends Table with SupportsRead {
  override def name(): String = s"paged_leaderboard(maxPages=$maxPages)"
  override def schema(): StructType = PagedLeaderboard.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PagedScanBuilder(maxPages, baseUrl)
}

class PagedScanBuilder(maxPages: Int, baseUrl: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownLimit {
  private var minLevel: Option[Int] = None
  private var limit: Option[Int] = None
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rest) = filters.partition {
      case GreaterThanOrEqual("level", _: Int) => true
      case GreaterThan("level", _: Int) => true
      case _ => false
    }
    accepted.foreach {
      case GreaterThanOrEqual("level", v: Int) =>
        minLevel = Some(minLevel.fold(v)(math.max(_, v)))
      case GreaterThan("level", v: Int) =>
        minLevel = Some(minLevel.fold(v + 1)(math.max(_, v + 1)))
      case _ =>
    }
    pushed = accepted
    // Residual filters: Spark still re-applies everything (safe), we only
    // use the bound for partition planning.
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  override def build(): Scan = new PagedScan(maxPages, minLevel, limit, baseUrl)
}

class PagedScan(maxPages: Int, minLevel: Option[Int], limit: Option[Int],
                baseUrl: Option[String] = None)
    extends Scan with Batch {
  import PagedLeaderboard._

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"PagedLeaderboardScan(maxPages=$maxPages, minLevel=$minLevel, limit=$limit)"

  override def planInputPartitions(): Array[InputPartition] = {
    // Ceil-divide in Long: lastQualifyingRank returns Int.MaxValue when the
    // bound is vacuous (level <= 8), and Int.MaxValue + PageSize - 1 wraps
    // negative in Int — which would plan ZERO partitions and silently drop
    // every row for a filter that matches everything.
    def ceilPages(n: Long): Long = (n + PageSize - 1) / PageSize
    val byLevel = minLevel.map(l => ceilPages(lastQualifyingRank(l).toLong))
      .getOrElse(Long.MaxValue)
    val byLimit = limit.map(n => ceilPages(n.toLong)).getOrElse(Long.MaxValue)
    val pages = Seq(maxPages.toLong, byLevel, byLimit).min.max(0L)
    val slots = org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism
    val n = math.min(pages, math.max(slots, 1).toLong)
    (0L until n).map(i => PageRange((i * pages / n + 1).toInt, ((i + 1) * pages / n).toInt))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = new PagedReaderFactory(baseUrl)
}

/** Pages `first..last` (inclusive), read in rank order by one task. */
case class PageRange(first: Int, last: Int) extends InputPartition

class PagedReaderFactory(baseUrl: Option[String] = None) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = partition.asInstanceOf[PageRange]
    new PageReader(r.first, r.last, baseUrl)
  }
}

/** One page range = one partition read, page by page: a page is fetched
  * only once the previous one is exhausted, so a LIMIT that stops reading
  * stops fetching. With `baseUrl` set this is LIVE ingestion: a real HTTP
  * GET + JSON parse per page ([[PagedLeaderboard.fetchPage]]); without it,
  * the deterministic synthetic generator serves the same rows — both
  * paths produce identical data for the fixture server, which is what
  * lets the HTTP path share the synthetic path's DuckDB oracle. */
class PageReader(first: Int, last: Int, baseUrl: Option[String] = None)
    extends PartitionReader[InternalRow] {
  import PagedLeaderboard._
  private var page = first - 1
  private var i = -1
  private var rows = 0
  private var fetched: Option[IndexedSeq[(Int, String, Int, Long, String, String)]] = None

  override def next(): Boolean = {
    i += 1
    while (i >= rows && page < last) {
      page += 1
      i = 0
      PagedLeaderboard.pagesFetched.incrementAndGet() // one (real or modeled) GET per page
      fetched = baseUrl.map(PagedLeaderboard.fetchPage(_, page))
      rows = fetched.map(_.length).getOrElse(PageSize)
    }
    i < rows
  }

  override def get(): InternalRow = fetched match {
    case Some(es) =>
      val (rank, name, level, value, voc, world) = es(i)
      InternalRow(rank, UTF8String.fromString(name), level, value,
        UTF8String.fromString(voc), UTF8String.fromString(world))
    case None =>
      val rank = (page - 1) * PageSize + i + 1
      InternalRow(
        rank,
        UTF8String.fromString(s"char_$rank"),
        levelOf(rank),
        valueOf(rank),
        UTF8String.fromString(vocationOf(rank)),
        UTF8String.fromString(s"W${rank % 8}"))
  }

  override def close(): Unit = ()
}
