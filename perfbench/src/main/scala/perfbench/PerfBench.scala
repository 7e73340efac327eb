package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, SparkEntry}
import graft.operators.CacheRegistry

/** JVM side of the benchmark: runs one workload against the graft library
  * through its public entry points and writes raw per-op records (and, when
  * tracing, spans and listener counters) as JSON. `perfbench/run.py` builds
  * this, prepares the inputs, checks the outputs and computes the metrics.
  *
  * Arguments (all `--key value`): workload, seed, seconds (time to measure),
  * trace (0|1), data (input parquet dir), work (run-private working
  * directory), cores, t0us (epoch micros at JVM launch), out (result file).
  */
object PerfBench {

  /** Sub-second read-only queries: fixed per-op overhead (schema inference,
    * planning, job scheduling) dominates. Eleven of the fast reads, from
    * each family (leaderboard snapshots, online time, the paged HTTP
    * source, sessions and the streaming module's batch path, TPC-H), then
    * two corpus queries: bm25_topk persists through CacheRegistry, and
    * dedup_clusters runs its connected-components fixpoint eagerly, while
    * it is constructed. They keep those layers measured in a workload that
    * fits the run budget. The count is odd and several queries take about
    * the median time, so that the median op falls among queries of about
    * the same cost. */
  val ShortReads: Seq[String] = Seq(
    "snapshot_daily", "gain_7d", "leaderboard", "exists_probe",
    "onlinetime_daily", "paged_scan_http", "sessionize", "asof_join",
    "hll_distinct_daily", "q1_pricing", "q10_returned_customers", "bm25_topk",
    "dedup_clusters")

  /** Heavy corpus queries: task CPU, shuffle, fixpoint rounds and
    * CacheRegistry persists dominate. */
  val CorpusDedup: Seq[String] = Seq(
    "dedup_clusters", "dedup_clusters_star", "setjoin_pairs",
    "setjoin_pairs_wide", "dedup_minhash", "ngram_jaccard_top",
    "kll_quantiles", "corpus_clean", "ann_ivf", "token_count_bpe",
    "split_leakfree", "sample_cluster_balanced", "dedup_embedding_clusters",
    "bm25_topk")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val trace = args("trace") == "1"
    val work = new File(args("work")).getAbsolutePath
    val cores = args("cores").toInt
    val t0us = args("t0us").toLong
    val seconds = args("seconds").toDouble

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, trace)
    val out = new Json
    val result =
      try {
        val wl: Workload = workload match {
          case "short_reads"  => new ReadWorkload(spark, tracer, args("data"), ShortReads, seed)
          case "corpus_dedup" => new ReadWorkload(spark, tracer, args("data"), CorpusDedup, seed)
          case "etl_cycle"    => new EtlWorkload(spark, tracer, s"$work/stores", seed)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        spark.sparkContext.setJobGroup(Tracer.SetupGroup, "setup", interruptOnCancel = false)
        // Session warm-up: the first Spark action pays JVM/codegen start-up.
        spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
        wl.setup()
        spark.sparkContext.clearJobGroup()
        val setupS = (tracer.nowUs() - t0us) / 1e6
        // Whole rounds until `seconds` of wall time have passed, at least one.
        val ops = mutable.ArrayBuffer.empty[String]
        val t0 = System.nanoTime()
        var r = 0
        while (r == 0 || (wl.repeatable && (System.nanoTime() - t0) / 1e9 < seconds)) {
          ops ++= wl.round(r, ops.length)
          r += 1
        }
        out.field("setup_s", setupS).field("rounds", r)
          .field("timed_s", (System.nanoTime() - t0) / 1e9)
          .raw("ops", ops.mkString("[", ",", "]"))
          .raw("oracle_sql", wl.oracleSql)
          .raw("final", wl.finalState())
        if (trace) out.raw("spans", spansJson(tracer))
        out.field("error", null: String)
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          out.field("error", s"${t.getClass.getName}: ${t.getMessage}")
          1
      }
    val w = new java.io.PrintWriter(args("out"), "UTF-8")
    try w.println(out.render) finally w.close()
    spark.stop()
    sys.exit(result)
  }

  private def spansJson(t: Tracer): String =
    t.spans.map { s =>
      new Json().field("id", s.id).field("name", s.name).field("op", s.op)
        .field("parent", s.parent).field("start_us", s.start).field("end_us", s.end).render
    }.mkString("[", ",", "]")

  /** Drops every persist an earlier op left behind, as graft.Bench does
    * between queries, then collects so the ContextCleaner is current. */
  def isolate(spark: SparkSession): Unit = {
    CacheRegistry.clear(blocking = true)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** JVM counters read around an op. */
  final class JvmProbe {
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
    private var gc0 = 0L
    def start(): Unit = {
      heapPools.foreach(_.resetPeakUsage())
      gc0 = gcs.map(_.getCollectionTime).sum
    }
    def gcSeconds: Double = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
    def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Counters of one op's spans, keyed by span name. */
  def countersJson(tracer: Tracer, op: Int): String = {
    if (!tracer.enabled) return "null"
    val (bySpan, placed) = tracer.attribute(op)
    val byName = mutable.LinkedHashMap.empty[String, Counters]
    bySpan.foreach { case (sid, c) =>
      byName.getOrElseUpdate(tracer.spans(sid).name, new Counters).add(c)
    }
    val jobs = placed.map { case (j, sid) =>
      new Json().field("job", j.jobId).field("span", sid)
        .field("start_ms", j.startMs).field("end_ms", j.endMs).render
    }.mkString("[", ",", "]")
    val cs = byName.map { case (n, c) =>
      Json.str(n) + ":" + new Json().field("jobs", c.jobs).field("stages", c.stages)
        .field("tasks", c.tasks).field("task_run_s", c.taskRunMs / 1e3)
        .field("task_cpu_s", c.taskCpuNs / 1e9).field("task_gc_s", c.taskGcMs / 1e3)
        .field("input_bytes", c.inputBytes).field("shuffle_write_bytes", c.shuffleWriteBytes)
        .field("shuffle_read_bytes", c.shuffleReadBytes).field("spill_bytes", c.spillBytes)
        .render
    }.mkString("{", ",", "}")
    new Json().raw("by_span", cs).raw("jobs", jobs).render
  }

  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
}

/** One workload: untimed setup, then rounds of timed ops. */
trait Workload {
  def setup(): Unit
  /** Runs round `r`, numbering its ops from `firstOp`; returns the ops as
    * JSON objects. */
  def round(r: Int, firstOp: Int): Seq[String]
  /** Whether a later round does the same work as the first. */
  def repeatable: Boolean = true
  def oracleSql: String = "{}"
  def finalState(): String = "{}"
}

/** `short_reads` / `corpus_dedup`: a round runs every query once, in an
  * order drawn from the seed and the round. An op is construct
  * (`fn(spark, dir)`), plan (`executedPlan`) and execute
  * (`toRdd.count()`). Setup runs every query once untimed, so every timed
  * round runs warm: its queries' code is generated and compiled already. */
final class ReadWorkload(spark: SparkSession, tracer: Tracer, dir: String,
                         names: Seq[String], seed: Long) extends Workload {
  import PerfBench._

  def setup(): Unit = {
    val qs = SparkEntry.queries
    val missing = names.filterNot(qs.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    // Warm-up pass: each query's first run in the JVM pays class loading,
    // code generation and JIT start-up, whose cost swings by 2x from run to
    // run. A long-lived session pays it once. Construction also builds the
    // queries' stored artifacts on first use, an ingest cost paid here.
    names.foreach { n =>
      isolate(spark)
      qs(n)(spark, dir).queryExecution.toRdd.count()
    }
  }

  def round(r: Int, firstOp: Int): Seq[String] = {
    val order = new scala.util.Random(seed * 1000003L + r).shuffle(names)
    val jvm = new JvmProbe
    order.zipWithIndex.map { case (name, i) =>
      val op = firstOp + i
      isolate(spark)
      jvm.start()
      val fn = SparkEntry.queries(name)
      val rec = new Json().field("op", op).field("name", name)
      val t0 = System.nanoTime()
      try {
        val (_, total) = tracer.span("op", op, -1) { root =>
          val (df, cs) = tracer.span("construct", op, root)(_ => fn(spark, dir))
          rec.field("construct_s", cs)
          val (_, ps) = tracer.span("plan", op, root)(_ => df.queryExecution.executedPlan)
          rec.field("plan_s", ps)
          val (rows, es) = tracer.span("execute", op, root)(_ => df.queryExecution.toRdd.count())
          rec.field("exec_s", es).field("rows", rows)
          val ph = df.queryExecution.tracker.phases
          Seq("analysis", "optimization", "planning").foreach { p =>
            rec.field(s"plan_${p}_s", ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0))
          }
        }
        rec.field("total_s", total).field("ok", true)
      } catch {
        case t: Throwable =>
          rec.field("total_s", (System.nanoTime() - t0) / 1e9).field("ok", false)
            .field("error", s"${t.getClass.getName}: ${t.getMessage}")
      }
      rec.field("gc_s", jvm.gcSeconds).field("heap_peak_mb", jvm.heapPeakMb)
        .field("cache_entries", CacheRegistry.liveCount).field("cached_mb", cachedMb(spark))
        .raw("counters", countersJson(tracer, op))
      rec.render
    }
  }

  override def oracleSql: String = {
    val all = SparkEntry.oracleSql
    names.map { n =>
      val sql = all.getOrElse(n, throw new IllegalStateException(s"no oracle for $n"))
        .replace("__GRAFT_BPE_GOLDEN__", SparkEntry.bpeGoldenDir(dir))
      Json.str(n) + ":" + Json.str(sql)
    }.mkString("{", ",", "}")
  }
}

/** Minimal JSON object builder (the harness has no JSON dependency). */
final class Json {
  private val parts = mutable.ArrayBuffer.empty[String]
  def field(k: String, v: Any): Json = {
    val s = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n @ (_: Int | _: Long) => n.toString
      case b: Boolean => b.toString
      case other => Json.str(other.toString)
    }
    parts += Json.str(k) + ":" + s
    this
  }
  def raw(k: String, json: String): Json = { parts += Json.str(k) + ":" + json; this }
  def render: String = parts.mkString("{", ",", "}")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
