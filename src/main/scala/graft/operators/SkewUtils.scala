package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities for the 100 TB design stance.
  *
  * AQE's skew-join splitting (on by default in our sessions) handles most
  * cases at runtime; explicit salting remains the tool when one join key
  * dominates so heavily that even split shuffle blocks overwhelm a task —
  * the classic hot-key fact⋈fact join.
  */
object SkewUtils {

  /** Parallelism floor for CPU-DENSE per-row stages fed by a NARROW scan
    * (optimization guide §2.5 "input skew: one huge unsplittable file …
    * repartition immediately after the read"): a small single-row-group
    * parquet file scans as ONE task, so per-row hashing / tokenization /
    * codec work upstream of the first exchange runs on one core no matter
    * how many the session has. Hash-repartitions on `keys` up to the
    * session's default parallelism ONLY when the current plan is narrower
    * — on a real cluster a 100 TB scan is already wide and this is a
    * no-op (no exchange added), so the setting is scale-adaptive, not a
    * local[32] constant. The partition count is explicit (not a bare
    * `repartition(cols…)`) because AQE legally coalesces REPARTITION_BY_COL
    * exchanges back down to ~1 partition for byte-tiny frames, and these
    * stages are CPU-bound per row, not byte-bound. Hash-on-key (never
    * round-robin) keeps the row→partition map deterministic under task
    * retry (SPARK-38388) and skips the sort round-robin repartition pays.
    * Result-identical by construction: every downstream operator here is
    * partitioning-independent (aggregates, equi-joins, final orderBy). */
  /** Input bytes one task of an ordinary CPU-dense stage (tokenize,
    * hash, count) should own after a spread. Measured at sf0.1/local[32]
    * across a 12-query mixed set: per-stage overhead grows with width
    * while the compute win saturates, and ~128 KB/task (width ≈ 4 for
    * the 584 KB corpus) minimized the set's total — width 2 read 16.1 s,
    * width-from-128KB 14.7 s, full 32 width 22.2 s, unspread baseline
    * 20.5 s. Conf-overridable (`spark.graft.spread.bytesPerTask`) so a
    * cluster deployment can re-derive it; the narrowness gate above it
    * makes genuinely wide inputs skip the spread entirely, so this knob
    * only shapes the small-to-mid input regime. */
  val SpreadBytesPerTask = 131072L

  /** Heavy-codec override for [[spreadCompute]]'s per-task sizing: the
    * imageio/AVI encode+decode stages cost ~10× more CPU per input byte
    * than tokenization (measured: gifFrames 4.3 s single-task over
    * 584 KB), so their spread stays profitable at much denser widths. */
  val CodecBytesPerTask = 16384L

  def spreadCompute(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    spreadComputeSized(df, SpreadBytesPerTask, keys: _*)

  /** [[spreadCompute]] with an explicit per-task input-byte budget — use
    * [[CodecBytesPerTask]] for stages whose per-byte CPU cost is an
    * order of magnitude above tokenization. */
  def spreadComputeSized(df: DataFrame, perTaskBytes: Long,
                         keys: org.apache.spark.sql.Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // A single-core session gains nothing from an exchange (the width
    // floor of 2 would force one anyway); a kill-switch conf supports
    // A/B measurement of the spread family without code edits.
    if (target <= 1 ||
        df.sparkSession.conf.get("spark.graft.spread.enabled", "true") == "false")
      return df
    // Narrowness gate from the ANALYZED plan's size statistics (file
    // bytes from the already-listed FileIndex — a cheap stats visitor),
    // NOT from df.rdd.getNumPartitions: materializing the RDD compiles
    // the plan's whole-stage codegen + deserializer, measured 500-700 ms
    // PER CALL inside the query-construction (timed) path. An input at
    // least (target − 1) scan splits wide already feeds every core; only
    // smaller inputs get the exchange.
    val maxSplit = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val size = df.queryExecution.analyzed.stats.sizeInBytes
    if (size >= BigInt(maxSplit) * math.max(target - 1, 1)) df
    else {
      val perTask = BigInt(graft.GraftConf
        .long(df.sparkSession, "spark.graft.spread.bytesPerTask", perTaskBytes).max(1L))
      val width = ((size + perTask - 1) / perTask).min(BigInt(target)).max(BigInt(2)).toInt
      df.repartition(width, keys: _*)
    }
  }

  /** Salted inner equi-join on `key`: the left (large, skewed) side gets a
    * random salt in [0, buckets); the right side is replicated `buckets`
    * times so every (key, salt) pair finds its match. Row-identical to
    * `left.join(right, key)` for unique-keyed right sides, but the shuffle
    * spreads each hot key over `buckets` reducers.
    *
    * The salt is `pmod(hash(monotonically_increasing_id()), buckets)` —
    * deterministic per task layout, uniform, and independent of the key. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String, buckets: Int): DataFrame = {
    require(buckets > 0)
    val salted = left.withColumn("__salt", pmod(hash(monotonically_increasing_id()), lit(buckets)))
    val replicated = right
      .withColumn("__salt", explode(array((0 until buckets).map(lit): _*)))
    salted
      .join(replicated, Seq(key, "__salt"))
      .drop("__salt")
  }
}
