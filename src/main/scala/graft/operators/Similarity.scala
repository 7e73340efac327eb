package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (north-star extensions,
  * SURVEY.md §7.2 step 8): brute-force cosine top-k as the correctness
  * baseline, and a random-hyperplane LSH-bucketed variant as the scale
  * path.
  *
  * Scale design: the query set is small and explicitly `broadcast` — the
  * corpus side streams through executors with zero shuffle; per-row dot
  * products are higher-order array folds (codegen'd, no UDF). Top-k per
  * query is a window over |queries|·|corpus| scored rows — at cluster
  * scale the LSH variant prunes the corpus side to colliding buckets
  * first, turning O(Q·N) into O(Q·N/2^bits) expected.
  *
  * Float policy: embeddings are float32; all math is done after an exact
  * cast to double, and cosine is rounded to 6 dp at the output boundary so
  * last-ulp summation differences between engines can't flip a hash
  * compare (ranking also orders on the rounded value, deterministically
  * tie-broken by vec_id).
  */
object Similarity {

  import graft.functions.VectorExprs.{lsh_buckets, vec_argmin, vec_dot}

  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      // The repartition is an exchange barrier: it materializes `e` once.
      // Without it CollapseProject inlines the cast-transform into every
      // downstream reference. The partition count is pinned to the
      // session's parallelism: a bare repartition(col) is an AQE
      // REPARTITION_BY_COL exchange that legally coalesces back to ~1
      // partition for a byte-tiny corpus, and everything downstream of
      // this barrier is CPU-bound vector math (O(N²) dot products in the
      // near-dup join, O(Q·N) in top-k scoring) — measured at sf0.1:
      // the whole brute-force pair scan ran on ONE post-coalesce task.
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .withColumn("nrm", sqrt(vec_dot(col("e"), col("e"))))

  /** Shared base for the measurement queries that run BOTH a brute-truth
    * pass and an index pass (recall gates), and for IVF whose model +
    * probe branches read the base several times: a LAZY persist, so the
    * normalized frame is computed once within the query's single action
    * and every other branch reads the cached blocks instead of re-deriving
    * the cast+norm subtree 2-3× per plan. Lazy beats an eager
    * localCheckpoint here (measured: ann_ivf 2.5→1.4 s, ivf_recall
    * 3.0→1.8 s at sf0.1) — eager materialization is a separate job paid
    * before the query starts, while persist piggybacks on the first
    * branch that touches each partition. The 100 TB seam is the same
    * shape: a persisted normalized base table maintained alongside the
    * corpus, so no query pays the normalization scan twice.
    *
    * Lifecycle: the cache entry outlives the query (a pure
    * DataFrame-returning API has no post-consumption hook to unpersist) —
    * deliberate: blocks are MEMORY_AND_DISK and LRU-EVICTABLE under
    * storage pressure, entries are a few MB per corpus, and Spark's
    * CacheManager substitutes the cached fragment into LATER queries
    * containing the same subtree, which is precisely the persisted-base
    * behavior a deployment wants (bench note: per-query timings for this
    * family are therefore session-order-dependent; totals are not). A
    * long-lived session that wants the memory back calls
    * `spark.catalog.clearCache()`. */
  private def sharedBase(embeddings: DataFrame): DataFrame =
    withNorm(embeddings).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Brute-force cosine top-k: queries = vec_id < `numQueries`, neighbors
    * ranked per query. Output: (qid, cid, cos_sim, rank). */
  def cosineTopK(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame =
    cosineTopKOn(withNorm(embeddings), numQueries, k)

  private def cosineTopKOn(base: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val q = broadcast(base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn")))
    val c = base.select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("cid").asc)
    q.join(c, col("qid") =!= col("cid"))
      .withColumn("dot", vec_dot(col("qe"), col("ce")))
      .withColumn("cos_sim", round(col("dot") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "cid", "cos_sim", "rank")
      .orderBy("qid", "rank")
  }

  /** [[cosineTopK]] over int8-quantized embeddings — the storage-scale
    * path: the corpus rides as 1 byte/dim + a float scale (4× smaller
    * scans than float32) through [[graft.functions.PackInt8]], and search
    * runs on the dequantized vectors. Deterministic end to end (round-half
    * -away quantization, fixed dequant evaluation order), so the oracle
    * hash-checks the quantization error's effect on the ranking exactly. */
  def cosineTopKInt8(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame = {
    import graft.functions.VectorExprs.{pack_int8, unpack_int8}
    val rq = embeddings
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e0"))
      .withColumn("scale", expr("array_max(transform(e0, x -> abs(x)))"))
      .select(col("vec_id"),
        unpack_int8(pack_int8(col("e0"), col("scale")), col("scale")).as("embedding"))
    cosineTopK(rq, numQueries, k)
  }

  /** Embedding-cosine near-dup pairs (the dedup-flavored sibling of
    * [[cosineTopK]]): every unordered pair with rounded cosine above
    * `threshold`. Brute force O(N²) — the correctness baseline kept for
    * ground truth; [[embeddingNearDupLsh]] is the production path whose
    * candidates come from bucket collisions instead of all pairs. No
    * forced broadcast: AQE decides the join strategy from runtime stats
    * (a forced whole-corpus broadcast OOMs at scale). */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.4): DataFrame =
    nearDupOn(withNorm(embeddings), threshold)

  private def nearDupOn(base: DataFrame, threshold: Double): DataFrame = {
    val a = base.select(col("vec_id").as("id_a"), col("e").as("ea"), col("nrm").as("na"))
    val b = base.select(col("vec_id").as("id_b"), col("e").as("eb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(vec_dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
      .orderBy("id_a", "id_b")
  }

  /** Deterministic ±1 random hyperplanes: sign from one md5 bit of
    * "plane:t:j:i" — reproducible anywhere, no RNG state. */
  private[graft] def planes(table: Int, numPlanes: Int, dim: Int): Array[Array[Double]] = {
    Array.tabulate(numPlanes, dim) { (j, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"plane:$table:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 0x10) == 0) 1.0 else -1.0
    }
  }

  /** Quantization scale for LSH bucketing: round(x·1e6). */
  val QuantScale = 1000000L

  /** The SHIPPED LSH banding — one pair of constants so the recall gates
    * always measure the same configuration the index functions serve
    * (a retune that only touched a default parameter would otherwise
    * leave the gates silently grading the old banding). 8×8 targets the
    * production near-dup regime (cos ≥ 0.8 → recall ≥ 0.94); the
    * measured sensitivity curve is in PERF.md. */
  val DefaultNumTables = 8
  val DefaultBitsPerTable = 8

  /** Integer-valued quantized copy of the embedding, used ONLY to compute
    * LSH bucket bits. Each element is round(x·1e6) — an integer below 2^53
    * stored in a double — so the ±1-plane dot products are EXACT sums,
    * independent of summation order and engine. That is what lets the
    * DuckDB oracle reproduce the bucket bit pattern bit-for-bit (a raw
    * float dot's sign at the 0-boundary could differ in the last ulp
    * between engines). Scoring always uses the raw embedding; the ~1e-6
    * perturbation only nudges hyperplane assignment of near-boundary
    * vectors, which LSH tolerates by design. */
  private def quantized(e: Column): Column =
    transform(e, x => round(x * lit(QuantScale.toDouble)))

  /** Shared bucket frame: (vec_id, e, nrm, tbl, bucket) — one row per
    * (vector, table). Signatures are a single codegen'd pass per row; no
    * shuffle to build the index. */
  private def bucketed(base: DataFrame, numTables: Int, bitsPerTable: Int): DataFrame = {
    val tensor = Array.tabulate(numTables)(t => planes(t, bitsPerTable, 64))
    base
      .withColumn("bks", lsh_buckets(quantized(col("e")), tensor))
      .select(col("vec_id"), col("e"), col("nrm"), posexplode(col("bks")))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
  }

  /** LSH-bucketed near-dup pairs — the 100 TB production path for
    * [[embeddingNearDup]]: candidates are bucket-colliding pairs across
    * `numTables` independent signatures (|rows|·L shuffle on (tbl,
    * bucket), never all pairs), then an exact cosine re-score and
    * threshold filter touch candidates only. Recall follows the standard
    * multi-table amplification 1-(1-p^b)^L; misses are pairs colliding in
    * no table — the documented approximation vs the brute baseline.
    *
    * Banding must be tuned to the operating threshold — measured on the
    * random-embedding fixture at threshold 0.4 (p ≈ 0.63, the hardest LSH
    * regime): 8×8 recall 0.24 @ 1.4 s (sf0.1), 12×5 recall 0.73 @ 8.3 s,
    * 16×4 recall 0.92 @ 19 s — looser buckets trade candidate volume for
    * recall exactly as 1-(1-p^b)^L predicts. The 8×8 default is tuned for
    * the production near-dup regime (cos ≥ 0.8, p ≥ 0.86 → recall ≥ 0.94)
    * where candidates stay bucket-bounded; [[nearDupRecall]] measures
    * whatever configuration ships. */
  def embeddingNearDupLsh(embeddings: DataFrame, threshold: Double = 0.4,
                          numTables: Int = DefaultNumTables,
                          bitsPerTable: Int = DefaultBitsPerTable): DataFrame =
    nearDupLshOn(withNorm(embeddings), threshold, numTables, bitsPerTable)

  private def nearDupLshOn(base: DataFrame, threshold: Double,
                           numTables: Int, bitsPerTable: Int): DataFrame = {
    val buckets = bucketed(base, numTables, bitsPerTable)
    val a = buckets.select(col("vec_id").as("id_a"), col("e").as("ea"), col("nrm").as("na"),
      col("tbl"), col("bucket"))
    val b = buckets.select(col("vec_id").as("id_b"), col("e").as("eb"), col("nrm").as("nb"),
      col("tbl"), col("bucket"))
    a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "ea", "na", "id_b", "eb", "nb")
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos_sim", round(vec_dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
      .orderBy("id_a", "id_b")
  }

  /** Corpus-level recall gate for [[embeddingNearDupLsh]] against the
    * brute-force [[embeddingNearDup]] truth: one row — how many true
    * near-dup pairs exist, how many the LSH candidates surfaced, and the
    * recall fraction. Deterministic end to end, so the driver's hash
    * oracle covers the near-dup approximation exactly like [[annRecall]]
    * covers the ANN index. */
  def nearDupRecall(embeddings: DataFrame, threshold: Double = 0.4): DataFrame = {
    // One materialized base feeds BOTH the brute truth and the LSH index —
    // the normalization subtree is computed once, not per branch.
    val base = sharedBase(embeddings)
    val truth = nearDupOn(base, threshold).select("id_a", "id_b")
    val found = nearDupLshOn(base, threshold, DefaultNumTables, DefaultBitsPerTable)
      .select(col("id_a").as("fa"), col("id_b").as("fb"))
    truth
      .join(broadcast(found), col("id_a") === col("fa") && col("id_b") === col("fb"), "left_outer")
      .agg(count(lit(1)).as("n_true"), count(col("fa")).as("n_found"))
      .withColumn("recall", round(col("n_found").cast("double") / col("n_true"), 6))
  }

  /** Recall@k gate for [[annLsh]] against the [[cosineTopK]] ground truth:
    * per query, the fraction of true top-k neighbors the ANN index
    * returned. Fully deterministic (fixed planes + quantized bucketing +
    * rounded scores), so the driver's hash oracle covers the approximate
    * index too — approximate output, exact metric. */
  def annRecall(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = sharedBase(embeddings)
    val truth = cosineTopKOn(base, numQueries, k).select(col("qid"), col("cid"))
    val approx = annLshOn(base, numQueries, k, DefaultNumTables, DefaultBitsPerTable)
      .select(col("qid").as("aqid"), col("cid").as("acid"))
    truth
      .join(broadcast(approx), col("qid") === col("aqid") && col("cid") === col("acid"), "left_outer")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(k))
      .select("qid", "n_hit", "recall")
      .orderBy("qid")
  }

  /** Argmin-over-centroids assignment: min of (dist, cluster) structs —
    * deterministic tie-break on cluster id, no window. Distance compares
    * via the exact identity |q−c|² = q·q − 2·q·c + c·c over quantized
    * integer vectors (every term ≤ 2^53, so the doubles are exact).
    * Expects `frame` to carry an integer-valued `q` column. */
  private def nearestCluster(frame: DataFrame, cents: DataFrame): DataFrame =
    // Map-side argmin (r18, guide §2.4 "remove shuffles outright"): the
    // nlist centroids pack into ONE cl-sorted array row; the old
    // crossJoin fanned every vector out nlist× and re-aggregated with a
    // groupBy whose key carried the 64-double `q` array through an
    // exchange. vec_argmin picks the identical cluster (same exact
    // distance arithmetic, same min-cl tie-break) in a tight codegen loop
    // — no fanout, no exchange. size(tab) > 0 reproduces the old cross
    // join's empty-centroids result (no rows).
    frame.crossJoin(broadcast(
        cents.agg(array_sort(collect_list(struct(col("cluster"), col("c")))).as("tab"))))
      .filter(size(col("tab")) > 0)
      .withColumn("cluster", vec_argmin(col("q"), col("tab")))
      .drop("tab")

  /** One Lloyd update over quantized assignments: per-cluster per-dim
    * integer sums (exact, order-independent — a float k-means would drift
    * with aggregation order and could never hash-match an oracle), mean
    * re-quantized back to integers so the next assignment stays exact.
    * posexplode + grouped sum keeps the update one partial-aggregated
    * shuffle of (nlist × dim) groups; the sort on collect makes list order
    * deterministic. Output: (cluster, c). */
  private def lloydUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cluster"), posexplode(col("q")))
      .groupBy("cluster", "pos")
      .agg(sum(col("col").cast("long")).as("s"), count(lit(1)).as("n"))
      .withColumn("m", round(col("s").cast("double") / col("n")))
      .groupBy("cluster")
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> x.m)").as("c"))

  /** IVF (inverted-file) coarse quantizer model: centroids from one
    * deterministic Lloyd step (seeds = the quantized vectors with
    * vec_id < nlist), then every vector assigned to its nearest centroid.
    *
    * Scale shape: centroids are a tiny broadcast (nlist rows) — assignment
    * is a broadcast join plus a per-row argmin, no all-pairs anything; the
    * Lloyd update is the only extra shuffle and it carries nlist×dim
    * groups. The same plan holds at 100 TB.
    * Returns (assigned = (vec_id, e, nrm, q, cluster), centroids). */
  private[graft] def ivfModel(embeddings: DataFrame, nlist: Int = 16): (DataFrame, DataFrame) =
    ivfModelOn(sharedBase(embeddings), nlist)

  private def ivfModelOn(base: DataFrame, nlist: Int): (DataFrame, DataFrame) = {
    val baseQ = base.withColumn("q", quantized(col("e")))
    val seeds = baseQ.filter(col("vec_id") < nlist)
      .select(col("vec_id").cast("int").as("cluster"), col("q").as("c"))
    // The model is TINY (nlist rows) but its subtree (seed assignment +
    // Lloyd update over the corpus) is expensive — cache it (lazy, via the
    // bounded registry so varied corpora don't accumulate entries) so the
    // assignment branch and every probe branch reuse the same centroids
    // instead of re-running the Lloyd step per reference.
    val centroids = CacheRegistry.persistBounded(
      lloydUpdate(nearestCluster(baseQ.select("vec_id", "q"), seeds)))
    (nearestCluster(baseQ, centroids), centroids)
  }

  /** IVF approximate nearest neighbors: probe the `nprobe` nearest
    * clusters per query (by the same exact quantized distance used for
    * assignment), exact cosine re-score of probed candidates only. Same
    * output shape as [[cosineTopK]]; fully deterministic (see
    * [[ivfModel]]) so the DuckDB oracle hash-matches the approximate
    * result — candidates shrink O(Q·N) to O(Q·N·nprobe/nlist) expected.
    * The complementary scale axis to [[annLsh]]: IVF partitions the space
    * (good when clusters are real), LSH unions independent hash tables
    * (good when they are not). */
  def annIvf(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
             nlist: Int = 16, nprobe: Int = 4): DataFrame =
    annIvfOn(sharedBase(embeddings), numQueries, k, nlist, nprobe)

  private def annIvfOn(base: DataFrame, numQueries: Int, k: Int,
                       nlist: Int, nprobe: Int): DataFrame = {
    val (assigned, centroids) = ivfModelOn(base, nlist)
    ivfProbe(base, assigned.select("vec_id", "e", "nrm", "cluster"),
      centroids, numQueries, k, nprobe)
  }

  /** The probe + exact-rescore tail shared by the in-session model path
    * ([[annIvf]]) and the stored-index path ([[annIvfFromIndex]]): takes
    * (vec_id, e, nrm, cluster) assignments and (cluster, c) centroids —
    * oblivious to whether they were just computed or read from the
    * artifact, which is what makes the stored variant hash-identical by
    * construction (centroid means are integral doubles, exact through a
    * parquet round-trip; assignments are ints). */
  private def ivfProbe(base: DataFrame, assigned: DataFrame, centroids: DataFrame,
                       numQueries: Int, k: Int, nprobe: Int): DataFrame = {
    // Query side reads straight from the normalized base — probing needs a
    // query's vector and the centroids, NOT its own cluster assignment, so
    // the argmin subtree is skipped for this branch.
    val probes = base.filter(col("vec_id") < numQueries)
      .withColumn("q", quantized(col("e")))
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"), col("q"))
      .crossJoin(broadcast(centroids))
      .withColumn("dist",
        vec_dot(col("q"), col("q")) - lit(2.0) * vec_dot(col("q"), col("c")) +
          vec_dot(col("c"), col("c")))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist").asc, col("cluster").asc)))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("qe"), col("qn"), col("cluster"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("cid").asc)
    probes.join(assigned.select(col("vec_id").as("cid"), col("e").as("ce"),
        col("nrm").as("cn"), col("cluster")), Seq("cluster"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos_sim", round(vec_dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "cid", "cos_sim", "rank")
      .orderBy("qid", "rank")
  }

  /** FILTERED vector search — the metadata-predicate ANN every retrieval
    * stack needs (RAG-over-a-tenant, language-restricted near-dup): the
    * top-k neighbors among only the corpus vectors whose `label` matches.
    * Implementation is PRE-filter: the predicate lands on the assignment
    * table BEFORE the probe join, so candidate cost shrinks with the
    * filter's selectivity instead of paying full-probe-then-discard (the
    * post-filter trap: k survivors can starve when the filter is tight —
    * here every probed cell contributes only matching vectors, and at
    * 100 TB the label predicate pushes down to the assignment-table
    * scan). The probe itself (cell choice) depends only on the query, so
    * pre- and post-filter agree on which cells are visited. */
  def annIvfFiltered(embeddings: DataFrame, labelValue: Int, numQueries: Int = 10,
                     k: Int = 5, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val base = sharedBase(embeddings)
    val (assigned, centroids) = ivfModelOn(base, nlist)
    val keep = embeddings
      .filter(col("label") === labelValue).select(col("vec_id"))
    ivfProbe(base,
      assigned.select("vec_id", "e", "nrm", "cluster")
        .join(keep, Seq("vec_id"), "left_semi"),
      centroids, numQueries, k, nprobe)
  }

  /** TIGHT-filter edition of [[annIvfFiltered]] with an ADAPTIVE probe
    * width — where pre-filter designs die is ≤1% selectivity: with a
    * fixed nprobe the probed cells hold ~m·nprobe/nlist matching vectors
    * in expectation, which starves below k as m (the matching-vector
    * count) shrinks. The fix is to LET THE FILTER SET THE PROBE WIDTH:
    * target ~3k matching candidates, nprobe = ceil(3·k·nlist / m) clamped
    * to [minProbe, nlist] — a tight filter degrades gracefully toward an
    * exact scan OF THE MATCHING SLICE (at m ≤ 3k the clamp hits nlist and
    * the search is exact over m rows — still tiny), while a broad filter
    * keeps the fixed-nprobe cost. m is one count of the filter set —
    * exact integer, so the adapted width (and thus the result) stays
    * deterministic and oracle-replayable. `keep` is the set of matching
    * corpus vec_ids (the pushed-down metadata predicate at 100 TB). */
  def annIvfFilteredAdaptive(embeddings: DataFrame, keep: DataFrame,
                             numQueries: Int = 10, k: Int = 5,
                             nlist: Int = 16, minProbe: Int = 4): DataFrame = {
    val base = sharedBase(embeddings)
    val (assigned, centroids) = ivfModelOn(base, nlist)
    val m = math.max(1L, keep.select("vec_id").distinct().count())
    ivfProbe(base,
      assigned.select("vec_id", "e", "nrm", "cluster")
        .join(keep.select("vec_id"), Seq("vec_id"), "left_semi"),
      centroids, numQueries, k, adaptiveNprobe(m, nlist, k, minProbe))
  }

  /** ceil(3·k·nlist / m) clamped to [minProbe, nlist] — see
    * [[annIvfFilteredAdaptive]]. Pure integer arithmetic. */
  private[graft] def adaptiveNprobe(m: Long, nlist: Int, k: Int, minProbe: Int): Int =
    math.min(nlist.toLong, math.max(minProbe.toLong, (3L * k * nlist + m - 1) / m)).toInt

  /** Recall gate for [[annIvfFilteredAdaptive]] at tight selectivity.
    * Truth = brute-force cosine among only the matching candidates (same
    * correct referent as [[ivfFilteredRecall]]); the denominator is the
    * per-query TRUTH size, not k — a ≤1% slice can hold fewer than k
    * candidates, and dividing by k would cap a perfect index below 1. */
  def ivfFilteredRecallAdaptive(embeddings: DataFrame, keep: DataFrame,
                                numQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = sharedBase(embeddings)
    val q = broadcast(base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn")))
    val c = base.join(keep.select("vec_id"), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("cid").asc)
    val truth = q.join(c, col("qid") =!= col("cid"))
      .withColumn("cos_sim", round(vec_dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"))
    val approx = annIvfFilteredAdaptive(embeddings, keep, numQueries, k)
      .select(col("qid").as("aqid"), col("cid").as("acid"))
    truth
      .join(broadcast(approx), col("qid") === col("aqid") && col("cid") === col("acid"), "left_outer")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_hit"), count(lit(1)).as("n_truth"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6))
      .select("qid", "n_hit", "n_truth", "recall")
      .orderBy("qid")
  }

  /** Recall@k gate for [[annIvfFiltered]] — truth = brute-force cosine
    * among ONLY the predicate-matching candidates (the correct referent:
    * against unfiltered truth, a perfectly-working filtered index would
    * score 0 whenever the global neighbors carry other labels). Same
    * hash-gated construction as [[ivfRecall]]. */
  def ivfFilteredRecall(embeddings: DataFrame, labelValue: Int = 1,
                        numQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = sharedBase(embeddings)
    val keep = embeddings.filter(col("label") === labelValue).select(col("vec_id"))
    val q = broadcast(base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn")))
    val c = base.join(keep, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("cid").asc)
    val truth = q.join(c, col("qid") =!= col("cid"))
      .withColumn("cos_sim", round(vec_dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("cid"))
    val approx = annIvfFiltered(embeddings, labelValue, numQueries, k)
      .select(col("qid").as("aqid"), col("cid").as("acid"))
    truth
      .join(broadcast(approx), col("qid") === col("aqid") && col("cid") === col("acid"), "left_outer")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(k))
      .select("qid", "n_hit", "recall")
      .orderBy("qid")
  }

  /** Materialize the IVF coarse-quantizer model — centroids (nlist rows)
    * plus the corpus assignment table — as a stored artifact
    * ([[graft.sinks.ArtifactStore]]: fingerprint-keyed rebuild,
    * crash-safe rename publish), closing the similarity family's
    * build-the-model-per-query seam the way the posting and shingle
    * tables closed the lexical and dedup ones. At 100 TB the assignment
    * table is the expensive piece (an argmin scan of every vector); the
    * stored index turns each ANN query into a broadcast of nlist
    * centroids + an assignment-table join — no Lloyd step, no corpus
    * argmin. */
  def ensureIvfIndex(embeddings: DataFrame, path: String, nlist: Int = 16): Unit =
    graft.sinks.ArtifactStore.ensure(embeddings, path,
      builderId = s"ivf1:nlist=$nlist") { (df, tmp) =>
      // centroids are registry-persisted inside ivfModel; the bounded LRU
      // owns their lifecycle (no manual unpersist — a registry entry left
      // live here is reused by any in-session annIvf over the same corpus).
      val (assigned, centroids) = ivfModel(df, nlist)
      graft.sinks.SnapshotStore.overwriteLatest(centroids, s"$tmp/centroids")
      graft.sinks.SnapshotStore.overwriteLatest(
        assigned.select("vec_id", "cluster"), s"$tmp/assignments")
    }

  /** [[annIvf]] over a stored index: centroids and assignments are
    * parquet reads; only the per-row normalization of the base is
    * recomputed (at 100 TB that base is itself the maintained normalized
    * table — see [[sharedBase]]'s scaladoc). Hash-identical to [[annIvf]]
    * by construction — shares its oracle. */
  def annIvfFromIndex(embeddings: DataFrame, path: String,
                      numQueries: Int = 10, k: Int = 5, nprobe: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    val base = sharedBase(embeddings)
    val centroids = spark.read.parquet(s"$path/centroids")
    val assigned = base.join(spark.read.parquet(s"$path/assignments"), Seq("vec_id"))
      .select("vec_id", "e", "nrm", "cluster")
    ivfProbe(base, assigned, centroids, numQueries, k, nprobe)
  }

  /** Recall@k gate for [[annIvf]] — same construction as [[annRecall]]:
    * per query, the fraction of true top-k neighbors the IVF probe
    * returned. Deterministic, hash-gated. */
  def ivfRecall(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame = {
    val base = sharedBase(embeddings)
    val truth = cosineTopKOn(base, numQueries, k).select(col("qid"), col("cid"))
    val approx = annIvfOn(base, numQueries, k, nlist = 16, nprobe = 4)
      .select(col("qid").as("aqid"), col("cid").as("acid"))
    truth
      .join(broadcast(approx), col("qid") === col("aqid") && col("cid") === col("acid"), "left_outer")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(k))
      .select("qid", "n_hit", "recall")
      .orderBy("qid")
  }

  /** LSH-bucketed approximate nearest neighbors, multi-table random
    * hyperplane scheme: `numTables` independent signatures of
    * `bitsPerTable` bits each; candidates = corpus rows sharing any
    * table's bucket with the query (the standard recall amplifier — one
    * table of many bits has near-zero collision probability). Same output
    * shape as [[cosineTopK]]; a query whose buckets are under-filled
    * returns fewer than k neighbors — the recall/speed tradeoff.
    *
    * Scale shape: signatures are per-row higher-order folds over literal
    * plane arrays (no shuffle to build the index); the probe is one
    * equi-join on (table, bucket) against a broadcast query set, scoring
    * only colliding candidates — O(Q·N/2^bits·L) expected vs O(Q·N). */
  def annLsh(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
             numTables: Int = DefaultNumTables,
             bitsPerTable: Int = DefaultBitsPerTable): DataFrame =
    annLshOn(withNorm(embeddings), numQueries, k, numTables, bitsPerTable)

  private def annLshOn(base: DataFrame, numQueries: Int, k: Int,
                       numTables: Int, bitsPerTable: Int): DataFrame = {
    val buckets = bucketed(base, numTables, bitsPerTable)
    val q = broadcast(buckets.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn"), col("tbl"), col("bucket")))
    val c = buckets.select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn"), col("tbl"), col("bucket"))
    val cand = q.join(c, Seq("tbl", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "qe", "qn", "cid", "ce", "cn")
      .dropDuplicates("qid", "cid")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("cid").asc)
    cand
      .withColumn("dot", vec_dot(col("qe"), col("ce")))
      .withColumn("cos_sim", round(col("dot") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "cid", "cos_sim", "rank")
      .orderBy("qid", "rank")
  }

  // --- Product quantization (Jégou, Douze & Schmid, IEEE TPAMI 2011,
  // "Product Quantization for Nearest Neighbor Search") -----------------

  /** PQ geometry: 64-dim vectors → M=8 subspaces of 8 dims, ksub=16
    * centroids per subspace → 8 4-bit codes ≈ 4 bytes per vector vs 256
    * bytes of float32 — the ~32× storage lever that keeps 100 TB of
    * embeddings scannable. Codebooks train with the SAME deterministic
    * integer k-means as [[ivfModel]] (quantized subvectors, exact
    * |q−c|² = q·q − 2q·c + c·c arithmetic, one Lloyd step, id tie-break),
    * so codes and ADC distances replay bit-for-bit in the oracle. */
  val PqM = 8
  val PqSubDim = 8
  val PqKsub = 16

  /** (vec_id, m, qm): the m-th quantized subvector of each vector. */
  private def subvectors(baseQ: DataFrame): DataFrame =
    baseQ.select(col("vec_id"), col("q"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .withColumn("qm", slice(col("q"), col("m") * lit(PqSubDim) + lit(1), lit(PqSubDim)))
      .drop("q")

  /** Per-subspace argmin assignment: [[nearestCluster]] keyed by m — the
    * centroid broadcast is M·ksub = 128 rows. Output keeps the frame's
    * columns plus `cl`. */
  private def nearestSubCluster(frame: DataFrame, cents: DataFrame): DataFrame =
    // Same map-side argmin as [[nearestCluster]] (r18, guide §2.4), keyed
    // by m: one packed ksub-entry table per subspace, 1:1 broadcast join
    // (the old join fanned each subvector row ksub× and re-aggregated
    // with the 8-double `qm` array in the exchange key). Inner join on m
    // preserves the old join semantics.
    frame.join(broadcast(
        cents.groupBy("m")
          .agg(array_sort(collect_list(struct(col("cl"), col("c")))).as("tab"))),
      Seq("m"))
      .withColumn("cl", vec_argmin(col("qm"), col("tab")))
      .drop("tab")

  /** One Lloyd step per subspace — [[lloydUpdate]] with m in the key;
    * M·ksub·subdim = 1024 groups, one partial-aggregated shuffle. */
  private def lloydSubUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("m"), col("cl"), posexplode(col("qm")))
      .groupBy("m", "cl", "pos")
      .agg(sum(col("col").cast("long")).as("s"), count(lit(1)).as("n"))
      .withColumn("mean", round(col("s").cast("double") / col("n")))
      .groupBy("m", "cl")
      .agg(expr("transform(array_sort(collect_list(struct(pos, mean))), x -> x.mean)").as("c"))

  /** PQ codebooks + codes for a corpus: seeds = subvectors of the first
    * ksub vectors, one Lloyd step, re-assign. Returns
    * (codes = (vec_id, m, code), codebooks = (m, cl, c)). */
  private[graft] def pqModelOn(baseQ: DataFrame): (DataFrame, DataFrame) = {
    val sub = subvectors(baseQ)
    val seeds = sub.filter(col("vec_id") < PqKsub)
      .select(col("m"), col("vec_id").cast("int").as("cl"), col("qm").as("c"))
    val codebooks = CacheRegistry.persistBounded(
      lloydSubUpdate(nearestSubCluster(sub.select("vec_id", "m", "qm"), seeds)))
    val codes = nearestSubCluster(sub.select("vec_id", "m", "qm"), codebooks)
      .select(col("vec_id"), col("m"), col("cl").as("code"))
    (codes, codebooks)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each query builds an
    * M×ksub distance table against the codebooks (tiny, broadcast), and a
    * candidate's approximate distance is the SUM of M table lookups — the
    * corpus side is touched only through its 4-bit codes, never its
    * floats. Every distance term is an exact integer-valued double
    * (quantized subvector products ≤ 2^53) and the M-term sum stays
    * ≤ 2^53, so ADC distances are order-independent and the approximate
    * ranking hash-matches the oracle replay, like [[annIvf]].
    *
    * The per-query scan is over N·M code rows with a broadcast lookup +
    * [[graft.functions.TopKAgg]] (no sort of the long tail) — PQ is the
    * COMPRESSION axis of ANN; compose with IVF cells (candidates from
    * [[annIvf]]'s probe) when candidate pruning is also wanted.
    * Output: (qid, cid, adc_dist, rank). */
  def annPq(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame =
    adcTopK(sharedBase(embeddings), numQueries, k)
      .select(col("qid"), col("cid"), col("adc_dist"), col("rank"))
      .orderBy("qid", "rank")

  /** ADC top-k per query as an unordered frame (qid, cid, adc_dist,
    * rank) — the shortlist stage shared by [[annPq]] (k = final k) and
    * [[annPqRerank]] (k = shortlist size R). */
  private def adcTopK(base: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val baseQ = base.withColumn("q", quantized(col("e")))
    val (codes, codebooks) = pqModelOn(baseQ)
    adcTopKFrom(codes, codebooks, baseQ, numQueries, k)
  }

  /** ADC over externally supplied codes/codebooks — the seam the stored
    * PQ index rides ([[annPqFromIndex]]); parameters as [[adcTopK]]. */
  private def adcTopKFrom(codes: DataFrame, codebooks: DataFrame,
                          baseQ: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val dtab = subvectors(baseQ.filter(col("vec_id") < numQueries))
      .withColumnRenamed("vec_id", "qid")
      .join(broadcast(codebooks), Seq("m"))
      .withColumn("d",
        vec_dot(col("qm"), col("qm")) - lit(2.0) * vec_dot(col("qm"), col("c")) +
          vec_dot(col("c"), col("c")))
      .select(col("qid"), col("m"), col("cl").as("code"), col("d"))
    codes
      .join(broadcast(dtab), Seq("m", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id")
      .agg(sum(col("d")).as("adc_dist"))
      .groupBy("qid")
      .agg(graft.functions.TopKAgg.top_k(
        struct((-col("adc_dist")).as("score"), col("vec_id").as("id")), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.id").as("cid"),
        (-col("col.score")).as("adc_dist"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Build + publish the PQ index artifact (codebooks + per-vector codes)
    * at `path` — fingerprint-keyed like the IVF/posting/shingle stores.
    * At 100 TB the codes table IS the searchable corpus (≈ 32× smaller
    * than the floats); the float table is only probed by re-rank. */
  def ensurePqIndex(embeddings: DataFrame, path: String): Unit =
    graft.sinks.ArtifactStore.ensure(embeddings, path, builderId = "pq1") { (df, tmp) =>
      val baseQ = sharedBase(df).withColumn("q", quantized(col("e")))
      val (codes, codebooks) = pqModelOn(baseQ)
      graft.sinks.SnapshotStore.overwriteLatest(codebooks, s"$tmp/codebooks")
      graft.sinks.SnapshotStore.overwriteLatest(codes, s"$tmp/codes")
    }

  /** [[annPq]] over the stored index: codebooks and codes are parquet
    * reads (codebook means are integral doubles — exact through the
    * round-trip, the [[annIvfFromIndex]] argument); only the QUERY
    * vectors are re-quantized. Hash-identical to [[annPq]] by
    * construction — shares its oracle. */
  def annPqFromIndex(embeddings: DataFrame, path: String,
                     numQueries: Int = 10, k: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    val baseQ = sharedBase(embeddings).withColumn("q", quantized(col("e")))
    adcTopKFrom(
      spark.read.parquet(s"$path/codes"),
      spark.read.parquet(s"$path/codebooks"),
      baseQ, numQueries, k)
      .select(col("qid"), col("cid"), col("adc_dist"), col("rank"))
      .orderBy("qid", "rank")
  }

  /** The production PQ pipeline: ADC SHORTLIST (top-`shortlist` by summed
    * code distances — corpus touched through 4-bit codes only), then an
    * EXACT cosine re-rank of just the shortlist rows against the full
    * vectors. Re-ranking reads `shortlist` full vectors per query instead
    * of N — the float table is probed, never scanned — and recovers most
    * of the recall ADC alone gives up (measured in PERF.md; the
    * pq_recall / pq_rerank_recall pair prices the stage).
    * Output: (qid, cid, cos_sim, rank), same shape as [[cosineTopK]]. */
  def annPqRerank(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                  shortlist: Int = 50): DataFrame = {
    val base = sharedBase(embeddings)
    val short = adcTopK(base, numQueries, shortlist).select("qid", "cid")
    val q = broadcast(base.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"), col("nrm").as("qn")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("cid").asc)
    // Broadcast the shortlist (numQueries·shortlist rows, guide §3.1): the
    // planner sees the ADC agg's estimate, not the tiny true size, and can
    // fall back to shuffling the float table by cid — the exact shuffle
    // the PQ-shortlist design exists to avoid (probe the floats, never
    // move them).
    broadcast(short)
      .join(base.select(col("vec_id").as("cid"), col("e").as("ce"), col("nrm").as("cn")), Seq("cid"))
      .join(q, Seq("qid"))
      .withColumn("cos_sim", round(vec_dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("qid", "cid", "cos_sim", "rank")
      .orderBy("qid", "rank")
  }

  /** Recall of [[annPq]]'s ADC ranking against exact cosine top-k — the
    * honesty gate every approximate index here carries. */
  def pqRecall(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5): DataFrame =
    recallAgainstTruth(embeddings,
      annPq(embeddings, numQueries, k), numQueries, k)

  /** Recall of the shortlist+re-rank pipeline — read together with
    * [[pqRecall]] this prices exactly what the exact re-rank stage buys. */
  def pqRerankRecall(embeddings: DataFrame, numQueries: Int = 10, k: Int = 5,
                     shortlist: Int = 50): DataFrame =
    recallAgainstTruth(embeddings,
      annPqRerank(embeddings, numQueries, k, shortlist), numQueries, k)

  private def recallAgainstTruth(embeddings: DataFrame, approx: DataFrame,
                                 numQueries: Int, k: Int): DataFrame = {
    val base = sharedBase(embeddings)
    val truth = cosineTopKOn(base, numQueries, k).select(col("qid"), col("cid"))
    truth
      // numQueries·k rows on each side — broadcast the probe side so the
      // recall compare is a BHJ instead of a sort-merge of two aggregate
      // outputs whose size the planner cannot estimate (guide §3.1).
      .join(broadcast(approx.select(col("qid").as("aqid"), col("cid").as("acid"))),
        col("aqid") === col("qid") && col("acid") === col("cid"), "left_outer")
      .groupBy("qid")
      .agg(count(col("acid")).as("n_hit"),
        (count(col("acid")).cast("double") / k).as("recall"))
      .orderBy("qid")
  }

  /** Cluster-balanced sampling: cap every semantic cluster's contribution
    * at `perCluster` vectors — the topic-balancing step (the SemDeDup /
    * DataComp observation: web-scale corpora are dominated by a few huge
    * semantic clusters, and sampling uniformly reproduces the imbalance;
    * capping per-cluster share flattens it). Clusters are the
    * deterministic IVF k-means assignment ([[ivfModel]] — the SAME model
    * the ANN index uses, so the balancing and the index share one
    * clustering artifact); within a cluster the kept vectors are the md5
    * hash-order prefix, so the sample is unbiased w.r.t. vec_id order and
    * reproducible on any partitioning.
    *
    * Scale shape: the IVF model's broadcast-argmin assignment, then the
    * grouped distributed rank (range partition + per-partition offsets — no
    * per-cluster window straggler when one cluster holds half the
    * corpus, which is exactly the skew this operator exists to correct). */
  def clusterBalancedSample(embeddings: DataFrame, perCluster: Int = 20,
                            nlist: Int = 16): DataFrame = {
    val (assigned, _) = ivfModel(embeddings, nlist)
    RankUtils.groupedRowNumber(
      assigned.select(col("vec_id"), col("cluster"))
        .withColumn("h", md5(concat_ws(":", lit("cb"), col("vec_id")))),
      Seq("cluster"), Seq(col("h").asc, col("vec_id").asc), "rn")
      .filter(col("rn") <= perCluster)
      .select(col("cluster").cast("long").as("cluster"), col("rn"), col("vec_id"))
      .orderBy("cluster", "rn")
  }
}
