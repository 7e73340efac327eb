package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM-training-data pipeline (north-star
  * extensions, SURVEY.md §7.2 step 8): exact, MinHash+LSH, SimHash, and
  * n-gram Jaccard near-dup detection over the `documents` table.
  *
  * Scale design (the whole point at 100 TB):
  *  - Exact dedup is one hash aggregate on a 32-hex digest — never on the
  *    raw text (group keys stay tiny; the text column is pruned away).
  *  - MinHash/LSH turns the quadratic all-pairs problem into an equi-join
  *    on band keys: |docs|·bands rows shuffle, candidate pairs only where a
  *    band collides, then Jaccard verification touches candidates only.
  *  - SimHash reduces each doc to one 60-bit integer per row via
  *    higher-order array folds (no 60× row explosion), and pairs join on
  *    15-bit sub-bands (pigeonhole: hamming ≤ 8 on 4 bands guarantees one
  *    exact band match for distance ≤ 3 — we filter after).
  *  - All hashes are md5-derived so the DuckDB oracle reproduces them
  *    bit-for-bit; ordering keys are ints/strings, never floats.
  */
object Dedup {

  /** Exact / near-exact dedup: group by md5 of whitespace-normalized,
    * lowercased text; keeper = min doc_id per group (deterministic). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy("keep_id")

  /** Distinct word-3-gram shingles per document: (doc_id, sh). */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame = {
    val gram = (0 until k).map(j => s"w[i+$j]").mkString(", ")
    SkewUtils.spreadCompute(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TextAnalysis.wordsExpr.as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(expr(
          s"array_distinct(transform(sequence(0, size(w)-$k), i -> concat_ws(' ', $gram)))")).as("sh"))
  }

  /** Lazily persisted shingle frame — the lexical sibling of the
    * similarity family's normalized-embedding base (Similarity.sharedBase).
    * Used ONLY where a measured reuse exists (contamination's eval side,
    * read by both its sizes and overlap branches: 1.36→0.75 s at sf0.1,
    * replicated 2×). Deliberately NOT used in [[minhashPairs]], where the
    * shingle subtree appears 4× per plan and a persist looks obvious:
    * measured A/B at sf0.1 (2 runs each) made dedup_clusters ~1 s SLOWER —
    * the connected-components checkpoint job's branches race to build the
    * columnar cache (every branch computes the subtree anyway, then also
    * pays the string-columnar write), so the persist adds cost exactly
    * where the fan-out is. At 100 TB the right artifact is a MAINTAINED
    * shingle TABLE written once and read by the whole family (the
    * documented seam), not an in-session cache. Persisted via the bounded
    * [[CacheRegistry]] so repeated calls in a long session reuse one entry
    * instead of accumulating cached frames. */
  private[operators] def sharedShingles(docs: DataFrame, k: Int = 3): DataFrame =
    CacheRegistry.persistBounded(shingles(docs, k))

  val NumHashes = 16
  // 8 bands x 2 rows: candidate threshold ~ (1/b)^(1/r) = 0.35, the right
  // sensitivity for a 0.5 Jaccard cut (4x4 banding missed ~40% of
  // genuine 0.6-0.7 pairs — measured on the planted-dup fixtures).
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands

  /** Mersenne prime 2^31 - 1: affine permutations (a·h + b) mod P over a
    * 31-bit base hash stay inside exact BIGINT range (a·h < 2^62). */
  val P = 2147483647L

  /** Deterministic permutation constants — also baked into the DuckDB
    * oracle SQL, so keep them pure functions of j. */
  val hashParams: Seq[(Long, Long)] = (0 until NumHashes).map { j =>
    val a = (((j + 1) * 0x9E3779B1L) % P) | 1L
    val b = ((j + 1) * 0x85EBCA77L) % P
    (a, b)
  }

  /** MinHash signature: h_j = min over shingles of (a_j·h + b_j) mod P —
    * the classic min-wise affine permutation family. Base hash: the
    * native 60-bit md5 prefix ([[graft.functions.Md5Hash60]] — no hex
    * string per shingle) mod P; one md5 per shingle, the 16 permutations
    * are cheap affine arithmetic (the md5-per-permutation formulation
    * costs 16× the hashing and dominated the whole pipeline). */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val base = sh.withColumn("h",
      graft.functions.Md5Hash60.md5_hash60(col("sh")) % P)
    val aggs = hashParams.zipWithIndex.map { case ((a, b), j) =>
      min(expr(s"($a * h + $b) % $P")).as(s"h$j")
    }
    base.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  private def bandKeys: Seq[Column] = {
    (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}"))
      md5(concat_ws("_", lit(s"b$b") +: cols: _*))
    }
  }

  /** The LSH band table (doc_id, bk) for pre-tokenized (doc_id, sh) rows
    * — signatures min-reduced per doc, then one band key per band. Per-doc
    * and self-contained, so it APPENDS under corpus growth (a new doc's
    * bands depend only on its own shingles) — which is what lets
    * [[ShingleStore]] persist it as part of the maintained artifact. */
  def bandTable(sh: DataFrame): DataFrame =
    minhashSignatures(sh)
      .select(col("doc_id"), explode(array(bandKeys: _*)).as("bk"))

  /** MinHash+LSH near-dup pairs: band-key equi-join for candidates, exact
    * Jaccard verification on the shingle sets, threshold filter.
    * Output: (id_a, id_b, n_common, jaccard) with id_a < id_b. */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    // STILL no sharedShingles here (re-measured r18): the r17 rejection
    // blamed branch races inside the connected-components localCheckpoint
    // job, so after the RDD-fixpoint rewrite removed that job the persist
    // was re-tried — and it is STILL a loss (interleaved JobCountProbe,
    // sf0.1/local[32]: dedup_clusters 19→27 jobs, 2.1-2.5→2.7-2.8 s;
    // corpus_clean 31→35 jobs, 2.7→2.9-3.3 s). The columnar cache write +
    // per-read cached-plan jobs cost more than three recomputes of the
    // cheap tokenization; the 100 TB answer stays the maintained shingle
    // TABLE (the *_stored/_bucketed variants), not an in-session cache.
    minhashPairsFromShingles(shingles(docs), threshold)

  /** [[minhashPairs]] over pre-tokenized (doc_id, sh) rows — the entry
    * point for the maintained [[ShingleStore]] artifact: identical result
    * by construction (shingling is deterministic), with the per-query
    * tokenization replaced by a parquet scan. */
  def minhashPairsFromShingles(sh: DataFrame, threshold: Double = 0.5): DataFrame = {
    val bands = bandTable(sh)
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    jaccardVerify(cand, sh, threshold)
  }

  /** INCREMENTAL near-dup: a new document batch against an EXISTING
    * corpus — the daily-ingest shape of [[minhashPairs]]. Candidates are
    * new-side bands probing the corpus band table; verification joins the
    * batch's shingles against the corpus shingles. Cost scales with the
    * BATCH (its shingling + signatures) plus the band probe — the corpus
    * is touched only through its (stored) shingle/band rows, never
    * re-tokenized, and corpus×corpus pairs are never generated. That
    * asymmetry is the whole point at 100 TB: a 0.1% daily batch does
    * ~0.1% of the full-corpus dedup work instead of re-running it.
    *
    * `corpusSh` is (doc_id, sh) rows — typically
    * [[ShingleStore.read]] (the maintained artifact, appended per ingest)
    * — and must be disjoint in doc_id from `newDocs`. Pass
    * `corpusBands` ([[ShingleStore.readBands]]) to skip recomputing the
    * corpus signatures — the corpus-proportional aggregation that
    * otherwise dominates; with the stored band table the only
    * corpus-sized work left is the band-probe shuffle and the
    * candidate-row shingle join.
    * Output: (new_id, corpus_id, n_common, jaccard ≥ threshold). */
  def minhashPairsIncremental(corpusSh: DataFrame, newDocs: DataFrame,
                              threshold: Double = 0.5,
                              corpusBands: Option[DataFrame] = None): DataFrame = {
    val newSh = shingles(newDocs)
    val cBands = corpusBands.getOrElse(bandTable(corpusSh))
    val newBands = bandTable(newSh)
    // Candidates feed three consumers (corpus restriction, sizes, the
    // verification join) — persist the small pair table rather than
    // re-running the band probe per consumer.
    val cand = CacheRegistry.persistBounded(newBands.as("a")
      .join(cBands.as("b"), col("a.bk") === col("b.bk"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("corpus_id"))
      .distinct())
    // Restrict the corpus shingles to CANDIDATE docs before any
    // aggregation or join: an unhinted semi join AQE plans as a broadcast
    // when the candidate id list is small (the normal case — candidates
    // are band collisions, not the corpus), turning the remaining
    // corpus-side work into a scan+filter instead of a full-table
    // shuffle. Per-doc sizes computed AFTER the restriction are exact:
    // the filter keeps whole documents.
    val candIds = cand.select(col("corpus_id").as("doc_id")).distinct()
    val corpusCand = corpusSh.join(candIds, Seq("doc_id"), "left_semi")
    val sizesNew = newSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sizesOld = corpusCand.groupBy("doc_id").agg(count(lit(1)).as("n"))
    cand
      .join(newSh.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(corpusCand.as("sb"),
        col("corpus_id") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy("new_id", "corpus_id")
      .agg(count(lit(1)).as("n_common"))
      .join(sizesNew.as("na"), col("new_id") === col("na.doc_id"))
      .join(sizesOld.as("nb"), col("corpus_id") === col("nb.doc_id"))
      .withColumn("jaccard",
        col("n_common") / (col("na.n") + col("nb.n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "corpus_id", "n_common", "jaccard")
      .orderBy("new_id", "corpus_id")
  }

  /** Exact Jaccard on candidate pairs via a shingle equi-join (touches only
    * candidates — the verification step of LSH). */
  private def jaccardVerify(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("id_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.as("na"), col("id_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.doc_id"))
      .withColumn("jaccard",
        col("n_common") / (col("na.n") + col("nb.n") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** N-gram Jaccard similarity ranking WITHOUT the LSH shortcut: candidate
    * pairs are any two docs sharing ≥ `minCommon` shingles (generated by the
    * shingle self-join itself), top-`k` pairs by exact Jaccard. The LSH
    * variant above is the 100 TB path; this is the exhaustive-within-reason
    * baseline (the self-join only fans out on shared shingles, never a
    * cross join). */
  def ngramJaccardTop(docs: DataFrame, minCommon: Long = 3, k: Int = 100,
                      maxDocFreq: Long = 100): DataFrame = {
    // Document-frequency cap: a shingle shared by d documents implies
    // ~d²/2 candidate pairs, so one boilerplate phrase shared by 100k docs
    // is a 5e9-row fanout on a real corpus. Hot shingles carry no dedup
    // signal (corpus-wide boilerplate); dropping them bounds per-shingle
    // fanout at maxDocFreq²/2 and improves precision. Jaccard is over the
    // capped shingle set on both sides (sizes and intersections), mirrored
    // exactly in the oracle SQL.
    //
    // Shape: ONE aggregation over the shingle table with a BOUNDED buffer
    // — graft.functions.CappedCollectLongs keeps at most cap+1 doc ids per
    // group (a truncated heap, map-side combinable) and returns NULL for
    // groups exceeding the cap, so a corpus-wide boilerplate shingle can
    // never materialize its full doc list in any aggregation buffer (a
    // plain collect_list-then-filter would buffer 1M-element arrays before
    // discarding them — executor OOM; a two-pass count→filter→collect is
    // memory-safe but shuffles the shingle table twice). Distinctness of
    // (sh, doc_id) rows — guaranteed by shingles() — makes the capped
    // result COMPLETE for every surviving shingle.
    val grouped = shingles(docs).groupBy("sh")
      .agg(graft.functions.CappedCollectLongs
        .capped_collect(col("doc_id"), maxDocFreq.toInt).as("ids"))
      .filter(col("ids").isNotNull)
    val sizes = grouped.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = grouped.filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1),
          |            y -> struct(x AS id_a, y AS id_b))))""".stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    inter
      .join(sizes.as("na"), col("id_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.doc_id"))
      .withColumn("jaccard",
        col("n_common") / (col("na.n") + col("nb.n") - col("n_common")))
      .select("id_a", "id_b", "n_common", "jaccard")
      .orderBy(col("jaccard").desc, col("id_a").asc, col("id_b").asc)
      .limit(k)
  }

  /** Connected components over near-dup pairs — the step that turns pair
    * detection into an actionable dedup decision: every document in a
    * connected cluster maps to the cluster's canonical keeper (min doc_id,
    * deterministic). Pairs are edges; transitively-linked docs (A~B, B~C)
    * collapse into one cluster even when A and C were never compared.
    *
    * Algorithm: hash-to-min label propagation — every node starts as its
    * own label; each round every node takes the min label across itself
    * and its neighbors; stop at fixpoint. Rounds needed = graph diameter
    * (near-dup clusters are shallow; `maxIters` bounds pathological
    * chains). Each round is one co-partitioned join + one combiner-side
    * reduceByKey(min) — one shuffle on doc_id, no driver-side data
    * beyond the convergence sum. The final labels are path-independent,
    * so the result is deterministic under any partitioning —
    * oracle-checkable against a recursive-CTE transitive closure. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    // FIXPOINT ON RDDs, not DataFrames (r18, guide §1.2 "the distributed
    // algorithm" + §7.3 planning cost): the DataFrame loop paid, PER
    // ROUND, a fresh Catalyst analyze/optimize + whole-stage-codegen
    // compile + AQE stage-job fanout + a localCheckpoint materialization
    // + a shuffle-join convergence probe — measured with a job-count
    // listener at sf0.1: dedup_clusters ran 34 jobs for ~50 single-row
    // tasks, i.e. the fixpoint was ~all fixed per-job overhead, and under
    // a loaded host one slow round snowballed (driver r17: 3.3 s min /
    // 28.6 s median on dedup_embedding_clusters). The RDD loop plans
    // nothing per round: both sides share ONE HashPartitioner, so the
    // per-round join is narrow (zero shuffle) and only the reduceByKey
    // moves rows; one action per round executes join+reduce+sum in a
    // single job. Labels are hash-to-min exactly as before — identical
    // output by construction.
    val spark = pairs.sparkSession
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Undirected edges keyed by the label SOURCE: (m, n) = "m's label
    // flows to n"; symmetric closure + self-loops (own label competes in
    // every round's min, which is what makes labels monotone).
    val sym = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long")).as(enc).rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .persist(lvl)
    // Materialize the pair-detection output once (the upstream LSH /
    // prefix-filter pipeline must never re-execute per round), and size
    // the loop's partitioner from the MEASURED edge count — tiny graphs
    // collapse to one partition, a 100 TB graph keeps full parallelism:
    // scale-adaptive, not a local[32] constant (guide §2.2).
    val perTask = graft.GraftConf.long(spark, "spark.graft.cc.edgesPerTask", 65536L)
    val width = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, (sym.count() + perTask - 1) / perTask)).toInt
    val part = new org.apache.spark.HashPartitioner(width)
    val edges = sym
      .union(sym.keys.distinct(width).map(n => (n, n)))
      .partitionBy(part).persist(lvl)
    edges.count()
    sym.unpersist(blocking = false)
    // Initial labels: every node labels itself — exactly the self-loop
    // rows of the cached edge set (already partitioned by `part`).
    var labels = edges.filter { case (m, n) => m == n }
    // Exact convergence metric: labels are per-node monotone
    // non-increasing (self-loops put the old label in every min), so the
    // label SUM is unchanged iff NO label changed — a fixpoint test, not
    // a heuristic. BigInt partial sums keep it exact at any node count.
    def labelSum(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      rdd.mapPartitions(it => Iterator.single(it.foldLeft(BigInt(0))(_ + _._2)))
        .fold(BigInt(0))(_ + _)
    var prevSum = labelSum(labels)
    var prevPersisted: org.apache.spark.rdd.RDD[(Long, Long)] = null
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val next = edges.join(labels, part) // co-partitioned: narrow, no shuffle
        .map { case (_, (n, mlbl)) => (n, mlbl) }
        .reduceByKey(part, math.min(_: Long, _: Long)) // the round's ONE shuffle
        .persist(lvl)
      val s = labelSum(next) // the round's ONE action
      if (prevPersisted != null) prevPersisted.unpersist(blocking = false)
      converged = s == prevSum
      prevSum = s
      prevPersisted = next
      labels = next
      i += 1
    }
    // Hash-to-min needs diameter rounds: a chain longer than maxIters exits
    // here with intermediate labels. Surface that loudly instead of
    // silently returning wrong clusters — callers must size maxIters above
    // the expected component diameter (near-dup graphs are shallow; a
    // pathological corpus is a configuration problem, not a silent one).
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did NOT converge within $maxIters iterations; " +
          "labels are intermediate (component diameter exceeds maxIters) — raise maxIters")
    spark.createDataFrame(labels).toDF("doc_id", "keep_id").orderBy("doc_id")
  }

  /** Connected components via alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * the deep-graph alternative to [[connectedComponents]]: hash-to-min
    * needs one round per unit of component DIAMETER, while star rounds
    * contract paths doubly-exponentially (O(log n) rounds on a chain), so
    * a pathological million-hop chain converges in ~20 rounds instead of a
    * million. Per round it costs two phases of (groupBy + join) versus
    * hash-to-min's one, so the shallow near-dup graphs the dedup pipeline
    * actually produces stay on [[connectedComponents]] by default; switch
    * here when components may be long chains (e.g. transitive URL or
    * citation graphs).
    *
    * Both phases are aggregate/join only — no per-node neighbor list is
    * ever collected, so memory per task is bounded regardless of degree:
    *  - large-star: m(u) = min(Γ(u) ∪ u); new edges (v, m(u)) for v > u
    *  - small-star: edges oriented high→low; m(u) = min(Γ⁻(u) ∪ u);
    *    emit (v, m(u)) for the smaller neighbors plus (u, m(u))
    * The final edge set is a star per component rooted at its min node;
    * labels read straight off the edges. Same output contract as
    * [[connectedComponents]] (doc_id, keep_id), with one precondition:
    * `pairs` must be proper pairs (id_a ≠ id_b — what every near-dup
    * detector here emits); a degenerate self-pair names no edge, so a
    * node mentioned ONLY by a self-pair does not appear in the output. */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    // Same RDD-fixpoint rationale as [[connectedComponents]] (r18): the
    // DataFrame rounds paid per-round Catalyst planning + codegen + AQE
    // job fanout + a localCheckpoint + a shuffle-join set-equality probe
    // (job-count listener: dedup_clusters_star ran 40 jobs for ~54
    // single-row tasks at sf0.1). The RDD rounds plan nothing and run
    // ONE action per round (the set-equality count materializes the new
    // edge set); the partitioner width derives from the measured pair
    // count, so a 100 TB graph keeps full parallelism. The star algebra
    // is a 1:1 translation of the DataFrame phases — no per-node
    // neighbor list is ever collected (distinct/reduceByKey only), so
    // per-task memory stays degree-independent.
    type Edges = org.apache.spark.rdd.RDD[(Long, Long)]
    val spark = pairs.sparkSession
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val raw = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long")).as(enc).rdd
      .persist(lvl)
    // Materialize the pair-detection output once; size the loop's
    // partitioner from the measured pair count (guide §2.2).
    val perTask = graft.GraftConf.long(spark, "spark.graft.cc.edgesPerTask", 65536L)
    val width = math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, (raw.count() + perTask - 1) / perTask)).toInt
    val part = new org.apache.spark.HashPartitioner(width)
    val minL = math.min(_: Long, _: Long)

    // canonical: proper edges oriented high→low, one row per pair.
    def canonical(e: Edges): Edges =
      e.filter(x => x._1 != x._2)
        .map(x => (math.max(x._1, x._2), math.min(x._1, x._2)))
        .distinct(width)

    // large-star: m(u) = min(Γ(u) ∪ u); new edges (v, m(u)) for v > u.
    def largeStar(e: Edges): Edges = {
      val sym = e.flatMap(x => Iterator(x, x.swap)).partitionBy(part)
      // reduceByKey over the co-partitioned sym is narrow; folding the
      // key into the min afterwards preserves the partitioning, so the
      // join below is narrow too.
      val mins = sym.reduceByKey(part, minL).mapPartitions(
        _.map { case (u, m) => (u, math.min(u, m)) }, preservesPartitioning = true)
      sym.join(mins, part)
        .flatMap { case (u, (v, m)) => if (v > u) Iterator((v, m)) else Iterator.empty }
    }

    // small-star over high→low edges: m(u) = min(Γ⁻(u) ∪ u) = min of the
    // smaller neighbors; emit (v, m) for v ≠ m plus (u, m).
    def smallStar(e: Edges): Edges = {
      val byU = e.partitionBy(part)
      val mins = byU.reduceByKey(part, minL)
      byU.join(mins, part).flatMap { case (u, (v, m)) =>
        if (v != m) Iterator((v, m), (u, m)) else Iterator((u, m))
      }
    }

    var edges = canonical(raw).persist(lvl)
    edges.count()
    // Node set from the CANONICAL edges (as before — a node named only by
    // a degenerate self-pair stays out of the output), materialized
    // before `raw` is released so the final labels action never re-runs
    // the upstream pair-detection pipeline.
    val nodes = edges.flatMap(x => Iterator(x._1, x._2)).distinct(width).persist(lvl)
    nodes.count()
    raw.unpersist(blocking = false)
    var converged = false
    var i = 0
    var prev: Edges = edges
    while (!converged && i < maxIters) {
      val next = canonical(smallStar(canonical(largeStar(edges)))).persist(lvl)
      // Set equality of two distinct edge sets: every pair must appear
      // exactly twice in the union — one count() action per round, which
      // also materializes `next`.
      converged = next.union(edges).map((_, 1L)).reduceByKey(_ + _)
        .filter(_._2 != 2L).count() == 0L
      prev.unpersist(blocking = false)
      prev = next
      edges = next
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponentsStar did NOT converge within $maxIters iterations")
    // Labels off the star edges: non-roots carry (u, root) with root < u,
    // roots (and any mid-converged multi-edge node) resolve by min —
    // identical to the old left-outer join + groupBy(min) + coalesce.
    val labels = nodes.map(n => (n, n)).union(edges).reduceByKey(minL)
    spark.createDataFrame(labels).toDF("doc_id", "keep_id").orderBy("doc_id")
  }

  /** Cluster assignment for the whole corpus: docs in near-dup clusters
    * map to the cluster keeper, everything else keeps itself. `is_dup`
    * marks the rows a dedup pass would drop. */
  def dedupClusters(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    assignKeepers(docs, connectedComponents(minhashPairs(docs, threshold)))

  /** [[dedupClusters]] over the star-contraction components — identical
    * output by construction (both label a component with its min id), so
    * the same recursive-CTE oracle gates BOTH algorithms. */
  def dedupClustersStar(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    assignKeepers(docs, connectedComponentsStar(minhashPairs(docs, threshold)))

  /** [[dedupClusters]] over pre-tokenized (doc_id, sh) rows (the
    * [[ShingleStore]] entry point): `docIds` supplies the corpus roster
    * for keeper assignment (any frame with doc_id), `sh` the shingles. */
  def dedupClustersFromShingles(docIds: DataFrame, sh: DataFrame,
                                threshold: Double = 0.5): DataFrame =
    assignKeepers(docIds, connectedComponents(minhashPairsFromShingles(sh, threshold)))

  /** Leakage-free train/test split: every document is assigned a side by
    * hashing its near-dup CLUSTER representative, not its own id — so a
    * near-duplicate of a test document can never land in train (the
    * contamination that inflates eval scores; the reason eval-decontam
    * pipelines split by cluster, not by row). `test` gets clusters whose
    * keeper hashes to 0 mod `testMod` (≈ 1/testMod of clusters);
    * singletons are their own cluster. Deterministic (md5 of keep_id) and
    * partitioning-independent; the guarantee is structural — split is a
    * FUNCTION of keep_id, so same-cluster rows cannot disagree.
    *
    * Scale shape: [[dedupClusters]]' banded-LSH + O(log n) labeling, then
    * one per-row hash — nothing new shuffles. */
  def leakFreeSplit(docs: DataFrame, testMod: Int = 10,
                    threshold: Double = 0.5): DataFrame =
    dedupClusters(docs, threshold)
      .withColumn("split",
        when(graft.functions.Md5Hash60.md5_hash60(col("keep_id").cast("string"))
          % testMod === 0, lit("test")).otherwise(lit("train")))
      .select("doc_id", "keep_id", "split")
      .orderBy("doc_id")

  private def assignKeepers(docs: DataFrame, comp: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("keep_id"), col("doc_id")).as("keep_id"))
      .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("boolean"))
      .orderBy("doc_id")

  val SimhashBits = 60 // 15 hex chars of md5 -> fits a signed BIGINT

  /** Per-document 60-bit SimHash, frequency-weighted (Charikar): each word
    * occurrence votes its hash bits, simhash bit j = majority vote.
    * Computed with higher-order array folds — one row per doc throughout,
    * no 60× bit explosion. TF weighting matters on shared-vocabulary
    * corpora: an unweighted (set-of-words) simhash collapses near-identical
    * vocabularies into mega-buckets and the pairs join goes quadratic.
    * Output: (doc_id, simhash, n_words = token count). */
  def simhash(docs: DataFrame): DataFrame = {
    // Explode to one row per token so md5 runs exactly once per occurrence —
    // a pure higher-order-fold formulation re-evaluates the hash array at
    // every bit position after CollapseProject inlines it (measured 60×
    // slower). The grouped agg computes all 60 bit-counts in one shuffle.
    val tok = SkewUtils.spreadCompute(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), explode(TextAnalysis.wordsExpr).as("word"))
      .select(col("doc_id"),
        graft.functions.Md5Hash60.md5_hash60(col("word")).as("h"))
    val bitAggs = (0 until SimhashBits).map(j => sum(expr(s"shiftright(h, $j) & 1")).as(s"b$j"))
    val counts = tok.groupBy("doc_id")
      .agg(bitAggs.head, (bitAggs.tail :+ count(lit(1)).as("n_tok")): _*)
    val simExpr = (0 until SimhashBits)
      .map(j => s"IF(2 * b$j > n_tok, ${1L << j}L, 0L)")
      .mkString(" + ")
    counts
      .select(col("doc_id"), expr(simExpr).as("simhash"), col("n_tok").cast("long").as("n_words"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs: 15-bit sub-band equi-join for candidates
    * (pigeonhole over 4 bands), then hamming distance filter via
    * bit_count(xor). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8): DataFrame = {
    val sig = simhash(docs).select("doc_id", "simhash")
    val bands = sig.select(col("doc_id"), col("simhash"),
      explode(expr("transform(sequence(0, 3), b -> struct(b AS band, shiftright(simhash, b * 15) & 32767 AS key))")).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.band").as("band"), col("bk.key").as("key"))
    val left = bands.select(col("doc_id").as("id_a"), col("simhash").as("sim_a"), col("band"), col("key"))
    val right = bands.select(col("doc_id").as("id_b"), col("simhash").as("sim_b"), col("band"), col("key"))
    left.join(right, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sim_a ^ sim_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct: shrink the shuffle
      .distinct()
      .orderBy("id_a", "id_b")
  }
}
