package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing — the LLM-training data-prep step that concatenates
  * documents into fixed-budget context chunks ("pack until full"). The
  * exact greedy bin-packing is inherently sequential, so at scale the
  * standard formulation is sharded streaming concatenation: documents
  * hash into `shards` independent streams, each stream packs in doc_id
  * order by cumulative token count, and each document lands in the chunk
  * selected by the total BEFORE it (`floor((cumsum − tokens) / budget)`)
  * — the boundary-straddling approximation every large-scale packer
  * accepts (exact per-chunk capacity enforcement would serialize the
  * scan).
  *
  * Scale shape: one partitioned window per shard (never a global window —
  * the cumsum parallelism IS the shard count), shard assignment from an
  * md5-derived hash (engine-reproducible, unlike `hash()`), everything
  * else per-row arithmetic.
  * Output: (doc_id, shard, chunk_id, tokens) — chunk_id unique across
  * shards.
  */
object Packing {

  /** Whitespace token count, matching [[TextAnalysis]]'s tokens_ws. */
  private def tokensExpr = size(TextAnalysis.wordsExpr).cast("long")

  /** `shards` IS the cumsum parallelism and must scale with the corpus:
    * each shard's running total is one task's sequential window, so at
    * 100 TB a fixed 8 serializes the pipeline behind 8 tasks. Size it so a
    * shard holds a bounded number of documents (and at least ~2-4× the
    * cluster's cores for scheduling slack); [[packDocumentsAuto]] derives
    * it from the corpus size with that rule. The oracle-checked query
    * registration pins shards = 8 explicitly because chunk ids are a
    * function of the shard count and the oracle SQL must agree — the pin
    * is a determinism contract there, not a scale recommendation. */
  def packDocuments(docs: DataFrame, budget: Long = 2048, shards: Int = 8): DataFrame = {
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    SkewUtils.spreadCompute(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), tokensExpr.as("tokens"))
      // md5-derived shard: first 15 hex chars fit a BIGINT exactly; both
      // engines compute the identical value (hash() would not reproduce;
      // the native Md5Hash60 prefix equals the hex parse bit-for-bit).
      .withColumn("shard",
        graft.functions.Md5Hash60.md5_hash60(col("doc_id").cast("string")) % shards)
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("chunk_id",
        col("shard") * lit(1000000000L) + floor((col("cum") - col("tokens")) / lit(budget)).cast("long"))
      .select("doc_id", "shard", "chunk_id", "tokens")
      .orderBy("doc_id")
  }

  /** Length-bucketed batch construction — the padding-efficiency batching
    * a training data-loader runs: a batch pads every document to its
    * longest member, so batching RANDOM lengths wastes compute on pad
    * tokens; batching near-equal lengths doesn't. Documents are ranked
    * globally by token count ([[RankUtils.globalRowNumber]] — range
    * partition + per-partition offsets, never a single-partition window),
    * split into `nBuckets` equal-rank ranges, and each bucket is cut into
    * fixed-`batchSize` batches of adjacent-length docs. One row per batch
    * with its padding metrics. All bucket/batch arithmetic is exact
    * integer division of (rank, total) — deterministic, DuckDB-replayable.
    * The 1-row total frame is the allowlisted broadcast-scalar pattern. */
  def lengthBatches(docs: DataFrame, nBuckets: Int = 8, batchSize: Int = 16): DataFrame = {
    val toks = SkewUtils.spreadCompute(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), tokensExpr.as("tokens"))
    val ranked = RankUtils.globalRowNumber(toks, Seq(col("tokens"), col("doc_id")), "rank")
    val total = toks.agg(count(lit(1)).as("total"))
    ranked.crossJoin(broadcast(total))
      .withColumn("bucket", expr(s"((rank - 1) * $nBuckets) div total"))
      .withColumn("batch_idx",
        expr(s"((rank - 1) - (bucket * total + ${nBuckets - 1}) div $nBuckets) div $batchSize"))
      .groupBy(col("bucket"), col("batch_idx"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(col("tokens")).as("max_tokens"),
        sum(col("tokens")).as("sum_tokens"))
      .withColumn("padding_frac",
        (col("n_docs") * col("max_tokens") - col("sum_tokens")).cast("double") /
          (col("n_docs") * col("max_tokens")).cast("double"))
      .orderBy("bucket", "batch_idx")
  }

  /** [[packDocuments]] with the shard count derived from the corpus size:
    * ceil(n_docs / docsPerShard), clamped to [minShards, 1 << 20]. One
    * metadata-cheap count chooses the parallelism; the result is still
    * deterministic FOR a given corpus size (the count is a function of the
    * input, not of the cluster). docsPerShard bounds each task's
    * sequential cumsum work; minShards keeps small corpora spread over
    * the cluster's cores. */
  def packDocumentsAuto(docs: DataFrame, budget: Long = 2048,
                        docsPerShard: Long = 1000000, minShards: Int = 8): DataFrame = {
    val n = docs.count()
    val derived = ((n + docsPerShard - 1) / docsPerShard).toInt
    packDocuments(docs, budget, math.min(1 << 20, math.max(minShards, derived)))
  }

  /** Sliding-window chunking — the SPLITTING counterpart to
    * [[packDocuments]]'s concatenation: long documents become overlapping
    * `size`-token windows advancing by `stride` (overlap = size − stride
    * preserves context across boundaries — the standard long-document
    * prep for a fixed context length). Chunk count is exact integer
    * arithmetic ((n − size + stride − 1) div stride + 1 for n > size,
    * else 1), all per-row expressions (sequence + explode + slice), no
    * shuffle; fanout per doc is bounded by ~n/stride. Output: one row per
    * chunk with its 1-based start token, length, and an md5 of the chunk
    * text (the compact content witness the oracle compares). */
  def slidingWindows(docs: DataFrame, windowSize: Int = 128, stride: Int = 96): DataFrame = {
    require(windowSize > 0 && stride > 0 && stride <= windowSize,
      s"need 0 < stride <= windowSize, got windowSize=$windowSize stride=$stride")
    SkewUtils.spreadCompute(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TextAnalysis.wordsExpr.as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("n_tokens_doc"))
      .withColumn("chunk_idx", explode(expr(
        s"sequence(0, IF(n_tokens_doc <= $windowSize, 0, CAST((n_tokens_doc - $windowSize + $stride - 1) div $stride AS INT)))")))
      .withColumn("start_token", col("chunk_idx").cast("long") * stride + 1)
      .withColumn("n_tokens",
        least(lit(windowSize.toLong), col("n_tokens_doc") - col("chunk_idx").cast("long") * stride))
      .withColumn("chunk_md5",
        md5(expr(s"concat_ws(' ', slice(w, start_token, n_tokens))")))
      .select("doc_id", "chunk_idx", "start_token", "n_tokens", "chunk_md5")
      .withColumn("chunk_idx", col("chunk_idx").cast("long"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Content-defined chunking (the CDC of backup/dedup systems — Muthitacharoen
    * et al. SOSP 2001 "A low-bandwidth network file system" — applied at word
    * granularity): a chunk boundary falls AFTER word i exactly when the
    * md5-derived 60-bit hash of the 3-gram ending at i is ≡ 0 (mod `divisor`)
    * — a pure function of local CONTENT, so an edit reshapes only the chunks
    * it touches while every chunk outside the edit keeps its byte-identical
    * text and hash (the boundary-stability fixed-size chunking lacks; spec-
    * gated with a prefix-edited twin). That stability is what makes
    * chunk-hash dedup across crawl snapshots work: re-crawled pages with one
    * changed paragraph re-share every other chunk.
    *
    * Expected chunk length = `divisor` words (geometric); no min/max clamps —
    * clamping makes boundaries depend on the PREVIOUS boundary (sequential
    * state the declarative form and the oracle would both lose), and the
    * clamp-free variant is exactly as dedup-stable. Degenerate long chunks
    * are possible and fine (documented, like slidingWindows' tail).
    *
    * 100 TB shape: boundaries, ranges, and hashes are all per-row array
    * expressions (filter/transform/slice over the split words) — NO shuffle,
    * no window, fanout ~n/divisor rows per doc; composes with
    * [[graft.operators.Dedup.exact]] on chunk_hash for chunk-level dedup.
    * Output: (doc_id, chunk_idx, start_word, n_words, chunk_hash). */
  def cdcChunks(docs: DataFrame, divisor: Int = 8): DataFrame = {
    require(divisor > 0, s"divisor must be positive, got $divisor")
    // Narrow-scan spread (guide §2.5): one md5 per boundary candidate per
    // row is the heaviest per-row expression in the chunking family.
    SkewUtils.spreadCompute(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"), TextAnalysis.wordsExpr.as("ws"))
      .withColumn("n", size(col("ws")))
      // Boundary candidates i ∈ [3, n−1]: a gram needs 3 words, and a
      // boundary at n would open an empty chunk.
      .withColumn("bounds", expr(
        s"""CASE WHEN n >= 4 THEN
           |  filter(sequence(3, n - 1), i ->
           |    CAST(conv(substring(md5(concat_ws(' ',
           |      element_at(ws, i - 2), element_at(ws, i - 1), element_at(ws, i))),
           |      1, 15), 16, 10) AS BIGINT) % $divisor = 0)
           |ELSE array() END""".stripMargin))
      .withColumn("starts", expr("concat(array(1), transform(bounds, b -> b + 1))"))
      .withColumn("ends", expr("concat(bounds, array(n))"))
      .select(col("doc_id"), col("ws"), posexplode(arrays_zip(col("starts"), col("ends"))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col.starts").cast("long").as("start_word"),
        (col("col.ends") - col("col.starts") + 1).cast("long").as("n_words"),
        md5(expr("concat_ws(' ', slice(ws, col.starts, col.ends - col.starts + 1))"))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** CROSS-SNAPSHOT CHUNK DEDUP — the operator [[cdcChunks]]'s
    * boundary-stability exists FOR: given two crawls of a corpus (snapshot
    * A, then re-crawl B with edits, additions, removals), diff them at
    * CDC-chunk granularity and report, per document, how much content
    * survived. Because CDC boundaries are pure functions of local content,
    * an edited paragraph disturbs only its own chunks — everything else
    * re-shares its chunk hash, which is what lets a crawl-refresh pipeline
    * re-process (re-tokenize, re-embed, re-train on) only the changed
    * slivers of a 100 TB corpus instead of the whole re-crawl.
    *
    * Per doc_id (full outer over both snapshots):
    *  - `unchanged`: chunks whose hash matches B's chunk AT THE SAME
    *    chunk_idx (content and position intact);
    *  - `moved`: multiset-intersection matches beyond those (content
    *    intact, position shifted — e.g. a prepended header that created a
    *    new leading chunk);
    *  - `added` = n_chunks_b − (unchanged + moved): new content in B;
    *  - `removed` = n_chunks_a − (unchanged + moved): content gone from A
    *    (a document absent from B is all-removed, and vice versa).
    *
    * 100 TB shape: two CDC passes (per-row, no shuffle), then aggregations
    * and joins keyed on doc_id / (doc_id, chunk_hash) / (doc_id,
    * chunk_idx) — hash-partitioned throughout, no windows, no all-pairs
    * step; cost is proportional to the chunk count of the two snapshots. */
  def chunkDiffSnapshots(snapA: DataFrame, snapB: DataFrame, divisor: Int = 8): DataFrame = {
    // ONE union + a three-level aggregation cascade (r18, guide §2.3
    // "aggregate before you shuffle" / §2.4): the join formulation this
    // replaces evaluated each chunk table through a persist and then ran
    // FIVE aggregations + FOUR doc_id-keyed joins over them (~9
    // exchanges; probed 25 jobs / 339 tasks at sf0.1). All four metrics
    // are functions of the per-(doc, hash, idx) side counts:
    //   level 1 groupBy(doc, hash, idx): a_cnt/b_cnt (per side ≤ 1, since
    //     (doc, idx) is unique within a snapshot) — `unchanged` is the
    //     groups where both sides are present (same position, same hash);
    //   level 2 groupBy(doc, hash): multiset counts — `common` is
    //     Σ min(cnt_a, cnt_b), repeated boilerplate never double-matches;
    //   level 3 groupBy(doc): n_chunks per side + the final arithmetic.
    // Each level shrinks, no join ever runs, each side's chunker is
    // evaluated exactly once (so the persists go too). Docs present in
    // only one snapshot flow through with zero counts on the other side —
    // the old full_outer + coalesce semantics by construction.
    val a = cdcChunks(snapA, divisor).select("doc_id", "chunk_idx", "chunk_hash")
      .withColumn("is_a", lit(1L))
    val b = cdcChunks(snapB, divisor).select("doc_id", "chunk_idx", "chunk_hash")
      .withColumn("is_a", lit(0L))
    a.unionByName(b)
      .groupBy("doc_id", "chunk_hash", "chunk_idx")
      .agg(sum(col("is_a")).as("a_cnt"), sum(lit(1L) - col("is_a")).as("b_cnt"))
      .groupBy("doc_id", "chunk_hash")
      .agg(sum(col("a_cnt")).as("cnt_a"), sum(col("b_cnt")).as("cnt_b"),
        sum(when(col("a_cnt") > 0 && col("b_cnt") > 0, 1L).otherwise(0L)).as("same_pos"))
      .groupBy("doc_id")
      .agg(sum(col("cnt_a")).as("n_chunks_a"), sum(col("cnt_b")).as("n_chunks_b"),
        sum(least(col("cnt_a"), col("cnt_b"))).as("common"),
        sum(col("same_pos")).as("unchanged"))
      .select(
        col("doc_id"),
        col("n_chunks_a"), col("n_chunks_b"), col("unchanged"),
        (col("common") - col("unchanged")).as("moved"),
        (col("n_chunks_b") - col("common")).as("added"),
        (col("n_chunks_a") - col("common")).as("removed"))
      .orderBy("doc_id")
  }

  /** Chunk-level summary: documents per chunk and the packed token count —
    * the fill-efficiency view (chunks fill to ≥ budget − max_doc_tokens
    * except each shard's tail chunk). */
  def chunkStats(docs: DataFrame, budget: Long = 2048, shards: Int = 8): DataFrame =
    packDocuments(docs, budget, shards)
      .groupBy("shard", "chunk_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("packed_tokens"))
      .orderBy("shard", "chunk_id")
}
