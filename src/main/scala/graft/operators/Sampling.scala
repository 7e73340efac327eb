package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic hash-ordered sampling (training-data pipeline staple).
  *
  * `ORDER BY hash(seed, key) LIMIT k` is the scalable deterministic
  * sampler: reproducible across runs and engines (md5, not RNG state),
  * plans as TakeOrderedAndProject (per-partition top-K, no global sort),
  * and composes into stratified variants with a partitioned window. The
  * hash key makes the sample unbiased w.r.t. any natural ordering of the
  * data (ids, ingestion time).
  */
object Sampling {

  private def hashKey(seed: String) = md5(concat_ws(":", lit(seed), col("doc_id")))

  /** Uniform deterministic sample of `k` documents. */
  def deterministicSample(docs: DataFrame, k: Int = 100, seed: String = "s1"): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), hashKey(seed).as("h"))
      .orderBy(col("h").asc, col("doc_id").asc)
      .limit(k)
      .orderBy("doc_id")

  /** Stratified: `perStratum` docs per language, hash-ordered within each
    * stratum. Ranks come from the grouped distributed rank, NOT a
    * `Window.partitionBy(lang)` — languages are FEW, so a per-stratum
    * window is a handful of single-task sorts over the whole corpus at
    * scale (the same hazard the rookmaster family had). */
  def stratifiedSample(docs: DataFrame, perStratum: Int = 20, seed: String = "s1"): DataFrame =
    RankUtils
      .groupedRowNumber(
        docs.select(col("doc_id"), col("lang"), hashKey(seed).as("h")),
        Seq("lang"), Seq(col("h").asc, col("doc_id").asc), "rn")
      .filter(col("rn") <= perStratum)
      .select("lang", "rn", "doc_id")
      .orderBy("lang", "rn")

  /** WEIGHTED sampling without replacement (Efraimidis–Spirakis A-ES):
    * each doc draws a deterministic uniform u from its md5 (60 bits →
    * (h+1)/2^60 ∈ (0, 1]) and competes on key = −round(ln u, 6)/w — the
    * k SMALLEST keys are the weighted sample, inclusion probability
    * proportional to weight. The quality- or length-weighted subsampling
    * step of a data mixture, deterministic and engine-reproducible: the
    * one transcendental is rounded to 6 dp immediately (the BM25 rule),
    * everything after is IEEE arithmetic both engines perform identically.
    * Weight here = n_chars + 1 (strictly positive). Plans as
    * TakeOrderedAndProject like the uniform sampler — per-partition top-k,
    * no global sort. */
  def weightedSample(docs: DataFrame, k: Int = 100): DataFrame =
    docs
      .select(col("doc_id"),
        (length(col("text")).cast("double") + lit(1.0)).as("w"),
        (graft.functions.Md5Hash60.md5_hash60(col("doc_id").cast("string"))
          + lit(1L)).cast("double").as("hu"))
      .withColumn("es_key", -round(log(col("hu") / lit(1152921504606846976.0)), 6) / col("w"))
      .orderBy(col("es_key").asc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("w").cast("long").as("weight"),
        round(col("es_key"), 9).as("es_key"))
      .orderBy(col("es_key").asc, col("doc_id").asc)

  /** Training-mixture construction: build a dataset with an EXACT number
    * of rows per stratum (`quotas`, e.g. tokens-or-docs budgets per
    * language/source), deterministically — the step that turns corpus +
    * mixture weights into the actual training set. A stratum with more
    * docs than quota is hash-rank subsampled; a stratum with FEWER is
    * up-sampled by cycling its ranked docs (`epoch` = how many full
    * passes precede the copy — the standard multi-epoch repeat of hot
    * sources in LLM data mixtures). Position p ∈ [1, quota] maps to rank
    * ((p−1) mod n) + 1, epoch (p−1) div n, so the output is exactly
    * `quota` rows per non-empty stratum, reproducible across engines and
    * partitionings. Strata without a quota entry are excluded.
    *
    * Scale shape: grouped distributed rank (no per-stratum window), one
    * broadcast quota row per stratum, per-row `sequence` explode bounded
    * by ceil(quota/n) copies — never a driver loop. The explode fanout IS
    * the up-sample factor: a pathological quota (say 10⁶× a tiny stratum)
    * concentrates copies on few source rows — repartition after, or cap
    * the factor upstream; normal mixture factors (≤ ~100 epochs) are
    * uniform per-row work. */
  def mixtureSample(docs: DataFrame, quotas: Map[String, Long],
                    seed: String = "s1"): DataFrame = {
    import docs.sparkSession.implicits._
    val quotaDf = broadcast(quotas.toSeq.sorted.toDF("lang", "quota"))
    val ranked = RankUtils
      .groupedRowNumber(
        docs.select(col("doc_id"), col("lang"), hashKey(seed).as("h")),
        Seq("lang"), Seq(col("h").asc, col("doc_id").asc), "rn")
      .join(quotaDf, Seq("lang"))
    val sizes = ranked.groupBy("lang").agg(count(lit(1)).as("n"))
    ranked
      .join(broadcast(sizes), Seq("lang"))
      .filter(col("rn") <= col("quota"))
      .select(col("lang"), col("doc_id"), col("rn"),
        explode(expr("sequence(0, CAST(floor((quota - rn) / n) AS INT))")).as("epoch"),
        col("n"))
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("pos", col("rn") + col("epoch") * col("n"))
      .select("lang", "pos", "doc_id", "rn", "epoch")
      .orderBy("lang", "pos")
  }

  /** Temperature-scaled mixture: derive per-language quotas from corpus
    * counts as quota_l ∝ n_l^α with α = 0.5, then draw the top-quota docs
    * per language by the deterministic hash order — the standard
    * low-resource-upsampling knob of multilingual LLM mixtures (Conneau
    * et al. 2020's exponent-smoothed sampling), with the quota DERIVATION
    * inside the engine rather than handed in like [[mixtureSample]].
    *
    * α is fixed at 1/2 because sqrt is CORRECTLY ROUNDED under IEEE 754
    * (every engine computes the identical double), unlike pow(x, α) whose
    * last-ulp freedom would make a floor() boundary engine-dependent —
    * the same determinism reasoning as the engine's other cross-checked
    * float paths (any dyadic α composes from repeated sqrt if needed).
    * Weights are quantized to integers (floor(sqrt(n)·2^20) — the 2^20
    * scale is a power of two, so the product is exact), summed exactly,
    * and quotas allocated by integer largest-remainder (ties: lang asc),
    * so Σ quota == total EXACTLY and every step is order-independent.
    *
    * 100 TB shape: counts are one partial-agg groupBy on a
    * cardinality-bounded key; the allocation math runs on |langs| rows
    * (broadcast); selection is the same grouped-rank + quota join as
    * [[mixtureSample]]. Languages with n < quota contribute all their
    * docs (upsampling epochs are [[mixtureSample]]'s job).
    * Output: (lang, doc_id, rn, quota). */
  def temperatureMixture(docs: DataFrame, total: Long = 200,
                         seed: String = "st"): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
    val weights = counts.withColumn("w",
      floor(sqrt(col("n").cast("double")) * lit(1048576.0)).cast("long"))
    val z = weights.agg(sum(col("w")).as("z"))
    val alloc = weights.crossJoin(broadcast(z))
      .withColumn("q0", expr(s"($total * w) div z"))
      .withColumn("rem", expr(s"($total * w) % z"))
    val base = alloc.agg(sum(col("q0")).as("base"))
    // Largest-remainder top-up: the window spans |langs| rows (bounded by
    // construction — the cardinality-bounded grouping key).
    val byRem = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("lang").asc)
    val quotas = alloc.crossJoin(broadcast(base))
      .withColumn("lr_rank", row_number().over(byRem))
      .withColumn("quota",
        col("q0") + when(col("lr_rank") <= lit(total) - col("base"), 1L).otherwise(0L))
      .select("lang", "quota")
    val ranked = RankUtils.groupedRowNumber(
      docs.select(col("doc_id"), col("lang"), hashKey(seed).as("h")),
      Seq("lang"), Seq(col("h").asc, col("doc_id").asc), "rn")
    ranked.join(broadcast(quotas), Seq("lang"))
      .filter(col("rn") <= col("quota"))
      .select("lang", "doc_id", "rn", "quota")
      .orderBy("lang", "rn")
  }

  /** PERPLEXITY-BINNED mixture — the CCNet head/middle/tail selection
    * (Wenzek et al. 2020): within each language, rank candidates by their
    * LM score ([[TextAnalysis.lmPerplexityByLang]]'s avg_nll — low =
    * reference-like), cut the ranking into TERCILES (bin 0 = head,
    * 1 = middle, 2 = tail), and keep a per-bin share — all of the head,
    * half the middle, a tenth of the tail by default, the CCNet-shaped
    * quality/diversity trade (keep what looks like the reference, retain
    * a thin slice of the weird tail rather than a hard cutoff).
    *
    * Everything after the LM scores is EXACT integer arithmetic: tercile
    * = ((rn−1)·3) div n, per-bin keep = ceil(bn·num/den) as (bn·num +
    * den−1) div den (shares are rationals, never floats), selection
    * within a bin by the deterministic md5 order — fully
    * partitioning-independent and DuckDB-replayable. Unscorable docs
    * (NULL avg_nll: unmatched language or < 2 tokens) are excluded from
    * binning — they cannot be placed on a perplexity axis; gate them
    * upstream.
    *
    * 100 TB shape: two grouped distributed ranks ([[RankUtils
    * .groupedRowNumber]] — never a per-language window), broadcast
    * per-group size frames (|langs| and |langs|·3 rows), per-row
    * arithmetic otherwise. Output: (lang, bin, doc_id, avg_nll). */
  def perplexityBinnedSample(scored: DataFrame,
                             shares: Seq[(Int, Int)] = Seq((1, 1), (1, 2), (1, 10)),
                             seed: String = "s1"): DataFrame = {
    require(shares.length == 3 && shares.forall { case (nm, d) => nm >= 0 && d > 0 && nm <= d },
      s"need 3 per-bin shares as rationals num/den in [0,1], got $shares")
    // The upstream LM scoring is the expensive subtree and feeds four
    // branches below (rank, sizes, selection rank, bin sizes) — persist
    // the tiny (doc_id, lang, score) projection or the whole scoring
    // pipeline re-executes per branch (measured 5.3 s -> the score's own
    // 1 s at sf0.1).
    val base = CacheRegistry.persistBounded(
      scored.filter(col("avg_nll").isNotNull)
        .select(col("doc_id"), col("lang"), col("avg_nll")))
    // binned also persists: it feeds the selection rank AND the bin-size
    // aggregate, and each un-persisted reference would replay BOTH
    // grouped-rank range shuffles (with their sampling jobs) — at this
    // frame's size the cost is pure job-count, and the persist collapses
    // ~16 range-repartition executions to 2.
    val ranked = RankUtils.groupedRowNumber(
      base, Seq("lang"), Seq(col("avg_nll").asc, col("doc_id").asc), "rn")
    val sizes = ranked.groupBy("lang").agg(count(lit(1)).as("n"))
    val binned = CacheRegistry.persistBounded(
      ranked.join(broadcast(sizes), Seq("lang"))
        .withColumn("bin", expr("CAST(((rn - 1) * 3) div n AS BIGINT)")))
    val sel = RankUtils.groupedRowNumber(
      binned.withColumn("h", hashKey(seed)),
      Seq("lang", "bin"), Seq(col("h").asc, col("doc_id").asc), "sel")
    val binSizes = binned.groupBy("lang", "bin").agg(count(lit(1)).as("bn"))
    val keepCase = shares.zipWithIndex.map { case ((nm, d), b) =>
      s"WHEN $b THEN (bn * $nm + ${d - 1}) div $d"
    }.mkString("CASE bin ", " ", " END")
    sel.join(broadcast(binSizes), Seq("lang", "bin"))
      .filter(col("sel") <= expr(keepCase))
      .select(col("lang"), col("bin"), col("doc_id"), col("avg_nll"))
      .orderBy("lang", "bin", "doc_id")
  }

  /** Token-budget corpus selection: keep the highest-quality documents
    * whose CUMULATIVE whitespace-token count fits `tokenBudget` — the
    * "best N billion tokens" cut every fixed-compute training run makes
    * (quality-ranked greedy selection under a token budget). Order is
    * (quality desc, doc_id) — total, engine-reproducible ([[TextAnalysis
    * .textStats]]'s composite score is written in oracle-identical IEEE
    * order); the cut keeps docs whose INCLUSIVE running total stays
    * within budget. NULL-quality (degenerate empty) docs are excluded.
    *
    * Scale shape: the running total is [[RankUtils.globalRunningSum]] —
    * range partition + per-partition offsets, never a single-partition
    * window; the cut is a per-row filter on the summed column. */
  def budgetSelect(docs: DataFrame, tokenBudget: Long = 10000): DataFrame = {
    val scored = TextAnalysis.textStats(docs)
      .select(col("doc_id"), col("n_words").as("tokens"), col("quality"))
      .filter(col("quality").isNotNull)
    RankUtils.globalRunningSum(scored,
        Seq(col("quality").desc, col("doc_id").asc), col("tokens"), "cum_tokens")
      .filter(col("cum_tokens") <= tokenBudget)
      .select("doc_id", "tokens", "quality", "cum_tokens")
      .orderBy(col("quality").desc, col("doc_id").asc)
  }

  /** [[budgetSelect]] priced in REAL tokenizer tokens: the cumulative
    * cut runs over byte-level-BPE counts ([[graft.functions
    * .BpeTokenizer]], trained merge table from [[BpeStore]]) instead of
    * whitespace words — the whitespace proxy mis-prices mixed-language
    * and code corpora by 1.3-2×, which is exactly the error a
    * fixed-compute "best N billion tokens" cut cannot afford. Same
    * scale shape: per-row codegen'd counting, a doc_id equi-join to
    * attach quality, and the distributed global running sum — nothing
    * corpus-sized on one partition. */
  def budgetSelectBpe(docs: DataFrame, ranks: graft.functions.BpeRanks,
                      tokenBudget: Long = 20000): DataFrame = {
    val scored = TextAnalysis.textStats(docs)
      .select(col("doc_id"), col("quality"))
      .filter(col("quality").isNotNull)
    // Narrow-scan spread: the greedy BPE encoder is the most CPU-dense
    // per-row expression in the repo and otherwise runs on the single
    // scan task of a one-file corpus (guide §2.5).
    val toks = SkewUtils.spreadCompute(
      docs.select(col("doc_id"), col("text")), col("doc_id"))
      .select(col("doc_id"),
        graft.functions.BpeTokenizer.bpe_count(col("text"), ranks).as("tokens"))
    RankUtils.globalRunningSum(scored.join(toks, Seq("doc_id")),
        Seq(col("quality").desc, col("doc_id").asc), col("tokens"), "cum_tokens")
      .filter(col("cum_tokens") <= tokenBudget)
      .select("doc_id", "tokens", "quality", "cum_tokens")
      .orderBy(col("quality").desc, col("doc_id").asc)
  }

  /** DSIR-style data selection (Xie et al., "Data Selection for Language
    * Models via Importance Resampling", NeurIPS 2023): sample `k` docs
    * from the raw pool with probability ∝ the importance ratio
    * p_target(doc)/p_raw(doc), so the selected set's distribution moves
    * toward the target domain while retaining raw-pool diversity — the
    * published alternative to hard top-k quality filtering. The paper
    * estimates both densities with hashed n-gram models; here they are
    * this engine's add-k bigram LMs ([[TextAnalysis.lmPerplexity]] —
    * same family, and the quantized sums make the log-ratio exact
    * integer arithmetic).
    *
    * No engine-sensitive `exp`, via the Gumbel-top-k identity: A-ES
    * assigns key −ln(u)/w with w = exp(λ), and
    * ln(−ln(u)/exp(λ)) = ln(−ln u) − λ is a monotone transform, so
    * ranking by ln(−ln u) − λ selects the IDENTICAL set — and that form
    * needs only `ln`, each rounded to 6 dp at once (the BM25 rule),
    * with λ = (nll_raw_q − nll_target_q)/1e6 exact-integer-derived.
    * The clamp of −round(ln u, 6) at 1e-6 closes the u → 1 edge where
    * Spark's log(0) (NULL) and DuckDB's ln(0) diverge; it perturbs only
    * docs whose uniform draw rounds to ≥ 0.9999995 and is applied
    * identically in both engines.
    *
    * Docs the LM cannot score (< 2 tokens, n_bigrams = 0 → NULL sums)
    * carry no density estimate and are EXCLUDED from the competition —
    * the same flagged-not-dropped rows lm_perplexity surfaces.
    *
    * Scale shape: two lm_perplexity scorings (bigram equi-joins,
    * AQE-skew-splittable; the raw model is trained on the pool itself,
    * per the paper's raw-density estimate), one doc_id equi-join to form
    * λ, then TakeOrderedAndProject top-k — per-partition heaps, no
    * global sort, nothing corpus-sized after the scoring joins. */
  def dsirSelect(corpus: DataFrame, targetPred: org.apache.spark.sql.Column,
                 k: Int = 100): DataFrame = {
    val target = corpus.filter(targetPred)
    val pool = corpus.filter(!coalesce(targetPred, lit(false)))
    val nllT = TextAnalysis.lmPerplexity(target, pool)
      .select(col("doc_id"), col("nll_q").as("nll_t"))
    val nllR = TextAnalysis.lmPerplexity(pool, pool)
      .select(col("doc_id"), col("nll_q").as("nll_r"))
    nllT.join(nllR, Seq("doc_id"))
      .filter(col("nll_t").isNotNull && col("nll_r").isNotNull)
      .withColumn("lambda_q", col("nll_r") - col("nll_t"))
      .withColumn("g", greatest(
        -round(log((graft.functions.Md5Hash60.md5_hash60(col("doc_id").cast("string"))
          + lit(1L)).cast("double") / lit(1152921504606846976.0)), 6),
        lit(1e-6)))
      .withColumn("dsir_key",
        round(round(log(col("g")), 6) - col("lambda_q").cast("double") / lit(1e6), 6))
      .orderBy(col("dsir_key").asc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("lambda_q"), col("dsir_key"))
      .orderBy(col("dsir_key").asc, col("doc_id").asc)
  }
}
