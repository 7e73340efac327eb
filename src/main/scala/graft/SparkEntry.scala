package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is a pure `(SparkSession, sfDir) => DataFrame` with a
  * DuckDB-runnable oracle in [[oracleSql]]. Determinism rules applied on
  * BOTH sides (SURVEY.md §7.4): unique tiebreak keys in every ORDER BY /
  * window; rank/count columns as BIGINT; money aggregates computed in
  * DECIMAL(18,2) and cast to DOUBLE at the output boundary; `event_id`
  * (unique, monotone) as the "latest" ordering key instead of ns timestamps
  * (Spark truncates parquet ns to µs — SURVEY.md §1.2).
  */
object SparkEntry {

  /** Flagship query (E2 diff-join) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Snapshots.gain(Tables.events(spark, "/root/testdata/sf0.001"), 1)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- domain family: snapshots / gains / leaderboards (SURVEY §2.1-2.7) ---
    "snapshot_daily" -> ((s, dir) =>
      Snapshots.dailySnapshot(Tables.events(s, dir))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day", "user_id")),
    "gain_1d" -> ((s, dir) => Snapshots.gain(Tables.events(s, dir), 1)),
    "gain_7d" -> ((s, dir) => Snapshots.gain(Tables.events(s, dir), 7)),
    "gain_alltime" -> ((s, dir) => Snapshots.gainAllTime(Tables.events(s, dir))),
    "leaderboard" -> ((s, dir) => Snapshots.leaderboard(Tables.events(s, dir))),
    "point_lookup" -> ((s, dir) => Snapshots.pointLookup(Tables.events(s, dir), 3)),
    "exists_probe" -> ((s, dir) => Snapshots.existsProbe(Tables.events(s, dir))),
    "state_merge" -> ((s, dir) => Snapshots.stateMerge(Tables.events(s, dir))),
    "rookmaster" -> ((s, dir) => Snapshots.rookmaster(Tables.events(s, dir))),
    "rookmaster_categories" -> ((s, dir) => Snapshots.rookmasterCategories(Tables.events(s, dir))),
    "onlinetime_daily" -> ((s, dir) => OnlineTime.daily(Tables.events(s, dir))),
    "daily_gapfill" -> ((s, dir) => OnlineTime.dailyActivityGapfill(Tables.events(s, dir))),
    // The Structured Streaming transform run on the batch path — same
    // code, oracle-checked (streaming/batch unification).
    "streaming_daily_minutes" -> ((s, dir) =>
      graft.streaming.OnlineTimeStream.dailyMinutes(Tables.events(s, dir))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day", "user_id")),
    // The hopping-window (sliding) variant: every event expands into
    // width/slide = 2 windows before the aggregation.
    "hopping_minutes" -> ((s, dir) =>
      graft.streaming.OnlineTimeStream.hoppingMinutes(Tables.events(s, dir))
        .withColumn("wstart", date_format(col("wstart"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy("wstart", "user_id")),
    "onlinetime_7d" -> ((s, dir) => OnlineTime.period(Tables.events(s, dir), 7)),
    "skill_points" -> ((s, dir) => skillPointsQuery(s, dir)),
    "category_union" -> ((s, dir) =>
      Snapshots.categoryUnion(Tables.events(s, dir), "purchase", "signup")),
    // S2 paginated scan via the DSv2 source: level-filter pushdown prunes
    // page partitions at planning time (early-termination semantics).
    "paged_scan" -> ((s, _) =>
      s.read.format("graft.sources.PagedLeaderboardProvider")
        .option("maxPages", "200").load()
        .filter(col("level") >= 400)
        .select(col("rank").cast("long").as("rank"), col("name"),
          col("level").cast("long").as("level"), col("value"),
          col("vocation"), col("world"))
        .orderBy("rank")),
    // The SAME scan over LIVE ingestion: real java.net.http GETs + JSON
    // parse per page against the in-process fixture server (zero-egress
    // sandbox; the external API is a baseUrl config change). Shares
    // paged_scan's oracle — the wire path must reproduce the synthetic
    // path row-for-row.
    "paged_scan_http" -> ((s, _) => {
      val base = graft.sources.LeaderboardHttpFixture.ensureStarted()
      // The reference's _getWorlds dimension fetch, now ALSO on the wire:
      // one real GET + shape-guarded parse; the scan joins the dimension
      // (broadcast — 8 rows) so only rows of known worlds survive. With
      // the full dimension this is row-preserving (oracle unchanged);
      // a malformed payload degrades the dim — and the scan — to empty,
      // the reference's `return <World>[]` semantics.
      val worlds = graft.functions.SnapshotJson
        .parseWorlds(s, graft.sources.PagedLeaderboard.fetchWorldsJson(base))
        .select(col("name").as("world"))
      s.read.format("graft.sources.PagedLeaderboardProvider")
        .option("maxPages", "200").option("baseUrl", base).load()
        .filter(col("level") >= 400)
        .join(broadcast(worlds), Seq("world"))
        .select(col("rank").cast("long").as("rank"), col("name"),
          col("level").cast("long").as("level"), col("value"),
          col("vocation"), col("world"))
        .orderBy("rank")
    }),
    // --- star-schema breadth (SURVEY §7.2 step 7) ---
    "q1_pricing" -> ((s, dir) => StarSchema.q1Pricing(Tables.lineitem(s, dir))),
    "q3_top_orders" -> ((s, dir) =>
      StarSchema.q3TopOrders(Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q5_region_revenue" -> ((s, dir) =>
      StarSchema.q5RegionRevenue(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        Tables.orders(s, dir), Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    "top_orders" -> ((s, dir) => StarSchema.topOrders(Tables.orders(s, dir))),
    "pricing_rollup" -> ((s, dir) => StarSchema.pricingRollup(Tables.lineitem(s, dir))),
    // CUBE + GROUPING markers: all four grouping sets in one aggregate.
    "pricing_cube" -> ((s, dir) => StarSchema.pricingCube(Tables.lineitem(s, dir))),
    // Mixed GROUPING SETS list ((flag,status),(flag),(status)) — margins
    // without the grand total; inexpressible as one cube or rollup.
    "pricing_grouping_sets" -> ((s, dir) =>
      StarSchema.pricingGroupingSets(Tables.lineitem(s, dir))),
    "price_percentiles" -> ((s, dir) => StarSchema.pricePercentiles(Tables.lineitem(s, dir))),
    // Deterministic KLL quantile sketch, self-certifying: within_bound
    // verifies |trueRank(est) − sketchRank(est)| ≤ the sketch's tracked
    // certificate B against the corpus; exact_v is the exact order
    // statistic at ⌈q·n⌉ via distributed selection (DuckDB-replicable).
    "kll_quantiles" -> ((s, dir) => Kll.quantileGate(
      Tables.lineitem(s, dir), "l_extendedprice", Seq("l_orderkey", "l_linenumber"))),
    // Per-group KLL: one mergeable sketch per event_type (shard sub-
    // sketches roll up per group in fixed order), the same exact-selection
    // oracle and data-verified rank certificate per (group, q).
    "kll_quantiles_grouped" -> ((s, dir) => Kll.quantileGateGrouped(
      Tables.events(s, dir), "value", "event_type", Seq("event_id"))),
    "sessionize" -> ((s, dir) => EventsAnalytics.sessionize(Tables.events(s, dir))),
    "daily_type_pivot" -> ((s, dir) =>
      EventsAnalytics.dailyTypePivot(Tables.events(s, dir),
        Seq("click", "error", "purchase", "signup", "view"))),
    "rolling_weekly_minutes" -> ((s, dir) => EventsAnalytics.rollingWeeklyMinutes(Tables.events(s, dir))),
    "asof_carryforward" -> ((s, dir) => EventsAnalytics.asofCarryForward(Tables.events(s, dir))),
    "asof_join" -> ((s, dir) => AsofJoin.viewsWithLastPurchase(Tables.events(s, dir))),
    // Same fixture through the custom physical operator (AsofJoinNode /
    // AsofJoinExec: cluster+sort both sides, per-partition two-pointer
    // merge). Shares asof_join's DuckDB NATIVE ASOF oracle — three
    // independent algorithms (composed window, custom exec, DuckDB), one
    // hash.
    "asof_join_native" -> ((s, dir) =>
      AsofJoin.viewsWithLastPurchaseNative(Tables.events(s, dir))),
    // Batch paths of the streaming-only operators (event-time session
    // windows, stream-stream attribution join): the SAME transforms the
    // streaming tier runs (withWatermark is a no-op in batch), so the
    // session/attribution semantics are hash-gated, not just spec'd —
    // matching how streaming_daily_minutes gates dailyMinutes.
    "session_minutes" -> ((s, dir) =>
      graft.streaming.OnlineTimeStream.sessionMinutes(Tables.events(s, dir))
        .select(
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
          col("user_id"), col("minutes"))
        .orderBy("user_id", "session_start")),
    // The streaming HLL keyed state on the batch path: one batch folds the
    // whole day, so the state-side register update + pure estimator must
    // reproduce the declarative register pipeline's estimates exactly.
    "hll_distinct_daily" -> ((s, dir) =>
      graft.streaming.OnlineTimeStream.streamingDistinctUsers(Tables.events(s, dir))
        .toDF()
        .orderBy("day")),
    // The theta-sketch sibling of hll_distinct_daily: per-day distinct
    // users via KMV keyed state (≤ k longs per day), same insertion as
    // the batch MinKAgg, same IEEE estimator — and unlike HLL the day
    // sketches stay mergeable into intersection estimates.
    "kmv_distinct_daily" -> ((s, dir) =>
      graft.streaming.OnlineTimeStream.kmvDistinctUsers(Tables.events(s, dir))
        .toDF()
        .orderBy("day")),
    // Streaming × sketch composition: the sliding-window row expansion of
    // hopping_minutes feeding the keyed HLL register state of
    // hll_distinct_daily — per-window distinct users, state bounded at
    // 512 ints per open window. One batch folds everything, so the
    // keyed-state fold must reproduce the declarative register pipeline
    // over the same expanded rows (and the stream-slicing invariance is
    // StreamingSpec-gated).
    "hopping_hll_distinct" -> ((s, dir) =>
      graft.streaming.OnlineTimeStream.hoppingDistinctUsers(Tables.events(s, dir))
        .toDF()
        .orderBy("wstart")),
    // The INCREMENTAL-ROLLUP primitive the sketch's merge-by-max property
    // exists for: day d's distinct-user count over every day <= d, via a
    // register-level running max — never a prefix rescan. n_exact rides
    // along as a running sum of FIRST APPEARANCES (also rescan-free), so
    // the gate pins both the merged estimate and the exact rollup.
    "hll_running_daily" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
      val run = Sketches.hllRunningDistinct(ev, "day", "user_id")
      val firstSeen = ev.filter(col("user_id").isNotNull)
        .groupBy("user_id").agg(min(col("day")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_users"))
      // |days|-row post-aggregation window — bounded, not corpus-sized
      val wd = org.apache.spark.sql.expressions.Window.orderBy("day")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      run.join(firstSeen, Seq("day"), "left_outer")
        .withColumn("n_exact", sum(coalesce(col("new_users"), lit(0L))).over(wd))
        .select(col("day"), col("n_exact"), col("n_hll"))
        .orderBy("day")
    }),
    // mapGroupsWithState on the batch path (a single micro-batch): the
    // keyed-state accumulator's one-batch totals equal a plain grouped
    // count — gating the state-function arithmetic itself.
    "running_minutes" -> ((s, dir) => {
      import s.implicits._
      graft.streaming.OnlineTimeStream.runningMinutes(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"))
          .as[graft.streaming.OnlineTimeStream.Sample])
        .toDF()
        .orderBy("user_id")
    }),
    "attribution_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.OnlineTimeStream.attributionJoin(
        ev.filter(col("event_type") === "purchase"),
        ev.filter(col("event_type") === "view"))
        .select(col("user_id"), col("purchase_id"), col("view_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("p_ts"),
          date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("v_ts"))
        .orderBy("purchase_id", "view_id")
    }),
    // NULL-seeded gate queries: the fixture corpus contains no NULLs, which
    // is exactly where two real operator bugs hid (as-of stale-carry, NULL-
    // group rank drop — commit 350399f, caught by review, not the gate).
    // These run the generic operators over a deterministically NULL-seeded
    // events view (mirrored textually in the oracle CTEs) so NULL carried
    // values, NULL group keys, and the full-outer/coalesce paths are
    // hash-gated from here on.
    "null_asof_join" -> ((s, dir) => AsofJoin.viewsWithLastPurchase(nulledEvents(s, dir))),
    "null_group_rank" -> ((s, dir) => {
      val ev = nulledEvents(s, dir)
        .select(
          when(col("event_id") % 13 === 0, lit(null).cast("string"))
            .otherwise(col("event_type")).as("grp"),
          col("event_id"), col("value"))
      RankUtils.groupedRowNumber(ev, Seq("grp"),
          Seq(col("value").desc_nulls_last, col("event_id").asc), "rnk")
        .filter(col("rnk") <= 5)
        .select(col("grp"), col("event_id"), col("value"), col("rnk"))
        .orderBy(col("grp").asc_nulls_first, col("rnk"))
    }),
    "null_state_merge" -> ((s, dir) => Snapshots.stateMerge(nulledEvents(s, dir))),
    "segment_stats" -> ((s, dir) => StarSchema.segmentStats(Tables.customer(s, dir))),
    "dq_checks" -> ((s, dir) =>
      QualityChecks.lineitemSuite(Tables.lineitem(s, dir), Tables.orders(s, dir))),
    // The salted hot-key join must be ROW-IDENTICAL to the plain join it
    // replaces — the oracle is the plain join, so the salt/replicate/drop
    // machinery itself is hash-gated, not just spec'd.
    "skew_salted_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("value"))
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      SkewUtils.saltedJoin(ev, cust, "user_id", buckets = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_value"))
        .orderBy("c_mktsegment")
    }),
    "customer_top_orders" -> ((s, dir) => StarSchema.customerTopOrders(Tables.orders(s, dir))),
    "customer_topk_agg" -> ((s, dir) => StarSchema.customerTopOrdersAgg(Tables.orders(s, dir))),
    "customers_without_orders" -> ((s, dir) =>
      StarSchema.customersWithoutOrders(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q16_supplier_parts" -> ((s, dir) =>
      StarSchema.supplierPartStats(Tables.part(s, dir), Tables.lineitem(s, dir),
        Tables.supplier(s, dir))),
    "q4_order_priority" -> ((s, dir) =>
      StarSchema.latePriorityCounts(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q7_nation_volume" -> ((s, dir) =>
      StarSchema.nationVolume(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir))),
    // TPC-H Q2 shape: correlated min-subquery as a per-part window min.
    "q2_min_cost_supplier" -> ((s, dir) =>
      StarSchema.minCostSuppliers(Tables.part(s, dir), Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir), Tables.region(s, dir))),
    // TPC-H Q20 shape: nested aggregate (per part-supplier vs per part)
    // feeding a distinct-supplier semi join.
    "q20_dominant_suppliers" -> ((s, dir) =>
      StarSchema.dominantPartSuppliers(Tables.part(s, dir), Tables.lineitem(s, dir),
        Tables.supplier(s, dir), Tables.nation(s, dir))),
    // TPC-H Q13 shape: predicate inside the left-outer join, then a
    // histogram over per-customer counts (zero bucket preserved).
    "q13_order_distribution" -> ((s, dir) =>
      StarSchema.customerOrderDistribution(Tables.customer(s, dir), Tables.orders(s, dir))),
    // TPC-H Q17 shape: correlated per-part avg decorrelated to a window,
    // exact-decimal 0.2*avg compare.
    "q17_small_qty_revenue" -> ((s, dir) =>
      StarSchema.smallQuantityRevenue(Tables.part(s, dir), Tables.lineitem(s, dir))),
    // TPC-H Q18 shape: HAVING on a fact-wide aggregate joined back to detail.
    "q18_large_orders" -> ((s, dir) =>
      StarSchema.largeOrders(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // TPC-H Q19 shape: disjunctive cross-table predicate with a
    // hand-derived quantity envelope pushed to the fact scan.
    "q19_disjunctive_revenue" -> ((s, dir) =>
      StarSchema.disjunctiveRevenue(Tables.part(s, dir), Tables.lineitem(s, dir))),
    // TPC-H Q21 shape: EXISTS + NOT EXISTS double correlation as a
    // semi/anti join pair over one shared distinct late set.
    "q21_waiting_suppliers" -> ((s, dir) =>
      StarSchema.waitingSuppliers(Tables.supplier(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // TPC-H Q22 shape: broadcast scalar-aggregate threshold + anti join
    // against the date-pruned orders scan.
    "q22_dormant_customers" -> ((s, dir) =>
      StarSchema.dormantCustomers(Tables.customer(s, dir), Tables.orders(s, dir))),
    // TPC-H Q6 shape: the pure pushed-down scan aggregate (zero joins).
    "q6_forecast_revenue" -> ((s, dir) =>
      StarSchema.forecastRevenue(Tables.lineitem(s, dir))),
    // TPC-H Q8 shape: CASE-inside-sum market share, exact-decimal
    // accumulators, one double divide at the boundary.
    "q8_market_share" -> ((s, dir) =>
      StarSchema.marketShare(Tables.part(s, dir), Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.customer(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir))),
    // TPC-H Q9 shape: name-pattern part slice, exact-decimal profit
    // (revenue minus retailprice*qty cost stand-in) by nation and year.
    "q9_product_profit" -> ((s, dir) =>
      StarSchema.productTypeProfit(Tables.part(s, dir), Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir))),
    // TPC-H Q10 shape: returned-item revenue per customer, aggregate
    // before detail join, top-k.
    "q10_returned_customers" -> ((s, dir) =>
      StarSchema.returnedItemCustomers(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), Tables.nation(s, dir))),
    // TPC-H Q11 shape: scalar-subquery total over a cached per-part
    // aggregate, integer-scaled exact share compare.
    "q11_important_parts" -> ((s, dir) =>
      StarSchema.importantParts(Tables.lineitem(s, dir), Tables.supplier(s, dir),
        Tables.nation(s, dir))),
    // TPC-H Q12 shape: dual conditional counts of late lines by status.
    "q12_late_priority" -> ((s, dir) =>
      StarSchema.latePriorityModes(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    // TPC-H Q14 shape: promo revenue share, both sums in one aggregate.
    "q14_promo_share" -> ((s, dir) =>
      StarSchema.promoRevenueShare(Tables.part(s, dir), Tables.lineitem(s, dir))),
    // TPC-H Q15 shape: max-revenue supplier via a 1-row broadcast
    // re-aggregate of the cached per-supplier view (ties kept, exact).
    "q15_top_supplier" -> ((s, dir) =>
      StarSchema.topSupplier(Tables.supplier(s, dir), Tables.lineitem(s, dir))),
    // O4 conditional re-rank under oracle gating: seed true ranks, null the
    // odd-user slice, and let rankIfMissing repair — the repaired column
    // must equal the full recomputed ranking.
    "rank_repair" -> ((s, dir) => {
      val latest = Snapshots
        .latestSlice(Snapshots.dailySnapshot(Tables.events(s, dir)))
        .select(col("user_id"), col("value"))
      val order = Seq(col("value").desc, col("user_id").asc)
      val seeded = RankUtils.globalRowNumber(latest, order, "rank")
        .withColumn("rank",
          when(col("user_id") % 2 === 0, col("rank")).otherwise(lit(null).cast("long")))
      Snapshots.rankIfMissing(seeded, order)
        .select(col("user_id"), col("value"), col("rank"))
        .orderBy("rank")
    }),
    "range_join" -> ((s, dir) =>
      RangeJoin.shipWindowCounts(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "interval_overlap" -> ((s, dir) => RangeJoin.windowOverlapCounts(Tables.orders(s, dir))),
    // --- LLM-training-data pipeline ops (SURVEY §7.2 step 8) ---
    "text_stats" -> ((s, dir) => TextAnalysis.textStats(Tables.documents(s, dir))),
    // Statistical-LM quality gate (CCNet-style): bigram model trained on
    // the even-doc_id half scores the odd half by avg negative
    // log-likelihood; integer-quantized log-probs make the per-doc sum
    // partitioning-independent (the BM25 rule).
    "lm_perplexity" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.lmPerplexity(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    }),
    // Per-language models (the CCNet setup): every candidate scored
    // against its OWN language's bigram distribution; unmatched languages
    // surface as NULL-scored rows, never mis-scored.
    "lm_perplexity_by_lang" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      TextAnalysis.lmPerplexityByLang(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1))
    }),
    // CCNet head/middle/tail: per-language perplexity terciles over the
    // by-lang LM scores, then a per-bin keep share (all/half/tenth) —
    // the binned mixture CCNet feeds training with. Exact integer
    // tercile/quota arithmetic after the quantized LM scores.
    "sample_perplexity_bins" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Sampling.perplexityBinnedSample(
        TextAnalysis.lmPerplexityByLang(
          d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1)))
    }),
    // Same scoring over the MAINTAINED LM artifact: the reference-corpus
    // aggregation is a parquet read, only the candidate joins run per
    // query (exact counts, so it shares lm_perplexity's oracle).
    "lm_perplexity_stored" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val p = artifactPath("lmmodel", dir)
      LmStore.ensure(d.filter(col("doc_id") % 2 === 0), p)
      LmStore.score(s, p, d.filter(col("doc_id") % 2 === 1))
    }),
    "lang_id" -> ((s, dir) => TextAnalysis.langId(Tables.documents(s, dir))),
    "token_count" -> ((s, dir) => TextAnalysis.tokenCount(Tables.documents(s, dir))),
    // REAL byte-level BPE token counting — a merge table trained on a
    // bounded deterministic sample of this corpus (BpeStore artifact),
    // applied per-row by the codegen'd greedy encoder. The oracle reads
    // STORED GOLDEN counts computed by the independent rank-order-replay
    // encoder over the full corpus (Verify substitutes the artifact
    // path), so a hash match proves two implementations of the published
    // algorithm agree doc-for-doc.
    "token_count_bpe" -> ((s, dir) => {
      val p = artifactPath("bpe", dir)
      BpeStore.ensure(Tables.documents(s, dir), p)
      val ranks = BpeStore.readRanks(s, p)
      // Narrow-scan spread (guide §2.5): the greedy encoder is per-row
      // CPU-dense and the one-file corpus scans as a single task.
      SkewUtils.spreadCompute(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        col("doc_id"))
        .select(col("doc_id"),
          graft.functions.BpeTokenizer.bpe_count(col("text"), ranks).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),
    // Token-budget selection re-priced in real BPE tokens — the budget
    // cut a fixed-compute training run actually needs (whitespace words
    // mis-price mixed-language/code text); shares budget_select's
    // quality order, tokens from the trained tokenizer.
    "budget_select_bpe" -> ((s, dir) => {
      val p = artifactPath("bpe", dir)
      BpeStore.ensure(Tables.documents(s, dir), p)
      Sampling.budgetSelectBpe(Tables.documents(s, dir), BpeStore.readRanks(s, p))
    }),
    // BPE at a PRODUCTION vocabulary, oracle-gated: the deterministic
    // Zipfian stress corpus (the testdata fixture saturates at 89
    // merges) trains the full 8192-merge table; the query runs the
    // codegen'd greedy encoder over the whole corpus and DuckDB compares
    // against the stored counts of the INDEPENDENT rank-order-replay
    // encoder — two implementations of the published algorithm agreeing
    // doc-for-doc at real vocabulary scale. The require makes the
    // vocabulary size itself a loud gate.
    "token_count_bpe_stress" -> ((s, dir) => {
      val store = ensureBpeStressStore(s)
      val ranks = BpeStore.readRanks(s, store)
      require(ranks.merges.size >= 4096,
        s"stress vocabulary must be production-scale, got ${ranks.merges.size} merges")
      SkewUtils.spreadCompute(
        s.read.parquet(s"$BpeStressCorpusRoot/docs"), col("doc_id"))
        .select(col("doc_id"),
          graft.functions.BpeTokenizer.bpe_count(col("text"), ranks).as("n_tokens"))
        .orderBy("doc_id")
    }),
    "doc_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(Tables.documents(s, dir))),
    "dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "dedup_minhash" -> ((s, dir) => Dedup.minhashPairs(Tables.documents(s, dir))),
    // The MAINTAINED SHINGLE TABLE (the dedup family's stored artifact —
    // the seam every scaladoc named "the 100 TB answer"): built once per
    // corpus via ShingleStore (ArtifactStore rename-publish, fingerprint-
    // keyed rebuild like the lexical index), then the *_stored variants
    // read (doc_id, sh, df) instead of re-tokenizing. Each shares its
    // recompute sibling's oracle — the artifact must reproduce the
    // recompute answer exactly.
    "dedup_minhash_stored" -> ((s, dir) => {
      val p = shingleStorePath(dir)
      ShingleStore.ensure(Tables.documents(s, dir), p)
      Dedup.minhashPairsFromShingles(ShingleStore.read(s, p).select("doc_id", "sh"))
    }),
    // Minhash over the BUCKETED artifact: the signature aggregation (the
    // family's other per-doc groupBy) also rides the doc_id layout
    // exchange-free — one stored table serves the whole family.
    "dedup_minhash_bucketed" -> ((s, dir) => {
      val t = ShingleStore.ensureBucketed(Tables.documents(s, dir), bucketedShingleTable(dir))
      Dedup.minhashPairsFromShingles(s.table(t).select("doc_id", "sh"))
    }),
    // Incremental ingest dedup: the odd-doc_id half is "today's batch",
    // the even half the existing corpus. Only new×corpus pairs are ever
    // generated; the corpus side is consumed as (doc_id, sh) rows — in
    // the _stored twin straight from the maintained shingle artifact
    // (filter commutes with shingling, per ShingleStore.read's contract).
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minhashPairsIncremental(
        Dedup.shingles(docs.filter(col("doc_id") % 2 === 0)),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    "dedup_incremental_stored" -> ((s, dir) => {
      val p = shingleStorePath(dir)
      ShingleStore.ensure(Tables.documents(s, dir), p)
      Dedup.minhashPairsIncremental(
        ShingleStore.read(s, p).filter(col("doc_id") % 2 === 0).select("doc_id", "sh"),
        Tables.documents(s, dir).filter(col("doc_id") % 2 === 1),
        corpusBands = Some(
          ShingleStore.readBands(s, p).filter(col("doc_id") % 2 === 0)))
    }),
    // Incremental dedup over the BUCKETED layouts — the daily-ingest
    // plan shape at 100 TB: the band probe's corpus side arrives
    // pre-partitioned on bk (bands bucketed BY BK — only the small batch
    // side shuffles), and the candidate shingle fetch rides the doc_id
    // bucketing. Row filters on a bucketed scan preserve its
    // outputPartitioning, so the even-half corpus slice keeps both
    // layouts.
    "dedup_incremental_bucketed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val shT = ShingleStore.ensureBucketed(docs, bucketedShingleTable(dir))
      val bdT = ShingleStore.ensureBucketedBands(docs, bucketedBandTable(dir))
      Dedup.minhashPairsIncremental(
        s.table(shT).filter(col("doc_id") % 2 === 0).select("doc_id", "sh"),
        docs.filter(col("doc_id") % 2 === 1),
        corpusBands = Some(s.table(bdT).filter(col("doc_id") % 2 === 0)))
    }),
    "dedup_clusters" -> ((s, dir) => Dedup.dedupClusters(Tables.documents(s, dir))),
    // Same oracle as dedup_clusters: hash-to-min and star contraction must
    // label components identically (min id), so the recursive-CTE closure
    // gates BOTH fixpoint algorithms.
    "dedup_clusters_star" -> ((s, dir) => Dedup.dedupClustersStar(Tables.documents(s, dir))),
    // Leakage-free split: train/test assigned by hashing the near-dup
    // CLUSTER keeper, so a test doc's near-duplicates can never land in
    // train — the eval-decontamination split discipline, structural.
    "split_leakfree" -> ((s, dir) => Dedup.leakFreeSplit(Tables.documents(s, dir))),
    "ngram_jaccard_top" -> ((s, dir) => Dedup.ngramJaccardTop(Tables.documents(s, dir))),
    // Span-granularity dedup (Lee et al. ACL 2022 re-expressed as
    // shuffle-by-key + doc-bounded windows): the maximal cross-document
    // duplicate token runs, and the per-document boilerplate rollup.
    "dup_spans" -> ((s, dir) =>
      DupSpans.spans(Tables.documents(s, dir)).orderBy("doc_id", "span_start")),
    "dup_profile" -> ((s, dir) =>
      DupSpans.docDupProfile(Tables.documents(s, dir)).orderBy("doc_id")),
    // The ACT step: re-emit every document with its duplicate-span tokens
    // excised (excise-everywhere policy; fully-boilerplate docs come back
    // empty, not dropped). Gated on the md5 of the reassembled text.
    "corpus_excised" -> ((s, dir) =>
      DupSpans.excise(Tables.documents(s, dir)).orderBy("doc_id")),
    // Keep-one-copy policy: every duplicate span keeps its canonical
    // (min doc_id, min span_start) occurrence corpus-wide and is excised
    // everywhere else — content-addressed ownership via the span-text md5.
    "corpus_excised_keepone" -> ((s, dir) =>
      DupSpans.exciseKeepOne(Tables.documents(s, dir)).orderBy("doc_id")),
    // KMV/theta sketch set algebra: estimated distinct/union/intersection/
    // Jaccard of the two source-half shingle vocabularies, with the exact
    // answers and a 4σ accuracy certificate riding along (kll_quantiles
    // house style). The estimator is deterministic — k smallest md5-60
    // hashes are a pure function of the set — so DuckDB replays it
    // bit-for-bit, k-min selection, θ, and IEEE divisions included.
    "kmv_corpus_overlap" -> ((s, dir) => {
      val sh = Dedup.shingles(Tables.documents(s, dir))
        .join(Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
      Kmv.overlap(sh, substring(col("source"), 4, 10).cast("int") < 10, col("sh"), 256)
    }),
    // Prefix-filtering set-similarity join — the EXACT threshold join
    // (complete candidates, no approximation), gated against the naive
    // all-token-pairs oracle: the pruning is proven answer-preserving.
    "setjoin_pairs" -> ((s, dir) => SetJoin.similarPairs(Tables.documents(s, dir))),
    // COLLISION-AUDITED edition — unconditional completeness for the
    // 1e11-token-vocabulary paranoia case: one vocabulary aggregate
    // proves no two distinct shingles share an xxhash64 fingerprint in
    // THIS corpus (then the 64-bit pass IS the exact pipeline), with a
    // string-fingerprint fallback in the ~4e-7 world where one does.
    // Replaces round 9's 16-byte-BINARY mode: measured at sf10, binary
    // arrays cost 399 s against 33 s for longs (de-specialized binary
    // comparators, 3× payload), while the audit costs one df-stamp-sized
    // aggregate. Identical results by construction — shares the exact
    // join's oracle.
    "setjoin_pairs_wide" -> ((s, dir) =>
      SetJoin.similarPairs(Tables.documents(s, dir), auditCollisions = true)),
    // Same exact join over the stored shingle table: tokenization AND the
    // df stamp are parquet reads (the artifact's df column is the same
    // exact agg+join df the self-contained path computes per query).
    "setjoin_pairs_stored" -> ((s, dir) => {
      val p = shingleStorePath(dir)
      ShingleStore.ensure(Tables.documents(s, dir), p)
      SetJoin.similarPairsFromShingles(ShingleStore.read(s, p))
    }),
    // Same exact join over the BUCKETED shingle table: the scan is
    // hash-partitioned by doc_id on disk, so the opening per-doc
    // aggregation plans with zero exchanges (spec-audited) — the stored
    // layout replaces the family's dominant corpus shuffle.
    "setjoin_pairs_bucketed" -> ((s, dir) => {
      val t = ShingleStore.ensureBucketed(Tables.documents(s, dir), bucketedShingleTable(dir))
      SetJoin.similarPairsFromShingles(s.table(t))
    }),
    // Incremental EXACT join: odd-doc batch vs the even-doc corpus read
    // from the stored artifact (same split as dedup_incremental_stored —
    // the exact sibling). The shared store's full-corpus df is a superset
    // count: sound, because prefix completeness needs only one consistent
    // total order.
    "setjoin_incremental" -> ((s, dir) => {
      val p = shingleStorePath(dir)
      ShingleStore.ensure(Tables.documents(s, dir), p)
      SetJoin.similarPairsIncremental(
        ShingleStore.read(s, p).filter(col("doc_id") % 2 === 0),
        Tables.documents(s, dir).filter(col("doc_id") % 2 === 1))
    }),
    "simhash" -> ((s, dir) => Dedup.simhash(Tables.documents(s, dir))),
    "simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(Tables.documents(s, dir))),
    // Lexical retrieval: rare term ("dup", df≈25/500) + two mid-frequency
    // terms — idf separation is what the gate checks.
    // Hybrid retrieval: RRF fusion of the BM25 and cosine legs — rank
    // fusion needs no cross-leg score normalization, and the fused score
    // is a fixed two-term expression of exact integer ranks.
    "hybrid_search_rrf" -> ((s, dir) =>
      Search.hybridRrf(Tables.documents(s, dir), Tables.embeddings(s, dir),
        Seq("dup", "vector", "scan"))),
    "bm25_topk" -> ((s, dir) =>
      Search.bm25TopK(Tables.documents(s, dir), Seq("dup", "vector", "scan"))),
    // Same query over the MAINTAINED posting-table artifact: the index is
    // built once per JVM per sf dir, then the query reads term-bucket-
    // pruned postings instead of re-tokenizing the corpus. Cached-build
    // reuse is scoped to the process (not a bare exists() on /tmp): a
    // pre-existing path from an earlier process or regenerated fixture data
    // is REBUILT, and writeLexicalIndex's build-then-publish rename means a
    // crashed build can never leave a half-index behind. Shares bm25_topk's
    // oracle — the stored index must reproduce the recompute answer.
    "bm25_postings" -> ((s, dir) => {
      val idx = artifactPath("lexindex", dir)
      Search.ensureLexicalIndex(Tables.documents(s, dir), idx)
      Search.bm25TopKFromIndex(s, idx, Seq("dup", "vector", "scan"))
    }),
    "tfidf_top_terms" -> ((s, dir) => Search.topTermsPerDoc(Tables.documents(s, dir))),
    "cosine_topk" -> ((s, dir) => Similarity.cosineTopK(Tables.embeddings(s, dir))),
    "cosine_topk_int8" -> ((s, dir) => Similarity.cosineTopKInt8(Tables.embeddings(s, dir))),
    "ann_lsh" -> ((s, dir) => Similarity.annLsh(Tables.embeddings(s, dir))),
    "ann_recall" -> ((s, dir) => Similarity.annRecall(Tables.embeddings(s, dir))),
    "ann_ivf" -> ((s, dir) => Similarity.annIvf(Tables.embeddings(s, dir))),
    // Topic balancing over the SAME IVF clustering the ANN index uses:
    // every semantic cluster contributes at most perCluster vectors,
    // kept in deterministic md5 hash order.
    "sample_cluster_balanced" -> ((s, dir) =>
      Similarity.clusterBalancedSample(Tables.embeddings(s, dir))),
    // Filtered vector search: top-k among label=1 vectors only, with the
    // predicate applied BEFORE the probe join (pre-filter, not
    // probe-then-discard).
    "ann_ivf_filtered" -> ((s, dir) =>
      Similarity.annIvfFiltered(Tables.embeddings(s, dir), labelValue = 1)),
    // IVF over the STORED index artifact (centroids + assignment table,
    // ArtifactStore rename-publish like the posting/shingle tables): no
    // Lloyd step or corpus argmin at query time. Shares ann_ivf's oracle —
    // the stored model must reproduce the in-session answer exactly.
    "ann_ivf_stored" -> ((s, dir) => {
      val p = artifactPath("ivfindex", dir)
      Similarity.ensureIvfIndex(Tables.embeddings(s, dir), p)
      Similarity.annIvfFromIndex(Tables.embeddings(s, dir), p)
    }),
    "ivf_recall" -> ((s, dir) => Similarity.ivfRecall(Tables.embeddings(s, dir))),
    "ivf_filtered_recall" -> ((s, dir) =>
      Similarity.ivfFilteredRecall(Tables.embeddings(s, dir))),
    // TIGHT selectivity (~1%: vec_id % 100 = 7) with the ADAPTIVE probe
    // width — the regime where fixed-nprobe pre-filter starves: nprobe
    // widens to ceil(3k·nlist/m), degrading gracefully to an exact scan
    // of the matching slice when it is tiny.
    "ann_ivf_filtered_tight" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.annIvfFilteredAdaptive(
        emb, emb.filter(col("vec_id") % 100 === 7).select("vec_id"))
    }),
    "ivf_filtered_recall_tight" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfFilteredRecallAdaptive(
        emb, emb.filter(col("vec_id") % 100 === 7).select("vec_id"))
    }),
    // Product quantization: 8 subspace codebooks (deterministic integer
    // k-means) → 4-bit codes → ADC top-k by summed table lookups — the
    // ~32× embedding-compression axis; recall gated like every index.
    "ann_pq" -> ((s, dir) => Similarity.annPq(Tables.embeddings(s, dir))),
    "pq_recall" -> ((s, dir) => Similarity.pqRecall(Tables.embeddings(s, dir))),
    // The production composition: ADC top-50 shortlist from the codes,
    // exact cosine re-rank of just those 50 full vectors per query. The
    // recall pair (pq_recall vs pq_rerank_recall) prices the stage.
    "ann_pq_rerank" -> ((s, dir) => Similarity.annPqRerank(Tables.embeddings(s, dir))),
    // PQ over the STORED index artifact (codebooks + codes): no training
    // or corpus encoding at query time. Shares ann_pq's oracle.
    "ann_pq_stored" -> ((s, dir) => {
      val p = artifactPath("pqindex", dir)
      Similarity.ensurePqIndex(Tables.embeddings(s, dir), p)
      Similarity.annPqFromIndex(Tables.embeddings(s, dir), p)
    }),
    "pq_rerank_recall" -> ((s, dir) => Similarity.pqRerankRecall(Tables.embeddings(s, dir))),
    "dedup_embedding" -> ((s, dir) => Similarity.embeddingNearDup(Tables.embeddings(s, dir))),
    // SEMANTIC dedup clusters — the embedding-side twin of dedup_clusters:
    // LSH near-dup pairs feed the same hash-to-min component labeling, so
    // transitively-linked vectors collapse to one keeper. Oracle: recursive
    // transitive closure over the SAME LSH pair SQL that gates
    // dedup_embedding_lsh.
    "dedup_embedding_clusters" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.embeddingNearDupLsh(emb).select("id_a", "id_b")
      val comp = Dedup.connectedComponents(pairs)
        .withColumnRenamed("doc_id", "vec_id")
      emb.select(col("vec_id"))
        .join(comp, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), coalesce(col("keep_id"), col("vec_id")).as("keep_id"))
        .withColumn("is_dup", (col("vec_id") =!= col("keep_id")).cast("boolean"))
        .orderBy("vec_id")
    }),
    "dedup_embedding_lsh" -> ((s, dir) => Similarity.embeddingNearDupLsh(Tables.embeddings(s, dir))),
    "neardup_recall" -> ((s, dir) => Similarity.nearDupRecall(Tables.embeddings(s, dir))),
    "pii_redact" -> ((s, dir) => DataHygiene.redactionAudit(Tables.documents(s, dir))),
    // End-to-end cleaning composition: corpus = even doc_ids, eval = odd
    // (consistent with the contamination fixture). Thresholds chosen to
    // split the fixture corpus meaningfully (quality median ≈ 0.38,
    // rep_ratio max ≈ 0.07, shingle-overlap p50 ≈ 20).
    "corpus_clean" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DataHygiene.cleanCorpus(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    // The decomposed composition: dedup + contamination branches read the
    // maintained shingle table (quality/repetition stay text-derived).
    // Shares corpus_clean's oracle — the artifact must not change a flag.
    "corpus_clean_stored" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val p = shingleStorePath(dir)
      ShingleStore.ensure(docs, p)
      val sh = ShingleStore.read(s, p).select("doc_id", "sh")
      DataHygiene.cleanCorpusFromShingles(
        docs.filter(col("doc_id") % 2 === 0),
        sh.filter(col("doc_id") % 2 === 0),
        sh.filter(col("doc_id") % 2 === 1))
    }),
    "doc_repetition" -> ((s, dir) => DataHygiene.repetitionScore(Tables.documents(s, dir))),
    "quality_gate_adaptive" -> ((s, dir) =>
      DataHygiene.adaptiveQualityFilter(Tables.documents(s, dir))),
    // Decontamination fixture: even doc_ids play "train", odd play "eval".
    "contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      DataHygiene.contamination(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    }),
    // Both sides sliced from the stored shingle table (shingling commutes
    // with row filters, so filter-then-shingle == shingle-then-filter).
    "contamination_stored" -> ((s, dir) => {
      val p = shingleStorePath(dir)
      ShingleStore.ensure(Tables.documents(s, dir), p)
      val sh = ShingleStore.read(s, p).select("doc_id", "sh")
      DataHygiene.contaminationFromShingles(
        sh.filter(col("doc_id") % 2 === 0),
        sh.filter(col("doc_id") % 2 === 1))
    }),
    // shards pinned to 8 here because chunk ids depend on the shard count
    // and the oracle SQL (PackCte) hard-codes the same value — a
    // determinism contract for the gate. At scale, size shards to the
    // corpus instead (Packing.packDocumentsAuto / the shards knob).
    "pack_documents" -> ((s, dir) => Packing.packDocuments(Tables.documents(s, dir))),
    // Padding-efficiency batching: global length rank (distributed) →
    // equal-rank buckets → fixed-size batches of adjacent-length docs,
    // with the per-batch pad-waste fraction. Exact integer bucket/batch
    // arithmetic, DuckDB-replayed.
    "length_batches" -> ((s, dir) => Packing.lengthBatches(Tables.documents(s, dir))),
    "pack_chunk_stats" -> ((s, dir) => Packing.chunkStats(Tables.documents(s, dir))),
    "doc_chunks" -> ((s, dir) => Packing.slidingWindows(Tables.documents(s, dir))),
    // Content-defined chunking: boundaries are a pure function of local
    // 3-gram hashes (mod 8), so edits reshape only the chunks they touch
    // — the boundary-stable sibling of the sliding-window chunker, and
    // the substrate for chunk-hash dedup across crawl snapshots.
    "doc_chunks_cdc" -> ((s, dir) => Packing.cdcChunks(Tables.documents(s, dir))),
    // The query CDC chunking exists for: re-crawl diffing. Snapshot B is
    // a deterministic re-crawl of the fixture — in-place edits on the
    // doc_id % 7 = 3 slice (the→teh), a prepended header on % 11 = 5
    // (shifts/creates leading chunks), and % 31 = 17 dropped (dead pages)
    // — and the diff reports, per doc, how many chunks survived
    // byte-identical (unchanged/moved) vs need re-processing
    // (added/removed). Both engines synthesize B from the same CASE.
    "chunk_dedup_snapshots" -> ((s, dir) => {
      val a = Tables.documents(s, dir)
      Packing.chunkDiffSnapshots(a, recrawlSnapshot(a))
    }),
    "sample_uniform" -> ((s, dir) => Sampling.deterministicSample(Tables.documents(s, dir))),
    "sample_weighted" -> ((s, dir) => Sampling.weightedSample(Tables.documents(s, dir))),
    "sample_stratified" -> ((s, dir) => Sampling.stratifiedSample(Tables.documents(s, dir))),
    // Mixture quotas chosen against the fixture strata: en subsampled,
    // de UP-sampled (quota > stratum size at the sf0.01 gate — exercises
    // epoch cycling), zh subsampled, es/fr excluded (no quota).
    "sample_mixture" -> ((s, dir) => Sampling.mixtureSample(Tables.documents(s, dir),
      Map("en" -> 100L, "de" -> 120L, "zh" -> 30L))),
    // Temperature-scaled mixture (α = 1/2): quotas ∝ sqrt(n_lang),
    // integer largest-remainder allocation — sqrt is IEEE-correctly-
    // rounded so the float step is engine-identical; everything after is
    // exact integers.
    "sample_temperature" -> ((s, dir) =>
      Sampling.temperatureMixture(Tables.documents(s, dir))),
    // DSIR importance resampling (Xie et al. NeurIPS 2023): raw-pool docs
    // compete on ln(−ln u) − λ — the Gumbel-top-k form of A-ES with
    // w = exp(λ), so no engine-sensitive exp — where λ is the
    // exact-integer bigram-LM log-ratio toward the src0 target domain.
    "dsir_select" -> ((s, dir) =>
      Sampling.dsirSelect(Tables.documents(s, dir), col("source") === "src0")),
    // Best-tokens-under-budget: quality-ranked greedy selection with a
    // distributed global running sum (range partition + per-partition
    // offsets — never a single-partition window).
    "budget_select" -> ((s, dir) =>
      Sampling.budgetSelect(Tables.documents(s, dir))),
    "multimodal_decode" -> ((s, dir) => Multimodal.decodeFeatures(Tables.documents(s, dir))),
    "multimodal_frames" -> ((s, dir) => Multimodal.frameSample(Tables.documents(s, dir))),
    // REAL codec both directions: bytes → genuine grayscale PNG →
    // javax.imageio decode; features come from the DECODED raster, the
    // oracle recomputes them from the source text — lossless round trip
    // proven cross-engine, no stub in the path.
    "multimodal_image_roundtrip" -> ((s, dir) => Multimodal.imageRoundtrip(Tables.documents(s, dir))),
    // Real WAV encode+decode through the JDK's javax.sound reader — the
    // audio twin of the PNG round trip; 8-bit PCM losslessness makes the
    // decoded-sample checksum oracle-checkable from the text.
    "multimodal_audio_roundtrip" -> ((s, dir) => Multimodal.audioRoundtrip(Tables.documents(s, dir))),
    // TRUE frame-level decode: bytes → genuine animated GIF → frame-by-
    // frame javax.imageio read; dims and checksums come from each decoded
    // raster, the oracle recomputes them from the source byte windows.
    "multimodal_gif_frames" -> ((s, dir) => Multimodal.gifFrames(Tables.documents(s, dir))),
    "multimodal_video_frames" -> ((s, dir) => Multimodal.videoFrames(Tables.documents(s, dir))),
    // HyperLogLog distinct sketch vs exact — BOTH estimator branches gated:
    // per-type user counts (~150 « 1280) land in the linear-counting
    // correction, the global event_id count (10k per sf0.01) in the raw
    // harmonic-mean regime. The md5/integer-register construction makes the
    // approximate estimate itself hash-exact across engines.
    "hll_distinct_users" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy("event_type").agg(countDistinct(col("user_id")).as("n_exact"))
        .join(Sketches.hllDistinct(ev, Seq("event_type"), "user_id"), Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("n_hll"),
          round(abs(col("n_hll") - col("n_exact")).cast("double")
            / col("n_exact").cast("double"), 4).as("err_pct"))
        .orderBy("event_type")
    }),
    "hll_distinct_events" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.agg(countDistinct(col("event_id")).as("n_exact"))
        .crossJoin(broadcast(Sketches.hllDistinct(ev, Seq.empty, "event_id")))
        .select(col("n_exact"), col("n_hll"),
          round(abs(col("n_hll") - col("n_exact")).cast("double")
            / col("n_exact").cast("double"), 4).as("err_pct"))
    }),
    // NULL-seeded HLL key gate (null_* family): the sketch must agree with
    // count(DISTINCT), which ignores NULL keys — the register pipeline
    // filters NULLs up front (a NULL md5 row would silently skew one
    // register), and this query proves it against a key column nulled on
    // the event_id % 7 slice. BIGINT key so the cross-engine string cast
    // stays canonical (never seed a DOUBLE key: engines format doubles
    // differently).
    "null_hll_distinct" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("nuser",
        when(col("event_id") % 7 === 0, lit(null).cast("long"))
          .otherwise(col("user_id")))
      ev.agg(countDistinct(col("nuser")).as("n_exact"))
        .crossJoin(broadcast(Sketches.hllDistinct(ev, Seq.empty, "nuser")))
        .select(col("n_exact"), col("n_hll"),
          round(abs(col("n_hll") - col("n_exact")).cast("double")
            / col("n_exact").cast("double"), 4).as("err_pct"))
    }),
    // MANIFEST-STATS DATA SKIPPING over the versioned store — the
    // Delta/Iceberg file-pruning seam: a 10-append day-ranged store of
    // events answers a one-day read by OPENING ONLY the matching data
    // dir (VersionedStore.readAt's skip predicate prunes through the
    // per-dir min/max recorded at commit). The require() is a live gate:
    // if pruning ever regresses to scanning every append, the query
    // fails loudly rather than silently reading 10× the bytes. Results
    // are oracle-checked against the flat events table — skipping is an
    // access-path property, never a filter.
    "versioned_skip_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureVersionedEventsStore(s, dir)
      val probe = Seq(VersionedStore.ColRange.eq("day", "2024-01-15"))
      val v = VersionedStore.currentVersion(s, p)
      val opened = VersionedStore.prunedDirs(s, p, v, probe)
      require(opened.size == 1,
        s"data skipping must open exactly the 2024-01-13..15 dir, opened ${opened.size}")
      VersionedStore.readAt(s, p, v, probe)
        .filter(col("day") === lit("2024-01-15").cast("date"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"))
        .orderBy("event_type")
    }),
    // OPTIMIZE / CLUSTER BY Z-ORDER over the versioned store — the
    // multi-dimensional edition of versioned_skip_read's seam: a single
    // unclustered commit of events is rewritten into 8 z-key-range data
    // dirs (VersionedStore.optimize), after which the manifest's per-dir
    // stats answer predicates on EITHER clustered dimension. The require
    // is the live gate: a point-user probe must open strictly fewer dirs
    // than the snapshot holds, or the clustering has silently regressed
    // to a plain rewrite. Values are oracle-checked against flat events —
    // clustering is a layout property, never a filter.
    "versioned_optimize_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureZOptimizedEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      val probe = Seq(
        VersionedStore.ColRange("user_id", Some("40"), Some("49")),
        VersionedStore.ColRange.eq("day", "2024-01-10"))
      val all = VersionedStore.prunedDirs(s, p, v, Seq.empty)
      val opened = VersionedStore.prunedDirs(s, p, v, probe)
      // opened may legitimately be EMPTY (a tiny corpus with no rows in
      // the probed cell prunes everything — the ideal outcome; the read
      // degrades to a schema-correct empty frame).
      require(opened.size < all.size,
        s"z-clustered point read must prune (${opened.size}/${all.size} dirs)")
      VersionedStore.readAt(s, p, v, probe)
        .filter(col("user_id").between(40, 49) && col("day") === lit("2024-01-10").cast("date"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"))
        .orderBy("event_type")
    }),
    // ROW-LEVEL DELETE in the versioned store — dir-granular
    // copy-on-write (VersionedStore.deleteWhere): excising one day's
    // 'click' rows from the 10-append store rewrites EXACTLY the one
    // data dir whose day-range stats can hold the predicate; the other
    // nine survive by reference (the require gates that — a delete that
    // rewrites the table has regressed). The GDPR/contamination-excision
    // seam at the storage tier; values oracle-checked against flat
    // events minus the deleted slice.
    "versioned_delete_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureDeletedEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange("day", Some("2024-01-13"), Some("2024-01-15"))))
        .filter(col("day").between(
          lit("2024-01-13").cast("date"), lit("2024-01-15").cast("date")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // DELETION VECTORS — merge-on-read row-level DELETE
    // (VersionedStore.deleteWhereDv, the Delta DV / Iceberg
    // positional-delete architecture at dir granularity): a SCATTERED
    // delete (event_id % 97 — rows in every dir) plus a targeted one
    // (day-14 clicks) write tiny per-dir position sidecars and rewrite
    // ZERO data dirs — the build gates all ten dirs carrying by
    // reference through BOTH deletes, where copy-on-write would have
    // rewritten all ten. The read anti-applies the vectors (and still
    // prunes dirs through manifest stats); values oracle-checked against
    // flat events minus both deleted slices.
    "versioned_dv_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureDvEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange("day", Some("2024-01-13"), Some("2024-01-15"))))
        .filter(col("day").between(
          lit("2024-01-13").cast("date"), lit("2024-01-15").cast("date")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"))
        .orderBy("event_type")
    }),
    // ROW-LEVEL UPDATE in the versioned store — the UPDATE SET ... WHERE
    // seam (VersionedStore.updateWhere), completing the DML triad: day-14
    // clicks get value tripled in ONE copy-on-write dir rewrite (build
    // gates 9 of 10 dirs carried by reference) with the prune assertion
    // PROVEN via verifyPrune's all-dir probe. The post-update day-13..15
    // aggregate is oracle-checked against the same UPDATE expressed over
    // flat events in SQL.
    "versioned_update_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureUpdatedEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange("day", Some("2024-01-13"), Some("2024-01-15"))))
        .filter(col("day").between(
          lit("2024-01-13").cast("date"), lit("2024-01-15").cast("date")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),
    // RESTORE over the versioned store — the operational undo
    // (VersionedStore.restore): a wrong whole-day delete is undone by a
    // manifest-only commit referencing the pre-delete dirs (build gates
    // zero data copy + the bad version staying time-travelable). The
    // restored snapshot must read as if the delete never happened, so
    // the oracle is plain flat events; data skipping still works through
    // the verbatim-carried stats (the ColRange read proves it).
    "versioned_restore_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureRestoredEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange("day", Some("2024-01-13"), Some("2024-01-15"))))
        .filter(col("day").between(
          lit("2024-01-13").cast("date"), lit("2024-01-15").cast("date")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // VERSION DIFF over the versioned store — the audit seam
    // (VersionedStore.diff): "what did the UPDATE commit actually
    // change?" answered as a multiset insert/delete frame between the
    // pre- and post-update versions. Every changed row is a day-14
    // click appearing twice — deleted at its original value, inserted
    // at value*3 — which the oracle states directly over flat events.
    "versioned_diff_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureUpdatedEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      // Scoped to the UPDATE's own day range: skip prunes both sides to
      // the touched dirs through manifest stats, the predicate makes the
      // sides exactly comparable — the audit pays O(scope), not O(table).
      VersionedStore.diff(s, p, v - 1, v,
          skip = Seq(VersionedStore.ColRange("day", Some("2024-01-13"), Some("2024-01-15"))),
          scope = Some(col("day").between(
            lit("2024-01-13").cast("date"), lit("2024-01-15").cast("date"))))
        .groupBy(col("__change"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("__change").as("change"), col("n"), col("sum_value"))
        .orderBy("change")
    }),
    // MERGE (upsert) over the versioned store — the Delta MERGE INTO
    // seam (VersionedStore.mergeInto): day-14 clicks are UPDATED
    // (value doubled, full-row replace) and re-keyed day-14 purchases
    // are INSERTED, in one copy-on-write commit whose build gates that
    // exactly ONE of the ten day-ranged dirs was rewritten (the prune
    // + probe passes bound the rewrite to the dir holding the matches).
    // The post-merge day-13..15 aggregate is oracle-checked against the
    // same upsert expressed over flat events in SQL.
    "versioned_merge_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureMergedEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange("day", Some("2024-01-13"), Some("2024-01-15"))))
        .filter(col("day").between(
          lit("2024-01-13").cast("date"), lit("2024-01-15").cast("date")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),
    // TYPE-WIDENING schema evolution over the versioned store — the
    // Iceberg type-promotion seam (VersionedStore widensTo lattice): a
    // store born with INT user ids and FLOAT values widens to
    // BIGINT/DOUBLE at commit 6 with ZERO dir rewrites (the build gates
    // that, plus version 5 time-traveling at its narrow schema); the
    // read unions five narrow and five wide dirs through the widened
    // recorded schema. Values oracle-checked against flat events with
    // the first half's float round trip applied — the promotion must be
    // lossless, not a lossy reinterpretation.
    "versioned_widen_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureWidenedEventsStore(s, dir)
      VersionedStore.read(s, p).get
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"),
          max(col("user_id")).as("max_user"))
        .orderBy("event_type")
    }),
    // COLUMN RENAME over the versioned store — the Iceberg/Delta
    // column-mapping seam (VersionedStore.renameColumn): a store whose
    // first five appends call the value column `val` renames it to
    // `value` in a METADATA-ONLY commit (build gates zero dir rewrites
    // + old name under time travel), then appends five more batches
    // under the new name. The read unions pre- and post-rename dirs
    // through the logical->physical map; values oracle-checked against
    // flat events — a rename must be invisible to the data.
    "versioned_rename_read" -> ((s, dir) => {
      val p = ensureRenamedEventsStore(s, dir)
      // through the DATA SOURCE path deliberately: a column-mapped store
      // must keep the VECTORIZED parquet scan (the round-14 upgrade rule
      // aliases a physical-schema FileSourceScanExec under the logical
      // names) — gated here on the physical plan, values gated by the
      // oracle as before
      val base = s.read.format("graftstore").load(p)
      // gate on the bare scan frame (exchange-free, so AQE never wraps
      // the plan and the scan node is visible to collect)
      val vectorized = base.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc }
      require(vectorized.nonEmpty,
        "renamed store must plan a vectorized FileSourceScanExec, " +
          "not the row fallback")
      base.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // BLOOM-SKIPPED POINT LOOKUP — the pruner min/max cannot be: the
    // lookup key is md5-hashed (every dir's range spans the hex domain),
    // and the per-dir bloom recorded by the `bloom:` statsCols prefix
    // collapses the equality probe to ~1 of 10 dirs (require-gated; 1%
    // fp slack). Values oracle-checked against flat events by the
    // UNHASHED key — the bloom is an access path, never a filter.
    "versioned_bloom_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureBloomEventsStore(s, dir)
      val target = java.security.MessageDigest.getInstance("MD5")
        .digest("42".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val probe = Seq(VersionedStore.ColRange.eq("eid_h", target))
      val v = VersionedStore.currentVersion(s, p)
      val opened = VersionedStore.prunedDirs(s, p, v, probe)
      require(opened.size <= 3,
        s"bloom skipping must collapse a hashed point probe to ~1 of 10 " +
          s"dirs, opened ${opened.size}")
      VersionedStore.readAt(s, p, v, probe)
        .filter(col("eid_h") === target)
        .select(col("event_id"), col("event_type"), col("user_id"),
          floor(col("value") * 1000).cast("long").as("val_q"))
        .orderBy("event_id")
    }),
    // ROW-LEVEL CHANGE DATA FEED over the versioned store — the Delta
    // CDF / table_changes surface (VersionedStore.readRowChanges),
    // COMPUTED from the log: the updated-events store's 10 appends emit
    // their rows as inserts at their commit versions (each read
    // shuffle-free from its own dir), and the UPDATE at v11 emits exact
    // update_preimage/update_postimage pairs from the one touched dir's
    // rewrite — O(rewrite), never O(table). Oracle: DuckDB reconstructs
    // the same feed from flat events (append version = day bucket / 3;
    // pre/post = the update predicate's rows before/after SET), with
    // value-unchanged rows excluded on both sides — a computed multiset
    // feed is blind to a row the UPDATE mapped to itself, by definition.
    "versioned_cdf_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureUpdatedEventsStore(s, dir)
      VersionedStore.readRowChanges(s, p, 0L).get
        .groupBy(col("_commit_version"), col("_change_type"), col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"))
        .orderBy("_commit_version", "_change_type", "event_type")
    }),
    // The SAME feed through pure SQL — the `table_changes` TVF (Delta's
    // SQL door to the CDF, registered via injectTableFunction): bounds
    // are inclusive commit versions, so (1) spans every commit. Shares
    // versioned_cdf_read's oracle — the TVF is an access path, never a
    // different computation.
    "versioned_cdf_sql" -> ((s, dir) => {
      val p = ensureUpdatedEventsStore(s, dir)
      s.sql(s"SELECT * FROM table_changes('graftstore.`$p`', 1)")
        .groupBy(col("_commit_version"), col("_change_type"), col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"))
        .orderBy("_commit_version", "_change_type", "event_type")
    }),
    // And the same feed through the DATA SOURCE batch option — Delta's
    // `readChangeFeed`/`startingVersion` surface. Third access path,
    // same oracle: option, TVF and Scala API must be one computation.
    "versioned_cdf_batch" -> ((s, dir) => {
      val p = ensureUpdatedEventsStore(s, dir)
      s.read.format("graftstore").option("readChangeFeed", "true")
        .option("startingVersion", "1").load(p)
        .groupBy(col("_commit_version"), col("_change_type"), col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"))
        .orderBy("_commit_version", "_change_type", "event_type")
    }),
    // DATA SOURCE surface over the versioned store — the same skipping
    // seam as versioned_skip_read but through Spark's OWN planner:
    // spark.read.format("graftstore") builds a HadoopFsRelation over the
    // manifest-backed GraftFileIndex (the public Delta/Tahoe shape), the
    // analyzer pushes the day predicate into FileIndex.listFiles, and
    // the require gates the PHYSICAL scan's numFiles metric — pruning
    // proven end-to-end through the SQL stack, not by calling the
    // store's API. Values oracle-checked against flat events: the
    // connector is an access path, never a filter.
    "versioned_dsv2_read" -> ((s, dir) => {
      val p = ensureVersionedEventsStore(s, dir)
      val base = s.read.format("graftstore").load(p)
      val day = base.filter(col("day") === lit("2024-01-20").cast("date"))
      val plan = day.queryExecution.executedPlan
      plan.execute().count() // materialize THIS plan so its metrics read
      val opened = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value }.sum
      val total = base.inputFiles.length
      require(opened > 0 && opened < total,
        s"graftstore scan must data-skip: opened $opened of $total files")
      day.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"))
        .orderBy("event_type")
    }),
    // METADATA-ONLY COUNT over the versioned store — the Iceberg
    // "answer from the manifest" seam (VersionedStore.countWhere): a
    // day range aligned on the store's 3-day append boundaries is
    // counted from per-dir manifest row counts with ZERO dirs read
    // (the require gates that), while a misaligned range pays exactly
    // its two boundary dirs as residual reads. Counts are oracle-checked
    // against flat events — the split is an access path, never a guess.
    "versioned_count_meta" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureVersionedEventsStore(s, dir)
      val aligned = Seq(VersionedStore.ColRange("day", Some("2024-01-07"), Some("2024-01-09")))
      val partial = Seq(VersionedStore.ColRange("day", Some("2024-01-08"), Some("2024-01-16")))
      val (_, alignedResidual) = VersionedStore.countPlan(s, p, aligned)
      require(alignedResidual.isEmpty,
        s"aligned 3-day count must be metadata-only, residual=$alignedResidual")
      val (_, partialResidual) = VersionedStore.countPlan(s, p, partial)
      require(partialResidual.size <= 2,
        s"misaligned count must read only boundary dirs, residual=$partialResidual")
      import s.implicits._
      Seq((VersionedStore.countWhere(s, p, aligned),
        VersionedStore.countWhere(s, p, partial)))
        .toDF("n_aligned", "n_partial")
    }),
    // CHANGE-DATA-FEED read of the versioned store — the incremental-
    // consumer seam (readChanges): versions (5, current] of the
    // 10-append day-ranged store are exactly the appends that carried
    // days 16..30, read without touching the first half's data dirs.
    // The streaming twin below drives the same feed through the real
    // Structured Streaming source.
    "versioned_cdc_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureVersionedEventsStore(s, dir)
      val changed = VersionedStore.readChanges(s, p, sinceVersion = 5L)
        .getOrElse(sys.error(s"10-append store at $p must have changes past v5"))
      changed.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // STREAM FROM the versioned table — the graft.sources.VersionedCdc
    // source run for real (offsets = store versions, AvailableNow drains
    // every committed append exactly once into a complete-mode memory
    // sink). Gates the full streaming read path — source schema from the
    // store's recorded DDL, readChanges per micro-batch, engine offset
    // bookkeeping — against the flat-events oracle. maxVersionsPerBatch
    // makes the drain the RATE-LIMITED backlog path a real consumer uses
    // (10 backlogged versions -> 2 bounded batches, each its own admission
    // round), so the bench row prices admission control, not just the
    // single-giant-batch shortcut; the complete-mode final counts are
    // batching-invariant, so the oracle is unchanged.
    "versioned_cdc_stream" -> ((s, dir) => {
      val p = ensureVersionedEventsStore(s, dir)
      withStreamStatePartitions(s) {
        val q = s.readStream.format("graft.sources.VersionedCdc")
          .option("path", p).option("maxVersionsPerBatch", "5").load()
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"))
          .writeStream.format("memory").queryName("graft_cdc_counts")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("graft_cdc_counts").orderBy("event_type")
    }),
    // ROW-LEVEL CDC STREAM — the readChangeFeed edition of the source
    // over the UPDATED store (10 appends + an UPDATE): where the
    // dir-level stream would double-count the rewritten dir's survivors
    // (or throw), the CDF stream delivers exact row deltas, so the
    // memory-sink aggregate over the feed matches the same
    // reconstruction versioned_cdf_read's oracle computes from flat
    // events. Prices the row-level drain as a live streaming query.
    "versioned_cdf_stream" -> ((s, dir) => {
      val p = ensureUpdatedEventsStore(s, dir)
      withStreamStatePartitions(s) {
        val q = s.readStream.format("graft.sources.VersionedCdc")
          .option("path", p).option("readChangeFeed", "true").load()
          .groupBy(col("_commit_version"), col("_change_type"), col("event_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(floor(col("value") * 1000).cast("long")).as("val_q"))
          .writeStream.format("memory").queryName("graft_cdf_feed")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("graft_cdf_feed")
        .orderBy("_commit_version", "_change_type", "event_type")
    }),
    // CDC-MAINTAINED DERIVED TABLE — the flagship storage-tier loop as a
    // DuckDB-gated query: a base VersionedStore streams through the real
    // VersionedCdc source into a transform and lands in a SECOND
    // versioned store via the exactly-once VersionedStream sink, resumed
    // across two drains (build gates one derived commit per drain and
    // the batch ledger — see ensureCdcDerivedEventsStore). The derived
    // table's aggregate must equal the same transform over flat events.
    "versioned_cdc_derived" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureCdcDerivedEventsStore(s, dir)
      VersionedStore.read(s, p).get
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("val_q")).as("sum_val_q"))
        .orderBy("event_type")
    }),
    // INCREMENTALLY MAINTAINED AGGREGATE VIEW — the materialized-view
    // half of the CDC loop (graft.streaming.AggregateView): a
    // per-(day, event_type) count+sum view follows the base store
    // through change-feed deltas combined with only the TOUCHED view
    // keys and upserted via MERGE — never a base rescan (build gates
    // the version shape + ledger). The view must equal the same GROUP
    // BY computed from flat events.
    "versioned_agg_view" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureAggViewEventsStore(s, dir)
      VersionedStore.read(s, p).get
        .select(col("day").cast("string").as("day"),
          col("event_type"), col("n_rows"), col("sum_val_q"))
        .orderBy("day", "event_type")
    }),
    // DML-PROOF AGGREGATE VIEW — the view maintained from the ROW-LEVEL
    // change feed stays exact while the BASE table takes an UPDATE and a
    // group-zeroing DELETE between drains: preimages/deleted rows
    // subtract with sign −1, the zeroed group persists as a tombstone
    // filtered by the canonical read (build gates it exists), and the
    // oracle is the same GROUP BY over events WITH the DML applied —
    // the view must read as a recompute of the post-DML base.
    "versioned_agg_view_dml" -> ((s, dir) => {
      val p = ensureAggViewDmlEventsStore(s, dir)
      graft.streaming.AggregateView.read(s, p).get
        .select(col("day").cast("string").as("day"),
          col("event_type"), col("n_rows"), col("sum_val_q"))
        .orderBy("day", "event_type")
    }),
    // SQL FRONT DOOR over the versioned store — the full DML triad
    // driven through `spark.sql` against a `CREATE TABLE ... USING
    // graftstore` entry (GraftSqlParser + GraftDmlRule): DELETE day-13
    // clicks, UPDATE day-15 clicks (value*3), MERGE day-14 (clicks
    // doubled via SET *, re-keyed purchases inserted as 'synth'). The
    // build gates the transactional path — three SQL statements must be
    // exactly three commits (v10→v13) — and proves the row-level effects
    // via the change feed: delete/insert/update_preimage/postimage
    // counts must equal the per-day populations each statement named.
    // The final day-13..15 aggregate is oracle-checked against the same
    // edits expressed over flat events.
    // DROP COLUMN via column mapping — renameColumn's sibling
    // (VersionedStore.dropColumn): `props` is dropped metadata-only
    // after ten appends (build gates zero dir rewrites, time travel
    // keeping the column AND its values, the retired physical name
    // rejecting re-use even under mergeSchema, and the change feed
    // spanning the drop). A post-drop append lands at the narrowed
    // schema; the query reads exactly those rows back, so the RESULT
    // SCHEMA is the post-drop contract — the driver's schema compare is
    // the drop's oracle, not just the build requires.
    "versioned_drop_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureDroppedEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange.eq("day", "2024-01-31")))
        .filter(col("day") === lit("2024-01-31").cast("date"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("day").cast("string").as("day"))
        .orderBy("event_id")
    }),
    // TIMESTAMP AS OF over the versioned store — Delta's other travel
    // axis: every publish stamps a MONOTONIC commit wall-clock into
    // manifest meta, and resolution takes the latest version ≤ t. The
    // build gates the boundaries (before-first loud, between-commits
    // floors, after-last = current); here version 5's own stamp must
    // pin exactly the first five appends (days 01..15), and the read
    // rides the same pinned data-source relation versionAsOf serves —
    // values oracle-checked against flat events.
    "versioned_ts_read" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureTsEventsStore(s, dir)
      val ts5 = VersionedStore.metaAt(s, p, 5L)("commitTs").toLong
      val atV5 = VersionedStore.versionAtTimestamp(s, p, ts5)
      require(atV5 == 5L,
        s"version 5's own stamp must resolve to version 5, got $atV5")
      s.read.format("graftstore").option("timestampAsOf", ts5.toString)
        .load(p)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value") * 1000).cast("long")).as("val_q"))
        .orderBy("event_type")
    }),
    "versioned_sql_dml" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureSqlDmlEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange("day", Some("2024-01-13"), Some("2024-01-15"))))
        .filter(col("day").between(
          lit("2024-01-13").cast("date"), lit("2024-01-15").cast("date")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),
    // The CONDITIONAL-CLAUSE MERGE slice of the same SQL-DML store
    // (statement 4, days 16-18): first-match-wins UPDATE (value ×10 on
    // day-17 clicks ≥ 0.5) vs DELETE (< 0.5), a TRUE-condition INSERT
    // (synth2) and a FALSE-condition one (synth3, must be absent). The
    // build gates the per-clause CDF populations; this query hash-gates
    // the resulting values against flat events.
    "versioned_sql_merge" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureSqlDmlEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange("day", Some("2024-01-16"), Some("2024-01-18"))))
        .filter(col("day").between(
          lit("2024-01-16").cast("date"), lit("2024-01-18").cast("date")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),
    // The WHEN NOT MATCHED BY SOURCE + partial-INSERT slice of the same
    // SQL-DML store (statement 5, days 19-21): key-matched day-19
    // clicks gain 100, day-20 errors delete and day-20 views gain 50
    // through BY SOURCE clauses (target-only conditions), day-21
    // purchases insert as 'synth4' through a partial column list whose
    // omitted value column lands NULL, and the condition-less 'synth5'
    // rows are dropped. The build gates the per-clause CDF populations;
    // this query hash-gates the resulting values against flat events.
    "versioned_sql_merge_bysource" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureSqlDmlEventsStore(s, dir)
      val v = VersionedStore.currentVersion(s, p)
      VersionedStore.readAt(s, p, v,
          Seq(VersionedStore.ColRange("day", Some("2024-01-19"), Some("2024-01-21"))))
        .filter(col("day").between(
          lit("2024-01-19").cast("date"), lit("2024-01-21").cast("date")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),
    // WIDE aggregate view — the breadth gate: multi-key, two sums, and
    // grow-only min/max maintained through the same CDC loop, with avg
    // derived at read (sum/count — averages never compose, so they are
    // never stored). Every aggregate must equal the flat GROUP BY.
    "versioned_agg_view_wide" -> ((s, dir) => {
      import graft.sinks.VersionedStore
      val p = ensureAggViewWideEventsStore(s, dir)
      graft.streaming.AggregateView.avgAt(
        VersionedStore.read(s, p).get, Seq("val_q"))
        .select(col("day").cast("string").as("day"), col("event_type"),
          col("n_rows"), col("sum_val_q"), col("sum_val_c"),
          col("min_val_q"), col("max_val_q"), col("avg_val_q"))
        .orderBy("day", "event_type")
    }),
    // Morton/Z-order layout key over (user, day) — the multi-dim
    // data-layout lever (sort by this before writing → row-group min/max
    // pruning works for BOTH dimensions). The fused shift-mask codegen is
    // gated against the oracle's definitional 32-term bit sum.
    "zorder_events" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          graft.functions.ZOrder.zorder_key(
            col("user_id"),
            datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).cast("long"))
            .as("zkey"))
        .orderBy("event_id")),
    // Count-min term-frequency sketch vs exact occurrence counts — the
    // heavy-hitter sibling of the HLL gate. Counters are exact integer
    // sums, so the one-sided overcount itself is hash-gated.
    "cms_term_counts" -> ((s, dir) => {
      val terms = Seq("dup", "vector", "scan", "the")
      // one tokenization feeds the sketch counters AND the exact branch
      // (bounded-registry persist — no per-call cache accumulation)
      val toks = CacheRegistry.persistBounded(
        SkewUtils.spreadCompute(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(explode(TextAnalysis.wordsExpr).as("term")))
      val exact = toks.filter(col("term").isin(terms: _*))
        .groupBy("term").agg(count(lit(1)).as("n_exact"))
      Sketches.cmsEstimate(Sketches.cmsCounters(toks, "term"), terms)
        .join(exact, Seq("term"), "left_outer")
        .select(col("term"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          col("cms_count"),
          (col("cms_count") - coalesce(col("n_exact"), lit(0L))).as("overcount"))
        .orderBy("term")
    }),
    // Misra–Gries two-pass heavy hitters: bounded-memory candidates +
    // exact re-count over candidates only — deterministic (= terms with
    // count·(k+1) > N) on any partitioning, so hash-gateable against a
    // full-count oracle. k=32 > |vocab| here; the eviction/merge path is
    // property-tested under skew in SketchesSpec.
    "heavy_hitters" -> ((s, dir) =>
      Sketches.heavyHitters(Tables.documents(s, dir), k = 32)),
    // Bloom-filter runtime prefilter: the fact side is bloom-filtered on
    // the join key BEFORE the exact join (classic runtime-filter shape —
    // fact shuffle volume drops to matches + false positives). The bloom
    // machinery is proven RESULT-INVISIBLE: this query shares the plain
    // join's oracle, like skew_salted_join gates its salt.
    // Application is STATS-GATED ([[bloomWorthwhile]], guide §3.2): like
    // Spark's own runtime-bloom applicationSideScanSizeThreshold, the
    // filter only pays when the fact side it prunes is big enough that
    // shuffle bytes dominate the build+probe cost.
    "bloom_prefilter_join" -> ((s, dir) => {
      val hot = Tables.orders(s, dir).filter(col("o_totalprice") > 490000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li0 = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"))
      val li =
        if (!bloomWorthwhile(li0)) li0
        else li0
          .crossJoin(broadcast(Sketches.bloomBuild(hot, "o_orderkey")))
          .filter(Sketches.bloomMightContain("l_orderkey"))
          .drop("bloom_words")
      hot.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_qty"))
        .orderBy("o_orderpriority")
    }),
    // The bloom prefilter's HONEST regime, measured as an A/B pair: the
    // exact join is FORCED to shuffle (shuffle_hash hint — at 100 TB a
    // fact-scale build side cannot broadcast; the hint models that
    // constraint at bench scale), so the prefilter's row cut becomes a
    // shuffle-volume saving instead of disappearing into a broadcast probe.
    // Build side: 15k order keys at 10% fact selectivity — the 8192-bit
    // default filter would saturate to all-pass at that key count (still
    // CORRECT, just useless), so the filter is sized to the build side
    // (2^18 bits, 5 hashes ≈ 0.1% FP). Both sides share one oracle: the
    // bloom must stay result-invisible under the forced-shuffle plan too.
    "bloom_shuffle_join" -> ((s, dir) => {
      val hot = Tables.orders(s, dir).filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li0 = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"))
      // Same stats gate as bloom_prefilter_join (guide §3.2): the bloom
      // stays result-invisible either way, so both gate branches share
      // the plain join's oracle.
      val li =
        if (!bloomWorthwhile(li0)) li0
        else li0
          .crossJoin(broadcast(
            Sketches.bloomBuild(hot, "o_orderkey", bits = 1 << 18, hashes = 5)))
          .filter(Sketches.bloomMightContain("l_orderkey", bits = 1 << 18, hashes = 5))
          .drop("bloom_words")
      hot.hint("shuffle_hash").join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_qty"))
        .orderBy("o_orderpriority")
    }),
    // The unfiltered forced-shuffle sibling: prices the baseline the bloom
    // variant is cut from (the full 600k-row fact shuffle).
    "shuffle_join_plain" -> ((s, dir) => {
      val hot = Tables.orders(s, dir).filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey"), col("o_orderpriority"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity"))
      hot.hint("shuffle_hash").join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_qty"))
        .orderBy("o_orderpriority")
    }),
    // props JSON payload extraction (X3-adjacent): JSON path on the Spark
    // side, regexp on the oracle side, same values.
    "props_sum" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("total_k"), count(col("k")).as("n_with_k"))
        .orderBy("event_type")),
  )

  /** One oracle for both forced-shuffle join variants (bloom or not — the
    * prefilter is result-invisible). */
  private val ShuffleJoinSql =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_totalprice > 450000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Run `body` with the session's shuffle-partition count lowered to the
    * streaming STATE-partition budget, restoring it after — state
    * partitions are fixed from this conf at a streaming query's first
    * batch, and for the live-drain queries here the keyed state is tiny
    * (≤ ~100 aggregate keys), while the per-micro-batch state-store
    * commit cost is per-PARTITION and mostly serialized on a shared
    * executor-side lock (measured: the 32-task stateful stage ran
    * 727 ms wall / 20 ms CPU per task — blocked, not computing — and
    * the warm drain read 3.0 s at 32 state partitions vs 1.4-1.6 s at
    * 4-8). Sizing state partitions to state cardinality, not the batch
    * shuffle width, is the standard streaming practice; the budget is
    * conf-overridable (`spark.graft.stream.statePartitions`) for
    * deployments whose key space is genuinely wide. Results are
    * partitioning-invariant (oracle-gated complete-mode aggregates).
    *
    * SCOPE CAVEAT: the override mutates the session-global conf for the
    * drain's duration — any query planned CONCURRENTLY on the same
    * SparkSession in that window would silently plan with the reduced
    * width. The memory sink the drain lands in is session-registered, so
    * a cloned `newSession()` cannot host the query; all drivers here
    * (Bench / Verify / tests) plan queries strictly sequentially, which
    * is the documented assumption. */
  private def withStreamStatePartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, s.conf.get("spark.graft.stream.statePartitions", "8"))
    try body finally s.conf.set(key, prev)
  }

  /** Stats gate for the manual runtime-bloom prefilter (guide §3.2 — the
    * same decision Spark's automatic runtime bloom makes via
    * `applicationSideScanSizeThreshold`): the filter pays only when the
    * fact side it prunes is large enough that its shuffle bytes dominate
    * the filter's build + per-row probe cost. Threshold mirrors
    * [[graft.operators.SkewUtils.spreadCompute]]'s narrowness gate — a
    * fact side under (cores × maxPartitionBytes) scans in at most ~cores
    * splits and its shuffle is trivially small, so at bench SF the bloom
    * is skipped while a 100 TB fact side always qualifies. Size comes
    * from the ANALYZED plan's file statistics (no RDD materialization);
    * conf-overridable for deployments with different economics. */
  private def bloomWorthwhile(fact: org.apache.spark.sql.DataFrame): Boolean = {
    val s = fact.sparkSession
    val default = s.sessionState.conf.filesMaxPartitionBytes *
      math.max(s.sparkContext.defaultParallelism, 1).toLong
    val threshold = GraftConf.long(s, "spark.graft.bloom.minApplyBytes", default)
    fact.queryExecution.analyzed.stats.sizeInBytes >= BigInt(threshold)
  }

  /** Content-addressed artifact location for a testdata sf dir (one md5
    * digest of the dir per artifact family). */
  private def artifactPath(prefix: String, dir: String): String =
    s"/tmp/graft_${prefix}_" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** Maintained shingle-table location for a testdata sf dir — content-
    * addressed per corpus dir like the lexical index's path. */
  private def shingleStorePath(dir: String): String = artifactPath("shingles", dir)

  /** Build (once per corpus, ArtifactStore-published) the 10-append
    * day-ranged VersionedStore of events with manifest day-stats — the
    * stored table `versioned_skip_read` point-reads through data
    * skipping. Returns the store root. Shared by the query and
    * [[ensureStoredArtifacts]] so Bench prices the build as ingest. */
  private def ensureVersionedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
    }
    p
  }

  /** Build (once per corpus) the post-DELETE VersionedStore of events:
    * the same 10 day-ranged appends as [[ensureVersionedEventsStore]],
    * then `DELETE WHERE event_type = 'click' AND day = 2024-01-14` —
    * pruned by the manifest day stats to the single days-13..15 dir,
    * whose rewrite the require in `versioned_delete_read`'s build gates
    * (9 of 10 original dirs must survive by reference). */
  private def ensureDeletedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_del", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
      val before = VersionedStore.prunedDirs(s, tmp, 10L, Seq.empty).toSet
      val v = VersionedStore.deleteWhere(s, tmp,
        col("event_type") === "click" && col("day") === lit("2024-01-14").cast("date"),
        prune = Seq(VersionedStore.ColRange.eq("day", "2024-01-14")),
        statsCols = Seq("day"))
      val after = VersionedStore.prunedDirs(s, tmp, v, Seq.empty).toSet
      require(after.intersect(before).size == before.size - 1,
        s"targeted delete must rewrite exactly one dir, carried " +
          s"${after.intersect(before).size}/${before.size}")
    }
    p
  }

  /** Build (once per corpus) the DELETION-VECTOR VersionedStore of
    * events: the same 10 day-ranged appends, then two merge-on-read
    * deletes — a SCATTERED one (`event_id % 97 = 0`: matching rows in
    * every dir, the shape where copy-on-write rewrites the whole table)
    * and a targeted day-prune one (day-14 clicks). The requires gate the
    * DV contract: all ten dirs carry by reference through BOTH commits
    * (zero rewrites), every touched dir carries a sidecar reference, and
    * the whole-table count stays manifest-exact (rows − dvrows). */
  private def ensureDvEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_dv", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "dv2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
      val total = VersionedStore.countWhere(s, tmp)
      val before = VersionedStore.prunedDirs(s, tmp, 10L, Seq.empty)
      val v1 = VersionedStore.deleteWhereDv(s, tmp, col("event_id") % 97 === 0)
      val v2 = VersionedStore.deleteWhereDv(s, tmp,
        col("event_type") === "click" && col("day") === lit("2024-01-14").cast("date"),
        prune = Seq(VersionedStore.ColRange.eq("day", "2024-01-14")))
      val after = VersionedStore.prunedDirs(s, tmp, v2, Seq.empty)
      require(after == before,
        s"merge-on-read must rewrite ZERO dirs: ${before.size} -> ${after.size}")
      val stats = VersionedStore.statsAt(s, tmp, v2)
      val dvd = after.count(d => stats.contains(s"$d|#|dv"))
      require(dvd == after.size,
        s"the scattered delete must DV every dir, got $dvd/${after.size}")
      val marked = after.map(d => stats(s"$d|#|dvrows").toLong).sum
      require(VersionedStore.countWhere(s, tmp) == total - marked,
        "whole-table count must stay manifest-exact (rows - dvrows)")
    }
    p
  }

  /** 10 day-ranged appends of events + a HASH-DISTRIBUTED lookup key
    * (eid_h = md5(event_id)) recorded as a `bloom:` stats column. Every
    * dir's [min, max] on eid_h spans ~the whole hex domain — range stats
    * prune nothing — so the per-dir bloom is the only thing standing
    * between a point lookup and a 10-dir scan. The shape of a keyed
    * fetch on an unsorted 100 TB table. */
  private def ensureBloomEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_bloom", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
      .withColumn("eid_h", md5(col("event_id").cast("string").cast("binary")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "eid_h", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day", "bloom:eid_h"))
      }
    }
    p
  }

  /** Build (once per corpus) the post-UPDATE VersionedStore of events:
    * the same 10 day-ranged appends as [[ensureVersionedEventsStore]],
    * then `UPDATE SET value = value * 3 WHERE event_type = 'click' AND
    * day = 2024-01-14` with the day prune VERIFIED (`verifyPrune` —
    * the probe sweeps every dir in one job and would fail loudly if the
    * prune assertion excluded a matching dir). The require gates the
    * copy-on-write bound: exactly one of the ten dirs rewrites. */
  private def ensureUpdatedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_upd", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
      val before = VersionedStore.prunedDirs(s, tmp, 10L, Seq.empty).toSet
      val v = VersionedStore.updateWhere(s, tmp,
        col("event_type") === "click" && col("day") === lit("2024-01-14").cast("date"),
        set = Map("value" -> (col("value") * 3)),
        prune = Seq(VersionedStore.ColRange.eq("day", "2024-01-14")),
        statsCols = Seq("day"),
        verifyPrune = true)
      val after = VersionedStore.prunedDirs(s, tmp, v, Seq.empty).toSet
      require(after.intersect(before).size == before.size - 1,
        s"targeted update must rewrite exactly one dir, carried " +
          s"${after.intersect(before).size}/${before.size}")
    }
    p
  }

  /** Build (once per corpus) the post-RESTORE VersionedStore: the same
    * 10 day-ranged appends, then a deliberately WRONG delete (all
    * day-14 rows) followed by `RESTORE TO` the pre-delete version — the
    * operational undo story. The requires gate that the restore is a
    * manifest-only commit (every pre-delete dir carried by reference,
    * zero new data dirs) and that the bad version stays time-travelable.
    * The snapshot must read byte-identically to the never-deleted
    * store, so the oracle is plain flat events. */
  private def ensureRestoredEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_rst", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
      val good = VersionedStore.currentVersion(s, tmp)
      val bad = VersionedStore.deleteWhere(s, tmp,
        col("day") === lit("2024-01-14").cast("date"),
        prune = Seq(VersionedStore.ColRange.eq("day", "2024-01-14")),
        statsCols = Seq("day"))
      val goodDirs = VersionedStore.prunedDirs(s, tmp, good, Seq.empty).toSet
      val restored = VersionedStore.restore(s, tmp, good)
      val restoredDirs = VersionedStore.prunedDirs(s, tmp, restored, Seq.empty).toSet
      require(restoredDirs == goodDirs,
        "restore must reference the restored version's dirs verbatim (manifest-only)")
      require(VersionedStore.readAt(s, tmp, bad)
        .filter(col("day") === lit("2024-01-14").cast("date")).isEmpty,
        "the bad version must stay time-travelable after restore")
    }
    p
  }

  /** Build (once per corpus) the CDC-DERIVED VersionedStore: a scratch
    * base store receives two rounds of week-sliced event appends, and a
    * real [[graft.sources.VersionedCdc]] → transform →
    * [[graft.streaming.VersionedStream]] pipeline drains it into the
    * derived store between rounds — the full base-table→stream→derived-
    * table loop, checkpoint-resumed across the two drains. The requires
    * gate the incremental contract: exactly one derived commit per
    * drain (never a rescan of the base) and the exactly-once ledger at
    * batch 1. Scratch base + checkpoint are deleted after the build. */
  private def ensureCdcDerivedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_cdc_drv", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val base = java.nio.file.Files.createTempDirectory("graft-cdcbase").toString
      val chk = java.nio.file.Files.createTempDirectory("graft-cdcchk").toString
      val slices = Seq(("2024-01-01", "2024-01-08"), ("2024-01-09", "2024-01-15"),
        ("2024-01-16", "2024-01-22"), ("2024-01-23", "2024-01-30"))
      def appendSlice(i: Int): Unit = {
        val (lo, hi) = slices(i)
        VersionedStore.commitAppend(
          src.filter(col("day").between(lit(lo).cast("date"), lit(hi).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          base, statsCols = Seq("day"))
      }
      def drain(): Unit = {
        val q = graft.streaming.VersionedStream.startAppend(
          s.readStream.format("graft.sources.VersionedCdc")
            .option("path", base).load()
            .withColumn("val_q", floor(col("value") * 1000).cast("long"))
            .select("event_id", "day", "event_type", "user_id", "val_q"),
          tmp, chk,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          statsCols = Seq("day"))
        q.awaitTermination()
      }
      appendSlice(0); appendSlice(1); drain() // batch 0: base versions (0, 2]
      appendSlice(2); appendSlice(3); drain() // batch 1: resume, versions (2, 4]
      val v = VersionedStore.currentVersion(s, tmp)
      require(v == 2L,
        s"two drains must commit exactly two derived versions (batch-" +
          s"proportional, never a base rescan), got $v")
      require(graft.streaming.VersionedStream.lastBatchId(s, tmp) == 1L,
        "the derived store's exactly-once ledger must record batch 1")
      Seq(base, chk).foreach { r =>
        val pth = new org.apache.hadoop.fs.Path(r)
        pth.getFileSystem(s.sessionState.newHadoopConf()).delete(pth, true)
      }
    }
    p
  }

  /** Build (once per corpus) the INCREMENTALLY MAINTAINED AGGREGATE VIEW:
    * the same scratch-base + two-round drain shape as
    * [[ensureCdcDerivedEventsStore]], but the derived store is a
    * per-(day, event_type) additive aggregate kept current by
    * [[graft.streaming.AggregateView]] — CDC deltas combined with the
    * view's touched keys and MERGE'd, never a base rescan. The requires
    * gate the view's version shape (first-batch commit + one merge) and
    * the exactly-once ledger. */
  private def ensureAggViewEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_agg_view", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val base = java.nio.file.Files.createTempDirectory("graft-aggbase").toString
      val chk = java.nio.file.Files.createTempDirectory("graft-aggchk").toString
      val slices = Seq(("2024-01-01", "2024-01-08"), ("2024-01-09", "2024-01-15"),
        ("2024-01-16", "2024-01-22"), ("2024-01-23", "2024-01-30"))
      def appendSlice(i: Int): Unit = {
        val (lo, hi) = slices(i)
        VersionedStore.commitAppend(
          src.filter(col("day").between(lit(lo).cast("date"), lit(hi).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          base, statsCols = Seq("day"))
      }
      def drain(): Unit = {
        val q = graft.streaming.AggregateView.start(
          s.readStream.format("graft.sources.VersionedCdc")
            .option("path", base).load()
            .withColumn("val_q", floor(col("value") * 1000).cast("long")),
          tmp, chk,
          keys = Seq("day", "event_type"), sumCols = Seq("val_q"),
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
      }
      appendSlice(0); appendSlice(1); drain() // batch 0 -> first-commit view
      appendSlice(2); appendSlice(3); drain() // batch 1 -> ONE keyed merge
      val v = VersionedStore.currentVersion(s, tmp)
      require(v == 2L,
        s"two drains must leave the view at version 2 (commit + merge), got $v")
      require(graft.streaming.VersionedStream.lastBatchId(s, tmp) == 1L,
        "the view's exactly-once ledger must record batch 1")
      Seq(base, chk).foreach { r =>
        val pth = new org.apache.hadoop.fs.Path(r)
        pth.getFileSystem(s.sessionState.newHadoopConf()).delete(pth, true)
      }
    }
    p
  }

  /** The DML-PROOF sibling of [[ensureAggViewEventsStore]]: the view is
    * maintained from the ROW-LEVEL change feed (readChangeFeed = true),
    * and between the two drains the BASE table takes an UPDATE
    * (click × 2024-01-10 → value×3) and a DELETE (view × 2024-01-05 —
    * zeroing that group entirely). The signed maintenance must subtract
    * preimages and deleted rows exactly; the zeroed group must persist
    * as an `n_rows = 0` tombstone invisible to [[AggregateView.read]].
    * The build gates the version shape, the ledger, AND the tombstone. */
  private def ensureAggViewDmlEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_agg_view_dml", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val base = java.nio.file.Files.createTempDirectory("graft-aggdbase").toString
      val chk = java.nio.file.Files.createTempDirectory("graft-aggdchk").toString
      val slices = Seq(("2024-01-01", "2024-01-08"), ("2024-01-09", "2024-01-15"),
        ("2024-01-16", "2024-01-22"), ("2024-01-23", "2024-01-30"))
      def appendSlice(i: Int): Unit = {
        val (lo, hi) = slices(i)
        VersionedStore.commitAppend(
          src.filter(col("day").between(lit(lo).cast("date"), lit(hi).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          base, statsCols = Seq("day"))
      }
      def drain(): Unit = {
        val q = graft.streaming.AggregateView.start(
          s.readStream.format("graft.sources.VersionedCdc")
            .option("path", base).option("readChangeFeed", "true").load()
            .withColumn("val_q", floor(col("value") * 1000).cast("long")),
          tmp, chk,
          keys = Seq("day", "event_type"), sumCols = Seq("val_q"),
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
      }
      appendSlice(0); appendSlice(1); drain() // batch 0 -> first-commit view
      VersionedStore.updateWhere(s, base,
        col("event_type") === "click" && col("day") === lit("2024-01-10").cast("date"),
        set = Map("value" -> (col("value") * 3)),
        prune = Seq(VersionedStore.ColRange.eq("day", "2024-01-10")),
        statsCols = Seq("day"))
      VersionedStore.deleteWhere(s, base,
        col("event_type") === "view" && col("day") === lit("2024-01-05").cast("date"),
        prune = Seq(VersionedStore.ColRange.eq("day", "2024-01-05")),
        statsCols = Seq("day"))
      appendSlice(2); appendSlice(3); drain() // batch 1 -> ONE signed merge
      val v = VersionedStore.currentVersion(s, tmp)
      require(v == 2L,
        s"two drains must leave the view at version 2 (commit + merge), got $v")
      require(graft.streaming.VersionedStream.lastBatchId(s, tmp) == 1L,
        "the view's exactly-once ledger must record batch 1")
      val tombs = VersionedStore.read(s, tmp).get
        .filter(col("n_rows") === 0L).count()
      require(tombs >= 1L,
        s"the fully-deleted (2024-01-05, view) group must persist as an " +
          s"n_rows = 0 tombstone, found $tombs")
      Seq(base, chk).foreach { r =>
        val pth = new org.apache.hadoop.fs.Path(r)
        pth.getFileSystem(s.sessionState.newHadoopConf()).delete(pth, true)
      }
    }
    p
  }

  /** The WIDE sibling of [[ensureAggViewEventsStore]]: multi-key
    * (day, event_type), TWO sums, and grow-only min/max over the same
    * two-round drain — gating the aggregate-surface breadth (count,
    * sums, extrema; avg derives at read) on one view. */
  private def ensureAggViewWideEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_agg_view_w", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val base = java.nio.file.Files.createTempDirectory("graft-aggwbase").toString
      val chk = java.nio.file.Files.createTempDirectory("graft-aggwchk").toString
      val slices = Seq(("2024-01-01", "2024-01-08"), ("2024-01-09", "2024-01-15"),
        ("2024-01-16", "2024-01-22"), ("2024-01-23", "2024-01-30"))
      def appendSlice(i: Int): Unit = {
        val (lo, hi) = slices(i)
        VersionedStore.commitAppend(
          src.filter(col("day").between(lit(lo).cast("date"), lit(hi).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          base, statsCols = Seq("day"))
      }
      def drain(): Unit = {
        val q = graft.streaming.AggregateView.start(
          s.readStream.format("graft.sources.VersionedCdc")
            .option("path", base).load()
            .withColumn("val_q", floor(col("value") * 1000).cast("long"))
            .withColumn("val_c", floor(col("value") * 7).cast("long")),
          tmp, chk,
          keys = Seq("day", "event_type"),
          sumCols = Seq("val_q", "val_c"),
          minCols = Seq("val_q"), maxCols = Seq("val_q"),
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
      }
      appendSlice(0); appendSlice(1); drain() // batch 0 -> first-commit view
      appendSlice(2); appendSlice(3); drain() // batch 1 -> ONE keyed merge
      require(VersionedStore.currentVersion(s, tmp) == 2L,
        "two drains must leave the wide view at version 2 (commit + merge)")
      require(graft.streaming.VersionedStream.lastBatchId(s, tmp) == 1L,
        "the wide view's exactly-once ledger must record batch 1")
      Seq(base, chk).foreach { r =>
        val pth = new org.apache.hadoop.fs.Path(r)
        pth.getFileSystem(s.sessionState.newHadoopConf()).delete(pth, true)
      }
    }
    p
  }

  /** Build (once per corpus) the post-MERGE VersionedStore of events:
    * the same 10 day-ranged appends as [[ensureVersionedEventsStore]],
    * then one [[graft.sinks.VersionedStore.mergeInto]] on `event_id`
    * whose source UPDATES every day-14 click (value doubled) and
    * INSERTS every day-14 purchase re-keyed out of the id space
    * (+1e9, event_type 'synth'). The day prune bounds the match probe
    * to the single days-13..15 dir; the require gates that exactly one
    * original dir was rewritten (9 of 10 carried by reference). */
  private def ensureMergedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_mrg", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
      val day14 = src.filter(col("day") === lit("2024-01-14").cast("date"))
        .select("event_id", "ts", "user_id", "event_type", "value", "day")
      val updates = day14.filter(col("event_type") === "click")
        .withColumn("value", col("value") * 2)
      val inserts = day14.filter(col("event_type") === "purchase")
        .withColumn("event_id", col("event_id") + lit(1000000000L))
        .withColumn("event_type", lit("synth"))
      val before = VersionedStore.prunedDirs(s, tmp, 10L, Seq.empty).toSet
      val v = VersionedStore.mergeInto(s, tmp, updates.unionByName(inserts),
        keys = Seq("event_id"),
        prune = Seq(VersionedStore.ColRange.eq("day", "2024-01-14")),
        statsCols = Seq("day"))
      val after = VersionedStore.prunedDirs(s, tmp, v, Seq.empty).toSet
      require(after.intersect(before).size == before.size - 1,
        s"targeted merge must rewrite exactly one dir, carried " +
          s"${after.intersect(before).size}/${before.size}")
    }
    p
  }

  /** Build (once per corpus) the DROPPED-COLUMN VersionedStore of
    * events: ten day-ranged appends carrying `props`, then
    * `dropColumn(props)` — metadata-only (gated: identical dir set) —
    * then one append at the narrowed schema (day-31 rows re-keyed from
    * day 1). Gates: time travel below the drop keeps `props` with
    * non-null values; re-adding `props` is rejected even under
    * mergeSchema (the physical slot is retired — old values would
    * resurface); the row-level feed across the drop carries exactly the
    * post-drop append under the narrowed schema. */
  private def ensureDroppedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_drop", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value",
              "props", "day"),
          tmp, statsCols = Seq("day"))
      }
      val before = VersionedStore.prunedDirs(s, tmp, 10L, Seq.empty).toSet
      val v = VersionedStore.dropColumn(s, tmp, "props")
      require(v == 11L && VersionedStore.prunedDirs(s, tmp, v, Seq.empty)
        .toSet == before,
        "dropColumn must be metadata-only: same dirs, one version bump")
      val oldProps = VersionedStore.readAt(s, tmp, 10L)
        .filter(col("props").isNotNull).limit(1).count()
      require(oldProps == 1L,
        "time travel below the drop must still read props values")
      // post-drop append at the narrowed schema: day-1 rows re-keyed to
      // day 31 (outside the original 30-day span, so the query's day
      // filter isolates exactly this batch)
      val day31 = src.filter(col("day") === lit("2024-01-01").cast("date"))
        .select(
          (col("event_id") + lit(2000000000L)).as("event_id"),
          (col("ts") + expr("INTERVAL 30 DAYS")).as("ts"),
          col("user_id"), col("event_type"), col("value"),
          lit("2024-01-31").cast("date").as("day"))
      VersionedStore.commitAppend(day31, tmp, statsCols = Seq("day"))
      val readd = try {
        VersionedStore.commitAppend(
          src.limit(1).select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"),
            col("day")),
          tmp, mergeSchema = true)
        false
      } catch { case e: IllegalArgumentException =>
        e.getMessage.contains("retired") }
      require(readd, "re-adding the dropped props column must be rejected " +
        "(retired physical slot)")
      val feed = VersionedStore.readRowChanges(s, tmp, 10L).get
      require(feed.columns.contains("value") && !feed.columns.contains("props"),
        "the feed across the drop must use the narrowed schema")
      val n31 = day31.count()
      require(feed.filter(col("_change_type") === "insert").count() == n31,
        "the feed across the drop must carry exactly the post-drop append")
    }
    p
  }

  /** Build (once per corpus) the SQL-DML VersionedStore of events: the
    * same 10 day-ranged appends, then every edit through the SQL front
    * door against a `CREATE TABLE ... USING graftstore` entry — never
    * the Scala API — so the artifact itself proves the parser + DML
    * resolution path end-to-end. Gates: five statements = exactly five
    * commits (the transactional CAS path, no silent batching), and the
    * ROW-LEVEL change feed over each DML range carries exactly the
    * populations each statement named (deletes = day-13 clicks +
    * the merges' matched preimages + the BY SOURCE deletes; inserts =
    * the matched postimages + the re-keyed synth rows; update pre/post
    * pairs = day-15 clicks). Zero-valued rows are excluded from the
    * value-SCALING expectations — `value*k == value` for them, so the
    * multiset feed rightly reports no change — and NULL-valued rows
    * from the value-SHIFTING ones (`NULL + k` stays NULL). */
  private def ensureSqlDmlEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_sqldml", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    // vs4: round 16 adds the BY SOURCE + partial-INSERT MERGE (statement 5)
    ArtifactStore.ensure(ev, p, builderId = "vs4") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
      val tbl = s"vsql_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      s.sql(s"CREATE TABLE $tbl USING graftstore OPTIONS (path '$tmp')")
      try {
        s.sql(s"DELETE FROM $tbl WHERE event_type = 'click' " +
          "AND day = DATE '2024-01-13'").collect()
        s.sql(s"UPDATE $tbl SET value = value * 3 WHERE event_type = 'click' " +
          "AND day = DATE '2024-01-15'").collect()
        val day14 = src.filter(col("day") === lit("2024-01-14").cast("date"))
          .select("event_id", "ts", "user_id", "event_type", "value", "day")
        day14.filter(col("event_type") === "click")
          .withColumn("value", col("value") * 2)
          .unionByName(day14.filter(col("event_type") === "purchase")
            .withColumn("event_id", col("event_id") + lit(1000000000L))
            .withColumn("event_type", lit("synth")))
          .createOrReplaceTempView(s"${tbl}_src")
        s.sql(
          s"""MERGE INTO $tbl t USING ${tbl}_src s ON t.event_id = s.event_id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
        // Statement 4 — the CONDITIONAL-CLAUSE MERGE (days 16-18 only,
        // so statements 1-3's day-13..15 populations stay untouched):
        // day-17 clicks split by value into an UPDATE branch (×10) and
        // a first-match-wins DELETE branch; day-16 views re-key as
        // 'synth2' inserts (condition TRUE); day-18 errors re-key as
        // 'synth3' (condition FALSE — must be dropped, not inserted).
        val d17clicks = src.filter(col("day") === lit("2024-01-17").cast("date")
          && col("event_type") === "click")
          .select("event_id", "ts", "user_id", "event_type", "value", "day")
        val synth2 = src.filter(col("day") === lit("2024-01-16").cast("date")
          && col("event_type") === "view")
          .withColumn("event_id", col("event_id") + lit(2000000000L))
          .withColumn("event_type", lit("synth2"))
          .select("event_id", "ts", "user_id", "event_type", "value", "day")
        val synth3 = src.filter(col("day") === lit("2024-01-18").cast("date")
          && col("event_type") === "error")
          .withColumn("event_id", col("event_id") + lit(3000000000L))
          .withColumn("event_type", lit("synth3"))
          .select("event_id", "ts", "user_id", "event_type", "value", "day")
        d17clicks.unionByName(synth2).unionByName(synth3)
          .createOrReplaceTempView(s"${tbl}_src3")
        s.sql(
          s"""MERGE INTO $tbl t USING ${tbl}_src3 s ON t.event_id = s.event_id
             |WHEN MATCHED AND s.value >= 0.5 THEN UPDATE SET value = t.value * 10
             |WHEN MATCHED THEN DELETE
             |WHEN NOT MATCHED AND s.event_type = 'synth2' THEN INSERT *
             |""".stripMargin).collect()
        // Statement 5 — the BY SOURCE + partial-INSERT MERGE (days
        // 19-21 only, disjoint from statements 1-4's populations):
        // day-19 clicks match by key (value + 100); day-21 purchases
        // re-key as 'synth4' and insert through a PARTIAL column list
        // (value omitted -> NULL); day-21 errors re-key as 'synth5'
        // and must be dropped (no insert condition admits them); the
        // BY SOURCE clauses reach only target rows NOT in the source —
        // day-20 errors delete, day-20 views gain 50 — scoped by their
        // conditions so every other day's population stays untouched.
        val d19clicks = src.filter(col("day") === lit("2024-01-19").cast("date")
          && col("event_type") === "click")
          .select("event_id", "ts", "user_id", "event_type", "value", "day")
        val synth4 = src.filter(col("day") === lit("2024-01-21").cast("date")
          && col("event_type") === "purchase")
          .withColumn("event_id", col("event_id") + lit(4000000000L))
          .withColumn("event_type", lit("synth4"))
          .select("event_id", "ts", "user_id", "event_type", "value", "day")
        val synth5 = src.filter(col("day") === lit("2024-01-21").cast("date")
          && col("event_type") === "error")
          .withColumn("event_id", col("event_id") + lit(5000000000L))
          .withColumn("event_type", lit("synth5"))
          .select("event_id", "ts", "user_id", "event_type", "value", "day")
        d19clicks.unionByName(synth4).unionByName(synth5)
          .createOrReplaceTempView(s"${tbl}_src5")
        s.sql(
          s"""MERGE INTO $tbl t USING ${tbl}_src5 s ON t.event_id = s.event_id
             |WHEN MATCHED THEN UPDATE SET value = t.value + 100
             |WHEN NOT MATCHED AND s.event_type = 'synth4' THEN
             |  INSERT (event_id, ts, user_id, event_type, day)
             |  VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.day)
             |WHEN NOT MATCHED BY SOURCE AND t.day = DATE '2024-01-20'
             |  AND t.event_type = 'error' THEN DELETE
             |WHEN NOT MATCHED BY SOURCE AND t.day = DATE '2024-01-20'
             |  AND t.event_type = 'view' THEN UPDATE SET value = t.value + 50
             |""".stripMargin).collect()
        val v = VersionedStore.currentVersion(s, tmp)
        require(v == 15L,
          s"five SQL DML statements over 10 appends must land at " +
            s"version 15, got $v — a command bypassed the commit path")
        // per-clause CDF populations of the BY SOURCE merge (14 -> 15):
        // matched updates pair delete+insert (NULL-value rows change
        // nothing and cancel), BY SOURCE deletes are deletes, BY SOURCE
        // updates pair, the partial inserts are inserts — and the
        // synth5 rows must appear nowhere.
        val b = src.filter(col("day").between(
          lit("2024-01-19").cast("date"), lit("2024-01-21").cast("date")))
          .agg(
            sum(when(col("event_type") === "click" &&
              col("day") === lit("2024-01-19").cast("date") &&
              col("value").isNotNull, 1L).otherwise(0L)).as("c19"),
            sum(when(col("event_type") === "error" &&
              col("day") === lit("2024-01-20").cast("date"), 1L)
              .otherwise(0L)).as("e20"),
            sum(when(col("event_type") === "view" &&
              col("day") === lit("2024-01-20").cast("date") &&
              col("value").isNotNull, 1L).otherwise(0L)).as("v20"),
            sum(when(col("event_type") === "purchase" &&
              col("day") === lit("2024-01-21").cast("date"), 1L)
              .otherwise(0L)).as("p21")).head()
        val (c19, e20, v20, p21) = (b.getAs[Long]("c19"), b.getAs[Long]("e20"),
          b.getAs[Long]("v20"), b.getAs[Long]("p21"))
        val bysFeed = VersionedStore.readRowChanges(s, tmp, 14L, 15L).get
        val bysCounts = bysFeed.groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val bysExpected = Map(
          "delete" -> (c19 + e20 + v20), "insert" -> (c19 + v20 + p21))
        require(bysCounts == bysExpected.filter(_._2 > 0L),
          s"BY SOURCE merge change feed must carry exactly the per-clause " +
            s"populations: expected $bysExpected, got $bysCounts")
        require(bysFeed.filter(col("event_type") === "synth5").isEmpty,
          "a NOT MATCHED row admitted by no insert condition must be dropped")
        require(bysFeed.filter(col("event_type") === "synth4" &&
            col("value").isNotNull).isEmpty,
          "partial INSERT must leave the omitted value column NULL")
        // per-clause CDF populations of the conditional merge (merge
        // commits label insert/delete): updated rows appear as their
        // preimage delete + postimage insert, DELETE-branch rows as
        // deletes, condition-passing inserts as inserts — and the
        // FALSE-condition synth3 rows must appear nowhere.
        val m = src.filter(col("day").isin(
          lit("2024-01-16").cast("date"), lit("2024-01-17").cast("date")))
          .agg(
            sum(when(col("event_type") === "click" &&
              col("day") === lit("2024-01-17").cast("date") &&
              col("value") >= 0.5, 1L).otherwise(0L)).as("c17u"),
            sum(when(col("event_type") === "click" &&
              col("day") === lit("2024-01-17").cast("date") &&
              col("value") < 0.5, 1L).otherwise(0L)).as("c17d"),
            sum(when(col("event_type") === "view" &&
              col("day") === lit("2024-01-16").cast("date"), 1L)
              .otherwise(0L)).as("v16")).head()
        val (c17u, c17d, v16) = (m.getAs[Long]("c17u"),
          m.getAs[Long]("c17d"), m.getAs[Long]("v16"))
        val mergeFeed = VersionedStore.readRowChanges(s, tmp, 13L, 14L).get
        val mergeCounts = mergeFeed.groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val mergeExpected = Map(
          "delete" -> (c17u + c17d), "insert" -> (c17u + v16))
        require(mergeCounts == mergeExpected.filter(_._2 > 0L),
          s"conditional MERGE change feed must carry exactly the per-" +
            s"clause populations: expected $mergeExpected, got $mergeCounts")
        require(mergeFeed.filter(col("event_type") === "synth3").isEmpty,
          "a FALSE insert condition must drop its rows, not insert them")
        // one job for every expected population (zero-value guard on the
        // value-scaling statements, see scaladoc)
        val d = src.filter(col("day").between(
          lit("2024-01-13").cast("date"), lit("2024-01-15").cast("date")))
          .agg(
            sum(when(col("event_type") === "click" &&
              col("day") === lit("2024-01-13").cast("date"), 1L)
              .otherwise(0L)).as("c13"),
            sum(when(col("event_type") === "click" && col("value") =!= 0 &&
              col("day") === lit("2024-01-14").cast("date"), 1L)
              .otherwise(0L)).as("c14c"),
            sum(when(col("event_type") === "purchase" &&
              col("day") === lit("2024-01-14").cast("date"), 1L)
              .otherwise(0L)).as("c14p"),
            sum(when(col("event_type") === "click" && col("value") =!= 0 &&
              col("day") === lit("2024-01-15").cast("date"), 1L)
              .otherwise(0L)).as("c15")).head()
        val (c13, c14c, c14p, c15) = (d.getAs[Long]("c13"),
          d.getAs[Long]("c14c"), d.getAs[Long]("c14p"), d.getAs[Long]("c15"))
        val feed = VersionedStore.readRowChanges(s, tmp, 10L, 13L).get
          .groupBy("_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val expected = Map(
          "delete" -> (c13 + c14c), "insert" -> (c14c + c14p),
          "update_preimage" -> c15, "update_postimage" -> c15)
        require(feed == expected.filter(_._2 > 0L),
          s"SQL DML change feed must label every row effect: " +
            s"expected $expected, feed said $feed")
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.catalog.dropTempView(s"${tbl}_src")
        s.catalog.dropTempView(s"${tbl}_src3")
        s.catalog.dropTempView(s"${tbl}_src5")
      }
    }
    p
  }

  /** Build (once per corpus) the TIMESTAMP-TRAVEL VersionedStore of
    * events: ten day-ranged appends, each manifest stamped with the
    * monotonic commit wall-clock ([[graft.sinks.VersionedStore]]'s
    * `commitTs` meta). The build proves the boundary contract once:
    * stamps strictly increase, a pre-first-commit timestamp fails
    * loudly, a mid-gap timestamp floors to the earlier version, and a
    * far-future timestamp fails loudly for READS (non-reproducible —
    * the next commit would change its answer) while RESTORE's
    * resolution (`canReturnLastCommit`) floors to the current version. */
  private def ensureTsEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_ts", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs4") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        VersionedStore.commitAppend(
          src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
            .select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
      val stamps = (1L to 10L).map(v =>
        VersionedStore.metaAt(s, tmp, v)("commitTs").toLong)
      require(stamps == stamps.sorted && stamps.distinct == stamps,
        s"commit stamps must be strictly increasing, got $stamps")
      val before = try {
        VersionedStore.versionAtTimestamp(s, tmp, stamps.head - 1); false
      } catch { case _: IllegalArgumentException => true }
      require(before, "a pre-first-commit timestamp must fail loudly")
      require(VersionedStore.versionAtTimestamp(s, tmp,
        (stamps(4) + stamps(5)) / 2) == 5L,
        "a mid-gap timestamp must floor to the earlier version")
      val after = try {
        VersionedStore.versionAtTimestamp(s, tmp, stamps.last + 86400000L)
        false
      } catch { case _: IllegalArgumentException => true }
      require(after,
        "a post-last timestamp must fail loudly for reads (non-reproducible)")
      require(VersionedStore.versionAtTimestamp(s, tmp,
        stamps.last + 86400000L, canReturnLastCommit = true) == 10L,
        "RESTORE's post-last resolution must floor to the current version")
    }
    p
  }

  /** Build (once per corpus) the TYPE-WIDENED VersionedStore of events:
    * the first five day-ranged appends commit NARROW (`user_id` INT,
    * `value` FLOAT — a store born before anyone foresaw 64-bit ids),
    * the sixth widens both columns to BIGINT/DOUBLE under the
    * mergeSchema opt-in (Iceberg type promotion / Delta type widening),
    * and the last four append at the wide schema flag-free. The narrow
    * dirs are NEVER rewritten — readers get them through the parquet
    * reader's native widening promotion — which the requires gate along
    * with time travel keeping version 5's narrow schema. */
  private def ensureWidenedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    val p = artifactPath("vstore_events_wid", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      (0 until 10).foreach { i =>
        val slice = src.filter(col("day").between(
            lit(d0.plusDays(i * 3L).toString).cast("date"),
            lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
          .select("event_id", "ts", "user_id", "event_type", "value", "day")
        val (batch, widen) =
          if (i < 5) (slice.withColumn("user_id", col("user_id").cast("int"))
            .withColumn("value", col("value").cast("float")), false)
          else (slice, i == 5) // first wide append carries the promotion
        VersionedStore.commitAppend(batch, tmp, statsCols = Seq("day"),
          mergeSchema = widen)
      }
      val dirsBefore = VersionedStore.prunedDirs(s, tmp, 5L, Seq.empty).toSet
      val dirsAfter = VersionedStore.prunedDirs(s, tmp, 10L, Seq.empty).toSet
      require(dirsBefore.subsetOf(dirsAfter),
        "widening must never rewrite the narrow dirs — promotion is metadata-only")
      val wide = VersionedStore.read(s, tmp).get.schema
      require(wide("user_id").dataType == LongType && wide("value").dataType == DoubleType,
        s"recorded schema must promote to BIGINT/DOUBLE, got ${wide.toDDL}")
      val narrow = VersionedStore.readAt(s, tmp, 5L).schema
      require(narrow("user_id").dataType == IntegerType && narrow("value").dataType == FloatType,
        s"version 5 must time-travel with its own narrow schema, got ${narrow.toDDL}")
    }
    p
  }

  /** Build (once per corpus) the RENAMED VersionedStore of events: the
    * first five day-ranged appends commit with the value column named
    * `val`, commit 6 is a METADATA-ONLY `renameColumn(val -> value)`
    * (Iceberg/Delta column-mapping shape — the physical parquet name is
    * fixed at birth, the manifest's logical→physical map moves), and the
    * last five appends use the new name. The requires gate that the
    * rename referenced every dir verbatim (zero rewrites) and that time
    * travel below it still reads `val`. */
  private def ensureRenamedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_ren", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      val d0 = java.time.LocalDate.of(2024, 1, 1)
      def slice(i: Int) = src.filter(col("day").between(
        lit(d0.plusDays(i * 3L).toString).cast("date"),
        lit(d0.plusDays(i * 3L + 2).toString).cast("date")))
      (0 until 5).foreach { i =>
        VersionedStore.commitAppend(
          slice(i).select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value").as("val"), col("day")),
          tmp, statsCols = Seq("day"))
      }
      val dirsBefore = VersionedStore.prunedDirs(s, tmp, 5L, Seq.empty).toSet
      val vRen = VersionedStore.renameColumn(s, tmp, "val", "value")
      val dirsAfter = VersionedStore.prunedDirs(s, tmp, vRen, Seq.empty).toSet
      require(dirsAfter == dirsBefore,
        "rename must reference the same dirs verbatim — metadata-only")
      (5 until 10).foreach { i =>
        VersionedStore.commitAppend(
          slice(i).select("event_id", "ts", "user_id", "event_type", "value", "day"),
          tmp, statsCols = Seq("day"))
      }
      require(VersionedStore.readAt(s, tmp, 5L).columns.contains("val"),
        "time travel below the rename must read the old name")
      require(VersionedStore.read(s, tmp).get.columns.contains("value"),
        "the current version must read the new name")
    }
    p
  }

  /** Build (once per corpus) the Z-ORDER-optimized VersionedStore of
    * events: one unclustered full commit, then
    * [[graft.sinks.VersionedStore.optimize]] CLUSTER BY
    * zorder(user_id, day) into 8 key-range dirs with (day, user_id)
    * manifest stats — the layout `versioned_optimize_read` point-reads
    * through. Returns the store root. */
  private def ensureZOptimizedEventsStore(s: SparkSession, dir: String): String = {
    import graft.sinks.{ArtifactStore, VersionedStore}
    val p = artifactPath("vstore_events_z", dir)
    val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
    ArtifactStore.ensure(ev, p, builderId = "vs2") { (src, tmp) =>
      VersionedStore.commit(
        src.select("event_id", "ts", "user_id", "event_type", "value", "day"), tmp)
      VersionedStore.optimize(s, tmp,
        graft.functions.ZOrder.zorder_key(
          col("user_id"),
          datediff(col("day"), lit("1970-01-01").cast("date")).cast("long")),
        buckets = 8, statsCols = Seq("day", "user_id"))
      ()
    }
    p
  }

  /** Golden-expectation location for the BPE oracles — Verify replaces
    * the `__GRAFT_BPE_GOLDEN__` token in [[oracleSql]] with this when
    * dumping oracle_sql.json (the stored-expectation oracle pattern:
    * DuckDB reads counts the INDEPENDENT replay encoder wrote). */
  def bpeGoldenDir(dir: String): String =
    BpeStore.goldenDir(artifactPath("bpe", dir))

  private val BpeStressCorpusRoot = "/tmp/graft_bpe_stress_corpus"
  private val BpeStressStoreRoot = "/tmp/graft_bpe_stress_store"
  private val BpeStressDocs = 20000L

  /** Golden counts of the STRESS vocabulary's replay encoder. */
  def bpeStressGoldenDir: String = BpeStore.goldenDir(BpeStressStoreRoot)

  /** The PRODUCTION-vocabulary BPE fixture: the testdata corpus has ~31
    * distinct words and saturates BPE training at ~89 merges, so the
    * registered token_count_bpe prices a toy merge table. This corpus is
    * [[BpeProbe.stressDoc]]'s deterministic Zipfian text (~10⁵ distinct
    * words) published as a FILE-BACKED artifact (sf-independent, same
    * bytes every build), so its 8192-merge BpeStore — trainer, golden
    * replay counts, cross-process trust — rides the standard machinery
    * and the greedy-vs-replay equivalence gates in CORRECTNESS at a real
    * vocabulary, not only in the probe. */
  private def ensureBpeStressStore(s: SparkSession): String = {
    import s.implicits._
    val docsPath = s"$BpeStressCorpusRoot/docs"
    val fs = new org.apache.hadoop.fs.Path(docsPath)
      .getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(new org.apache.hadoop.fs.Path(docsPath)))
      graft.sinks.ArtifactStore.publish(s, BpeStressCorpusRoot) { tmp =>
        s.range(0L, BpeStressDocs)
          .map(i => (i, BpeProbe.stressDoc(i)))
          .toDF("doc_id", "text")
          .write.mode("overwrite").parquet(s"$tmp/docs")
      }
    BpeStore.ensure(s.read.parquet(docsPath), BpeStressStoreRoot)
    BpeStressStoreRoot
  }

  /** Catalog name of the BUCKETED shingle table for a testdata sf dir
    * (same content-addressing, but a table identifier — bucket metadata
    * lives in the catalog, not the parquet footers). */
  private def bucketedShingleTable(dir: String): String =
    artifactPath("shingles_b", dir).stripPrefix("/tmp/")

  /** Catalog name of the bk-bucketed LSH band table for a testdata sf dir. */
  private def bucketedBandTable(dir: String): String =
    artifactPath("bands_b", dir).stripPrefix("/tmp/")

  /** Build every maintained stored artifact (shingle table, lexical
    * posting index, IVF centroid model) for `dir` if absent — the
    * once-per-ingest cost the `*_stored` queries amortize. Bench calls
    * this BEFORE its timed pass so one-time builds are priced as ingest,
    * not query latency; at 100 TB these are the pipeline's materialization
    * jobs, not part of any query.
    *
    * Returns the LIVE bucketed physical table names (the census a
    * post-build assertion compares the warehouse against). `vacuum`
    * reaps superseded fingerprints after the build — it DELETES warehouse
    * files, so it is opt-in: safe from Bench's single-process run, unsafe
    * concurrent with another process scanning an old fingerprint (the
    * standing vacuumBucketed caveat — run from a maintenance window). */
  def ensureStoredArtifacts(s: SparkSession, dir: String,
                            vacuum: Boolean = false): Set[String] = {
    ShingleStore.ensure(Tables.documents(s, dir), shingleStorePath(dir))
    val liveBucketed = ShingleStore.ensureBucketed(
      Tables.documents(s, dir), bucketedShingleTable(dir))
    val liveBands = ShingleStore.ensureBucketedBands(
      Tables.documents(s, dir), bucketedBandTable(dir))
    if (vacuum) {
      // Superseded fingerprints (regenerated testdata, changed bucket
      // counts) otherwise accumulate in the warehouse forever.
      ShingleStore.vacuumBucketed(s, bucketedShingleTable(dir), keep = Set(liveBucketed))
      ShingleStore.vacuumBucketed(s, bucketedBandTable(dir), keep = Set(liveBands))
    }
    LmStore.ensure(
      Tables.documents(s, dir).filter(col("doc_id") % 2 === 0),
      artifactPath("lmmodel", dir))
    BpeStore.ensure(Tables.documents(s, dir), artifactPath("bpe", dir))
    ensureBpeStressStore(s)
    ensureVersionedEventsStore(s, dir)
    ensureZOptimizedEventsStore(s, dir)
    ensureDeletedEventsStore(s, dir)
    ensureBloomEventsStore(s, dir)
    ensureUpdatedEventsStore(s, dir)
    ensureMergedEventsStore(s, dir)
    ensureRestoredEventsStore(s, dir)
    ensureCdcDerivedEventsStore(s, dir)
    // the schema-evolution / SQL-surface stores too: their first-use
    // builds are ingest jobs, and pricing one inside a timed rep made
    // the round-14 driver bench read versioned_rename_read at 13.6 s
    // against a 0.67 s canonical (store construction + first-rep
    // artifact build attributed to the query)
    ensureRenamedEventsStore(s, dir)
    ensureWidenedEventsStore(s, dir)
    ensureDroppedEventsStore(s, dir)
    ensureSqlDmlEventsStore(s, dir)
    ensureTsEventsStore(s, dir)
    ensureAggViewEventsStore(s, dir)
    ensureAggViewWideEventsStore(s, dir)
    ensureAggViewDmlEventsStore(s, dir)
    Search.ensureLexicalIndex(Tables.documents(s, dir), artifactPath("lexindex", dir))
    Similarity.ensureIvfIndex(Tables.embeddings(s, dir), artifactPath("ivfindex", dir))
    Similarity.ensurePqIndex(Tables.embeddings(s, dir), artifactPath("pqindex", dir))
    Set(liveBucketed, liveBands)
  }

  /** Census of the warehouse's fingerprinted bucketed tables for `dir`'s
    * two logical names — what [[ensureStoredArtifacts]]'s vacuum should
    * have reduced to exactly the live set. Bench asserts this post-build
    * so stale generations can never silently accumulate again. */
  def bucketedWarehouseCensus(s: SparkSession, dir: String): Set[String] = {
    val pats = Seq(bucketedShingleTable(dir), bucketedBandTable(dir)).map(t =>
      java.util.regex.Pattern.compile(
        java.util.regex.Pattern.quote(t) + "_[0-9a-f]{12}_b\\d+"))
    val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) Set.empty
    else fs.listStatus(wh).toSeq
      .filter(st => st.isDirectory && pats.exists(_.matcher(st.getPath.getName).matches()))
      .map(_.getPath.getName).toSet
  }

  /** Skill-points formula (X1) over the distinct level domain derived from
    * `events`, via the codegen'd [[graft.functions.SkillPointsExpr]]. ALL
    * seven skill constants are oracle-checked: b=2 via exact BIGINT
    * power-of-two arithmetic, b=1.5 via exact HUGEINT rationals
    * ((3/2)^k scaled by 2^k is the integer 3^k), b=1.1 via the same up to
    * the HUGEINT range plus exact BigInt-series literals for the tail (see
    * [[fishingTailCase]]). Verified against exact rational arithmetic that
    * the engine's IEEE-double closed form floors identically over the whole
    * v ∈ [10, 49] domain, so the exact-integer oracle is a valid gate for
    * the double codegen path. */
  private def skillPointsQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SkillPoints.skill_points
    Tables.events(s, dir)
      .select((floor(col("value")).cast("int") % 40 + 10).as("v"))
      .distinct()
      .select(
        col("v").cast("long").as("v"),
        skill_points(col("v"), "club").as("points_melee"),
        skill_points(col("v"), "distance").as("points_distance"),
        skill_points(col("v"), "fist").as("points_fist"),
        skill_points(col("v"), "shielding").as("points_shielding"),
        skill_points(col("v"), "fishing").as("points_fishing"))
      .orderBy("v")
  }

  /** Exact fishing points for the levels where 11^k overflows HUGEINT
    * (k = v−10 ≥ 36; 11^39 ≈ 4e40 > 2^127): computed at SQL-generation time
    * with arbitrary-precision BigInt over the literal geometric SERIES
    * Σ_{j<k} 11^j·10^(k−1−j) — a different algorithm AND arithmetic from
    * the engine's closed-form double, so the gate stays independent. */
  private lazy val fishingTailCase: String =
    (36 to 39).map { k =>
      val sNum = (0 until k).map(j => BigInt(11).pow(j) * BigInt(10).pow(k - 1 - j)).sum
      val pts = (BigInt(20) * sNum) / (BigInt(1200) * BigInt(10).pow(k - 1))
      s"WHEN ${k + 10} THEN CAST($pts AS BIGINT)"
    }.mkString(" ")

  /** Deterministic NULL seeding for the null_* gate queries: `value` is
    * nulled on the event_id % 7 slice (≈14% of rows, including max-of-group
    * rows, so NULL values reach every carry/merge path). Spark's `max_by`
    * is row-faithful to a NULL value, while DuckDB's `arg_max(value, ...)`
    * SKIPS NULL-valued rows — the null_* oracles therefore wrap the value
    * in a struct (`arg_max({'v': value}, ...)`) so both engines keep the
    * latest ROW and preserve its NULL field. */
  private def nulledEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("value",
      when(col("event_id") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("value")))

  /** HLL register pipeline shared by the hll_* oracles, parameterized by
    * key, group column (alias → SQL expression), whether the exact count
    * rides along, and the source relation (a table name or a parenthesized
    * derived table — the null_hll_distinct gate feeds a NULL-seeded one).
    * The register CTE filters NULL keys exactly as [[Sketches.hllRegisters]]
    * does (count(DISTINCT) semantics). The estimator numerator is embedded
    * as a literal double (round-trip-exact toString) so both engines divide
    * the SAME IEEE value by the SAME exact integer register sum. */
  private def hllSql(keyExpr: String, group: Option[(String, String)],
                     withExact: Boolean = true, source: String = "events"): String = {
    val gFirst = group.map { case (a, e) => s"$e AS $a," }.getOrElse("")
    val gsel = group.map { case (a, _) => s"$a," }.getOrElse("")
    val grpBy1 = group.map(_ => "GROUP BY 1").getOrElse("")
    val grpBy12 = group.map(_ => "GROUP BY 1, 2").getOrElse("GROUP BY 1")
    val core =
      s"""WITH h AS (SELECT ${gFirst} CAST('0x' || substring(md5(CAST($keyExpr AS VARCHAR)), 1, 15) AS BIGINT) AS h FROM $source WHERE ($keyExpr) IS NOT NULL),
         | b AS (SELECT ${gsel} h & ${Sketches.HllM - 1} AS idx, h >> ${Sketches.HllP} AS w FROM h),
         | rr AS (SELECT ${gsel} idx, max(CASE WHEN w = 0 THEN 52 ELSE 52 - length(bin(w)) END) AS r
         |        FROM b $grpBy12),
         | s AS (SELECT ${gsel} count(*) AS n_present, sum(CAST(1 AS BIGINT) << (52 - r)) AS s_present
         |       FROM rr $grpBy1),
         | e AS (SELECT ${gsel} s_present + (${Sketches.HllM} - n_present) * CAST(${Sketches.HllRegScale} AS BIGINT) AS sr,
         |       ${Sketches.HllM} - n_present AS v FROM s),
         | est AS (SELECT ${gsel} CAST('${Sketches.HllNumerator}' AS DOUBLE) / CAST(sr AS DOUBLE) AS raw, v FROM e),
         | fin AS (SELECT ${gsel} CASE WHEN raw <= CAST(${2.5 * Sketches.HllM} AS DOUBLE) AND v > 0
         |         THEN CAST(${Sketches.HllM} AS DOUBLE) * round(ln(CAST(${Sketches.HllM} AS DOUBLE) / CAST(v AS DOUBLE)), 6)
         |         ELSE raw END AS est FROM est)""".stripMargin
    if (!withExact)
      s"""$core
         |SELECT ${gsel} CAST(round(est) AS BIGINT) AS n_hll
         |FROM fin ${group.map { case (a, _) => s"ORDER BY $a" }.getOrElse("")}""".stripMargin
    else
      s"""$core,
         | ex AS (SELECT ${gFirst} CAST(count(DISTINCT $keyExpr) AS BIGINT) AS n_exact FROM $source $grpBy1)
         |SELECT ${group.map { case (a, _) => s"ex.$a AS $a, " }.getOrElse("")}n_exact, CAST(round(est) AS BIGINT) AS n_hll,
         | round(CAST(abs(CAST(round(est) AS BIGINT) - n_exact) AS DOUBLE) / CAST(n_exact AS DOUBLE), 4) AS err_pct
         |FROM ex ${group.map { case (a, _) => s"JOIN fin USING ($a) ORDER BY $a" }.getOrElse("CROSS JOIN fin")}""".stripMargin
  }

  /** Shared by bm25_topk AND bm25_postings: the stored posting table must
    * reproduce the recompute-from-text answer bit-for-bit, so one oracle
    * gates both paths. */

  /** DuckDB reconstruction of the updated-events store's row-level
    * change feed (readRowChanges over 10 day-bucketed appends + the v11
    * UPDATE): append version = 1 + dayOffset/3; pre/postimages are the
    * update predicate's rows before/after SET, excluding value-unchanged
    * rows on both sides — a computed multiset feed is blind to a row the
    * UPDATE mapped to itself, by definition. Gates BOTH the batch read
    * (versioned_cdf_read) and the live stream (versioned_cdf_stream). */
  private val CdfFeedSql =
    """WITH base AS (
      | SELECT event_type, value, CAST(ts AS DATE) AS day,
      |        CAST(1 + (CAST(ts AS DATE) - DATE '2024-01-01') // 3 AS BIGINT) AS v
      | FROM events),
      |touched AS (
      | SELECT * FROM base
      | WHERE event_type = 'click' AND day = DATE '2024-01-14'
      |   AND value * 3 <> value),
      |feed AS (
      | SELECT v AS _commit_version, 'insert' AS _change_type, event_type,
      |        count(*) AS n_rows,
      |        CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS val_q
      | FROM base GROUP BY 1, 3
      | UNION ALL
      | SELECT CAST(11 AS BIGINT), 'update_preimage', event_type, count(*),
      |        CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
      | FROM touched GROUP BY 3
      | UNION ALL
      | SELECT CAST(11 AS BIGINT), 'update_postimage', event_type, count(*),
      |        CAST(sum(CAST(floor(value * 3 * 1000) AS BIGINT)) AS BIGINT)
      | FROM touched GROUP BY 3)
      |SELECT * FROM feed
      |ORDER BY _commit_version, _change_type, event_type""".stripMargin

  private val Bm25Sql =
    """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |              FROM documents),
      | dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      | corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      | tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |        WHERE term IN ('dup', 'vector', 'scan') GROUP BY 1, 2),
      | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      | sc AS (SELECT tf.doc_id,
      |        round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) AS idf,
      |        tf.tf, dl.dl, corpus.avgdl
      |        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus),
      | st AS (SELECT doc_id,
      |        CAST(round(idf * (CAST(tf AS DOUBLE) * 2.2) /
      |             (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
      |             * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS score_q
      |        FROM sc),
      | agg AS (SELECT doc_id, sum(score_q) AS score_q, count(*) AS n_terms_hit FROM st GROUP BY 1
      |         ORDER BY score_q DESC, doc_id LIMIT 20)
      |SELECT doc_id, round(CAST(score_q AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) AS score,
      | CAST(n_terms_hit AS BIGINT) AS n_terms_hit
      |FROM agg ORDER BY score DESC, doc_id""".stripMargin

  /** DuckDB's NATIVE ASOF JOIN — one oracle shared by asof_join (the
    * composed union+carry-forward window formulation) and asof_join_native
    * (the custom AsofJoinExec physical operator): three independent
    * algorithms, one answer. Both sides compare at µs (Spark reads the ns
    * fixture truncated to µs; CAST(ts AS TIMESTAMP) applies the same
    * truncation), and the right side is pre-aggregated per (user, µs) by
    * the unique event_id so tied purchase timestamps stay deterministic. */
  private val AsofSql =
    """WITH l AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'view'),
      | r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, arg_max(value, event_id) AS pval
      |       FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT l.event_id, l.user_id, r.pval AS last_purchase_value
      |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      |ORDER BY l.event_id""".stripMargin

  /** Shared oracle CTE: the daily snapshot (latest value per day/user). */
  private val SnapCte =
    "snap AS (SELECT CAST(ts AS DATE) AS day, user_id, arg_max(value, event_id) AS value FROM events GROUP BY 1, 2)"
  private val MaxDayCte = "mx AS (SELECT max(day) AS end_day FROM snap)"

  private def gainSql(startExpr: String): String =
    s"""WITH $SnapCte, $MaxDayCte,
       | e AS (SELECT user_id, value AS end_value FROM snap, mx WHERE day = end_day),
       | s AS (SELECT user_id, value AS start_value FROM snap, mx WHERE day = $startExpr),
       | g AS (SELECT e.user_id AS user_id, end_value - start_value AS gain
       |       FROM e JOIN s ON e.user_id = s.user_id WHERE end_value - start_value > 0)
       |SELECT CAST(row_number() OVER (ORDER BY gain DESC, user_id) AS BIGINT) AS rank, user_id, gain
       |FROM g ORDER BY rank""".stripMargin

  private val Revenue =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  /** For each key in queries, equivalent SQL runnable by DuckDB on the same
    * parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = baseOracleSql ++ Map(
    // Stored-artifact variants share their recompute siblings' oracles:
    // the maintained shingle table must reproduce the recompute answer
    // exactly (same contract as bm25_postings vs bm25_topk).
    "dedup_minhash_stored" -> baseOracleSql("dedup_minhash"),
    "dedup_minhash_bucketed" -> baseOracleSql("dedup_minhash"),
    "dedup_incremental_stored" -> baseOracleSql("dedup_incremental"),
    "dedup_incremental_bucketed" -> baseOracleSql("dedup_incremental"),
    "ann_pq_stored" -> baseOracleSql("ann_pq"),
    "setjoin_pairs_stored" -> baseOracleSql("setjoin_pairs"),
    "setjoin_pairs_bucketed" -> baseOracleSql("setjoin_pairs"),
    "setjoin_pairs_wide" -> baseOracleSql("setjoin_pairs"),
    "contamination_stored" -> baseOracleSql("contamination"),
    "corpus_clean_stored" -> baseOracleSql("corpus_clean"),
    "lm_perplexity_stored" -> baseOracleSql("lm_perplexity"),
    "ann_ivf_stored" -> baseOracleSql("ann_ivf"))

  private lazy val baseOracleSql: Map[String, String] = Map(
    "snapshot_daily" ->
      s"WITH $SnapCte SELECT CAST(day AS VARCHAR) AS day, user_id, value FROM snap ORDER BY day, user_id",
    "gain_1d" -> gainSql("end_day - 1"),
    "gain_7d" -> gainSql("end_day - 7"),
    "gain_alltime" -> gainSql("(SELECT min(day) FROM snap)"),
    "leaderboard" ->
      s"""WITH $SnapCte, $MaxDayCte,
         | cur AS (SELECT user_id, value FROM snap, mx WHERE day = end_day),
         | r AS (SELECT user_id, value,
         |       CAST(row_number() OVER (ORDER BY value DESC, user_id) AS BIGINT) AS rank FROM cur)
         |SELECT rank, user_id, value, CAST(1001 - rank AS BIGINT) AS points
         |FROM r WHERE rank <= 1000 ORDER BY rank""".stripMargin,
    "point_lookup" ->
      s"""WITH $SnapCte, $MaxDayCte
         |SELECT user_id, value FROM snap, mx WHERE day = end_day - 3 ORDER BY user_id""".stripMargin,
    "exists_probe" ->
      """SELECT count(*) AS n_events FROM events
        |WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)""".stripMargin,
    "state_merge" ->
      s"""WITH $SnapCte, $MaxDayCte,
         | t AS (SELECT user_id AS uid_t, value AS v_today FROM snap, mx WHERE day = end_day),
         | y AS (SELECT user_id AS uid_y, value AS v_yesterday FROM snap, mx WHERE day = end_day - 1)
         |SELECT coalesce(uid_t, uid_y) AS user_id,
         | coalesce(v_today, v_yesterday) AS value,
         | CASE WHEN uid_t IS NOT NULL AND uid_y IS NOT NULL THEN 'updated'
         |      WHEN uid_t IS NOT NULL THEN 'new' ELSE 'carried' END AS status
         |FROM t FULL JOIN y ON uid_t = uid_y ORDER BY user_id""".stripMargin,
    "rookmaster" ->
      """WITH scores AS (SELECT event_type, user_id, sum(CAST(value AS DECIMAL(18,2))) AS score
        |               FROM events GROUP BY 1, 2),
        | pts AS (SELECT user_id,
        |         1001 - row_number() OVER (PARTITION BY event_type ORDER BY score DESC, user_id) AS points
        |         FROM scores),
        | total AS (SELECT user_id, CAST(sum(points) AS BIGINT) AS total_points,
        |           count(*) AS n_categories FROM pts GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY total_points DESC, user_id) AS BIGINT) AS rank,
        |       user_id, total_points, n_categories
        |FROM total ORDER BY rank""".stripMargin,
    "rookmaster_categories" ->
      """WITH scores AS (SELECT event_type, user_id, sum(CAST(value AS DECIMAL(18,2))) AS score
        |               FROM events GROUP BY 1, 2),
        | r AS (SELECT event_type, user_id, CAST(score AS DOUBLE) AS score,
        |       CAST(row_number() OVER (PARTITION BY event_type ORDER BY score DESC, user_id) AS BIGINT) AS cat_rank
        |       FROM scores)
        |SELECT event_type, user_id, score, cat_rank, CAST(1001 - cat_rank AS BIGINT) AS points
        |FROM r ORDER BY event_type, cat_rank""".stripMargin,
    "onlinetime_daily" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id, CAST(5 * count(*) AS BIGINT) AS minutes,
        |       arg_max(event_type, event_id) AS last_event_type
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "onlinetime_7d" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, user_id, 5 * count(*) AS minutes
        |              FROM events GROUP BY 1, 2),
        | mx AS (SELECT max(day) AS end_day FROM daily),
        | agg AS (SELECT user_id, CAST(sum(minutes) AS BIGINT) AS minutes, max(day) AS last_day
        |         FROM daily, mx WHERE day >= end_day - 6 GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY minutes DESC, last_day DESC, user_id) AS BIGINT) AS rank,
        |       user_id, minutes, CAST(last_day AS VARCHAR) AS last_day
        |FROM agg ORDER BY rank""".stripMargin,
    "streaming_daily_minutes" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id,
        | CAST(5 * count(*) AS BIGINT) AS minutes
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Hopping windows re-derived definitionally: an event at t belongs to
    // the two epoch-aligned 12h buckets b(t) and b(t)-12h (width 1 day =
    // 2 slides, window [s, s+1d) contains t for exactly those starts).
    "hopping_minutes" ->
      """WITH e AS (SELECT to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP))/43200)*43200 AS BIGINT)) AS b,
        |            user_id FROM events),
        | x AS (SELECT b AS wstart, user_id FROM e
        |       UNION ALL SELECT b - INTERVAL 12 HOUR AS wstart, user_id FROM e)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, user_id,
        | CAST(5 * count(*) AS BIGINT) AS minutes
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "daily_gapfill" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |               count(DISTINCT user_id) AS n_users FROM events GROUP BY 1),
        | cal AS (SELECT unnest(generate_series((SELECT min(day) FROM daily),
        |                                       (SELECT max(day) FROM daily),
        |                                       INTERVAL 1 DAY))::DATE AS day)
        |SELECT CAST(cal.day AS VARCHAR) AS day,
        | CAST(coalesce(daily.n_events, 0) AS BIGINT) AS n_events,
        | CAST(coalesce(daily.n_users, 0) AS BIGINT) AS n_users
        |FROM cal LEFT JOIN daily ON cal.day = daily.day ORDER BY day""".stripMargin,
    // All 7 skill constants gated in EXACT integer arithmetic — points =
    // floor((b^k − 1)/(b−1)·a/d), k = v−10. For b = p/q the closed form
    // over integers is (a·(p^k − q^k)) // (d·(p−q)·q^(k−1)): b=2 fits
    // BIGINT; b=3/2 (fist/shielding) uses HUGEINT with 3^k from an exact
    // integer `reduce` product (power() returns an inexact double above
    // 2^53); b=11/10 (fishing) does the same while 11^k fits HUGEINT
    // (k ≤ 35) and switches to BigInt-series literals for the 4 tail
    // levels (fishingTailCase). No floating point anywhere in the oracle.
    "skill_points" ->
      s"""WITH lv AS (SELECT DISTINCT CAST(floor(value) AS INTEGER) % 40 + 10 AS v FROM events),
         | p AS (SELECT v,
         |   CASE WHEN v = 10 THEN CAST(0 AS HUGEINT)
         |        ELSE reduce([CAST(3 AS HUGEINT) for i in range(1, v - 9)], (a,b) -> a*b) END AS p3,
         |   CASE WHEN v = 10 OR v > 45 THEN CAST(0 AS HUGEINT)
         |        ELSE reduce([CAST(11 AS HUGEINT) for i in range(1, v - 9)], (a,b) -> a*b) END AS p11,
         |   (CAST(1 AS HUGEINT) << (v - 10)) AS p2,
         |   CASE WHEN v = 10 OR v > 45 THEN CAST(0 AS HUGEINT)
         |        ELSE reduce([CAST(10 AS HUGEINT) for i in range(1, v - 9)], (a,b) -> a*b) END AS p10
         |   FROM lv)
         |SELECT CAST(v AS BIGINT) AS v,
         |       CAST((CAST(p2 AS BIGINT) - 1) * 50 // 1800 AS BIGINT) AS points_melee,
         |       CAST((CAST(p2 AS BIGINT) - 1) * 25 // 1000 AS BIGINT) AS points_distance,
         |       CASE WHEN v = 10 THEN 0
         |            ELSE CAST((50 * (p3 - p2)) // (1800 * (p2 // 2)) AS BIGINT) END AS points_fist,
         |       CASE WHEN v = 10 THEN 0
         |            ELSE CAST((100 * (p3 - p2)) // (3600 * (p2 // 2)) AS BIGINT) END AS points_shielding,
         |       CASE v WHEN 10 THEN 0 $fishingTailCase
         |            ELSE CAST((20 * (p11 - p10)) // (1200 * (p10 // 10)) AS BIGINT) END AS points_fishing
         |FROM p ORDER BY v""".stripMargin,
    "paged_scan" -> PagedScanOracle,
    // The wire path must reproduce the synthetic path row-for-row.
    "paged_scan_http" -> PagedScanOracle,
    "category_union" ->
      """SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
        | count(*) AS n_events
        |FROM (SELECT user_id, value FROM events WHERE event_type = 'purchase'
        |      UNION ALL SELECT user_id, value FROM events WHERE event_type = 'signup') u
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q1_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         | CAST(sum($Revenue) AS DOUBLE) AS sum_disc_price,
         | count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_orders" ->
      s"""SELECT l_orderkey, o_orderdate, CAST(sum($Revenue) AS DOUBLE) AS revenue
         |FROM customer
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      s"""SELECT n_name, CAST(sum($Revenue) AS DOUBLE) AS revenue
         |FROM region
         | JOIN nation ON r_regionkey = n_regionkey
         | JOIN customer ON c_nationkey = n_nationkey
         | JOIN orders ON o_custkey = c_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         | JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "pricing_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "pricing_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag ASC, g_status ASC,
        | l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "pricing_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        |ORDER BY g_flag ASC, g_status ASC,
        | l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "price_percentiles" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS p50,
        | quantile_cont(l_quantity, 0.95) AS p95, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // The sketch estimate is engine-internal; what the oracle pins is the
    // exact order statistic at the same ⌈q·n⌉ target and the bound check's
    // verdict (1 unless the certificate is violated — a broken sketch
    // flips the hash).
    "kll_quantiles" ->
      """WITH v AS (SELECT l_extendedprice AS value FROM lineitem),
        | nn AS (SELECT count(*) AS n FROM v),
        | r AS (SELECT value, row_number() OVER (ORDER BY value) AS rn FROM v),
        | qq AS (SELECT unnest(CAST([0.01, 0.25, 0.5, 0.75, 0.99] AS DOUBLE[])) AS q),
        | t AS (SELECT qq.q AS q, CAST(greatest(1, ceil(qq.q * nn.n)) AS BIGINT) AS target,
        |        CAST(nn.n AS BIGINT) AS n FROM qq, nn)
        |SELECT t.q AS q, r.value AS exact_v, t.n AS n,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM t JOIN r ON r.rn = t.target ORDER BY q""".stripMargin,
    "kll_quantiles_grouped" ->
      """WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS value FROM events),
        | nn AS (SELECT event_type, count(*) AS n FROM v GROUP BY 1),
        | r AS (SELECT event_type, value,
        |        row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn FROM v),
        | qq AS (SELECT unnest(CAST([0.01, 0.25, 0.5, 0.75, 0.99] AS DOUBLE[])) AS q),
        | t AS (SELECT nn.event_type, qq.q AS q,
        |        CAST(greatest(1, ceil(qq.q * nn.n)) AS BIGINT) AS target,
        |        CAST(nn.n AS BIGINT) AS n FROM qq, nn)
        |SELECT t.event_type, t.q AS q, r.value AS exact_v, t.n AS n,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM t JOIN r ON r.event_type = t.event_type AND r.rn = t.target
        |ORDER BY t.event_type, q""".stripMargin,
    "sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, CAST(value AS DECIMAL(18,2)) AS v,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts FROM events),
        | f AS (SELECT *, CASE WHEN prev_ts IS NULL
        |   OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session FROM e),
        | g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_idx FROM f)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, count(*) AS n_events,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        | CAST(sum(v) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,
    "daily_type_pivot" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        | CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        | CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        | CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        | CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        | CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "rolling_weekly_minutes" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day, user_id, CAST(5 * count(*) AS BIGINT) AS minutes
        |              FROM events GROUP BY 1, 2),
        | d AS (SELECT *, date_diff('day', DATE '1970-01-01', day) AS dayn FROM daily)
        |SELECT CAST(day AS VARCHAR) AS day, user_id, minutes,
        | CAST(sum(minutes) OVER (PARTITION BY user_id ORDER BY dayn
        |      RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_minutes
        |FROM d ORDER BY day, user_id""".stripMargin,
    "asof_carryforward" ->
      """SELECT event_id, user_id, event_type, value,
        | last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS marker_value
        |FROM events ORDER BY event_id""".stripMargin,
    "segment_stats" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        | CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "dq_checks" ->
      """WITH rc AS (SELECT
        |  CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT) AS discount_range,
        |  CAST(count(*) FILTER (WHERE l_extendedprice <= 0) AS BIGINT) AS negative_price,
        |  CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS null_orderkey,
        |  CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT) AS quantity_range
        | FROM lineitem),
        | orph AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem
        |          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |SELECT 'discount_range' AS check_name, discount_range AS n_violations FROM rc
        |UNION ALL SELECT 'negative_price', negative_price FROM rc
        |UNION ALL SELECT 'null_orderkey', null_orderkey FROM rc
        |UNION ALL SELECT 'orphan_lineitems', n FROM orph
        |UNION ALL SELECT 'quantity_range', quantity_range FROM rc
        |ORDER BY check_name""".stripMargin,
    "skew_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "customer_top_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders) ORDER BY c_custkey""".stripMargin,
    "q16_supplier_parts" ->
      """SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size <= 25
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2 HAVING count(DISTINCT l_suppkey) >= 5
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin,
    "q7_nation_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         | CAST(year(l_shipdate) AS BIGINT) AS l_year,
         | CAST(sum($Revenue) AS DOUBLE) AS revenue
         |FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
         | JOIN orders o ON o.o_orderkey = l.l_orderkey
         | JOIN customer c ON c.c_custkey = o.o_custkey
         | JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
         | JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
         |WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
         |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Q2 shape: the oracle keeps the textbook CORRELATED min subquery —
    // the engine's window-min formulation must reproduce it exactly
    // (exact DECIMAL prices make the equality engine-independent).
    "q2_min_cost_supplier" ->
      """WITH rs AS (SELECT s_suppkey, s_name, n_name
        |            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |            JOIN region ON n_regionkey = r_regionkey
        |            WHERE r_name = 'EUROPE'),
        | offers AS (SELECT l_partkey AS p_partkey, p_name, s_suppkey, s_name, n_name,
        |             CAST(l_extendedprice AS DECIMAL(18,2)) AS price
        |            FROM lineitem JOIN part ON l_partkey = p_partkey
        |            JOIN rs ON l_suppkey = s_suppkey
        |            WHERE p_type = 'PROMO')
        |SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, n_name,
        | CAST(price AS DOUBLE) AS min_price
        |FROM offers o
        |WHERE price = (SELECT min(price) FROM offers i WHERE i.p_partkey = o.p_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin,
    // Q20 shape: nested per-(part,supplier) aggregate vs per-part total,
    // distinct dominant suppliers, outer semi join — IN-subquery form.
    "q20_dominant_suppliers" ->
      """WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
        | ps AS (SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |        FROM lineitem WHERE l_partkey IN (SELECT p_partkey FROM promo)
        |        GROUP BY 1, 2),
        | d AS (SELECT l_suppkey, qty,
        |        sum(qty) OVER (PARTITION BY l_partkey) AS total FROM ps)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT DISTINCT l_suppkey FROM d WHERE qty * 100 > total * 15)
        |ORDER BY s_suppkey""".stripMargin,
    // Q13 shape: count(o_orderkey) counts only matched rows, so the
    // zero-order bucket survives the left outer join in both engines.
    "q13_order_distribution" ->
      """SELECT CAST(c_count AS BIGINT) AS c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT OUTER JOIN orders
        |   ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        | GROUP BY 1) t
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // Q17 shape: the oracle mirrors the window decorrelation; the
    // 0.2*avg compare is the same exact integer-scaled DECIMAL predicate.
    "q17_small_qty_revenue" ->
      """WITH l AS (SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,2)) AS qty,
        |            CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
        |            sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS sum_qty,
        |            count(*) OVER (PARTITION BY l_partkey) AS cnt
        |           FROM lineitem)
        |SELECT p_brand, CAST(sum(price) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM l JOIN part ON l_partkey = p_partkey
        |WHERE qty * 5 * cnt < sum_qty
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q18_large_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty
        |             FROM lineitem GROUP BY 1
        |             HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
        | CAST(total_qty AS DOUBLE) AS total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_disjunctive_revenue" ->
      s"""SELECT CAST(sum($Revenue) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    // Q21 shape: the oracle keeps the textbook EXISTS / NOT EXISTS double
    // correlation; the engine's semi/anti pair must reproduce it exactly.
    "q21_waiting_suppliers" ->
      """WITH late AS (SELECT DISTINCT l_orderkey, l_suppkey
        |              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |              WHERE o_orderstatus = 'F'
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin,
    // Q22 shape: the oracle keeps the scalar subquery as a 1-row CTE; the
    // above-average compare is the same exact bal*n > sum predicate.
    "q22_dormant_customers" ->
      """WITH slice AS (SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        |               FROM customer WHERE c_nationkey IN (1,3,5,7,9,11,13)),
        | stats AS (SELECT sum(bal) AS s, count(*) AS n FROM slice WHERE bal > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        | CAST(sum(bal) AS DOUBLE) AS total_acctbal
        |FROM slice, stats
        |WHERE bal * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_forecast_revenue" ->
      s"""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    // Q8 shape: the engine's region SEMI join matches the 1:1 inner-join
    // chain customer→nation→region here.
    "q8_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         | CAST(sum(CASE WHEN ns.n_name = 'NATION_3' THEN $Revenue
         |              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |  / CAST(sum($Revenue) AS DOUBLE) AS mkt_share
         |FROM lineitem
         | JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
         | JOIN supplier ON l_suppkey = s_suppkey
         | JOIN nation ns ON s_nationkey = ns.n_nationkey
         | JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation nc ON c_nationkey = nc.n_nationkey
         | JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q9_product_profit" ->
      s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         | CAST(sum($Revenue
         |   - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit
         |FROM lineitem
         | JOIN part ON l_partkey = p_partkey
         | JOIN supplier ON l_suppkey = s_suppkey
         | JOIN nation ON s_nationkey = n_nationkey
         | JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2 ORDER BY nation ASC, o_year DESC""".stripMargin,
    "q10_returned_customers" ->
      s"""SELECT c_custkey, c_name, CAST(sum($Revenue) AS DOUBLE) AS revenue,
         | c_acctbal, n_name
         |FROM customer
         | JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         | JOIN nation ON c_nationkey = n_nationkey
         |WHERE o_orderdate >= TIMESTAMP '1996-04-01'
         |  AND o_orderdate < TIMESTAMP '1996-07-01'
         |  AND l_returnflag = 'R'
         |GROUP BY 1, 2, 4, 5
         |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q11_important_parts" ->
      """WITH pp AS (SELECT l_partkey,
        |             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
        |            FROM lineitem
        |             JOIN supplier ON l_suppkey = s_suppkey
        |             JOIN nation ON s_nationkey = n_nationkey
        |            WHERE n_name = 'NATION_3' GROUP BY 1),
        | t AS (SELECT sum(value) AS total FROM pp)
        |SELECT l_partkey, CAST(value AS DOUBLE) AS value
        |FROM pp, t WHERE value * 1000 > total
        |ORDER BY value DESC, l_partkey ASC""".stripMargin,
    "q12_late_priority" ->
      """SELECT l_linestatus,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q14_promo_share" ->
      s"""SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN $Revenue
         |                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         |  / CAST(sum($Revenue) AS DOUBLE) AS promo_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
         |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin,
    "q15_top_supplier" ->
      s"""WITH ps AS (SELECT l_suppkey, sum($Revenue) AS total_rev
         |            FROM lineitem
         |            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |              AND l_shipdate < TIMESTAMP '1996-04-01'
         |            GROUP BY 1),
         | m AS (SELECT max(total_rev) AS mx FROM ps)
         |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
         |FROM ps CROSS JOIN m JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev = mx ORDER BY s_suppkey""".stripMargin,
    // rankIfMissing repairs the nulled slice with freshly computed ranks, so
    // the oracle is simply the full recomputed ranking.
    "rank_repair" ->
      s"""WITH $SnapCte, $MaxDayCte,
         | t AS (SELECT user_id, value FROM snap, mx WHERE day = end_day)
         |SELECT user_id, value,
         | CAST(row_number() OVER (ORDER BY value DESC, user_id) AS BIGINT) AS rank
         |FROM t ORDER BY rank""".stripMargin,
    "range_join" ->
      """WITH iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS start_day,
        |            CAST(o_orderdate AS DATE) + 13 AS end_day
        |            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 200),
        | pts AS (SELECT CAST(l_shipdate AS DATE) AS ship_day FROM lineitem),
        | c AS (SELECT o_orderkey, count(*) AS n FROM iv
        |       JOIN pts ON ship_day BETWEEN start_day AND end_day GROUP BY 1)
        |SELECT iv.o_orderkey, CAST(start_day AS VARCHAR) AS start_day,
        | CAST(coalesce(c.n, 0) AS BIGINT) AS n_shipped
        |FROM iv LEFT JOIN c USING (o_orderkey) ORDER BY o_orderkey""".stripMargin,
    "interval_overlap" ->
      """WITH iv AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s,
        |            CAST(o_orderdate AS DATE) + 13 AS e
        |            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100),
        | c AS (SELECT a.o_orderkey, count(*) AS n FROM iv a JOIN iv b
        |       ON a.s <= b.e AND b.s <= a.e AND a.o_orderkey <> b.o_orderkey
        |       GROUP BY 1)
        |SELECT iv.o_orderkey, CAST(s AS VARCHAR) AS start_day,
        | CAST(coalesce(c.n, 0) AS BIGINT) AS n_overlaps
        |FROM iv LEFT JOIN c USING (o_orderkey) ORDER BY o_orderkey""".stripMargin,
    // Same oracle as customer_top_orders: the heap aggregate must
    // reproduce the window formulation exactly.
    "customer_topk_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "text_stats" ->
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents),
        | s AS (SELECT doc_id,
        |   CAST(length(text) AS BIGINT) AS n_chars,
        |   CAST(len(w) AS BIGINT) AS n_words,
        |   CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
        |   CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
        |   CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt
        | FROM t)
        |SELECT doc_id, n_chars, n_words, n_distinct_words, punct_cnt, stop_cnt,
        | (n_chars - n_words + 1) / n_words AS avg_word_len,
        | stop_cnt / n_words AS stop_ratio,
        | punct_cnt / n_chars AS punct_ratio,
        | (stop_cnt / n_words) * 0.5 + least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.3
        |   + (1.0 - punct_cnt / n_chars) * 0.2 AS quality
        |FROM s ORDER BY doc_id""".stripMargin,
    // Bigram-LM scoring replayed definitionally: head counts from the
    // same bigram table (so sum_w2 c12 = c1 exactly), add-k with k=0.5,
    // ln rounded at once then x1e6 integer-quantized (the BM25 rule), the
    // final division the same fixed-shape IEEE expression.
    "lm_perplexity" ->
      """WITH tw AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |            FROM documents WHERE doc_id % 2 = 0),
        | tb AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
        |        FROM tw WHERE len(w) >= 2),
        | c12 AS (SELECT bg, count(*) AS c12 FROM tb GROUP BY 1),
        | c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM tb GROUP BY 1),
        | v AS (SELECT count(DISTINCT wd) AS v FROM (SELECT unnest(w) AS wd FROM tw)),
        | sw AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |        FROM documents WHERE doc_id % 2 = 1),
        | sb AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
        |        FROM sw WHERE len(w) >= 2),
        | q AS (SELECT doc_id,
        |        CAST(round(round(ln((COALESCE(c12.c12, 0) + 0.5)
        |          / (COALESCE(c1.c1, 0) + 0.5 * v.v)), 6) * 1000000.0) AS BIGINT) AS lp_q
        |       FROM sb LEFT JOIN c12 USING (bg)
        |               LEFT JOIN c1 ON split_part(sb.bg, ' ', 1) = c1.w1
        |               CROSS JOIN v),
        | agg AS (SELECT doc_id, count(*) AS n_bigrams,
        |         CAST(-sum(lp_q) AS BIGINT) AS nll_q FROM q GROUP BY 1)
        |SELECT s.doc_id, COALESCE(agg.n_bigrams, 0) AS n_bigrams, agg.nll_q,
        | round(agg.nll_q / 1000000.0 / agg.n_bigrams, 6) AS avg_nll
        |FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 2 = 1) s
        |LEFT JOIN agg ON s.doc_id = agg.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    // Per-language replay: all model keys gain lang; V per language; a
    // candidate language with no reference model yields NULL scores.
    "lm_perplexity_by_lang" ->
      s"""WITH $LmByLangCtes
         |SELECT doc_id, lang, n_bigrams, nll_q, avg_nll
         |FROM lmbl ORDER BY doc_id""".stripMargin,
    // CCNet binning on the by-lang scores: tercile = ((rn-1)*3) div n,
    // keep = ceil(bn * share) per bin via integer (bn*num + den-1) div
    // den, in-bin selection by the deterministic md5 order. All exact.
    "sample_perplexity_bins" ->
      s"""WITH $LmByLangCtes,
         | sc AS (SELECT doc_id, lang, avg_nll FROM lmbl WHERE avg_nll IS NOT NULL),
         | r AS (SELECT lang, doc_id, avg_nll,
         |   CAST(row_number() OVER (PARTITION BY lang ORDER BY avg_nll, doc_id) AS BIGINT) AS rn FROM sc),
         | s AS (SELECT lang, count(*) AS n FROM r GROUP BY 1),
         | b AS (SELECT r.lang, r.doc_id, r.avg_nll, ((rn - 1) * 3) // n AS bin
         |       FROM r JOIN s USING (lang)),
         | h AS (SELECT lang, bin, doc_id, avg_nll, md5('s1' || ':' || doc_id) AS h FROM b),
         | r2 AS (SELECT lang, bin, doc_id, avg_nll,
         |   CAST(row_number() OVER (PARTITION BY lang, bin ORDER BY h, doc_id) AS BIGINT) AS sel FROM h),
         | bs AS (SELECT lang, bin, count(*) AS bn FROM b GROUP BY 1, 2)
         |SELECT r2.lang, CAST(r2.bin AS BIGINT) AS bin, r2.doc_id, r2.avg_nll
         |FROM r2 JOIN bs ON r2.lang = bs.lang AND r2.bin = bs.bin
         |WHERE sel <= CASE r2.bin WHEN 0 THEN bn WHEN 1 THEN (bn + 1) // 2
         |                         ELSE (bn + 9) // 10 END
         |ORDER BY r2.lang, r2.bin, r2.doc_id""".stripMargin,
    "lang_id" -> TextAnalysis.langIdOracleSql,
    "token_count" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS tokens_ws,
        | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS tokens_bpe,
        | CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Golden-expectation oracles: __GRAFT_BPE_GOLDEN__ is substituted by
    // Verify with the BPE artifact's golden dir for ITS sf dir — the
    // stored counts come from the independent replay encoder (BpeStore),
    // so DuckDB compares the query's greedy encoder against a second
    // implementation of the same published algorithm.
    "token_count_bpe" ->
      """SELECT g.doc_id, g.n_tokens, CAST(length(d.text) AS BIGINT) AS n_chars
        |FROM read_parquet('__GRAFT_BPE_GOLDEN__/*.parquet') g
        |JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "token_count_bpe_stress" ->
      """SELECT doc_id, n_tokens
        |FROM read_parquet('__GRAFT_BPE_STRESS_GOLDEN__/*.parquet')
        |ORDER BY doc_id""".stripMargin,
    "budget_select_bpe" ->
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents),
        | s AS (SELECT doc_id,
        |   CAST(length(text) AS BIGINT) AS n_chars,
        |   CAST(len(w) AS BIGINT) AS n_words,
        |   CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
        |   CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt
        | FROM t),
        | q0 AS (SELECT doc_id,
        |   (stop_cnt / n_words) * 0.5 + least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.3
        |     + (1.0 - punct_cnt / n_chars) * 0.2 AS quality
        | FROM s),
        | q AS (SELECT q0.doc_id, g.n_tokens AS tokens, quality
        |   FROM q0 JOIN read_parquet('__GRAFT_BPE_GOLDEN__/*.parquet') g USING (doc_id)
        |   WHERE quality IS NOT NULL),
        | r AS (SELECT doc_id, tokens, quality,
        |   sum(tokens) OVER (ORDER BY quality DESC, doc_id) AS cum_tokens FROM q)
        |SELECT doc_id, CAST(tokens AS BIGINT) AS tokens, quality,
        | CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM r WHERE cum_tokens <= 20000 ORDER BY quality DESC, doc_id""".stripMargin,
    "doc_fingerprint" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents)
        |SELECT doc_id,
        | list_min([md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
        |           for i in range(1, len(w) - 3)]) AS fp,
        | CAST(len(w) - 4 AS BIGINT) AS n_shingles
        |FROM t WHERE len(w) >= 5 ORDER BY doc_id""".stripMargin,
    "pii_redact" ->
      s"""SELECT doc_id,
         | CAST(len(regexp_extract_all(text, '${DataHygiene.EmailRe}')) AS BIGINT) AS n_emails,
         | CAST(len(regexp_extract_all(text, '${DataHygiene.PhoneRe}')) AS BIGINT) AS n_phones,
         | md5(regexp_replace(regexp_replace(text, '${DataHygiene.EmailRe}', '<EMAIL>', 'g'),
         |                    '${DataHygiene.PhoneRe}', '<PHONE>', 'g')) AS clean_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_repetition" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents),
        | g AS (SELECT doc_id,
        |       CASE WHEN len(w) >= 3 THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |            ELSE [] END AS grams FROM t)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        | CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        | CASE WHEN len(grams) > 0
        |      THEN round(CAST(1 AS DOUBLE) - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
        |      ELSE 0.0 END AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin,
    // Quality formula identical to text_stats; threshold = exact
    // interpolated quantile (quantile_cont ≡ Spark percentile, proven by
    // the price_percentiles gate); compare on UNROUNDED doubles.
    "quality_gate_adaptive" ->
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents),
        | s AS (SELECT doc_id,
        |   CAST(length(text) AS BIGINT) AS n_chars, CAST(len(w) AS BIGINT) AS n_words,
        |   CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
        |   CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt
        | FROM t),
        | q AS (SELECT doc_id, (stop_cnt / n_words) * 0.5
        |       + least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.3
        |       + (1.0 - punct_cnt / n_chars) * 0.2 AS quality FROM s),
        | thr AS (SELECT quantile_cont(quality, 0.25) AS q_thr FROM q)
        |SELECT doc_id, round(quality, 6) AS quality, round(q_thr, 6) AS q_thr
        |FROM q, thr WHERE quality >= q_thr ORDER BY doc_id""".stripMargin,
    "contamination" ->
      s"""WITH $ShinglesCte,
         | tsh AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 2 = 0),
         | esh AS (SELECT doc_id, sh FROM sh WHERE doc_id % 2 = 1),
         | sizes AS (SELECT doc_id, count(*) AS n_sh FROM esh GROUP BY 1),
         | hits AS (SELECT e.doc_id, count(*) AS n_common
         |          FROM esh e JOIN tsh t2 ON e.sh = t2.sh GROUP BY 1)
         |SELECT h.doc_id, CAST(n_common AS BIGINT) AS n_common, CAST(n_sh AS BIGINT) AS n_sh,
         | round(CAST(n_common AS DOUBLE) / n_sh, 6) AS contaminated_frac
         |FROM hits h JOIN sizes sz ON sz.doc_id = h.doc_id
         |WHERE n_common >= 3 ORDER BY h.doc_id""".stripMargin,
    "pack_documents" ->
      s"""WITH $PackCte
         |SELECT doc_id, shard,
         | shard * 1000000000 + CAST(floor(CAST(cum - tokens AS DOUBLE) / 2048) AS BIGINT) AS chunk_id,
         | tokens
         |FROM pc ORDER BY doc_id""".stripMargin,
    "length_batches" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS tokens
        |           FROM documents),
        | r AS (SELECT doc_id, tokens,
        |         row_number() OVER (ORDER BY tokens, doc_id) AS rank,
        |         count(*) OVER () AS total FROM t),
        | b AS (SELECT *, ((rank - 1) * 8) // total AS bucket FROM r),
        | c AS (SELECT *, ((rank - 1) - (bucket * total + 7) // 8) // 16 AS batch_idx FROM b)
        |SELECT bucket, batch_idx, count(*) AS n_docs, max(tokens) AS max_tokens,
        | CAST(sum(tokens) AS BIGINT) AS sum_tokens,
        | CAST(count(*) * max(tokens) - sum(tokens) AS DOUBLE)
        |   / CAST(count(*) * max(tokens) AS DOUBLE) AS padding_frac
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pack_chunk_stats" ->
      s"""WITH $PackCte,
         | asg AS (SELECT doc_id, shard,
         |         shard * 1000000000 + CAST(floor(CAST(cum - tokens AS DOUBLE) / 2048) AS BIGINT) AS chunk_id,
         |         tokens FROM pc)
         |SELECT shard, chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(tokens) AS BIGINT) AS packed_tokens
         |FROM asg GROUP BY shard, chunk_id ORDER BY shard, chunk_id""".stripMargin,
    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents),
        | n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_tokens_doc FROM t),
        | c AS (SELECT doc_id, w, n_tokens_doc,
        |        unnest(range(0, CASE WHEN n_tokens_doc <= 128 THEN 1
        |                             ELSE (n_tokens_doc - 128 + 96 - 1) // 96 + 1 END)) AS chunk_idx
        |        FROM n)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        | CAST(chunk_idx * 96 + 1 AS BIGINT) AS start_token,
        | CAST(least(128, n_tokens_doc - chunk_idx * 96) AS BIGINT) AS n_tokens,
        | md5(array_to_string(w[(chunk_idx * 96 + 1):(chunk_idx * 96 + least(128, n_tokens_doc - chunk_idx * 96))], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "doc_chunks_cdc" ->
      """WITH wd AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents),
        | b AS (SELECT doc_id, ws, len(ws) AS n,
        |   CASE WHEN len(ws) >= 4 THEN
        |     [i for i in range(3, len(ws))
        |      if CAST('0x' || substr(md5(ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]), 1, 15) AS BIGINT) % 8 = 0]
        |   ELSE [] END AS bounds FROM wd),
        | c AS (SELECT doc_id, ws, n, list_prepend(1, [x + 1 for x in bounds]) AS starts,
        |        list_append(bounds, n) AS ends FROM b),
        | e AS (SELECT doc_id, ws, unnest(starts) AS s, unnest(ends) AS t,
        |        unnest(range(0, len(starts))) AS ci FROM c)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx, CAST(s AS BIGINT) AS start_word,
        | CAST(t - s + 1 AS BIGINT) AS n_words,
        | md5(array_to_string(ws[s:t], ' ')) AS chunk_hash
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    "chunk_dedup_snapshots" ->
      s"""WITH ${cdcChunksCte("documents", "a")},
         | ${cdcChunksCte(RecrawlSrcSql, "z")},
         | same_pos AS (SELECT a.doc_id, count(*) AS unchanged
         |   FROM achunks a JOIN zchunks b ON a.doc_id = b.doc_id
         |     AND a.chunk_idx = b.chunk_idx AND a.chunk_hash = b.chunk_hash
         |   GROUP BY 1),
         | ca AS (SELECT doc_id, chunk_hash, count(*) AS cnt_a FROM achunks GROUP BY 1, 2),
         | cb AS (SELECT doc_id, chunk_hash, count(*) AS cnt_b FROM zchunks GROUP BY 1, 2),
         | com AS (SELECT ca.doc_id, sum(least(cnt_a, cnt_b)) AS common
         |   FROM ca JOIN cb ON ca.doc_id = cb.doc_id AND ca.chunk_hash = cb.chunk_hash
         |   GROUP BY 1),
         | na AS (SELECT doc_id, count(*) AS n_a FROM achunks GROUP BY 1),
         | nb AS (SELECT doc_id, count(*) AS n_b FROM zchunks GROUP BY 1)
         |SELECT COALESCE(na.doc_id, nb.doc_id) AS doc_id,
         | CAST(COALESCE(n_a, 0) AS BIGINT) AS n_chunks_a,
         | CAST(COALESCE(n_b, 0) AS BIGINT) AS n_chunks_b,
         | CAST(COALESCE(unchanged, 0) AS BIGINT) AS unchanged,
         | CAST(COALESCE(common, 0) - COALESCE(unchanged, 0) AS BIGINT) AS moved,
         | CAST(COALESCE(n_b, 0) - COALESCE(common, 0) AS BIGINT) AS added,
         | CAST(COALESCE(n_a, 0) - COALESCE(common, 0) AS BIGINT) AS removed
         |FROM na FULL OUTER JOIN nb ON na.doc_id = nb.doc_id
         | LEFT JOIN com ON com.doc_id = COALESCE(na.doc_id, nb.doc_id)
         | LEFT JOIN same_pos sp ON sp.doc_id = COALESCE(na.doc_id, nb.doc_id)
         |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h,
        | count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $MinhashCtes
         |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
         | CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
         |FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
         |WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_incremental" ->
      s"""WITH ${minhashBandsCte("(SELECT * FROM documents WHERE doc_id % 2 = 0) corpus_src", "c")},
         | ${minhashBandsCte("(SELECT * FROM documents WHERE doc_id % 2 = 1) batch_src", "n")},
         | cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
         |          FROM nbands a JOIN cbands b ON a.bk = b.bk),
         | nsizes AS (SELECT doc_id, count(*) AS n FROM nsh GROUP BY 1),
         | csizes AS (SELECT doc_id, count(*) AS n FROM csh GROUP BY 1),
         | inter AS (SELECT new_id, corpus_id, count(*) AS n_common
         |           FROM cand JOIN nsh sa ON sa.doc_id = new_id
         |                     JOIN csh sb ON sb.doc_id = corpus_id AND sb.sh = sa.sh
         |           GROUP BY 1, 2)
         |SELECT new_id, corpus_id, CAST(n_common AS BIGINT) AS n_common,
         | CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
         |FROM inter JOIN nsizes na ON na.doc_id = new_id JOIN csizes nb ON nb.doc_id = corpus_id
         |WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin,
    "dedup_clusters" -> DedupClustersOracle,
    "dedup_clusters_star" -> DedupClustersOracle,
    // Same recursive closure, then split = hash(keeper) — the oracle
    // re-proves the structural guarantee (split is a function of keep_id).
    "split_leakfree" ->
      s"""WITH RECURSIVE $DedupClusterCtes,
         | asg AS (SELECT d.doc_id, coalesce(c.keep_id, d.doc_id) AS keep_id
         |         FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id, keep_id,
         | CASE WHEN CAST('0x' || substring(md5(CAST(keep_id AS VARCHAR)), 1, 15) AS BIGINT)
         |        % 10 = 0 THEN 'test' ELSE 'train' END AS split
         |FROM asg ORDER BY doc_id""".stripMargin,
    // The cleaning composition re-derives each flag with the SAME oracle
    // fragments its standalone operators use (minhash closure, quality
    // formula, repetition ratio, shingle overlap), scoped to the even/odd
    // corpus/eval split.
    "corpus_clean" ->
      s"""WITH RECURSIVE corpus AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         | ${minhashCtes("corpus")},
         | prs AS (SELECT id_a, id_b
         |         FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
         |         WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.5),
         | e AS (SELECT id_a AS n, id_b AS m FROM prs UNION SELECT id_b, id_a FROM prs),
         | reach AS (SELECT n, m FROM e
         |           UNION
         |           SELECT r.n, e2.m FROM reach r JOIN e e2 ON r.m = e2.n),
         | comp AS (SELECT n AS doc_id, least(n, min(m)) AS keep_id FROM reach GROUP BY n),
         | dupf AS (SELECT d.doc_id, (d.doc_id <> coalesce(c.keep_id, d.doc_id)) AS is_dup
         |          FROM corpus d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         | st AS (SELECT doc_id,
         |        CAST(length(text) AS BIGINT) AS n_chars, CAST(len(w) AS BIGINT) AS n_words,
         |        CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
         |        CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt
         |        FROM wd JOIN corpus USING (doc_id)),
         | qd AS (SELECT doc_id, (stop_cnt / n_words) * 0.5
         |        + least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.3
         |        + (1.0 - punct_cnt / n_chars) * 0.2 AS quality FROM st),
         | gr AS (SELECT doc_id, CASE WHEN len(w) >= 3
         |          THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
         |          ELSE [] END AS grams FROM wd),
         | rp AS (SELECT doc_id, CASE WHEN len(grams) > 0
         |          THEN round(CAST(1 AS DOUBLE) - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
         |          ELSE 0.0 END AS rep_ratio FROM gr),
         | ${shinglesCte("(SELECT * FROM documents WHERE doc_id % 2 = 1)", "ev_")},
         | evset AS (SELECT DISTINCT sh FROM ev_sh),
         | cont AS (SELECT s.doc_id, count(*) AS n_common
         |          FROM sh s JOIN evset t2 ON s.sh = t2.sh GROUP BY 1)
         |SELECT d.doc_id, dupf.is_dup,
         | (qd.quality < 0.38) AS low_quality,
         | (rp.rep_ratio > 0.05) AS repetitive,
         | (coalesce(cont.n_common, 0) >= 20) AS contaminated,
         | (NOT dupf.is_dup AND NOT (qd.quality < 0.38) AND NOT (rp.rep_ratio > 0.05)
         |  AND NOT (coalesce(cont.n_common, 0) >= 20)) AS kept
         |FROM corpus d
         | JOIN dupf USING (doc_id) JOIN qd USING (doc_id) JOIN rp USING (doc_id)
         | LEFT JOIN cont USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "asof_join" -> AsofSql,
    // Same oracle for the custom-physical-operator formulation.
    "asof_join_native" -> AsofSql,
    // session_window semantics: events at MOST `gap` apart merge (an
    // exactly-gap pause still merges), window end = last event + gap. The
    // gap rule is the same `diff > gap` split the sessionize oracle proves
    // expressible; timestamps compare and format at µs on both sides.
    "session_minutes" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        | d AS (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts FROM e),
        | f AS (SELECT user_id, ts, CASE WHEN prev_ts IS NULL
        |   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_s FROM d),
        | g AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        | strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        | user_id, CAST(5 * count(*) AS BIGINT) AS minutes
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "running_minutes" ->
      """SELECT user_id, CAST(5 * count(*) AS BIGINT) AS minutes
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,
    "attribution_join" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS p_ts
        |           FROM events WHERE event_type = 'purchase'),
        | v AS (SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS v_ts
        |       FROM events WHERE event_type = 'view')
        |SELECT p.user_id AS user_id, purchase_id, view_id,
        | strftime(p_ts, '%Y-%m-%d %H:%M:%S.%f') AS p_ts,
        | strftime(v_ts, '%Y-%m-%d %H:%M:%S.%f') AS v_ts
        |FROM p JOIN v ON p.user_id = v.user_id
        | AND v_ts >= p_ts AND v_ts <= p_ts + INTERVAL 1 HOUR
        |ORDER BY purchase_id, view_id""".stripMargin,
    // The bloom prefilter must not change the join's answer.
    "bloom_prefilter_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_totalprice > 490000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Forced-shuffle A/B pair: one oracle, bloom result-invisible.
    "bloom_shuffle_join" -> ShuffleJoinSql,
    "shuffle_join_plain" -> ShuffleJoinSql,
    "hll_distinct_users" -> hllSql("user_id", Some(("event_type", "event_type"))),
    "hll_distinct_events" -> hllSql("event_id", None),
    "null_hll_distinct" -> hllSql("nuser", None, source =
      "(SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS nuser FROM events)"),
    // The streaming keyed-state sketch run as one batch: per-day register
    // folds must equal the declarative register aggregation.
    "hll_distinct_daily" -> hllSql("user_id",
      Some(("day", "CAST(CAST(ts AS DATE) AS VARCHAR)")), withExact = false),
    // KMV k-min selection + estimate replayed per day; the 150-user
    // fixture keeps every day below k, so this also pins the exact-regime
    // branch (estimate ≡ true distinct) — the ≥k regime is pinned by
    // kmv_corpus_overlap and KmvSpec.
    "kmv_distinct_daily" ->
      """WITH h AS (SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
        |           FROM events),
        | mk AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM h),
        | agg AS (SELECT day, count(*) AS n,
        |           max(CASE WHEN rn <= 256 THEN h END) AS hk FROM mk GROUP BY day)
        |SELECT day,
        | CASE WHEN n < 256 THEN CAST(n AS DOUBLE)
        |      ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(hk AS DOUBLE) END
        |   AS est_distinct
        |FROM agg ORDER BY day""".stripMargin,
    // hopping_minutes' definitional window expansion (an event belongs to
    // buckets b(t) and b(t)-12h) feeding hllSql's register arithmetic —
    // the oracle for the streaming keyed-state fold run as one batch.
    "hopping_hll_distinct" -> hllSql("user_id",
      Some(("wstart", "strftime(wstart, '%Y-%m-%d %H:%M:%S')")),
      withExact = false, source =
        """(SELECT to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP))/43200)*43200 AS BIGINT)) AS wstart, user_id FROM events
          | UNION ALL
          | SELECT to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP))/43200)*43200 - 43200 AS BIGINT)) AS wstart, user_id FROM events)""".stripMargin),
    // Register-merge rollup: cumulative max per register across days must
    // equal a from-scratch sketch of each prefix — same estimator tail as
    // hllSql, densified (day × register) grid, NULL prefixes dropped.
    "hll_running_daily" ->
      s"""WITH h AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id,
         |            CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         |           FROM events WHERE user_id IS NOT NULL),
         | b AS (SELECT day, h & ${Sketches.HllM - 1} AS idx, h >> ${Sketches.HllP} AS w FROM h),
         | rr AS (SELECT day, idx, max(CASE WHEN w = 0 THEN 52 ELSE 52 - length(bin(w)) END) AS r
         |        FROM b GROUP BY 1, 2),
         | dense AS (SELECT day, idx FROM (SELECT DISTINCT day FROM rr)
         |           CROSS JOIN (SELECT unnest(range(0, ${Sketches.HllM})) AS idx)),
         | cum AS (SELECT dense.day, dense.idx,
         |          max(rr.r) OVER (PARTITION BY dense.idx ORDER BY dense.day
         |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
         |         FROM dense LEFT JOIN rr ON rr.day = dense.day AND rr.idx = dense.idx),
         | pres AS (SELECT day, rm AS r FROM cum WHERE rm IS NOT NULL),
         | s AS (SELECT day, count(*) AS n_present, sum(CAST(1 AS BIGINT) << (52 - r)) AS s_present
         |       FROM pres GROUP BY 1),
         | e AS (SELECT day, s_present + (${Sketches.HllM} - n_present) * CAST(${Sketches.HllRegScale} AS BIGINT) AS sr,
         |       ${Sketches.HllM} - n_present AS v FROM s),
         | est AS (SELECT day, CAST('${Sketches.HllNumerator}' AS DOUBLE) / CAST(sr AS DOUBLE) AS raw, v FROM e),
         | fin AS (SELECT day, CASE WHEN raw <= CAST(${2.5 * Sketches.HllM} AS DOUBLE) AND v > 0
         |         THEN CAST(${Sketches.HllM} AS DOUBLE) * round(ln(CAST(${Sketches.HllM} AS DOUBLE) / CAST(v AS DOUBLE)), 6)
         |         ELSE raw END AS est FROM est),
         | fs AS (SELECT user_id, min(day) AS day FROM h GROUP BY 1),
         | nu AS (SELECT day, count(*) AS new_users FROM fs GROUP BY 1),
         | exd AS (SELECT d.day, sum(coalesce(nu.new_users, 0))
         |          OVER (ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_exact
         |         FROM (SELECT DISTINCT day FROM rr) d LEFT JOIN nu ON nu.day = d.day)
         |SELECT fin.day AS day, CAST(n_exact AS BIGINT) AS n_exact,
         | CAST(round(est) AS BIGINT) AS n_hll
         |FROM fin JOIN exd ON fin.day = exd.day ORDER BY day""".stripMargin,
    "versioned_skip_read" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS val_q
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_optimize_read" ->
      """SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS val_q
        |FROM events WHERE user_id BETWEEN 40 AND 49 AND CAST(ts AS DATE) = DATE '2024-01-10'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_delete_read" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-13' AND DATE '2024-01-15'
        |  AND NOT (event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-14')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_dv_read" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS val_q
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-13' AND DATE '2024-01-15'
        |  AND NOT (event_id % 97 = 0)
        |  AND NOT (event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-14')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_update_read" ->
      """WITH updated AS (
        | SELECT event_type, CAST(ts AS DATE) AS day,
        |  CASE WHEN event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-14'
        |       THEN value * 3 ELSE value END AS value
        | FROM events)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM updated
        |WHERE day BETWEEN DATE '2024-01-13' AND DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_restore_read" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-13' AND DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_diff_read" ->
      """WITH clicks AS (
        | SELECT value FROM events
        | WHERE event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-14')
        |SELECT 'delete' AS change, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM clicks
        |UNION ALL
        |SELECT 'insert' AS change, count(*) AS n,
        | CAST(sum(CAST(value * 3 AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM clicks
        |ORDER BY change""".stripMargin,
    "versioned_merge_read" ->
      """WITH merged AS (
        | SELECT event_type, CAST(ts AS DATE) AS day,
        |  CASE WHEN event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-14'
        |       THEN value * 2 ELSE value END AS value
        | FROM events
        | UNION ALL
        | SELECT 'synth', CAST(ts AS DATE) AS day, value
        | FROM events
        | WHERE CAST(ts AS DATE) = DATE '2024-01-14' AND event_type = 'purchase')
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM merged
        |WHERE day BETWEEN DATE '2024-01-13' AND DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_widen_read" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(floor(
        |   CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |        THEN CAST(CAST(value AS REAL) AS DOUBLE)
        |        ELSE value END * 1000) AS BIGINT)) AS BIGINT) AS val_q,
        | max(user_id) AS max_user
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_rename_read" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS val_q,
        | count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_bloom_read" ->
      """SELECT event_id, event_type, user_id,
        | CAST(floor(value * 1000) AS BIGINT) AS val_q
        |FROM events WHERE event_id = 42 ORDER BY event_id""".stripMargin,
    "versioned_cdf_read" -> CdfFeedSql,
    "versioned_cdf_sql" -> CdfFeedSql,
    "versioned_cdf_batch" -> CdfFeedSql,
    // The live CDF stream delivers the same feed the batch read computes.
    "versioned_cdf_stream" -> CdfFeedSql,
    "versioned_dsv2_read" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS val_q
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-20'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_count_meta" ->
      """SELECT
        | (SELECT count(*) FROM events
        |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-07' AND DATE '2024-01-09') AS n_aligned,
        | (SELECT count(*) FROM events
        |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-16') AS n_partial""".stripMargin,
    "versioned_cdc_read" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users
        |FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_cdc_stream" ->
      """SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_cdc_derived" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_val_q
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_agg_view" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        | count(*) AS n_rows,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_val_q
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "versioned_agg_view_dml" ->
      """WITH updated AS (
        | SELECT event_type, CAST(ts AS DATE) AS day,
        |  CASE WHEN event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-10'
        |       THEN value * 3 ELSE value END AS value
        | FROM events),
        |kept AS (
        | SELECT * FROM updated
        | WHERE NOT (event_type = 'view' AND day = DATE '2024-01-05'))
        |SELECT CAST(day AS VARCHAR) AS day, event_type,
        | count(*) AS n_rows,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS sum_val_q
        |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "versioned_drop_read" ->
      """SELECT event_id + 2000000000 AS event_id, user_id, event_type,
        | value, CAST(DATE '2024-01-31' AS VARCHAR) AS day
        |FROM events
        |WHERE CAST(ts AS DATE) = DATE '2024-01-01'
        |ORDER BY event_id""".stripMargin,
    "versioned_ts_read" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS val_q
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_sql_dml" ->
      """WITH edited AS (
        | SELECT event_type, CAST(ts AS DATE) AS day,
        |  CASE WHEN event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-15'
        |       THEN value * 3
        |       WHEN event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-14'
        |       THEN value * 2
        |       ELSE value END AS value
        | FROM events
        | WHERE NOT (event_type = 'click' AND CAST(ts AS DATE) = DATE '2024-01-13')
        | UNION ALL
        | SELECT 'synth' AS event_type, CAST(ts AS DATE) AS day, value
        | FROM events
        | WHERE CAST(ts AS DATE) = DATE '2024-01-14' AND event_type = 'purchase')
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM edited
        |WHERE day BETWEEN DATE '2024-01-13' AND DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_sql_merge" ->
      """WITH base AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
        |edited AS (
        | SELECT event_type, day,
        |  CASE WHEN event_type = 'click' AND day = DATE '2024-01-17'
        |       THEN value * 10 ELSE value END AS value
        | FROM base
        | WHERE NOT (event_type = 'click' AND day = DATE '2024-01-17'
        |            AND value < 0.5)
        | UNION ALL
        | SELECT 'synth2' AS event_type, day, value
        | FROM base
        | WHERE day = DATE '2024-01-16' AND event_type = 'view')
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM edited
        |WHERE day BETWEEN DATE '2024-01-16' AND DATE '2024-01-18'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_sql_merge_bysource" ->
      """WITH base AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
        |edited AS (
        | SELECT event_type, day,
        |  CASE WHEN event_type = 'click' AND day = DATE '2024-01-19'
        |       THEN value + 100
        |       WHEN event_type = 'view' AND day = DATE '2024-01-20'
        |       THEN value + 50
        |       ELSE value END AS value
        | FROM base
        | WHERE NOT (event_type = 'error' AND day = DATE '2024-01-20')
        | UNION ALL
        | SELECT 'synth4' AS event_type, day, CAST(NULL AS DOUBLE) AS value
        | FROM base
        | WHERE day = DATE '2024-01-21' AND event_type = 'purchase')
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM edited
        |WHERE day BETWEEN DATE '2024-01-19' AND DATE '2024-01-21'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "versioned_agg_view_wide" ->
      """WITH q AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
        |   CAST(floor(value * 1000) AS BIGINT) AS val_q,
        |   CAST(floor(value * 7) AS BIGINT) AS val_c
        |  FROM events)
        |SELECT day, event_type, count(*) AS n_rows,
        | CAST(sum(val_q) AS BIGINT) AS sum_val_q,
        | CAST(sum(val_c) AS BIGINT) AS sum_val_c,
        | min(val_q) AS min_val_q, max(val_q) AS max_val_q,
        | CAST(sum(val_q) AS DOUBLE) / count(*) AS avg_val_q
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "zorder_events" ->
      """WITH e AS (SELECT event_id, user_id,
        |   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day_num
        |   FROM events)
        |SELECT event_id,
        | CAST(list_sum([(((user_id >> j) & 1) << (2*j)) + (((day_num >> j) & 1) << (2*j + 1))
        |                for j in range(0, 31)]) AS BIGINT) AS zkey
        |FROM e ORDER BY event_id""".stripMargin,
    "cms_term_counts" ->
      s"""WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
         |              FROM documents),
         | th AS (SELECT CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h FROM toks),
         | cells AS (SELECT j, ((h & 1073741823) + j * (h >> 30)) % ${Sketches.CmsW} AS idx
         |        FROM th, generate_series(0, ${Sketches.CmsD - 1}) t(j)),
         | counters AS (SELECT j, idx, count(*) AS cnt FROM cells GROUP BY 1, 2),
         | q AS (SELECT term FROM (VALUES ('dup'), ('vector'), ('scan'), ('the')) v(term)),
         | qh AS (SELECT term, CAST('0x' || substring(md5(term), 1, 15) AS BIGINT) AS h FROM q),
         | probes AS (SELECT term, j, ((h & 1073741823) + j * (h >> 30)) % ${Sketches.CmsW} AS idx
         |        FROM qh, generate_series(0, ${Sketches.CmsD - 1}) t(j)),
         | est AS (SELECT term, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_count
         |         FROM probes LEFT JOIN counters USING (j, idx) GROUP BY 1),
         | ex AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact FROM toks
         |        WHERE term IN ('dup', 'vector', 'scan', 'the') GROUP BY 1)
         |SELECT est.term AS term, coalesce(n_exact, CAST(0 AS BIGINT)) AS n_exact, cms_count,
         | cms_count - coalesce(n_exact, CAST(0 AS BIGINT)) AS overcount
         |FROM est LEFT JOIN ex USING (term) ORDER BY term""".stripMargin,
    // heavy_hitters: the Spark side runs Misra–Gries candidates + exact
    // re-count; MG's superset guarantee + the exact integer filter make
    // the output EXACTLY "terms with count·(k+1) > N", which is what the
    // oracle computes directly (it has no bounded-memory constraint).
    "heavy_hitters" ->
      """WITH toks AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |              FROM documents),
        | tot AS (SELECT count(*) AS n FROM toks)
        |SELECT term, CAST(count(*) AS BIGINT) AS n_exact,
        |       CAST(count(*) AS DOUBLE) / CAST(n AS DOUBLE) AS share
        |FROM toks, tot GROUP BY term, n HAVING count(*) * 33 > n
        |ORDER BY n_exact DESC, term""".stripMargin,
    // null_* oracles: same algorithms as their green siblings, over the
    // NULL-seeded events view. arg_max carries the value inside a struct —
    // see nulledEvents for why (DuckDB arg_max skips NULL values; Spark
    // max_by is row-faithful).
    "null_asof_join" ->
      """WITH ne AS (SELECT user_id, event_id, ts, event_type,
        |   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value FROM events),
        | l AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
        |       FROM ne WHERE event_type = 'view'),
        | r AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |        (arg_max({'v': value}, event_id)).v AS pval
        |       FROM ne WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, r.pval AS last_purchase_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin,
    "null_group_rank" ->
      """WITH ne AS (SELECT CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_type END AS grp,
        |   event_id,
        |   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value FROM events),
        | r AS (SELECT grp, event_id, value,
        |        CAST(row_number() OVER (PARTITION BY grp
        |          ORDER BY value DESC NULLS LAST, event_id) AS BIGINT) AS rnk FROM ne)
        |SELECT grp, event_id, value, rnk FROM r WHERE rnk <= 5
        |ORDER BY grp NULLS FIRST, rnk""".stripMargin,
    "null_state_merge" ->
      """WITH ne AS (SELECT user_id, event_id, ts,
        |   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value FROM events),
        | snap AS (SELECT CAST(ts AS DATE) AS day, user_id,
        |           (arg_max({'v': value}, event_id)).v AS value FROM ne GROUP BY 1, 2),
        | mx AS (SELECT max(day) AS end_day FROM snap),
        | t AS (SELECT user_id AS uid_t, value AS v_today FROM snap, mx WHERE day = end_day),
        | y AS (SELECT user_id AS uid_y, value AS v_yesterday FROM snap, mx WHERE day = end_day - 1)
        |SELECT coalesce(uid_t, uid_y) AS user_id,
        | coalesce(v_today, v_yesterday) AS value,
        | CASE WHEN uid_t IS NOT NULL AND uid_y IS NOT NULL THEN 'updated'
        |      WHEN uid_t IS NOT NULL THEN 'new' ELSE 'carried' END AS status
        |FROM t FULL JOIN y ON uid_t = uid_y ORDER BY user_id""".stripMargin,
    "dup_spans" ->
      s"""WITH $DupSpanCtes
         |SELECT doc_id, span_start, span_end, span_grams
         |FROM dspan ORDER BY doc_id, span_start""".stripMargin,
    "dup_profile" ->
      s"""WITH $DupSpanCtes,
         | prof AS (SELECT doc_id, count(*) AS n_spans,
         |            CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tokens,
         |            max(span_grams) AS longest_span_grams
         |          FROM dspan GROUP BY doc_id)
         |SELECT w.doc_id,
         | COALESCE(n_spans, 0) AS n_spans,
         | COALESCE(dup_tokens, 0) AS dup_tokens,
         | COALESCE(longest_span_grams, 0) AS longest_span_grams,
         | CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / CAST(len(w.w) AS DOUBLE) AS dup_ratio
         |FROM dwd w LEFT JOIN prof USING (doc_id) ORDER BY w.doc_id""".stripMargin,
    "corpus_excised" ->
      s"""WITH $DupSpanCtes,
         | tok AS (SELECT doc_id, unnest(range(0, len(w))) AS pos, w FROM dwd),
         | tok2 AS (SELECT doc_id, pos, w[pos+1] AS tok FROM tok),
         | keep AS (SELECT t.doc_id, t.pos, t.tok FROM tok2 t
         |          WHERE NOT EXISTS (SELECT 1 FROM dspan s
         |                            WHERE s.doc_id = t.doc_id
         |                              AND t.pos BETWEEN s.span_start AND s.span_end)),
         | kag AS (SELECT doc_id, count(*) AS n_kept,
         |           string_agg(tok, ' ' ORDER BY pos) AS txt
         |         FROM keep GROUP BY doc_id)
         |SELECT w.doc_id, COALESCE(n_kept, 0) AS n_kept,
         | md5(COALESCE(txt, '')) AS clean_md5
         |FROM dwd w LEFT JOIN kag USING (doc_id) ORDER BY w.doc_id""".stripMargin,
    "corpus_excised_keepone" ->
      s"""WITH $DupSpanCtes,
         | spf AS (SELECT s.doc_id, s.span_start, s.span_end,
         |           md5(array_to_string(list_slice(d.w, s.span_start + 1, s.span_end + 1), ' ')) AS fp
         |         FROM dspan s JOIN dwd d USING (doc_id)),
         | own AS (SELECT fp, min(doc_id) AS own_doc FROM spf GROUP BY fp),
         | own2 AS (SELECT p.fp, o.own_doc, min(p.span_start) AS own_start
         |          FROM spf p JOIN own o ON p.fp = o.fp AND p.doc_id = o.own_doc
         |          GROUP BY 1, 2),
         | exc AS (SELECT p.doc_id, p.span_start, p.span_end
         |         FROM spf p JOIN own2 o USING (fp)
         |         WHERE NOT (p.doc_id = o.own_doc AND p.span_start = o.own_start)),
         | tok AS (SELECT doc_id, unnest(range(0, len(w))) AS pos, w FROM dwd),
         | tok2 AS (SELECT doc_id, pos, w[pos+1] AS tok FROM tok),
         | keep AS (SELECT t.doc_id, t.pos, t.tok FROM tok2 t
         |          WHERE NOT EXISTS (SELECT 1 FROM exc s
         |                            WHERE s.doc_id = t.doc_id
         |                              AND t.pos BETWEEN s.span_start AND s.span_end)),
         | kag AS (SELECT doc_id, count(*) AS n_kept,
         |           string_agg(tok, ' ' ORDER BY pos) AS txt
         |         FROM keep GROUP BY doc_id)
         |SELECT w.doc_id, COALESCE(n_kept, 0) AS n_kept,
         | md5(COALESCE(txt, '')) AS clean_md5
         |FROM dwd w LEFT JOIN kag USING (doc_id) ORDER BY w.doc_id""".stripMargin,
    // KMV set algebra, replayed end-to-end: DuckDB rebuilds both k-min-hash
    // sketches (row_number over the distinct 60-bit hashes), θ from the
    // merged sketch, the sampled intersection count, and the SAME
    // IEEE-ordered estimate arithmetic — a probabilistic estimator under a
    // bit-exact hash gate, like the LSH/IVF indexes before it.
    "kmv_corpus_overlap" ->
      s"""WITH $ShinglesCte,
         | sd AS (SELECT CAST(substr(d.source, 4, 10) AS INT) < 10 AS is_a, s.sh AS v
         |        FROM sh s JOIN documents d USING (doc_id)),
         | ex AS (SELECT v, max(is_a) AS in_a, max(NOT is_a) AS in_b FROM sd GROUP BY v),
         | exagg AS (SELECT count(*) FILTER (WHERE in_a) AS exact_a,
         |             count(*) FILTER (WHERE in_b) AS exact_b,
         |             count(*) AS exact_union,
         |             count(*) FILTER (WHERE in_a AND in_b) AS exact_inter FROM ex),
         | hh AS (SELECT DISTINCT is_a, CAST('0x' || substr(md5(v), 1, 15) AS BIGINT) AS h FROM sd),
         | mk AS (SELECT is_a, h, row_number() OVER (PARTITION BY is_a ORDER BY h) AS rn FROM hh),
         | ka AS (SELECT h FROM mk WHERE is_a AND rn <= 256),
         | kb AS (SELECT h FROM mk WHERE NOT is_a AND rn <= 256),
         | sa AS (SELECT max(h) AS hk, count(*) AS n FROM ka),
         | sb AS (SELECT max(h) AS hk, count(*) AS n FROM kb),
         | un AS (SELECT h, row_number() OVER (ORDER BY h) AS rn
         |        FROM (SELECT h FROM ka UNION SELECT h FROM kb) q),
         | uagg AS (SELECT count(*) AS nu FROM un),
         | th AS (SELECT CASE WHEN (SELECT nu FROM uagg) < 256 THEN 9223372036854775807
         |               ELSE (SELECT h FROM un WHERE rn = 256) END AS theta),
         | cc AS (SELECT count(*) AS c FROM ka JOIN kb USING (h) CROSS JOIN th WHERE h < theta),
         | es AS (SELECT
         |   CASE WHEN sa.n < 256 THEN CAST(sa.n AS DOUBLE)
         |        ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(sa.hk AS DOUBLE) END AS est_a,
         |   CASE WHEN sb.n < 256 THEN CAST(sb.n AS DOUBLE)
         |        ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(sb.hk AS DOUBLE) END AS est_b,
         |   CASE WHEN uagg.nu < 256 THEN CAST(uagg.nu AS DOUBLE)
         |        ELSE 255.0 * CAST(1152921504606846976 AS DOUBLE) / CAST(th.theta AS DOUBLE) END AS est_union,
         |   CASE WHEN uagg.nu < 256 THEN CAST(cc.c AS DOUBLE)
         |        ELSE CAST(cc.c AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) / CAST(th.theta AS DOUBLE) END AS est_inter,
         |   CASE WHEN uagg.nu < 256 THEN CAST(cc.c AS DOUBLE) / CAST(uagg.nu AS DOUBLE)
         |        ELSE CAST(cc.c AS DOUBLE) / 255.0 END AS est_jaccard,
         |   exact_a, exact_b, exact_union, exact_inter
         |  FROM exagg, sa, sb, uagg, th, cc)
         |SELECT est_a, est_b, est_union, est_inter, est_jaccard,
         | exact_a, exact_b, exact_union, exact_inter,
         | (abs(est_a - exact_a) <= (4.0 / sqrt(254.0)) * exact_a
         |  AND abs(est_b - exact_b) <= (4.0 / sqrt(254.0)) * exact_b
         |  AND abs(est_union - exact_union) <= (4.0 / sqrt(254.0)) * exact_union
         |  AND abs(est_inter - exact_inter) <=
         |    (4.0 * sqrt(est_jaccard * (1.0 - est_jaccard) / 256.0) + 0.02) * exact_union)
         |  AS within_bound
         |FROM es""".stripMargin,
    "ngram_jaccard_top" ->
      // The df>100 hot-shingle cap mirrors Dedup.ngramJaccardTop exactly:
      // sizes AND intersections are both over the capped shingle set.
      s"""WITH $ShinglesCte,
         | hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
         | shc AS (SELECT s.doc_id, s.sh FROM sh s ANTI JOIN hot h ON s.sh = h.sh),
         | sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
         | inter AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS n_common
         |           FROM shc sa JOIN shc sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
         |           GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
         | CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
         |FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
         |ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin,
    // The naive all-shingle-pairs join IS the oracle: prefix filtering must
    // reproduce the full threshold join exactly (completeness, not recall).
    // Same shingle sets and threshold as dedup_minhash — the exact join is
    // the ground truth its LSH sibling approximates.
    "setjoin_pairs" ->
      s"""WITH $ShinglesCte,
         | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         | inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
         |           FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
         | CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
         |FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
         |WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    // Incremental exact join: the same naive threshold join, restricted
    // to batch(odd) × corpus(even) pairs — the result the pruned
    // incremental path must reproduce verbatim (it's exact).
    "setjoin_incremental" ->
      s"""WITH $ShinglesCte,
         | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         | inter AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS n_common
         |           FROM sh a JOIN sh b ON a.sh = b.sh
         |              AND a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 GROUP BY 1, 2)
         |SELECT new_id, corpus_id, CAST(n_common AS BIGINT) AS n_common,
         | CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
         |FROM inter JOIN sizes na ON na.doc_id = new_id JOIN sizes nb ON nb.doc_id = corpus_id
         |WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.5
         |ORDER BY new_id, corpus_id""".stripMargin,
    "simhash" ->
      s"""WITH $SimhashCte
         |SELECT sb.doc_id AS doc_id, CAST(simhash AS BIGINT) AS simhash, CAST(n.n_words AS BIGINT) AS n_words
         |FROM sb JOIN n ON sb.doc_id = n.doc_id ORDER BY sb.doc_id""".stripMargin,
    "simhash_pairs" ->
      s"""WITH $SimhashCte,
         | sbands AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS key
         |            FROM sb, generate_series(0, 3) t(b))
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sbands a JOIN sbands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
         |ORDER BY id_a, id_b""".stripMargin,
    // BM25 mirrors the engine's arithmetic textually: ln() rounded to 6 dp
    // immediately (the only libm call), every later op pure IEEE in the
    // same order, per-term scores quantized to BIGINT before the per-doc
    // sum (order-independent exact aggregation). DECIMAL-literal trap:
    // DuckDB numeric literals are DECIMAL, so every divisor/operand is
    // CAST to DOUBLE explicitly.
    "bm25_topk" -> Bm25Sql,
    // RRF fusion: both legs re-derived exactly as their own oracles rank
    // them (lexical ties broken on the ROUNDED score like the leg's
    // output ordering), fused by the fixed two-term reciprocal-rank sum.
    "hybrid_search_rrf" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |              FROM documents),
        | dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        | corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |        WHERE term IN ('dup', 'vector', 'scan') GROUP BY 1, 2),
        | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        | sc AS (SELECT tf.doc_id,
        |        round(ln((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5) + 1.0), 6) AS idf,
        |        tf.tf, dl.dl, corpus.avgdl
        |        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus),
        | st AS (SELECT doc_id,
        |        CAST(round(idf * (CAST(tf AS DOUBLE) * 2.2) /
        |             (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
        |             * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS score_q
        |        FROM sc),
        | lexagg AS (SELECT doc_id, sum(score_q) AS score_q FROM st GROUP BY 1
        |            ORDER BY score_q DESC, doc_id LIMIT 20),
        | lex AS (SELECT doc_id, CAST(row_number() OVER (
        |           ORDER BY round(CAST(score_q AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) DESC,
        |           doc_id) AS BIGINT) AS rank_lex
        |         FROM lexagg),
        | e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | q AS (SELECT e AS qe FROM e WHERE vec_id = 0),
        | s AS (SELECT c.vec_id AS cid, round(list_cosine_similarity(qe, c.e), 6) AS cos_sim
        |       FROM e c, q WHERE c.vec_id != 0),
        | sem AS (SELECT cid AS doc_id, CAST(row_number() OVER (ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank_sem
        |         FROM s ORDER BY cos_sim DESC, cid LIMIT 20),
        | fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem,
        |           COALESCE(1.0 / (60.0 + CAST(rank_lex AS DOUBLE)), 0.0)
        |             + COALESCE(1.0 / (60.0 + CAST(rank_sem AS DOUBLE)), 0.0) AS rrf_raw
        |           FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
        | top AS (SELECT doc_id, rank_lex, rank_sem, round(rrf_raw, 6) AS rrf FROM fused
        |         ORDER BY rrf_raw DESC, doc_id LIMIT 10)
        |SELECT doc_id, rank_lex, rank_sem, rrf FROM top ORDER BY rrf DESC, doc_id""".stripMargin,
    // The stored-posting-table variant must give the recompute answer.
    "bm25_postings" -> Bm25Sql,
    "tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |              FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        | n AS (SELECT count(*) AS n_docs FROM documents),
        | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        | sc AS (SELECT doc_id, term, tf,
        |        CAST(round(CAST(tf AS DOUBLE) *
        |             round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) *
        |             CAST(1000000 AS DOUBLE)) AS BIGINT) AS score_q
        |        FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        | r AS (SELECT doc_id, term, tf, score_q,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, term) AS BIGINT) AS rank
        |       FROM sc)
        |SELECT doc_id, rank, term, tf,
        | round(CAST(score_q AS DOUBLE) / CAST(1000000 AS DOUBLE), 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "cosine_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | q AS (SELECT vec_id AS qid, e AS qe FROM e WHERE vec_id < 10),
        | c AS (SELECT vec_id AS cid, e AS ce FROM e),
        | s AS (SELECT qid, cid, round(list_cosine_similarity(qe, ce), 6) AS cos_sim
        |       FROM q, c WHERE cid != qid),
        | r AS (SELECT qid, cid, cos_sim,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
        |       FROM s)
        |SELECT qid, cid, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "cosine_topk_int8" ->
      // Quantize/dequantize arithmetic mirrors PackInt8/UnpackInt8 exactly:
      // q = round(x / scale * 127) half-away-from-zero, dq = (q * scale) / 127.
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        | sc AS (SELECT vec_id, e, list_max([abs(x) for x in e]) AS scale FROM e0),
        | dq AS (SELECT vec_id,
        |        [CASE WHEN scale = 0 THEN 0.0
        |              ELSE (round(x / scale * 127) * scale) / 127 END for x in e] AS e
        |        FROM sc),
        | q AS (SELECT vec_id AS qid, e AS qe FROM dq WHERE vec_id < 10),
        | c AS (SELECT vec_id AS cid, e AS ce FROM dq),
        | s AS (SELECT qid, cid, round(list_cosine_similarity(qe, ce), 6) AS cos_sim
        |       FROM q, c WHERE cid != qid),
        | r AS (SELECT qid, cid, cos_sim,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
        |       FROM s)
        |SELECT qid, cid, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // The LSH family is fully deterministic (md5-derived ±1 planes +
    // quantized bucketing + 6-dp rounded scores), so even the approximate
    // index gets a hard hash oracle: DuckDB reproduces the bucket bits
    // exactly from plane literals generated by the same Similarity.planes
    // function the Spark expression uses.
    "ann_lsh" ->
      s"""WITH $LshBucketCte,
         | cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |          FROM bkt q JOIN bkt c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         | s AS (SELECT qid, cid, round(list_cosine_similarity(qe.e, ce.e), 6) AS cos_sim
         |       FROM cand JOIN emb qe ON qe.vec_id = qid JOIN emb ce ON ce.vec_id = cid),
         | r AS (SELECT qid, cid, cos_sim,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
         |       FROM s)
         |SELECT qid, cid, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "ann_recall" ->
      s"""WITH $LshBucketCte,
         | cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |          FROM bkt q JOIN bkt c ON q.tbl = c.tbl AND q.bucket = c.bucket
         |          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         | s AS (SELECT qid, cid, round(list_cosine_similarity(qe.e, ce.e), 6) AS cos_sim
         |       FROM cand JOIN emb qe ON qe.vec_id = qid JOIN emb ce ON ce.vec_id = cid),
         | r AS (SELECT qid, cid,
         |       row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM s),
         | ann AS (SELECT qid AS aqid, cid AS acid FROM r WHERE rank <= 5),
         | ts AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |        round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
         |        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
         | tr AS (SELECT qid, cid,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM ts),
         | truth AS (SELECT qid, cid FROM tr WHERE rank <= 5)
         |SELECT t.qid, CAST(count(a.acid) AS BIGINT) AS n_hit,
         |       CAST(count(a.acid) AS DOUBLE) / 5 AS recall
         |FROM truth t LEFT JOIN ann a ON a.aqid = t.qid AND a.acid = t.cid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,
    // IVF is deterministic end-to-end: seeds + one Lloyd step over
    // QUANTIZED vectors (integer sums are exact and order-independent),
    // re-quantized centroids, exact integer distance comparisons — so the
    // approximate index hash-matches across engines.
    "ann_ivf" ->
      s"""WITH $IvfCte,
         | pr AS (SELECT qid, qe, cluster FROM (
         |        SELECT z.vec_id AS qid, z.e AS qe, s.cluster,
         |               row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |                 list_inner_product(z.q, z.q) - 2 * list_inner_product(z.q, s.c)
         |                 + list_inner_product(s.c, s.c), s.cluster) AS rn
         |        FROM qz z CROSS JOIN cents s WHERE z.vec_id < 10) t WHERE rn <= 4),
         | sc AS (SELECT qid, a.vec_id AS cid,
         |        round(list_cosine_similarity(qe, a.e), 6) AS cos_sim
         |        FROM pr JOIN asg a ON a.cluster = pr.cluster AND a.vec_id <> qid),
         | r AS (SELECT qid, cid, cos_sim,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
         |       FROM sc)
         |SELECT qid, cid, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // Cluster-balanced sample: the same deterministic IVF assignment
    // chain, then a per-cluster md5-ordered row_number cap.
    "sample_cluster_balanced" ->
      s"""WITH $IvfCte,
         | h AS (SELECT vec_id, cluster, md5('cb' || ':' || vec_id) AS h FROM asg),
         | r AS (SELECT cluster, vec_id,
         |   CAST(row_number() OVER (PARTITION BY cluster ORDER BY h, vec_id) AS BIGINT) AS rn
         |   FROM h)
         |SELECT CAST(cluster AS BIGINT) AS cluster, rn, vec_id
         |FROM r WHERE rn <= 20 ORDER BY cluster, rn""".stripMargin,
    // The filtered variant: same deterministic probe replay, with the
    // label predicate restricting candidates (the pre/post distinction is
    // Spark-side cost shape; the result set is identical either way
    // because cell choice depends only on the query).
    "ann_ivf_filtered" ->
      s"""WITH $IvfCte,
         | pr AS (SELECT qid, qe, cluster FROM (
         |        SELECT z.vec_id AS qid, z.e AS qe, s.cluster,
         |               row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |                 list_inner_product(z.q, z.q) - 2 * list_inner_product(z.q, s.c)
         |                 + list_inner_product(s.c, s.c), s.cluster) AS rn
         |        FROM qz z CROSS JOIN cents s WHERE z.vec_id < 10) t WHERE rn <= 4),
         | sc AS (SELECT qid, a.vec_id AS cid,
         |        round(list_cosine_similarity(qe, a.e), 6) AS cos_sim
         |        FROM pr JOIN asg a ON a.cluster = pr.cluster AND a.vec_id <> qid
         |                JOIN embeddings lb ON lb.vec_id = a.vec_id AND lb.label = 1),
         | r AS (SELECT qid, cid, cos_sim,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
         |       FROM sc)
         |SELECT qid, cid, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // Tight-filter replay: m = matching-vector count, nprobe widened to
    // least(nlist, greatest(4, ceil(3*k*nlist/m))) — the same exact
    // integers the engine computes, so the adaptive width replays.
    "ann_ivf_filtered_tight" ->
      s"""WITH $IvfCte,
         | keepv AS (SELECT vec_id FROM embeddings WHERE vec_id % 100 = 7),
         | np AS (SELECT least(16, greatest(4, (240 + count(*) - 1) // count(*))) AS np FROM keepv),
         | pr AS (SELECT qid, qe, cluster FROM (
         |        SELECT z.vec_id AS qid, z.e AS qe, s.cluster,
         |               row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |                 list_inner_product(z.q, z.q) - 2 * list_inner_product(z.q, s.c)
         |                 + list_inner_product(s.c, s.c), s.cluster) AS rn
         |        FROM qz z CROSS JOIN cents s WHERE z.vec_id < 10) t, np WHERE rn <= np.np),
         | sc AS (SELECT qid, a.vec_id AS cid,
         |        round(list_cosine_similarity(qe, a.e), 6) AS cos_sim
         |        FROM pr JOIN asg a ON a.cluster = pr.cluster AND a.vec_id <> qid
         |                JOIN keepv kb ON kb.vec_id = a.vec_id),
         | r AS (SELECT qid, cid, cos_sim,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
         |       FROM sc)
         |SELECT qid, cid, cos_sim, rank FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // Tight-filter recall: denominator = per-query truth size (a ~1%
    // slice can hold fewer than k candidates; dividing by k would cap a
    // perfect index below 1).
    "ivf_filtered_recall_tight" ->
      s"""WITH $IvfCte,
         | keepv AS (SELECT vec_id FROM embeddings WHERE vec_id % 100 = 7),
         | np AS (SELECT least(16, greatest(4, (240 + count(*) - 1) // count(*))) AS np FROM keepv),
         | pr AS (SELECT qid, qe, cluster FROM (
         |        SELECT z.vec_id AS qid, z.e AS qe, s.cluster,
         |               row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |                 list_inner_product(z.q, z.q) - 2 * list_inner_product(z.q, s.c)
         |                 + list_inner_product(s.c, s.c), s.cluster) AS rn
         |        FROM qz z CROSS JOIN cents s WHERE z.vec_id < 10) t, np WHERE rn <= np.np),
         | sc AS (SELECT qid, a.vec_id AS cid,
         |        round(list_cosine_similarity(qe, a.e), 6) AS cos_sim
         |        FROM pr JOIN asg a ON a.cluster = pr.cluster AND a.vec_id <> qid
         |                JOIN keepv kb ON kb.vec_id = a.vec_id),
         | r AS (SELECT qid, cid,
         |       row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM sc),
         | ann AS (SELECT qid AS aqid, cid AS acid FROM r WHERE rank <= 5),
         | ts AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |        round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
         |        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
         |             JOIN keepv kb ON kb.vec_id = c.vec_id
         |        WHERE q.vec_id < 10),
         | tr AS (SELECT qid, cid,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM ts),
         | truth AS (SELECT qid, cid FROM tr WHERE rank <= 5)
         |SELECT t2.qid, CAST(count(a.acid) AS BIGINT) AS n_hit,
         |       CAST(count(*) AS BIGINT) AS n_truth,
         |       round(CAST(count(a.acid) AS DOUBLE) / count(*), 6) AS recall
         |FROM truth t2 LEFT JOIN ann a ON a.aqid = t2.qid AND a.acid = t2.cid
         |GROUP BY t2.qid ORDER BY t2.qid""".stripMargin,
    "ann_pq" ->
      s"""WITH $PqCte
         |SELECT qid, cid, adc_dist, rank FROM pqr WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "pq_recall" ->
      s"""WITH $PqCte,
         | ann AS (SELECT qid AS aqid, cid AS acid FROM pqr WHERE rank <= 5),
         | ts AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |        round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
         |        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
         | tr AS (SELECT qid, cid,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM ts),
         | truth AS (SELECT qid, cid FROM tr WHERE rank <= 5)
         |SELECT t2.qid, CAST(count(a.acid) AS BIGINT) AS n_hit,
         |       CAST(count(a.acid) AS DOUBLE) / 5 AS recall
         |FROM truth t2 LEFT JOIN ann a ON a.aqid = t2.qid AND a.acid = t2.cid
         |GROUP BY t2.qid ORDER BY t2.qid""".stripMargin,
    "ann_pq_rerank" ->
      s"""WITH $PqCte,
         | short AS (SELECT qid, cid FROM pqr WHERE rank <= 50),
         | sc AS (SELECT qid, cid,
         |        round(list_cosine_similarity(qe.e, ce.e), 6) AS cos_sim
         |        FROM short JOIN emb qe ON qe.vec_id = qid JOIN emb ce ON ce.vec_id = cid),
         | rr AS (SELECT qid, cid, cos_sim,
         |       CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS BIGINT) AS rank
         |       FROM sc)
         |SELECT qid, cid, cos_sim, rank FROM rr WHERE rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    "pq_rerank_recall" ->
      s"""WITH $PqCte,
         | short AS (SELECT qid, cid FROM pqr WHERE rank <= 50),
         | sc AS (SELECT qid, cid,
         |        round(list_cosine_similarity(qe.e, ce.e), 6) AS cos_sim
         |        FROM short JOIN emb qe ON qe.vec_id = qid JOIN emb ce ON ce.vec_id = cid),
         | rr AS (SELECT qid, cid,
         |       row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM sc),
         | ann AS (SELECT qid AS aqid, cid AS acid FROM rr WHERE rank <= 5),
         | ts AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |        round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
         |        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
         | tr AS (SELECT qid, cid,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM ts),
         | truth AS (SELECT qid, cid FROM tr WHERE rank <= 5)
         |SELECT t2.qid, CAST(count(a.acid) AS BIGINT) AS n_hit,
         |       CAST(count(a.acid) AS DOUBLE) / 5 AS recall
         |FROM truth t2 LEFT JOIN ann a ON a.aqid = t2.qid AND a.acid = t2.cid
         |GROUP BY t2.qid ORDER BY t2.qid""".stripMargin,
    "ivf_recall" ->
      s"""WITH $IvfCte,
         | pr AS (SELECT qid, qe, cluster FROM (
         |        SELECT z.vec_id AS qid, z.e AS qe, s.cluster,
         |               row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |                 list_inner_product(z.q, z.q) - 2 * list_inner_product(z.q, s.c)
         |                 + list_inner_product(s.c, s.c), s.cluster) AS rn
         |        FROM qz z CROSS JOIN cents s WHERE z.vec_id < 10) t WHERE rn <= 4),
         | sc AS (SELECT qid, a.vec_id AS cid,
         |        round(list_cosine_similarity(qe, a.e), 6) AS cos_sim
         |        FROM pr JOIN asg a ON a.cluster = pr.cluster AND a.vec_id <> qid),
         | r AS (SELECT qid, cid,
         |       row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM sc),
         | ann AS (SELECT qid AS aqid, cid AS acid FROM r WHERE rank <= 5),
         | ts AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |        round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
         |        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id WHERE q.vec_id < 10),
         | tr AS (SELECT qid, cid,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM ts),
         | truth AS (SELECT qid, cid FROM tr WHERE rank <= 5)
         |SELECT t2.qid, CAST(count(a.acid) AS BIGINT) AS n_hit,
         |       CAST(count(a.acid) AS DOUBLE) / 5 AS recall
         |FROM truth t2 LEFT JOIN ann a ON a.aqid = t2.qid AND a.acid = t2.cid
         |GROUP BY t2.qid ORDER BY t2.qid""".stripMargin,
    // Filtered-index recall: BOTH sides restricted to label=1 candidates
    // — against unfiltered truth a perfect filtered index would score 0
    // whenever the global neighbors carry other labels.
    "ivf_filtered_recall" ->
      s"""WITH $IvfCte,
         | pr AS (SELECT qid, qe, cluster FROM (
         |        SELECT z.vec_id AS qid, z.e AS qe, s.cluster,
         |               row_number() OVER (PARTITION BY z.vec_id ORDER BY
         |                 list_inner_product(z.q, z.q) - 2 * list_inner_product(z.q, s.c)
         |                 + list_inner_product(s.c, s.c), s.cluster) AS rn
         |        FROM qz z CROSS JOIN cents s WHERE z.vec_id < 10) t WHERE rn <= 4),
         | sc AS (SELECT qid, a.vec_id AS cid,
         |        round(list_cosine_similarity(qe, a.e), 6) AS cos_sim
         |        FROM pr JOIN asg a ON a.cluster = pr.cluster AND a.vec_id <> qid
         |                JOIN embeddings lb ON lb.vec_id = a.vec_id AND lb.label = 1),
         | r AS (SELECT qid, cid,
         |       row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM sc),
         | ann AS (SELECT qid AS aqid, cid AS acid FROM r WHERE rank <= 5),
         | ts AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |        round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim
         |        FROM emb q JOIN emb c ON c.vec_id <> q.vec_id
         |             JOIN embeddings lb ON lb.vec_id = c.vec_id AND lb.label = 1
         |        WHERE q.vec_id < 10),
         | tr AS (SELECT qid, cid,
         |        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, cid) AS rank FROM ts),
         | truth AS (SELECT qid, cid FROM tr WHERE rank <= 5)
         |SELECT t2.qid, CAST(count(a.acid) AS BIGINT) AS n_hit,
         |       CAST(count(a.acid) AS DOUBLE) / 5 AS recall
         |FROM truth t2 LEFT JOIN ann a ON a.aqid = t2.qid AND a.acid = t2.cid
         |GROUP BY t2.qid ORDER BY t2.qid""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH $LshBucketCte,
         | cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |          FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |                                AND a.vec_id < b.vec_id),
         | s AS (SELECT id_a, id_b, round(list_cosine_similarity(ae.e, be.e), 6) AS cos_sim
         |       FROM cand JOIN emb ae ON ae.vec_id = id_a JOIN emb be ON be.vec_id = id_b)
         |SELECT id_a, id_b, cos_sim FROM s WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    // Same LSH pairs, closed transitively — the semantic dedup decision.
    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE $LshBucketCte,
         | cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |          FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |                                AND a.vec_id < b.vec_id),
         | prs AS (SELECT id_a, id_b
         |         FROM cand JOIN emb ae ON ae.vec_id = id_a JOIN emb be ON be.vec_id = id_b
         |         WHERE round(list_cosine_similarity(ae.e, be.e), 6) >= 0.4),
         | eg AS (SELECT id_a AS n, id_b AS m FROM prs UNION SELECT id_b, id_a FROM prs),
         | reach AS (SELECT n, m FROM eg
         |           UNION
         |           SELECT r.n, e2.m FROM reach r JOIN eg e2 ON r.m = e2.n),
         | comp AS (SELECT n AS vec_id, least(n, min(m)) AS keep_id FROM reach GROUP BY n)
         |SELECT em.vec_id AS vec_id, coalesce(c.keep_id, em.vec_id) AS keep_id,
         | (em.vec_id <> coalesce(c.keep_id, em.vec_id)) AS is_dup
         |FROM embeddings em LEFT JOIN comp c ON c.vec_id = em.vec_id
         |ORDER BY em.vec_id""".stripMargin,
    "neardup_recall" ->
      s"""WITH $LshBucketCte,
         | truth AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |           FROM emb a JOIN emb b ON a.vec_id < b.vec_id
         |           WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4),
         | cand AS (SELECT DISTINCT a.vec_id AS fa, b.vec_id AS fb
         |          FROM bkt a JOIN bkt b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |                                AND a.vec_id < b.vec_id),
         | found AS (SELECT fa, fb FROM cand JOIN emb ae ON ae.vec_id = fa
         |           JOIN emb be ON be.vec_id = fb
         |           WHERE round(list_cosine_similarity(ae.e, be.e), 6) >= 0.4)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         | CAST(count(f.fa) AS BIGINT) AS n_found,
         | round(CAST(count(f.fa) AS DOUBLE) / count(*), 6) AS recall
         |FROM truth t LEFT JOIN found f ON f.fa = t.id_a AND f.fb = t.id_b""".stripMargin,
    "multimodal_decode" ->
      """WITH ch AS (SELECT doc_id, unnest([ascii(substr(text, i, 1))
        |                                   for i in range(1, length(text) + 1)]) AS c
        |            FROM documents),
        | agg AS (SELECT doc_id, count(*) AS n_bytes, sum(c) % 997 AS checksum FROM ch GROUP BY 1)
        |SELECT d.doc_id AS doc_id, CAST(agg.n_bytes AS BIGINT) AS n_bytes,
        | CAST(ascii(substr(d.text, 1, 1)) AS BIGINT) AS head_byte,
        | CAST(ascii(substr(d.text, length(d.text), 1)) AS BIGINT) AS tail_byte,
        | CAST(agg.checksum AS BIGINT) AS checksum
        |FROM documents d JOIN agg ON d.doc_id = agg.doc_id ORDER BY d.doc_id""".stripMargin,
    // img_w/img_h come from the decoded PNG header (fixed 16-wide raster,
    // row-major, zero-padded last row); checksum from the decoded samples.
    "multimodal_image_roundtrip" ->
      """WITH ch AS (SELECT doc_id, unnest([ascii(substr(text, i, 1))
        |                                   for i in range(1, length(text) + 1)]) AS c
        |            FROM documents),
        | agg AS (SELECT doc_id, count(*) AS n, sum(c) % 997 AS checksum FROM ch GROUP BY 1)
        |SELECT doc_id, CAST(16 AS INT) AS img_w,
        | CAST(ceil(n / 16.0) AS INT) AS img_h,
        | CAST(n AS BIGINT) AS n_bytes, CAST(checksum AS BIGINT) AS checksum
        |FROM agg ORDER BY doc_id""".stripMargin,
    // sample_rate/duration come from the decoded WAV header+stream; the
    // checksum from decoded 8-bit PCM samples ≡ source text bytes.
    "multimodal_audio_roundtrip" ->
      """WITH ch AS (SELECT doc_id, unnest([ascii(substr(text, i, 1))
        |                                   for i in range(1, length(text) + 1)]) AS c
        |            FROM documents),
        | agg AS (SELECT doc_id, count(*) AS n, sum(c) % 997 AS checksum FROM ch GROUP BY 1)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        | CAST(n AS BIGINT) AS n_samples,
        | CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
        | CAST(checksum AS BIGINT) AS checksum
        |FROM agg ORDER BY doc_id""".stripMargin,
    // Per-frame features of the decoded animated GIF ≡ fixed 64-byte
    // windows of the source text (identity-gray palette → lossless).
    "multimodal_gif_frames" ->
      """WITH fr AS (SELECT doc_id, text,
        |  unnest([i for i in range(0, (length(text) + 63) // 64)]) AS frame_idx FROM documents),
        | sel AS (SELECT doc_id, frame_idx,
        |  [ascii(substr(text, j, 1))
        |   for j in range(frame_idx * 64 + 1, least(frame_idx * 64 + 64, length(text)) + 1)] AS cs
        |  FROM fr)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        | CAST(16 AS INT) AS frame_w, CAST(4 AS INT) AS frame_h,
        | CAST(len(cs) AS BIGINT) AS n_bytes, CAST(list_sum(cs) % 997 AS BIGINT) AS checksum
        |FROM sel ORDER BY doc_id, frame_idx""".stripMargin,
    // Per-frame features of the demuxed+decoded RIFF/AVI (uncompressed
    // 8-bit DIB, bottom-up rows undone by the decoder) ≡ fixed 64-byte
    // windows of the source text — losslessness proven byte-level.
    "multimodal_video_frames" ->
      """WITH fr AS (SELECT doc_id, text,
        |  unnest([i for i in range(0, (length(text) + 63) // 64)]) AS frame_idx FROM documents),
        | sel AS (SELECT doc_id, frame_idx,
        |  [ascii(substr(text, j, 1))
        |   for j in range(frame_idx * 64 + 1, least(frame_idx * 64 + 64, length(text)) + 1)] AS cs
        |  FROM fr)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        | CAST(16 AS INT) AS frame_w, CAST(4 AS INT) AS frame_h,
        | CAST('DIB ' AS VARCHAR) AS fourcc,
        | CAST(len(cs) AS BIGINT) AS n_bytes, CAST(list_sum(cs) % 997 AS BIGINT) AS checksum
        |FROM sel ORDER BY doc_id, frame_idx""".stripMargin,
    "sample_uniform" ->
      """SELECT * FROM (
        | SELECT doc_id, lang, md5('s1' || ':' || doc_id) AS h FROM documents
        | ORDER BY md5('s1' || ':' || doc_id), doc_id LIMIT 100) s
        |ORDER BY doc_id""".stripMargin,
    // A-ES weighted sample: ln rounded at once (the BM25 rule), every
    // later op identical IEEE arithmetic; u = (md5_60(doc_id)+1)/2^60.
    "sample_weighted" ->
      """WITH b AS (SELECT doc_id, CAST(length(text) AS DOUBLE) + 1.0 AS w,
        |   CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1 AS DOUBLE)
        |     / CAST(1152921504606846976 AS BIGINT) AS u
        |   FROM documents),
        | k AS (SELECT doc_id, w, -round(ln(u), 6) / w AS es_key FROM b
        |       ORDER BY es_key, doc_id LIMIT 100)
        |SELECT doc_id, CAST(w AS BIGINT) AS weight, round(es_key, 9) AS es_key
        |FROM k ORDER BY es_key, doc_id""".stripMargin,
    "sample_stratified" ->
      """WITH h AS (SELECT doc_id, lang, md5('s1' || ':' || doc_id) AS h FROM documents),
        | r AS (SELECT lang, doc_id,
        |   CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rn FROM h)
        |SELECT lang, rn, doc_id FROM r WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,
    // Mixture: position p in [1, quota] maps to rank ((p-1) mod n) + 1 and
    // epoch (p-1) div n — exactly quota rows per non-empty stratum; the
    // quota literals are the query's INPUT (mirrored on both sides), not a
    // precomputed answer.
    "sample_mixture" ->
      """WITH q AS (SELECT * FROM (VALUES ('de', 120), ('en', 100), ('zh', 30)) t(lang, quota)),
        | h AS (SELECT doc_id, lang, md5('s1' || ':' || doc_id) AS h FROM documents),
        | r AS (SELECT lang, doc_id,
        |   CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rn FROM h),
        | j AS (SELECT r.lang, r.doc_id, r.rn, q.quota FROM r JOIN q USING (lang)),
        | s AS (SELECT lang, count(*) AS n FROM j GROUP BY 1),
        | e AS (SELECT j.lang, j.doc_id, j.rn, s.n,
        |        unnest(range(0, (quota - rn) // n + 1)) AS epoch
        |        FROM j JOIN s USING (lang) WHERE rn <= quota)
        |SELECT lang, CAST(rn + epoch * n AS BIGINT) AS pos, doc_id, rn,
        | CAST(epoch AS BIGINT) AS epoch
        |FROM e ORDER BY lang, pos""".stripMargin,
    // Temperature mixture: sqrt is IEEE-correctly-rounded (identical
    // double in every engine), 2^20 scaling is exact, and everything
    // after floor() is integer — the whole allocation replays bit-for-bit.
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
        | w AS (SELECT lang, CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576) AS BIGINT) AS w FROM c),
        | z AS (SELECT sum(w) AS z FROM w),
        | a AS (SELECT lang, (200 * w) // z AS q0, (200 * w) % z AS rem FROM w, z),
        | s AS (SELECT sum(q0) AS base FROM a),
        | rk AS (SELECT lang, q0 + (CASE WHEN row_number() OVER (ORDER BY rem DESC, lang)
        |          <= 200 - base THEN 1 ELSE 0 END) AS quota FROM a, s),
        | h AS (SELECT doc_id, lang, md5('st' || ':' || doc_id) AS h FROM documents),
        | r AS (SELECT lang, doc_id,
        |   CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rn FROM h)
        |SELECT r.lang AS lang, doc_id, rn, CAST(quota AS BIGINT) AS quota
        |FROM r JOIN rk ON r.lang = rk.lang WHERE rn <= quota
        |ORDER BY lang, rn""".stripMargin,
    // DSIR replay: both LM scorings re-derived from scratch (target model
    // on src0, raw model on the pool itself), λ as exact BIGINT
    // difference, the Gumbel key as the same two rounded-ln steps and
    // clamp, selection ORDER BY key LIMIT k.
    "dsir_select" ->
      s"""WITH ${lmAggCtes("t_", "source = 'src0'", "source <> 'src0'")},
         | ${lmAggCtes("r_", "source <> 'src0'", "source <> 'src0'")},
         | lam AS (SELECT t_agg.doc_id AS doc_id, r_agg.nll_q - t_agg.nll_q AS lambda_q
         |         FROM t_agg JOIN r_agg ON t_agg.doc_id = r_agg.doc_id),
         | ky AS (SELECT doc_id, lambda_q,
         |   round(round(ln(greatest(-round(ln(
         |     CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1 AS DOUBLE)
         |       / CAST(1152921504606846976 AS BIGINT)), 6), 1e-6)), 6)
         |     - lambda_q / 1000000.0, 6) AS dsir_key
         |   FROM lam),
         | sel AS (SELECT * FROM ky ORDER BY dsir_key, doc_id LIMIT 100)
         |SELECT doc_id, lambda_q, dsir_key FROM sel ORDER BY dsir_key, doc_id""".stripMargin,
    // Budget selection: the running-total window replays the distributed
    // prefix sum exactly (integer token sums under the same total order).
    "budget_select" ->
      """WITH t AS (SELECT doc_id, text, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents),
        | s AS (SELECT doc_id,
        |   CAST(length(text) AS BIGINT) AS n_chars,
        |   CAST(len(w) AS BIGINT) AS n_words,
        |   CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS punct_cnt,
        |   CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS stop_cnt
        | FROM t),
        | q AS (SELECT doc_id, n_words AS tokens,
        |   (stop_cnt / n_words) * 0.5 + least(1.0, CAST(n_words AS DOUBLE) / 100.0) * 0.3
        |     + (1.0 - punct_cnt / n_chars) * 0.2 AS quality
        | FROM s),
        | r AS (SELECT doc_id, tokens, quality,
        |   sum(tokens) OVER (ORDER BY quality DESC, doc_id) AS cum_tokens
        |   FROM q WHERE quality IS NOT NULL)
        |SELECT doc_id, tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM r WHERE cum_tokens <= 10000 ORDER BY quality DESC, doc_id""".stripMargin,
    "multimodal_frames" ->
      """WITH fr AS (SELECT doc_id, text,
        |  unnest([i for i in range(0, (length(text) + 31) // 32)]) AS frame_idx FROM documents),
        | sel AS (SELECT doc_id, frame_idx,
        |  [ascii(substr(text, j, 1))
        |   for j in range(frame_idx * 32 + 1, least(frame_idx * 32 + 32, length(text)) + 1)] AS cs
        |  FROM fr WHERE frame_idx % 2 = 0)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        | CAST(len(cs) AS BIGINT) AS n_bytes, CAST(list_sum(cs) % 997 AS BIGINT) AS checksum
        |FROM sel ORDER BY doc_id, frame_idx""".stripMargin,
    "props_sum" ->
      """SELECT event_type,
        | CAST(sum(CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT)) AS BIGINT) AS total_k,
        | count(CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '') AS BIGINT)) AS n_with_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
  )

  /** Shared oracle CTE: one (vec_id, tbl, bucket) row per LSH table,
    * mirroring [[graft.operators.Similarity]]'s quantized random-hyperplane
    * scheme bit-for-bit. q = round(e·1e6) makes every ±1-plane dot an exact
    * integer sum (≤ 6.4e7 ≪ 2^53), so the sign — and therefore every bucket
    * bit — is engine-independent. The plane literals are generated from the
    * very same [[graft.operators.Similarity.planes]] function the Spark
    * codegen expression uses; bit j of table t contributes 2^j, matching
    * LshBuckets' packing. */
  private lazy val LshBucketCte: String = {
    // Banding constants come from the engine so the oracle always rebuilds
    // the SHIPPED configuration.
    val numTables = Similarity.DefaultNumTables
    val bits = Similarity.DefaultBitsPerTable
    val dim = 64
    val sigCols = (0 until numTables).map { t =>
      val planes = graft.operators.Similarity.planes(t, bits, dim)
      val bitSum = (0 until bits).map { j =>
        val arr = planes(j).map(v => if (v > 0) "1" else "-1").mkString("[", ",", "]")
        s"(CASE WHEN list_inner_product(q, CAST($arr AS DOUBLE[])) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"$bitSum AS bucket$t"
    }.mkString(",\n        ")
    val structs = (0 until numTables).map(t => s"{'tbl': $t, 'bucket': bucket$t}").mkString(", ")
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       | qz AS (SELECT vec_id, [round(x * 1000000) for x in e] AS q FROM emb),
       | sig AS (SELECT vec_id,
       |        $sigCols
       |        FROM qz),
       | bkt AS (SELECT vec_id, u.tbl AS tbl, u.bucket AS bucket
       |         FROM (SELECT vec_id, unnest([$structs]) AS u FROM sig))""".stripMargin
  }

  /** Shared oracle CTE: the IVF model, mirroring
    * [[graft.operators.Similarity.ivfModel]] exactly — seeds = quantized
    * vectors with vec_id < 16, argmin assignment by the exact integer
    * distance identity q·q − 2·q·c + c·c (tie-break on cluster), one Lloyd
    * step with means re-quantized via round(). Produces `qz` (vec_id, e,
    * q), `cents` (cluster, c), `asg` (vec_id, e, cluster). */
  /** PQ oracle fragments: subspace split (DuckDB 1-based inclusive list
    * slice), per-subspace seed assignment + one Lloyd step + codes, query
    * ADC distance tables — mirrors [[graft.operators.Similarity.annPq]]'s
    * integer arithmetic term for term. */
  private val PqCte: String =
    """emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      | qz AS (SELECT vec_id, e, [round(x * 1000000) for x in e] AS q FROM emb),
      | sub AS (SELECT vec_id, m, q[m*8+1 : m*8+8] AS qm
      |         FROM qz, generate_series(0, 7) t(m)),
      | pseeds AS (SELECT m, vec_id AS cl, qm AS c FROM sub WHERE vec_id < 16),
      | pa1 AS (SELECT vec_id, m, qm, cl FROM (
      |        SELECT s2.vec_id, s2.m, s2.qm, s.cl,
      |               row_number() OVER (PARTITION BY s2.vec_id, s2.m ORDER BY
      |                 list_inner_product(s2.qm, s2.qm) - 2 * list_inner_product(s2.qm, s.c)
      |                 + list_inner_product(s.c, s.c), s.cl) AS rn
      |        FROM sub s2 JOIN pseeds s ON s.m = s2.m) t1 WHERE rn = 1),
      | pdims AS (SELECT m, cl, i, round(CAST(sum(qm[i]) AS DOUBLE) / count(*)) AS mean
      |          FROM pa1, generate_series(1, 8) t(i) GROUP BY m, cl, i),
      | books AS (SELECT m, cl, list(mean ORDER BY i) AS c FROM pdims GROUP BY m, cl),
      | codes AS (SELECT vec_id, m, cl AS code FROM (
      |        SELECT s2.vec_id, s2.m, b.cl,
      |               row_number() OVER (PARTITION BY s2.vec_id, s2.m ORDER BY
      |                 list_inner_product(s2.qm, s2.qm) - 2 * list_inner_product(s2.qm, b.c)
      |                 + list_inner_product(b.c, b.c), b.cl) AS rn
      |        FROM sub s2 JOIN books b ON b.m = s2.m) t2 WHERE rn = 1),
      | dtab AS (SELECT s2.vec_id AS qid, s2.m, b.cl AS code,
      |               list_inner_product(s2.qm, s2.qm) - 2 * list_inner_product(s2.qm, b.c)
      |               + list_inner_product(b.c, b.c) AS d
      |          FROM sub s2 JOIN books b ON b.m = s2.m WHERE s2.vec_id < 10),
      | adc AS (SELECT qid, c2.vec_id AS cid, sum(d) AS adc_dist
      |         FROM codes c2 JOIN dtab USING (m, code) WHERE c2.vec_id <> qid GROUP BY 1, 2),
      | pqr AS (SELECT qid, cid, adc_dist,
      |       CAST(row_number() OVER (PARTITION BY qid ORDER BY adc_dist, cid) AS BIGINT) AS rank
      |       FROM adc)""".stripMargin

  private val IvfCte: String =
    """emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      | qz AS (SELECT vec_id, e, [round(x * 1000000) for x in e] AS q FROM emb),
      | seeds AS (SELECT vec_id AS cluster, q AS c FROM qz WHERE vec_id < 16),
      | a1 AS (SELECT vec_id, q, cluster FROM (
      |        SELECT z.vec_id, z.q, s.cluster,
      |               row_number() OVER (PARTITION BY z.vec_id ORDER BY
      |                 list_inner_product(z.q, z.q) - 2 * list_inner_product(z.q, s.c)
      |                 + list_inner_product(s.c, s.c), s.cluster) AS rn
      |        FROM qz z CROSS JOIN seeds s) t1 WHERE rn = 1),
      | dims AS (SELECT cluster, i, round(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS m
      |          FROM a1, generate_series(1, 64) t(i) GROUP BY cluster, i),
      | cents AS (SELECT cluster, list(m ORDER BY i) AS c FROM dims GROUP BY cluster),
      | asg AS (SELECT vec_id, e, cluster FROM (
      |        SELECT z.vec_id, z.e, s.cluster,
      |               row_number() OVER (PARTITION BY z.vec_id ORDER BY
      |                 list_inner_product(z.q, z.q) - 2 * list_inner_product(z.q, s.c)
      |                 + list_inner_product(s.c, s.c), s.cluster) AS rn
      |        FROM qz z CROSS JOIN cents s) t2 WHERE rn = 1)""".stripMargin

  /** Transitive closure of the minhash near-dup pairs via recursive CTE;
    * keeper = min doc_id reachable — mirrors BOTH component fixpoints
    * exactly (hash-to-min and star contraction each compute min over the
    * connected component), so one oracle gates `dedup_clusters` AND
    * `dedup_clusters_star`. */
  /** The recursive transitive-closure chain through `comp(doc_id,
    * keep_id)` — shared by the cluster oracle and the leak-free split
    * oracle (which re-derives the SAME clusters, then hashes keepers). */
  private lazy val DedupClusterCtes: String =
    s"""$MinhashCtes,
       | prs AS (SELECT id_a, id_b
       |         FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
       |         WHERE CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) >= 0.5),
       | e AS (SELECT id_a AS n, id_b AS m FROM prs UNION SELECT id_b, id_a FROM prs),
       | reach AS (SELECT n, m FROM e
       |           UNION
       |           SELECT r.n, e2.m FROM reach r JOIN e e2 ON r.m = e2.n),
       | comp AS (SELECT n AS doc_id, least(n, min(m)) AS keep_id FROM reach GROUP BY n)""".stripMargin

  private lazy val DedupClustersOracle: String =
    s"""WITH RECURSIVE $DedupClusterCtes
       |SELECT d.doc_id, coalesce(c.keep_id, d.doc_id) AS keep_id,
       | (d.doc_id <> coalesce(c.keep_id, d.doc_id)) AS is_dup
       |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Shared oracle CTEs: the whole MinHash+LSH candidate/verify pipeline up
    * to `inter` (pair intersection counts) + `sizes` — used by
    * `dedup_minhash` (pair emission) and `dedup_clusters` (transitive
    * closure over the same pairs). */
  private lazy val MinhashCtes: String = minhashCtes("documents")

  /** Parametrized single-model LM-scoring CTE chain (mirrors
    * [[graft.operators.TextAnalysis.lmPerplexity]]): trains on
    * `documents WHERE trainWhere`, scores `documents WHERE scoreWhere`,
    * every CTE name prefixed with `p` so two chains compose in one
    * query; terminal CTE `<p>agg(doc_id, n_bigrams, nll_q)` holds only
    * scorable docs (≥ 1 bigram). Used by the DSIR oracle (target model ×
    * raw model). */
  private def lmAggCtes(p: String, trainWhere: String, scoreWhere: String): String =
    s"""${p}tw AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS w
       |            FROM documents WHERE $trainWhere),
       | ${p}tb AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
       |        FROM ${p}tw WHERE len(w) >= 2),
       | ${p}c12 AS (SELECT bg, count(*) AS c12 FROM ${p}tb GROUP BY 1),
       | ${p}c1 AS (SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM ${p}tb GROUP BY 1),
       | ${p}v AS (SELECT count(DISTINCT wd) AS v FROM (SELECT unnest(w) AS wd FROM ${p}tw)),
       | ${p}sw AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
       |        FROM documents WHERE $scoreWhere),
       | ${p}sb AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
       |        FROM ${p}sw WHERE len(w) >= 2),
       | ${p}q AS (SELECT doc_id,
       |        CAST(round(round(ln((COALESCE(${p}c12.c12, 0) + 0.5)
       |          / (COALESCE(${p}c1.c1, 0) + 0.5 * ${p}v.v)), 6) * 1000000.0) AS BIGINT) AS lp_q
       |       FROM ${p}sb LEFT JOIN ${p}c12 USING (bg)
       |               LEFT JOIN ${p}c1 ON split_part(${p}sb.bg, ' ', 1) = ${p}c1.w1
       |               CROSS JOIN ${p}v),
       | ${p}agg AS (SELECT doc_id, count(*) AS n_bigrams,
       |         CAST(-sum(lp_q) AS BIGINT) AS nll_q FROM ${p}q GROUP BY 1)""".stripMargin

  /** Per-language LM-scoring CTE chain (mirrors
    * [[graft.operators.TextAnalysis.lmPerplexityByLang]]); terminal CTE
    * `lmbl(doc_id, lang, n_bigrams, nll_q, avg_nll)` — shared by the
    * `lm_perplexity_by_lang` oracle and the CCNet binning built on it. */
  private lazy val LmByLangCtes: String =
    """tw AS (SELECT lang, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      |            FROM documents WHERE doc_id % 2 = 0),
      | tb AS (SELECT lang, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      |        FROM tw WHERE len(w) >= 2),
      | c12 AS (SELECT lang, bg, count(*) AS c12 FROM tb GROUP BY 1, 2),
      | c1 AS (SELECT lang, split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM tb GROUP BY 1, 2),
      | v AS (SELECT lang, count(DISTINCT wd) AS v
      |       FROM (SELECT lang, unnest(w) AS wd FROM tw) GROUP BY 1),
      | sw AS (SELECT doc_id, lang, regexp_split_to_array(trim(lower(text)), '\s+') AS w
      |        FROM documents WHERE doc_id % 2 = 1),
      | sb AS (SELECT doc_id, lang, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      |        FROM sw WHERE len(w) >= 2),
      | q AS (SELECT sb.doc_id,
      |        CAST(round(round(ln((COALESCE(c12.c12, 0) + 0.5)
      |          / (COALESCE(c1.c1, 0) + 0.5 * v.v)), 6) * 1000000.0) AS BIGINT) AS lp_q
      |       FROM sb LEFT JOIN c12 ON sb.lang = c12.lang AND sb.bg = c12.bg
      |               LEFT JOIN c1 ON sb.lang = c1.lang AND split_part(sb.bg, ' ', 1) = c1.w1
      |               LEFT JOIN v ON sb.lang = v.lang),
      | agg AS (SELECT doc_id, count(*) AS n_bigrams,
      |         CAST(-sum(lp_q) AS BIGINT) AS nll_q FROM q GROUP BY 1),
      | base AS (SELECT DISTINCT doc_id, lang FROM documents WHERE doc_id % 2 = 1),
      | lmbl AS (SELECT base.doc_id, base.lang, COALESCE(agg.n_bigrams, 0) AS n_bigrams,
      |          agg.nll_q, round(agg.nll_q / 1000000.0 / agg.n_bigrams, 6) AS avg_nll
      |          FROM base LEFT JOIN agg ON base.doc_id = agg.doc_id)""".stripMargin

  /** The deterministic "re-crawl" used by `chunk_dedup_snapshots` —
    * Spark side of the CASE both engines share (SQL twin in
    * [[RecrawlSrcSql]]): in-place word edits, a prepended header, and a
    * dropped doc_id slice. */
  private def recrawlSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 31 =!= 17).select(
      col("doc_id"),
      when(col("doc_id") % 7 === 3, expr("replace(text, ' the ', ' teh ')"))
        .when(col("doc_id") % 11 === 5, concat(lit("zz hdr line "), col("text")))
        .otherwise(col("text")).as("text"))

  private val RecrawlSrcSql: String =
    """(SELECT doc_id,
      |   CASE WHEN doc_id % 7 = 3 THEN replace(text, ' the ', ' teh ')
      |        WHEN doc_id % 11 = 5 THEN 'zz hdr line ' || text
      |        ELSE text END AS text
      | FROM documents WHERE doc_id % 31 <> 17)""".stripMargin

  /** CDC chunk CTE chain for one source, every name prefixed with `p`;
    * terminal CTE `<p>chunks(doc_id, chunk_idx, chunk_hash)`. Mirrors
    * [[graft.operators.Packing.cdcChunks]] (and the standalone
    * `doc_chunks_cdc` oracle) hash-for-hash. */
  private def cdcChunksCte(src: String, p: String): String =
    s"""${p}wd AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws FROM $src),
       | ${p}b AS (SELECT doc_id, ws, len(ws) AS n,
       |   CASE WHEN len(ws) >= 4 THEN
       |     [i for i in range(3, len(ws))
       |      if CAST('0x' || substr(md5(ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]), 1, 15) AS BIGINT) % 8 = 0]
       |   ELSE [] END AS bounds FROM ${p}wd),
       | ${p}c AS (SELECT doc_id, ws, n, list_prepend(1, [x + 1 for x in bounds]) AS starts,
       |        list_append(bounds, n) AS ends FROM ${p}b),
       | ${p}e AS (SELECT doc_id, ws, unnest(starts) AS s, unnest(ends) AS t,
       |        unnest(range(0, len(starts))) AS ci FROM ${p}c),
       | ${p}chunks AS (SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
       |        md5(array_to_string(ws[s:t], ' ')) AS chunk_hash FROM ${p}e)""".stripMargin

  /** Shingle → signature → band-key CTEs for ONE document set, all names
    * prefixed with `p` — lets the incremental oracle band two disjoint
    * sets (corpus/batch) in one statement. Mirrors [[minhashCtes]]'s
    * hashing exactly. */
  private def minhashBandsCte(src: String, p: String): String =
    s"""${shinglesCte(src, p)},
       | ${p}hsh AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % ${Dedup.P} AS h FROM ${p}sh),
       | ${p}sig AS (SELECT doc_id, ${Dedup.hashParams.zipWithIndex
      .map { case ((a, b), j) => s"min(($a * h + $b) % ${Dedup.P}) AS h$j" }.mkString(", ")}
       |         FROM ${p}hsh GROUP BY doc_id),
       | ${p}bands AS (SELECT doc_id, unnest([${(0 until Dedup.Bands).map { bd =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"h${bd * Dedup.RowsPerBand + r}").mkString(", ")
      s"md5(concat_ws('_', 'b$bd', $cols))"
    }.mkString(", ")}]) AS bk FROM ${p}sig)""".stripMargin

  private def minhashCtes(src: String): String =
    s"""${shinglesCte(src)},
       | hsh AS (SELECT doc_id, CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT) % ${Dedup.P} AS h FROM sh),
       | sig AS (SELECT doc_id, ${Dedup.hashParams.zipWithIndex
      .map { case ((a, b), j) => s"min(($a * h + $b) % ${Dedup.P}) AS h$j" }.mkString(", ")}
       |         FROM hsh GROUP BY doc_id),
       | bands AS (SELECT doc_id, unnest([${(0 until Dedup.Bands).map { bd =>
      val cols = (0 until Dedup.RowsPerBand)
        .map(r => s"h${bd * Dedup.RowsPerBand + r}").mkString(", ")
      s"md5(concat_ws('_', 'b$bd', $cols))"
    }.mkString(", ")}]) AS bk FROM sig),
       | cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id),
       | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       | inter AS (SELECT id_a, id_b, count(*) AS n_common
       |           FROM cand JOIN sh sa ON sa.doc_id = id_a
       |                     JOIN sh sb ON sb.doc_id = id_b AND sb.sh = sa.sh
       |           GROUP BY 1, 2)""".stripMargin

  /** Shared oracle CTE: sharded token cumsum for sequence packing —
    * mirrors [[graft.operators.Packing]]: whitespace tokens, md5-derived
    * shard, per-shard running total in doc_id order. */
  private val PackCte: String =
    """t AS (SELECT doc_id,
      |       CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS tokens,
      |       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 8 AS shard
      |       FROM documents),
      | pc AS (SELECT doc_id, shard, tokens,
      |        sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |        FROM t)""".stripMargin

  /** Shared oracle CTE: distinct word-3-gram shingles per document —
    * parameterized over the source relation and a CTE-name prefix so
    * composed oracles (corpus_clean) can shingle several doc sets in one
    * statement without name clashes. */
  private def shinglesCte(src: String, p: String = ""): String =
    s"""${p}wd AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM $src),
       | ${p}sh0 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |                                for i in range(1, len(w) - 1)]) AS sh
       |         FROM ${p}wd WHERE len(w) >= 3),
       | ${p}sh AS (SELECT DISTINCT doc_id, sh FROM ${p}sh0)""".stripMargin

  /** Shared by paged_scan (synthetic reader) and paged_scan_http (live
    * JSON-over-HTTP reader) — both must hash-match this derivation. */
  private val PagedScanOracle =
    """SELECT CAST(rank AS BIGINT) AS rank, 'char_' || rank AS name,
      | CAST(greatest(8, 500 - (rank - 1) // 10) AS BIGINT) AS level,
      | CAST(10000000000 - rank * 1000 AS BIGINT) AS value,
      | CASE rank % 5 WHEN 0 THEN 'None' WHEN 1 THEN 'Knight' WHEN 2 THEN 'Paladin'
      |   WHEN 3 THEN 'Druid' ELSE 'Sorcerer' END AS vocation,
      | 'W' || (rank % 8) AS world
      |FROM generate_series(1, 10000) t(rank)
      |WHERE greatest(8, 500 - (rank - 1) // 10) >= 400 ORDER BY rank""".stripMargin

  private val ShinglesCte = shinglesCte("documents")

  /** Shared oracle CTEs for the duplicate-span family — word 5-gram
    * occurrences WITH positions (0-based, matching posexplode), hashes
    * shared across ≥2 docs, islands-and-gaps run assembly. Mirrors
    * [[graft.operators.DupSpans.spans]]. */
  private val DupSpanCtes =
    """dwd AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w FROM documents),
      | dp AS (SELECT doc_id, unnest(range(0, len(w) - 4)) AS pos, w FROM dwd WHERE len(w) >= 5),
      | dg AS (SELECT doc_id, pos,
      |          CAST('0x' || substr(md5(w[pos+1] || ' ' || w[pos+2] || ' ' || w[pos+3] || ' ' ||
      |                                  w[pos+4] || ' ' || w[pos+5]), 1, 15) AS BIGINT) AS h
      |        FROM dp),
      | dsh AS (SELECT h FROM dg GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      | dr AS (SELECT doc_id, pos,
      |          pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |        FROM dg JOIN dsh USING (h)),
      | dspan AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
      |             count(*) AS span_grams
      |           FROM dr GROUP BY doc_id, grp)""".stripMargin

  /** Shared oracle CTE: 60-bit frequency-weighted SimHash per document
    * (majority vote over md5-derived word-occurrence hashes) — mirrors
    * [[graft.operators.Dedup.simhash]]. */
  private val SimhashCte =
    """t AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws FROM documents),
      | f AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 1),
      | wh AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 15) AS BIGINT) AS h FROM f, unnest(ws) u(word)),
      | n AS (SELECT doc_id, count(*) AS n_words FROM wh GROUP BY 1),
      | bits AS (SELECT doc_id, j, sum((h >> j) & 1) AS ones FROM wh, generate_series(0, 59) t(j) GROUP BY 1, 2),
      | sb AS (SELECT b.doc_id, sum(CASE WHEN 2 * b.ones > n.n_words THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
      |        FROM bits b JOIN n ON b.doc_id = n.doc_id GROUP BY 1)""".stripMargin
}
