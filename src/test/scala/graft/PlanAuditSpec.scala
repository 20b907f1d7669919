package graft

/** Plan-audit regression tests: the physical-plan properties PLANS.md
  * claims (pushdown, broadcasts, single-exchange analytics, codegen'd
  * runtime filters) asserted against the ACTUAL executed/spark plans, so a
  * refactor that silently loses one of them fails the suite instead of
  * surfacing as a 100 TB regression.
  *
  * Assertions target structural operators (join strategy, exchange count,
  * scan metadata), not fragile full-plan strings. A session-shared build
  * or a per-round checkpoint hides behind a checkpoint scan in the query's
  * own plan; its pin reads the plan the build actually ran through
  * [[SharedRel.capture]] on a fresh session ([[builds]] / [[builtPlan]]).
  */
class PlanAuditSpec extends SparkSuite {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import graft.functions.{MixOps, TextOps, VectorOps}

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    // Pin hygiene (the r15 d_dsir lesson): when a pinned query's ENTIRE
    // body gets session-shared (SharedRel), its explain collapses to a
    // bare materialized scan and every structural assertion on it is
    // vacuous — the pin must then audit the BUILD relation instead (as
    // the d_dsir / d_nb_classify pins do). Fail loudly here rather than
    // letting a broadcast/no-cartesian pin pass or fail against a
    // checkpoint scan. A plan that merely CONTAINS an ExistingRDD scan
    // alongside live joins/aggs is fine.
    val bare = plan.contains("ExistingRDD") &&
      !Seq("Join", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
        "Scan parquet", "Generate").exists(plan.contains)
    assert(!bare,
      s"$name explains as a bare materialized scan — read the shared build's executed plan through builtPlan (SharedRel.capture on a fresh session), not the shared query surface:\n$plan")
    plan
  }

  /** Every [[Materialize]] materialization `body` runs on a fresh
    * session (empty memo, so every shared build it needs runs), in run
    * order: (innermost SharedRel key or "" outside one, the plan the
    * planner gave it). That is AQE's initial plan, the one an unexecuted
    * `executedPlan` shows; AQE's runtime rewrites (a join turned broadcast
    * from tiny runtime stats) do not count toward a pin.
    */
  private def builds(body: SparkSession => Any): Seq[(String, String)] = {
    val fresh = spark.newSession()
    SharedRel.capture(fresh)(body(fresh))._2.map {
      case (k, p: AdaptiveSparkPlanExec) => k -> p.initialPlan.toString
      case (k, p) => k -> p.toString
    }
  }

  /** The executed plan of the shared build whose key starts with
    * `prefix|`: the last materialization under that key is the build's
    * own (checkpoints inside the build run before it).
    */
  private def builtPlan(prefix: String)(body: SparkSession => Any): String = {
    val plans = builds(body).collect { case (k, p) if k.startsWith(prefix + "|") => p }
    assert(plans.nonEmpty, s"no `$prefix` build ran")
    plans.last
  }

  /** Count exchanges, excluding the final presentation orderBy's — the
    * driver-contract ORDER BY adds one rangepartitioning exchange that a
    * production consumer (writing partitioned output) would not run.
    * Anchored to the operator position (`+-`/`:-`) so a ReusedExchange
    * node — which embeds the exchange description in its own line — is
    * not double-counted as a shuffle.
    */
  private def dataExchanges(plan: String): Int =
    "[+:]- Exchange hashpartitioning".r.findAllIn(plan).length

  test("q1_pricing: filter and projection push into the parquet scan") {
    val plan = executedPlan("q1_pricing")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
      || plan.contains("PushedFilters: [IsNotNull"), s"pushdown missing:\n$plan")
    assert(!plan.contains("l_comment"), "scan must prune unused columns")
  }

  test("q5_region_revenue: dims broadcast, fact never hash-shuffled pre-agg") {
    val plan = executedPlan("q5_region_revenue")
    assert(plan.contains("BroadcastHashJoin"), s"dim join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact must not sort-merge:\n$plan")
  }

  test("q_bloom_join: sketch probe runs as a codegen'd scan filter") {
    val plan = executedPlan("q_bloom_join")
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
  }

  test("e_funnel: all stage windows + collapse share one data exchange") {
    val plan = executedPlan("e_funnel")
    assert(dataExchanges(plan) == 1,
      s"funnel must cost exactly one hash exchange:\n$plan")
  }

  test("e_retention: cohort window and distinct-count cost two exchanges") {
    val plan = executedPlan("e_retention")
    // window on user_id + two-phase distinct-count on (cohort, offset)
    assert(dataExchanges(plan) <= 2,
      s"retention exchange count regressed:\n$plan")
  }

  test("contamination index build: the benchmark probe side broadcasts") {
    // d_curate consumes the SESSION-SHARED contamination index (a
    // checkpoint scan in its own plan) — the join to audit lives in the
    // index's BUILD plan
    val plan = builtPlan("contam")(TextOps.contamination(_, sf("sf0.001"), 10))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark probe set must broadcast into the shingle join:\n$plan")
  }

  test("v_knn: query side broadcast, corpus scanned not shuffled pre-rank") {
    val plan = executedPlan("v_knn")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set must broadcast:\n$plan")
  }

  test("v_ann_sq: query side broadcast, code scan never shuffled pre-rank") {
    // the search result is session-shared (SharedRel `annhits` — the
    // v_recall_sq harness grades the same run), so the pin audits the
    // BUILD plan (the d_dsir rule)
    val plan = builtPlan("annhits|sq")(VectorOps.annSq(_, sf("sf0.001"),
      nQueries = 20, k = 5))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query set must broadcast:\n$plan")
  }

  test("v_ann_ivfsq: probe lists broadcast onto the code scan") {
    // session-shared surface (`annhits`) — audit the build plan
    val plan = builtPlan("annhits|ivfsq")(VectorOps.annIvfSq(_, sf("sf0.001"),
      nQueries = 20, kNn = 5, kCentroids = 16, nProbe = 2))
    assert(plan.contains("BroadcastHashJoin"),
      s"probe lists must broadcast:\n$plan")
  }

  test("d_neardup_incr: signature-space verify — no word arrays on the pair joins") {
    val plan = executedPlan("d_neardup_incr")
    // the round-14 perf contract: candidates are verified from the 8 ints
    // already on the joined row; the exact formulation's array_intersect
    // (a multi-GB word-array shuffle at sf0.1) must never reappear
    assert(!plan.contains("array_intersect"),
      s"exact word-set verify reappeared on the incremental path:\n$plan")
  }

  test("d_curriculum: corpus never windows in a single partition") {
    val plan = executedPlan("d_curriculum")
    assert(plan.contains("BroadcastHashJoin"),
      s"(phase,bucket) offsets must broadcast:\n$plan")
    assert("[+:]- Exchange SinglePartition".r.findAllIn(plan).length == 1,
      s"only the 3×buckets offsets relation may hit SinglePartition:\n$plan")
  }

  test("d_shard_pack: corpus never windows in a single partition") {
    val plan = executedPlan("d_shard_pack")
    // the bucket-offsets join comes back as a broadcast, never a shuffle of
    // the corpus side
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast:\n$plan")
    // exactly one single-partition exchange exists — the `buckets`-row
    // offsets window — so the corpus-bearing windows are all hash-partitioned
    assert("[+:]- Exchange SinglePartition".r.findAllIn(plan).length == 1,
      s"only the tiny offsets relation may hit SinglePartition:\n$plan")
  }

  test("d_mix_rebalance: zero shuffle of the corpus side") {
    val plan = executedPlan("d_mix_rebalance")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-source stats must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must not shuffle for the stats join:\n$plan")
  }

  test("d_quality_tiers: no window keyed by language alone (ranged rank)") {
    val plan = executedPlan("d_quality_tiers")
    // the global per-lang rank must come from the range-sliced local window
    // (keyed by partition-id + lang) — a window keyed by lang alone puts a
    // hot language on one reducer and AQE cannot split a window partition
    assert(plan.contains("windowspecdefinition(pid"),
      s"rank window must be keyed by the range slice:\n$plan")
    assert(!"windowspecdefinition\\(lang#".r.findFirstIn(plan).isDefined,
      s"a lang-only window partition reappeared:\n$plan")
    // slice offsets join back as a broadcast, never a shuffle of the corpus
    assert(plan.contains("BroadcastHashJoin"),
      s"slice offsets must broadcast:\n$plan")
  }

  test("e_geo_zoom: all pyramid levels share one exchange") {
    val plan = executedPlan("e_geo_zoom")
    // the zoom explode runs before the map-side combine, so every level
    // rides the SAME hash exchange — a per-zoom loop would pay one per level
    assert(dataExchanges(plan) == 1,
      s"tile pyramid must cost exactly one data exchange:\n$plan")
  }

  test("v_ivf_incr: delta assignment is a shuffle-free projection") {
    val plan = executedPlan("v_ivf_incr")
    // frozen centroids/codewords ship as literals folded row-locally, so
    // the ONLY exchange is the presentation orderBy's rangepartitioning —
    // no hash exchange, no join of any kind touches the delta
    assert(dataExchanges(plan) == 0,
      s"incremental assignment must not shuffle the delta:\n$plan")
    assert(!plan.contains("Join"),
      s"centroids/codewords must ship as literals, not a join:\n$plan")
  }

  test("d_cap_per_source: hot sources two-staged through the salted window") {
    val plan = executedPlan("d_cap_per_source")
    // stage 1 must window on (source, salt) — the mechanism that spreads a
    // hot source across `salts` reducers; stage 2's per-source window then
    // sees at most salts×K rows per source
    assert(plan.contains("graft_salt"),
      s"salted pre-window stage missing:\n$plan")
    assert("windowspecdefinition\\(source#\\d+, graft_salt".r.findFirstIn(plan).isDefined,
      s"stage-1 window must be keyed by (source, salt):\n$plan")
  }

  test("q_trailing_30d: RANGE frame costs one hash exchange") {
    val plan = executedPlan("q_trailing_30d")
    assert(dataExchanges(plan) == 1,
      s"trailing window must shuffle once on o_custkey:\n$plan")
  }

  test("d_winnow: per-doc windows plus distinct, nothing global") {
    val plan = executedPlan("d_winnow")
    // window partitioned by doc_id (1) + distinct hash agg (1); a global
    // (unpartitioned) sort/window would show as a SinglePartition exchange
    assert(dataExchanges(plan) <= 2, s"winnow exchange count regressed:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"winnow must never serialize the corpus through one partition:\n$plan")
  }

  test("parquet aggregate pushdown: stats-only scans answer from footers") {
    import org.apache.spark.sql.functions._
    // COUNT/MIN/MAX over a bare scan can be answered from parquet footer
    // statistics without materializing a single row — at 100 TB the
    // difference between a metadata read and a full-table scan. Needs the
    // DSv2 parquet reader (v1 has no SupportsPushDownAggregates).
    val confs = Seq("spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.sources.useV1SourceList" -> "")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
        .agg(count(lit(1)).as("n"), min("o_orderkey"), max("o_orderkey"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"),
        s"stats agg must push into the scan:\n$plan")
      val r = df.head()
      assert(r.getLong(0) == 15000L && r.getLong(1) >= 0 && r.getLong(2) > r.getLong(1))
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("d_semantic_dedup: documents join the drop list without sort-merge") {
    val plan = executedPlan("d_semantic_dedup")
    assert(plan.contains("BroadcastHashJoin"),
      s"drop list (or documents) side must broadcast:\n$plan")
  }

  test("d_segment_dedup: re-assembly never globally sorts the corpus") {
    val plan = executedPlan("d_segment_dedup")
    // one rangepartitioning is the driver-contract ORDER BY doc_id; a
    // SECOND one would mean the per-doc re-assembly sorts corpus-wide
    // instead of inside the doc_id aggregate
    assert("Exchange rangepartitioning".r.findAllIn(plan).length <= 1,
      s"segment re-assembly must not add a global sort:\n$plan")
    assert(!plan.contains("Window"),
      s"re-assembly must use the bounded collect_list agg, not a window:\n$plan")
    // the bloom fast path: segments the sketch proves unique skip the
    // duplicate join entirely; the probe runs as a codegen'd filter in
    // both the clear branch (negated) and the suspect branch
    assert(plan.contains("might_contain"),
      s"bloom probe missing from segment dedup:\n$plan")
  }

  test("d_lm_bits: the corpus total joins as a broadcast, never a shuffle") {
    val plan = executedPlan("d_lm_bits")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"1-row total must broadcast:\n$plan")
  }

  test("d_pack_chunks: bucket offsets broadcast; no corpus-wide window") {
    val plan = executedPlan("d_pack_chunks")
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket-offset join must broadcast:\n$plan")
    // exactly one single-partition exchange — the `buckets`-row offsets
    // window; a corpus-wide unpartitioned cumulative window (the
    // degeneration this decomposition exists to avoid) would add another
    assert("[+:]- Exchange SinglePartition".r.findAllIn(plan).length == 1,
      s"only the tiny offsets relation may hit SinglePartition:\n$plan")
  }

  test("decontam-spans build: probe shingle set broadcasts into the positioned join") {
    // same shared-index rule as the contamination audit: the memoized
    // d_decontam_spans handle is a checkpoint scan; audit the build
    val plan = builtPlan("decontam")(TextOps.decontamSpans(_, sf("sf0.001"), 10))
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set must broadcast:\n$plan")
  }

  test("dup-spans build: shingle-keyed equi-join, never cartesian") {
    // the memoized d_dup_spans handle is a checkpoint scan, and the cut
    // chain itself is the shared spancuts relation — audit every build
    // the call runs (spancuts' cut join, the dupspans fold)
    val plans = builds(TextOps.dupSpans(_, sf("sf0.001"), 5))
    assert(plans.exists(_._1.startsWith("spancuts|")), s"no spancuts build ran: $plans")
    plans.foreach { case (_, plan) =>
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"cut join must stay keyed on the shingle:\n$plan")
    }
  }

  test("mm_neardup: candidates only from band buckets — no all-pairs path in the plan") {
    val plan = executedPlan("mm_neardup")
    // the banded self-join must plan as an equi-join on (band, value);
    // a cartesian or nested-loop node would mean the all-pairs scan the
    // banding exists to avoid
    assert(!plan.contains("CartesianProduct"),
      s"near-dup candidates must not cross-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup candidates must not nested-loop:\n$plan")
  }

  test("mm_dup_clusters: labels return to images via broadcast, never a corpus shuffle") {
    val plan = executedPlan("mm_dup_clusters")
    // the distinct-hash label relation is tiny by construction (post
    // exact-collapse), so both back-joins (dhash → hash_rep → label)
    // must broadcast; a sort-merge here would shuffle the image corpus
    assert(plan.contains("BroadcastHashJoin"),
      s"label join-back must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"image corpus must not sort-merge against the label relation:\n$plan")
  }

  test("mm_video_containment: frame candidates only from band buckets, no cartesian") {
    val plan = executedPlan("mm_video_containment")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"frame matching must stay banded:\n$plan")
  }

  test("d_bpe_pairs: pair extraction is shuffle-minimal (vocab agg + pair agg)") {
    val plan = executedPlan("d_bpe_pairs")
    // two hash exchanges: word-frequency agg and pair agg; top-k must be
    // TakeOrdered, never a global Sort
    assert(dataExchanges(plan) <= 2, s"pair counting shuffled too much:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must avoid a global sort:\n$plan")
  }

  test("v_knn_graph: candidates stay in-cell, mutual flag reads the materialized edges") {
    val plan = executedPlan("v_knn_graph")
    // the per-cell self-join must plan as an equi-join on centroid_id —
    // a cartesian/nested-loop node is the n² path the IVF bucketing exists
    // to avoid
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"knn-graph candidates must stay bucketed:\n$plan")
    // the mutual join consumes the MATERIALIZED n×k edge relation
    // (localCheckpoint → ExistingRDD scan), never a second candidate
    // generation: exactly zero Window nodes may appear in the final plan
    // (the ranking ran before materialization)
    assert(plan.contains("ExistingRDD"),
      s"mutual flag must join the materialized edges:\n$plan")
    assert(!plan.contains("Window"),
      s"ranking must not re-run in the mutual join plan:\n$plan")
  }

  test("v_semdedup_incr: both classification joins stay bucketed — no all-pairs") {
    val plan = executedPlan("v_semdedup_incr")
    // delta×base and delta×delta must both plan as equi-joins on bkt; a
    // cartesian/nested-loop node is the O(corpus²) path the buckets avoid
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"semantic-dedup classification must stay bucketed:\n$plan")
  }

  test("d_mix_temperature: targets broadcast; no single-stage source window") {
    val plan = executedPlan("d_mix_temperature")
    // the |sources|-row target relation must join by broadcast — a
    // sort-merge here would shuffle the corpus against a 20-row table
    assert(plan.contains("BroadcastHashJoin"),
      s"target join must broadcast:\n$plan")
    // the skew-safe selection is two-staged: the stage-1 window must
    // partition by (source, graft_salt) — its absence would mean the
    // selection collapsed back to one window per source (the hot-source
    // serialization the salting exists to break)
    assert(plan.contains("graft_salt"),
      s"salted stage-1 window missing:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not sort-merge against the target relation:\n$plan")
  }

  test("d_coreset: rank and cell-size windows share one centroid exchange") {
    val plan = executedPlan("d_coreset")
    // both window functions (pick rank, cluster_n count) are partitioned
    // by centroid_id and must reuse ONE hash exchange; a second
    // centroid_id exchange would double-shuffle the corpus at 100 TB
    val centroidExchanges =
      "[+:]- Exchange hashpartitioning\\(centroid_id".r.findAllIn(plan).length
    assert(centroidExchanges == 1,
      s"windows must share one centroid_id exchange (got $centroidExchanges):\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"assignment join must stay keyed:\n$plan")
  }

  test("v_ann_filtered: probes broadcast into the cell join — filter adds no exchange") {
    // both search surfaces are session-shared (`annhits`) — audit the
    // BUILD plans (the d_dsir rule)
    val plan = builtPlan("annhits|ivff")(VectorOps.annIvfFiltered(_, sf("sf0.001"),
      nQueries = 20, kNn = 5, kCentroids = 16, nProbe = 2))
    // the label predicate rides the existing (centroid_id, label) probe
    // join condition: same BroadcastHashJoin as the unfiltered search, and
    // no extra hash exchange beyond the per-query top-k window
    assert(plan.contains("BroadcastHashJoin"),
      s"probe list must broadcast:\n$plan")
    val unfiltered = builtPlan("annhits|ivfmulti")(VectorOps.annIvfMulti(_, sf("sf0.001"),
      nQueries = 20, kNn = 5, kCentroids = 16, nProbe = 2))
    assert(dataExchanges(plan) <= dataExchanges(unfiltered),
      s"filtering must not add exchanges (filtered ${dataExchanges(plan)} vs " +
        s"unfiltered ${dataExchanges(unfiltered)}):\n$plan")
  }

  test("v_ann_graph: frontier expansion stays src-keyed; no corpus cartesian") {
    // per-round materialization ends the public plan on a checkpoint scan
    // — audit every plan the call ran (IVF assignment, kNN graph, routing
    // layer, hop rounds, result) and the public top-k (the v_graph_rank
    // rule). The routing-seed crossJoin is a broadcast of kCentroids rows
    // (fine); a partition-wise cartesian means frontier×corpus blew up.
    // The anngraph build materializes the routing layer, then one round
    // per hop, then its result: the hop rounds must broadcast.
    var out: org.apache.spark.sql.DataFrame = null
    val plans = builds { s => out = VectorOps.annGraphBeam(s, sf("sf0.001"), hops = 3) }
    (plans.map(_._2) :+ out.queryExecution.executedPlan.toString).foreach { plan =>
      assert(!plan.contains("CartesianProduct"),
        s"graph beam search must never plan a partition-wise cartesian:\n$plan")
    }
    val rounds = plans.collect { case (k, p) if k.startsWith("anngraph|") => p }.slice(1, 4)
    assert(rounds.size == 3, s"expected 3 hop rounds, got ${rounds.size}")
    rounds.foreach { plan =>
      assert(plan.contains("BroadcastHashJoin"),
        s"frontier/eligibility joins must broadcast:\n$plan")
    }
  }

  test("v_graph_compact: both serving graphs cell-keyed; audit never cartesian") {
    // both beams' rounds and the graphs they search are checkpoints:
    // audit every plan the call ran, then the audit join itself
    var out: org.apache.spark.sql.DataFrame = null
    val plans = builds { s => out = VectorOps.graphCompact(s, sf("sf0.001")) }
    assert(plans.exists(_._1.startsWith("stalehits|")), s"no stalehits build ran: $plans")
    (plans.map(_._2) :+ out.queryExecution.executedPlan.toString).foreach { plan =>
      assert(!plan.contains("CartesianProduct"),
        s"staleness audit must never plan a partition-wise cartesian:\n$plan")
    }
  }

  test("v_ivf_split: split work is member-bounded — no corpus cartesian") {
    // members/seeds/sub-centroid joins are all keyed on parent (flagged
    // cells only); the only BNLJ allowed is the broadcast of the tiny
    // cell/centroid relations — an INNER cartesian would be corpus²
    val plan = executedPlan("v_ivf_split")
    assert(!plan.contains("CartesianProduct"),
      s"hot-cell split must never plan a partition-wise cartesian:\n$plan")
  }

  test("v_recall_ivf_split: both searches keyed on centroid; no cartesian") {
    val plan = executedPlan("v_recall_ivf_split")
    assert(!plan.contains("CartesianProduct"),
      s"split-recall must never plan a partition-wise cartesian:\n$plan")
  }

  test("v_recall_margin_trained: every miner's cross-side join stays cell-keyed") {
    // six miners + the exact contrast in one plan: none of them may
    // degenerate to a cross-side cartesian (the broadcast-of-centroids
    // BNLJ is fine — k rows; the INNER A×B one is not)
    val plan = executedPlan("v_recall_margin_trained")
    assert(!plan.contains("CartesianProduct"),
      s"trained-mining recall must never plan a cartesian:\n$plan")
  }

  test("v_margin_pairs: candidates stay cell-bounded — no cross-side cartesian") {
    // the miner's pair relation is session-shared (`margpairs` — the
    // v_recall_margin harness grades the same run), so audit the BUILD
    // plan (the d_dsir rule)
    val plan = graft.functions.VectorOps.marginCore(spark, sf("sf0.001"),
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("label"),
        org.apache.spark.sql.functions.lit(2)) === 0,
      k = 4, kCentroids = 16, minMargin = 1.0, nProbe = 4).queryExecution.executedPlan.toString
    // the A×B candidate join must be keyed on centroid_id; an all-pairs
    // plan here is the n_A×n_B blow-up the IVF cells exist to prevent
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin Inner"),
      s"cross-side join must stay keyed on centroid_id:\n$plan")
    // rank + neighborhood-sum windows are grouped per side: ONE a_id and
    // ONE b_id hash exchange — the alternating order planned a third
    // full-relation shuffle
    def sideExchanges(key: String): Int =
      s"[+:]- Exchange hashpartitioning\\($key".r.findAllIn(plan).length
    assert(sideExchanges("a_id") == 1 && sideExchanges("b_id") == 1,
      s"per-side window exchanges regressed (a=${sideExchanges("a_id")}, " +
        s"b=${sideExchanges("b_id")}):\n$plan")
  }

  test("v_recall_ivf_trained: centroid joins broadcast on both sides, never cartesian") {
    val plan = executedPlan("v_recall_ivf_trained")
    // every centroid relation (seed AND trained, k rows each) must ride a
    // broadcast into its assignment/probe join; the corpus is never
    // partition-wise cartesian'd against anything
    assert(!plan.contains("CartesianProduct"),
      s"trained-recall harness must never plan a cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centroids must broadcast:\n$plan")
  }

  test("d_bm25: query terms broadcast into the term-keyed candidate join, never cartesian") {
    val plan = executedPlan("d_bm25")
    assert(plan.contains("BroadcastHashJoin"),
      s"the w-keyed candidate join must broadcast the query-term list:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"retrieval must never plan a partition-wise cartesian:\n$plan")
  }

  test("d_dsir: cell distributions broadcast, corpus shuffles only on the per-doc agg") {
    // audit the BUILD plan directly: the public surface is session-shared
    // (SharedRel — the verdicts feed both d_dsir and d_dsir_mix), so the
    // query's own explain is just the materialized scan
    val plan = builtPlan("dsir")(MixOps.dsirWeights(_, sf("sf0.001")))
    assert(!plan.contains("CartesianProduct"),
      s"dsir must never plan a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"the 64-cell ratio relation must broadcast into the feature join:\n$plan")
  }

  test("d_lm2_bits / d_quality_ensemble: no cartesian; ensemble histogram window domain-bounded") {
    // d_lm2_bits' public surface is session-shared (feeds the ensemble
    // gate too) — audit the build relation directly
    val lmPlan = builtPlan("lm2")(TextOps.lm2Bits(_, sf("sf0.001")))
    assert(!lmPlan.contains("CartesianProduct"),
      s"d_lm2_bits plans a cartesian:\n$lmPlan")
    val plan = executedPlan("d_quality_ensemble")
    assert(!plan.contains("CartesianProduct"), s"d_quality_ensemble plans a cartesian:\n$plan")
  }

  test("v_graph_rank / d_coreset_central: per-round aggs keyed, never cartesian") {
    // v_graph_rank's public surface ends on the last round's materialized
    // scan — audit every plan the call ran (IVF assignment, kNN graph,
    // mutual edges, rounds) and the public top-k instead (the d_dsir
    // build-side rule). graphRank shares no key of its own: its unkeyed
    // checkpoints are the mutual-edge relation, then one per round.
    var out: org.apache.spark.sql.DataFrame = null
    val plans = builds { s => out = VectorOps.graphRank(s, sf("sf0.001"), iters = 3) }
    (plans.map(_._2) :+ out.queryExecution.executedPlan.toString).foreach { rankPlan =>
      assert(!rankPlan.contains("CartesianProduct"),
        s"v_graph_rank plans a cartesian:\n$rankPlan")
    }
    val rounds = plans.collect { case ("", p) => p }.drop(1)
    assert(rounds.size == 3, s"expected 3 rounds, got ${rounds.size}")
    rounds.foreach { rankPlan =>
      assert(rankPlan.contains("HashAggregate"),
        s"per-round contributions must be keyed aggs:\n$rankPlan")
    }
    val plan = executedPlan("d_coreset_central")
    assert(!plan.contains("CartesianProduct"), s"d_coreset_central plans a cartesian:\n$plan")
  }

  test("d_bm25_compact: both stat passes broadcast; audit never cartesian") {
    val plan = executedPlan("d_bm25_compact")
    assert(!plan.contains("CartesianProduct"),
      s"recompaction audit must never plan a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term joins must broadcast on both stat passes:\n$plan")
  }

  test("d_bm25_pruned: both serving passes broadcast query terms; never cartesian") {
    // two bm25Scored passes (uncapped + pruned) + the mass readout: the
    // only nested-loop allowed is the broadcast of 1-row stat relations
    val plan = executedPlan("d_bm25_pruned")
    assert(!plan.contains("CartesianProduct"),
      s"pruned-serve audit must never plan a partition-wise cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"query-term joins must broadcast on both serving passes:\n$plan")
  }

  test("v_graph_merge: merge is edge-keyed, searches broadcast frontiers — no cartesian") {
    // the O(delta·kNn) claim: base/delta/reverse edges union + per-src
    // re-cap are keyed aggs/windows; the three beams ride graphBeamWith's
    // broadcast frontier. An INNER cartesian would be the full rebuild
    // this operator exists to avoid.
    val plan = executedPlan("v_graph_merge")
    assert(!plan.contains("CartesianProduct"),
      s"delta-edge merge must never plan a partition-wise cartesian:\n$plan")
  }

  test("d_dup_runs: island filter stays doc-keyed; cut join stays on the shingle") {
    val plan = executedPlan("d_dup_runs")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"maximal-run cut must stay keyed:\n$plan")
  }

  test("d_bm25_incr: the delta restriction is a scan-level predicate, not a join") {
    // the O(delta) contract: the corpus side reaches the candidate join
    // already filtered by the salted-split row predicate — a plan that
    // reconstructs the split via a join (or worse, scores the base side
    // and discards it) has silently lost the incremental shape
    val df = SparkEntry.queries("d_bm25_incr")(spark, sf("sf0.001"))
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pmod") && (plan.contains("% 5") || plan.contains("pmod(")),
      s"delta split must appear as a row-level predicate:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("d_nb_classify: model relations broadcast into scoring; corpus never cartesian'd") {
    // audit the BUILD plan directly: the query surface memoizes the scored
    // relation (SharedRel), so a second call in the suite would show only
    // the checkpoint scan
    val plan = builtPlan("nbpred")(TextOps.nbClassify(_, sf("sf0.001")))
    // classes (|C| rows), totals, vocab and priors are all broadcast; the
    // only non-broadcast join key is the token itself
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"model side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"scoring must never plan a cartesian over the corpus:\n$plan")
  }

  test("d_dup_runs_incr: O(delta) run cut stays keyed; base index join on the shingle") {
    val plan = executedPlan("d_dup_runs_incr")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"incremental run cut must stay keyed:\n$plan")
  }

  test("d_quality_requota: rank window is source-partitioned, never global") {
    // the exact-order-statistics claim holds at scale ONLY because the
    // ranking partitions by source over delta rows — a global window
    // (empty windowspec partition) would single-thread the corpus
    val plan = executedPlan("d_quality_requota")
    assert(plan.contains("windowspecdefinition(source"),
      s"rank must partition by source:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"requota must never cartesian:\n$plan")
  }

  test("v_embed_refresh: both LSH passes bucket-keyed; patch join is an equi left join") {
    // the double-pass audit claim: the refreshed relation's pair join must
    // plan exactly like the shared one — bucket equi-join, never all-pairs
    val plan = executedPlan("v_embed_refresh")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"refresh audit must stay bucket-keyed:\n$plan")
  }

  test("v_ann_rp_rr: re-rank tail joins are hash equi-joins on the candidate keys") {
    // the |queries|·cand bound: candidate generation scans the reduced
    // corpus against the BROADCAST 20-row query relation (nested-loop
    // against a broadcast literal is the intended full-scan shape, as in
    // v_ann_sq); the exact re-rank must then join candidates by key, and
    // nothing may plan a partition-wise cartesian
    // session-shared surface (`annhits`) — audit the build plan
    val plan = builtPlan("annhits|rprr")(VectorOps.annRpRr(_, sf("sf0.001"),
      nQueries = 20, k = 5, kDim = 32, cand = 100, d = 64))
    assert(!plan.contains("CartesianProduct"),
      s"rp re-rank must never plan a partition-wise cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"re-rank candidate joins must broadcast-hash on keys:\n$plan")
  }

  test("d_source_budget: ownership stays pair-keyed, selection window source-partitioned") {
    val plan = executedPlan("d_source_budget")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"budget reallocation must stay keyed:\n$plan")
    assert(plan.contains("windowspecdefinition(source"),
      s"cap walk must partition by source:\n$plan")
  }

  test("d_heavy_hitters: candidate and counter probes broadcast; no cartesian") {
    val plan = executedPlan("d_heavy_hitters")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"CMS probe joins must stay keyed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"k-candidate and depth*width-counter sides must broadcast:\n$plan")
  }

  test("d_hh_widen: both widths' counter probes broadcast; no cartesian") {
    val plan = executedPlan("d_hh_widen")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"widen probe joins must stay keyed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate and counter sides must broadcast:\n$plan")
  }

  test("bloom probe build: bitmap side broadcasts; no cartesian") {
    // d_bloom_shingles consumes the SESSION-SHARED probe-verdict relation;
    // the joins to audit live in its build plan
    val plan = builtPlan("bloomprobe")(TextOps.bloomShingles(_, sf("sf0.001"),
      m = 65536, k = 3, deltaMod = 10))
    assert(plan.contains("BroadcastHashJoin"),
      s"the m-bit bitmap stand-in must broadcast into the probe join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"bloom probe joins must stay keyed:\n$plan")
  }

  test("d_bloom_prefilter: only the bloom-maybe subset reaches the exact join") {
    val plan = executedPlan("d_bloom_prefilter")
    assert(plan.contains("LeftSemi"),
      s"exact confirmation must be a semi join:\n$plan")
    assert(plan.contains("bloom_seen"),
      s"the semi join's probe side must be pre-filtered on bloom_seen:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("d_bloom_grow: O(delta) merge and rebuild arm stay keyed; no cartesian") {
    val plan = executedPlan("d_bloom_grow")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"grow is unions + distincts + 1-row broadcast folds only:\n$plan")
  }

  test("d_paraphrase_mine: payload joins keyed by doc id; no cartesian") {
    val plan = executedPlan("d_paraphrase_mine")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the pair enrichment must join by doc_id, never pair-product:\n$plan")
  }

  test("d_distinct_kmv: top-k window partitions by source over distinct hashes") {
    val plan = executedPlan("d_distinct_kmv")
    assert(plan.contains("windowspecdefinition(source"),
      s"KMV rank must partition by source:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("d_quantiles: ranks partition by source; percentile probe is the broadcast literal, never a shuffle") {
    val plan = executedPlan("d_quantiles")
    assert(plan.contains("windowspecdefinition(source"),
      s"rank windows must partition by source:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the only cross join allowed is the broadcast 3-row pcts literal:\n$plan")
    // est x exact stitch and counts stay keyed on source
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"source-keyed joins expected:\n$plan")
  }

  test("d_lsh_sweep: every candidate join keyed on a band value; the only loop join is the 1-row n_true broadcast") {
    // audit the BUILD plan directly: the public surface is session-shared
    // (the 3-row S-curve feeds both the sweep query and d_lsh_retune's
    // pick), so the query's own explain is just the materialized scan
    val plan = builtPlan("lshsweep")(TextOps.lshSweep(_, sf("sf0.001"), 0.9))
    assert(!plan.contains("CartesianProduct"),
      s"band joins must never degenerate to a cartesian:\n$plan")
    // true-pair probe joins over the shared candidate relations stay hashed
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"band-keyed equi-joins expected:\n$plan")
  }

  test("d_dedup_agreement: pair-keyed full outer join; no cartesian") {
    val plan = executedPlan("d_dedup_agreement")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"verdict stitch must stay keyed on the pair:\n$plan")
    assert(plan.contains("FullOuter"),
      s"both tiers' exclusive verdicts must survive the join:\n$plan")
  }

  test("d_len_cap: sketch thresholds broadcast to the doc scan; one pass, no cartesian") {
    val plan = executedPlan("d_len_cap")
    assert(!plan.contains("CartesianProduct"),
      s"threshold application must stay keyed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |sources|-row threshold relation must broadcast:\n$plan")
  }

  test("d_sketch_merge: every state compare keyed; per-shard builds never cartesian") {
    val plan = executedPlan("d_sketch_merge")
    // the only loop joins are the 1-row headline-stat broadcasts; the
    // state symmetric-diffs are (source, h)/(r, bkt)/(pos) equi-joins
    assert(!plan.contains("CartesianProduct"),
      s"shard-merge compares must stay keyed:\n$plan")
    assert(plan.contains("FullOuter"),
      s"state diffs must be full-outer keyed joins:\n$plan")
  }

  test("d_lsh_retune: drift is arithmetic on the 3-row sweep — no pair relation in the plan") {
    val plan = executedPlan("d_lsh_retune")
    // r19: the r18 full-outer pair-drift join is gone (the candidate sets
    // are nested, so drift is an n_cand subtraction) — nothing in this
    // plan may touch a |pairs|-sized relation; the only joins are 1-row
    // broadcasts of the sweep's own rows
    assert(!plan.contains("FullOuter"),
      s"drift must be n_cand arithmetic, not a pair join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing pair-sized may shuffle in the retune:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"only broadcast 1-row joins allowed:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"the pick must read the materialized session-shared sweep:\n$plan")
  }

  test("v_anisotropy: power-round aggs map-side; direction join-back broadcasts") {
    val plan = executedPlan("v_anisotropy")
    assert(!plan.contains("CartesianProduct"),
      s"anisotropy must not plan a cartesian:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the dim-row direction relation must broadcast into the mean agg:\n$plan")
  }

  test("v_abtt: projected pair join stays sign-bucketed; before side reads the shared pair index") {
    val plan = executedPlan("v_abtt")
    assert(!plan.contains("CartesianProduct"),
      s"abtt pair joins must stay bucketed:\n$plan")
    assert(plan.contains("FullOuter"),
      s"verdict drift must be a pair-keyed full outer join:\n$plan")
    // the before side is the session-shared nearDupLsh relation — a
    // materialized scan, not a third candidate generation
    assert(plan.contains("ExistingRDD"),
      s"before side must read the shared pair index:\n$plan")
  }
}
