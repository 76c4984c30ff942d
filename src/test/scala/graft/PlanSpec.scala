package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale properties claimed in the query
  * Scaladocs, asserted against the actual Catalyst output so a regression
  * (lost broadcast hint, broken pushdown, accidental cartesian product)
  * fails CI instead of surfacing as a 100 TB incident.
  */
class PlanSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_join_broadcast: dimension joins broadcast, no shuffle join") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_join_bucketed: co-located join — no exchange feeds the join") {
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), s"expected SMJ over buckets:\n$p")
    // both scans read bucket-aligned
    assert("Bucketed: true".r.findAllIn(p).size == 2, s"bucketed scans missing:\n$p")
    // exactly ONE Exchange in the whole plan: the final ORDER BY's range
    // partitioning — nothing shuffles into the join itself
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"join must consume bucket-aligned scans without shuffling:\n$p")
  }

  test("q_scan_filter: predicates reach the parquet scan") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters: ["))
    assert(p.contains("GreaterThan(l_quantity") || p.contains("IsNotNull(l_quantity"))
  }

  test("q_scan_project: column pruning reaches the parquet scan") {
    val p = plan("q_scan_project")
    // the lineitem scan must not read all 16 columns for a narrow projection
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipinstruct"))
  }

  test("q_agg_group: aggregation is partial+final (map-side combine)") {
    val p = plan("q_agg_group")
    assert(p.contains("partial_sum") || p.contains("partial_count"))
  }

  test("q_sort_limit: global top-N uses TakeOrderedAndProject, not a full sort") {
    val p = plan("q_sort_limit")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_sim_cosine_topk: probe side is broadcast, corpus is never shuffled as pairs") {
    val p = plan("q_sim_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_dedup_minhash: candidates come from an equi shuffle join on band keys") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_image_phash: band candidates stay an equi join, never all-pairs") {
    val p = plan("q_image_phash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_dedup_lines: chunking is map-side; frequency+reassembly are keyed shuffles") {
    val p = plan("q_dedup_lines")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // chunks come from sequence+slice inside the row — the only Generate is
    // the chunk posexplode (one node per join side, each printed twice by
    // the formatted explain: tree + detail section); a per-token explode
    // would add further Generate nodes
    assert(p.split("Generate").length - 1 <= 4, p)
  }

  test("q_sim_ann_ivfpq: cell join is equi-only; codes, not vectors, shuffle") {
    val p = plan("q_sim_ann_ivfpq")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the candidate side of the cell join must project codes (the 32×
    // shuffle shrink is the operator's point)
    assert(p.contains("codes"), s"PQ codes column missing from the plan:\n$p")
  }

  test("q_sim_ann_lsh: OR'd band tables stay equi-join-only, signature fused") {
    val p = plan("q_sim_ann_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // all 96 hyperplane dots run as ONE expression, not 96 inlined loops
    assert(p.contains("graft_hyperplane_sigs"))
  }

  test("q_join_inner: fact-to-fact join shuffles both sides on the join key") {
    val p = plan("q_join_inner")
    // either SMJ or shuffled hash join is acceptable; a broadcast of the
    // orders fact table would not survive 100x scale
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin")) // AQE may broadcast at sf0.001
  }

  test("q_topk_agg: partial top-k aggregation before the shuffle") {
    val p = plan("q_topk_agg")
    // the typed Aggregator must run as partial+final ObjectHashAggregate —
    // map-side top-k trimming is what bounds the shuffle to k rows/group
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
    assert(p.contains("partial_topkaggregate") || p.contains("partial_"))
    assert(!p.contains("Window")) // no full-sort window in this formulation
  }

  test("Ops.asofJoin plans one keyed shuffle + window, never a join operator") {
    import org.apache.spark.sql.functions._
    val left = Tables(spark, dir, "events").select("event_id", "user_id", "ts")
    val right = Tables(spark, dir, "orders")
      .groupBy("o_custkey", "o_orderdate").agg(max("o_orderkey").as("o_orderkey"))
    val p = planOf(graft.operators.Ops.asofJoin(left, right,
      "user_id", "o_custkey", "ts", "o_orderdate", Seq("o_orderkey")))
    // the union+window rewrite must not degrade to a range/theta join:
    // no join operator at all, one Window over the per-key sort, and the
    // only exchanges are the union's key partitioning + the agg's
    assert(!p.contains("Join"), p)
    assert(p.contains("Window"))
    assert(p.contains("Union"))
  }

  test("q_pack_sequences: cumsum windows are per-shard, never one global partition") {
    val p = plan("q_pack_sequences")
    // a Window whose partition spec were empty would funnel the whole
    // corpus through one task — the classic packing-cumsum mistake
    assert(p.contains("Window"), p)
    assert(p.contains("windowspecdefinition(shard#"),
      s"window must partition by shard:\n$p")
    assert(!p.contains("windowspecdefinition(sk#"),
      s"global (shard-less) window detected:\n$p")
  }

  test("q_percentile_hist: histogram agg combines map-side; fetch join is broadcast") {
    val p = plan("q_percentile_hist")
    assert(p.contains("partial_count"), s"histogram must combine map-side:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"needed-bucket fetch must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("DotProduct participates in whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = Tables(spark, dir, "embeddings")
      .select(graft.functions.VectorExpressions.dot(col("embedding"), col("embedding")).as("d"))
    val p = planOf(df)
    // the projection containing graft_dot must sit inside a WholeStageCodegen
    // span — formatted explain marks codegen'd operators with a `*` prefix
    assert(p.contains("graft_dot"))
    assert(p.contains("* Project"))
    val r = df.limit(1).collect()(0).getDouble(0)
    assert(r > 0.0)
  }

  test("q_join_bloom: bloom probe filters the fact scan, semi-join broadcasts") {
    val p = plan("q_join_bloom")
    // the probe must sit in the scan-side Filter (pre-exchange), inside codegen
    assert(p.contains("graft_bloom_might_contain"), s"bloom probe missing:\n$p")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"false-positive cleanup must be a broadcast semi-join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact table must never shuffle into the join:\n$p")
  }

  test("q_decontaminate: candidates from a gram equi-join, never all-pairs") {
    val p = plan("q_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination must stay an equi-join on grams:\n$p")
  }

  test("q_bm25: df branch reuses the tf exchange at runtime; stats broadcast") {
    def executed(name: String): String = {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // run THIS queryExecution so AQE finalizes its plan
      df.queryExecution.executedPlan.toString
    }
    def reuses(p: String): Boolean = p.contains("ReusedExchange") ||
      p.contains("ReusedQueryStage") || p.contains("StageReuse")
    // static explain duplicates the explode+agg subtree under both join
    // inputs; AQE's executed plan must collapse them into one stage
    val p = executed("q_bm25")
    assert(reuses(p), s"df must reuse the tf explode+agg exchange at runtime:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row stats frame must broadcast:\n$p")
    // q_dedup_substring's docs-per-hash census counts when(c >= 1, 1) so
    // `c` survives pruning and both branches share the (doc, h) exchange;
    // a Catalyst that folded it would explode the corpus twice
    val d = executed("q_dedup_substring")
    assert(reuses(d), s"the census must reuse the (doc, h) exchange at runtime:\n$d")
  }

  test("q_join_range_binned: band join runs as an equi join, never a nested loop") {
    val p = plan("q_join_range_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned range join must not plan a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"expected an equi join on the bin id:\n$p")
  }

  test("q_join_range_auto: the optimizer rule bins the naive band join") {
    val p = plan("q_join_range_auto")
    assert(p.contains("__graft_bin"), s"BandJoinToBinEquiJoin did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"naive band join must not plan a nested loop:\n$p")
  }

  test("q_join_range_auto_date / _ts: temporal bands bin too — never a nested loop") {
    // asserted on BOTH the rule-fired marker AND the absence of
    // BNLJ/Cartesian (VERDICT r7 #8): if a future Spark upgrade reorders
    // optimizer batches and silently un-fires the rule, the absence check
    // still fails loudly here rather than surfacing as a 100 TB incident.
    for (q <- Seq("q_join_range_auto", "q_join_range_auto_date", "q_join_range_auto_ts")) {
      val p = plan(q)
      assert(p.contains("__graft_bin"), s"$q: BandJoinToBinEquiJoin did not fire:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q: band join must not plan a nested loop:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"), s"$q: expected an equi join on the bin id:\n$p")
    }
  }

  test("q_join_skew_adaptive: hot-set joins broadcast, main join is a shuffled hash join") {
    val p = plan("q_join_skew_adaptive")
    // the census flag reaches both sides as broadcasts — the fact table
    // must never shuffle just to learn whether its key is hot
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"hot-set must broadcast to both sides:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"main join must be shuffle_hash:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_cluster_kmeans: assignment is a map-side projection (no join, no explode)") {
    val p = plan("q_cluster_kmeans")
    assert(p.contains("graft_dot"), s"assignment must use codegen'd dots:\n$p")
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    assert(!p.contains("Generate"), s"final assignment must not explode:\n$p")
  }

  test("q_ngram_topk: global top-k is TakeOrdered, never a full sort") {
    val p = plan("q_ngram_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
  }

  test("q_join_interval_overlap: overlap pairs come from an equi join, not a nested loop") {
    val p = plan("q_join_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval overlap must bin to an equi join:\n$p")
  }

  test("q_stats_moments: moment sums aggregate partial+final over primitive longs") {
    val p = plan("q_stats_moments")
    assert(p.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2,
      s"expected partial+final aggregation:\n$p")
    assert(!p.contains("cast(l_quantity"), "sums must run on pre-scaled longs")
  }

  test("q_funnel: stage joins never degenerate to nested loops") {
    val p = plan("q_funnel")
    assert(!p.contains("CartesianProduct"), s"funnel stages must equi-join:\n$p")
  }

  test("q_tpch_q5: dimension sides broadcast and date predicates reach the scan") {
    val p = plan("q_tpch_q5")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"date filter must push into the orders scan:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_tpch_q3: top-10 via TakeOrdered, never a global sort") {
    val p = plan("q_tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$p")
    assert(p.contains("c_mktsegment"), "segment filter must prune before the join")
  }

  test("q_tpch_q4: EXISTS runs as a hash semi join with the date residual") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("PushedFilters") && p.contains("o_orderdate"),
      s"order-date filter must push into the orders scan:\n$p")
  }

  test("q_tpch_q6: pure scan-agg — predicates pushed, no join, partial agg") {
    val p = plan("q_tpch_q6")
    assert(!p.contains("Join"), s"Q6 must be join-free:\n$p")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"ship-date filter must push into the scan:\n$p")
    assert(p.contains("partial_sum"), s"revenue sum must combine map-side:\n$p")
  }

  test("q_tpch_q19: disjunctive predicate stays a residual on an equi join") {
    val p = plan("q_tpch_q19")
    assert(p.contains("BroadcastHashJoin"), s"part must broadcast-equi-join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the OR blocks must never turn the join into a nested loop:\n$p")
  }

  test("q_tpch_q8: 7-table chain stays broadcast equi joins, share in one agg") {
    val p = plan("q_tpch_q8")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), s"conditional+total must combine map-side:\n$p")
  }

  test("q_tpch_q22: NOT EXISTS plans as a LEFT ANTI hash join") {
    val p = plan("q_tpch_q22")
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(!p.contains("CartesianProduct") ||
      p.contains("BroadcastNestedLoopJoin"), // the 1-row scalar may BNLJ-broadcast
      p)
  }

  test("q_trend_ols: dims broadcast, moment sums combine map-side") {
    val p = plan("q_trend_ols")
    assert(p.contains("BroadcastHashJoin"), s"customer/nation must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"normal-equation sums must pre-aggregate map-side:\n$p")
  }

  test("q_scd2_build: lag and lead share one user-keyed sort — one shuffle") {
    val p = plan("q_scd2_build")
    // one Exchange into the window stack, one for the final ORDER BY
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 2,
      s"run-start lag and interval-close lead must reuse one shuffle:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_changepoint_cusum: event-scale work is one combined rollup; argmax is group-limited") {
    val p = plan("q_changepoint_cusum")
    assert(p.contains("partial_sum"), s"daily rollup must combine map-side:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"the per-type argmax pick must bound rows before the rank filter:\n$p")
  }

  test("q_join_asof_nearest: two as-of passes, keyed shuffles only — no per-row subquery shapes") {
    val p = plan("q_join_asof_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nearest join must stay a union+window rewrite:\n$p")
    assert("\\(\\d+\\) Window".r.findAllIn(p).size >= 2,
      s"expected one window pass per direction:\n$p")
  }

  test("q_dedup_keep_best: survivor rank is group-limited ahead of the filter") {
    val p = plan("q_dedup_keep_best")
    assert(p.contains("WindowGroupLimit"),
      s"rn=1 filter must push a per-group limit below the window:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_winsorize: cutpoint frame broadcasts back — no shuffle join, no cartesian") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), s"cuts must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_rolling_actives: rolling distinct via explode — no range join") {
    val p = plan("q_rolling_actives")
    // the only nested-loop shape allowed is the 1-row max-day broadcast
    // attach (same as the funnel's count attach); the 7-day membership
    // itself must come from the map-side explode, never a day×activity
    // range join — so no SortMergeJoin / CartesianProduct anywhere
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"the 7-day window must come from the map-side explode, not a range join:\n$p")
    assert(p.contains("Generate") || p.contains("explode"),
      s"expected the contribution explode:\n$p")
  }

  test("q_text_diversity: both aggregations combine map-side") {
    val p = plan("q_text_diversity")
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"token and doc aggs must pre-aggregate:\n$p")
  }

  test("q_agg_mode: struct-max argmax — two combined aggs, no window, no sort-per-group") {
    val p = plan("q_agg_mode")
    assert(!p.contains("Window"), s"mode must not rank via a window:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_max"),
      s"both aggregation levels must combine map-side:\n$p")
  }

  test("q_scd2_pit: point-in-time lookup stays an as-of rewrite — no interval join shapes") {
    val p = plan("q_scd2_pit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("ShuffledHashJoin"),
      s"containment must compile to union+window, never a join operator:\n$p")
    assert("\\(\\d+\\) Window".r.findAllIn(p).nonEmpty, s"expected the as-of window:\n$p")
  }

  test("q_lm_score: vocabulary join left to the planner, ln sums combine map-side") {
    val p = plan("q_lm_score")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_sum"), s"decimal ln sums must pre-aggregate:\n$p")
  }

  test("q_percentile_weighted: tie-collapse combines map-side; totals broadcast back") {
    val p = plan("q_percentile_weighted")
    assert(p.contains("partial_sum"), s"(group, value) weight collapse must pre-aggregate:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"group totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_tpch_q18: HAVING subquery plans as a semi-join; top-100 is TakeOrdered") {
    val p = plan("q_tpch_q18")
    assert(p.contains("LeftSemi"), s"the qualifying-orders filter must be a semi-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must never global-sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_join_nullsafe: <=> stays an equi hash join, never a nested loop") {
    val p = plan("q_join_nullsafe")
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("SortMergeJoin"), s"null-safe equality must be a hash-joinable key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q_cumulative_distinct: running distinct rewritten to first-sighting sums — no distinct window") {
    val p = plan("q_cumulative_distinct")
    assert(!p.contains("Join"), s"the rewrite needs no join:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"first-day and daily aggs must combine map-side:\n$p")
  }

  test("q_sequence_pattern: one user-keyed shuffle builds journeys; regex is map-side") {
    val p = plan("q_sequence_pattern")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
      s"journey build must be one keyed shuffle (+ the final order):\n$p")
  }

  test("q_quality_audit: orphan check is a broadcast anti-join; scalar rules share one scan agg") {
    val p = plan("q_quality_audit")
    assert(p.contains("BroadcastHashJoin"), s"FK orphans must broadcast the dimension keys:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no rule may shuffle-join the fact:\n$p")
    assert(p.contains("partial_count"), s"scalar rules must combine map-side:\n$p")
  }

  test("q_concurrency_peak: sweep line — no self-join, deltas pre-aggregated") {
    val p = plan("q_concurrency_peak")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"peak concurrency must never plan an interval self-join:\n$p")
    assert(p.contains("partial_sum"), s"boundary deltas must pre-aggregate:\n$p")
  }
  test("q_tpch_q2: min-cost subquery plans as agg+join, partsupp derives map-side (r9)") {
    val p = plan("q_tpch_q2")
    // the correlated MIN rewrite must never degenerate into a per-row loop
    assert(!p.contains("CartesianProduct"), p)
    // every join is an equi hash join (dimensions + min-cost both broadcast)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), p)
    // the derived partsupp costs one part scan + a generate, no extra shuffle
    assert(p.contains("Generate"))
  }

  test("q_tpch_q9: composite-key fact join stays equi; profit agg is partial+final (r9)") {
    val p = plan("q_tpch_q9")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop is the 1-row supplier-count scalar broadcast
    // inside the derived partsupp (a Cross build with no condition) — any
    // CONDITIONED nested loop would mean a fact join degenerated
    assert(p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") &&
        Seq("Inner", "Left", "Right", "Full", "Semi", "Anti", "Cross").exists(l.contains))
      .forall(_.contains("Cross")), p)
    assert(p.contains("HashAggregate"))
  }

  test("q_tpch_q20: excess-stock chain is aggregate+semi-join, never correlated re-scan (r9)") {
    val p = plan("q_tpch_q20")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator
      .filter(l => l.contains("BroadcastNestedLoopJoin") &&
        Seq("Inner", "Left", "Right", "Full", "Semi", "Anti", "Cross").exists(l.contains))
      .forall(_.contains("Cross")), p)
    assert(p.contains("LeftSemi") || p.contains("LeftAnti"), p)
  }
  test("q_knn_classify: probes broadcast, scoreboard shuffles, votes aggregate (r9)") {
    val p = plan("q_knn_classify")
    // the probe side is an explicit broadcast nested-loop (qid =!= cid is
    // the only condition, like q_sim_cosine_topk) — the CORPUS never
    // shuffles as pairs and nothing is cartesian
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"))
  }

  test("q_train_split: assignment is map-side; only tiny aggregates shuffle (r9)") {
    val p = plan("q_train_split")
    // per-source totals broadcast back — no sort-merge join anywhere
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dedup_substring: sampled windows census partial+final; no all-pairs (r10)") {
    val p = plan("q_dedup_substring")
    // the >= 2-docs census must combine map-side before its exchange, and
    // nothing in the pipeline may degenerate to a pair product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_join_dpp: the fact scan carries a dynamic partition-pruning filter (r11)") {
    val p = plan("q_join_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected dynamicpruningexpression in the fact scan's PartitionFilters:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim must broadcast:\n$p")
  }

  test("q_decontaminate_bloom: corpus side never sort-merge-joins; eval side broadcasts (r11)") {
    val p = plan("q_decontaminate_bloom")
    // the whole point vs q_decontaminate: the train grams must NOT feed a
    // shuffled gram join — the eval set arrives only as broadcasts (the
    // 1-row bloom crossJoin + the exact-twin gram set), and the corpus's
    // only exchange is the slim per-doc flag census
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"train grams must never shuffle into a join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    val bcast = """\(\d+\) BroadcastExchange""".r.findAllIn(p).size
    assert(bcast >= 2, s"expected bloom + eval-gram broadcasts, got $bcast:\n$p")
  }

  test("Iceberg merge-on-read: no-delete reads plan ZERO joins; delete application broadcasts (r12)") {
    val sess = spark
    import sess.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-planspec-mor").toString
    graft.sinks.IcebergSink.writeWithRetry(
      (1L to 1000L).map(i => (i, i * 2.0)).toDF("id", "v"), table,
      graft.sinks.IcebergSink.CreateExclusive)
    // fast path: a snapshot without delete files must read as a plain
    // scan — no join, no lineage columns, zero merge-on-read overhead
    val clean = planOf(graft.sinks.IcebergSink.read(spark, table))
    assert(!clean.contains("Join"), s"no-delete read must plan zero joins:\n$clean")
    // with deletes: the (file, pos) anti-join must BUILD on the delete
    // side (deletes ≪ data at any scale) — broadcast hash, never a
    // sort-merge that shuffles the data side, and never a nested loop
    graft.sinks.IcebergSink.deleteWhere(spark, table, "id % 10 = 0")
    val merged = planOf(graft.sinks.IcebergSink.read(spark, table))
    assert(merged.contains("BroadcastHashJoin") && merged.contains("LeftAnti"),
      s"delete application must be a broadcast anti-join:\n$merged")
    assert(!merged.contains("SortMergeJoin") && !merged.contains("CartesianProduct"),
      s"the data side must never shuffle for delete application:\n$merged")
    // equality deletes take the same broadcast shape
    graft.sinks.IcebergSink.upsert(spark, table,
      Seq((5L, 50.0)).toDF("id", "v"), Seq("id"))
    val eq = planOf(graft.sinks.IcebergSink.read(spark, table))
    assert(!eq.contains("SortMergeJoin") && !eq.contains("CartesianProduct"),
      s"equality-delete application must broadcast too:\n$eq")
  }

  test("Delta deletion vectors: clean reads plan zero DV overhead; DV application is one filter, never a join (r13)") {
    val sess = spark
    import sess.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-planspec-dv").toString
    graft.sinks.DeltaSink.write(
      (1L to 1000L).map(i => (i, i * 2.0)).toDF("id", "v"), table)
    // fast path: no live DV → plain scan, no probe expression, no
    // lineage columns
    val clean = planOf(graft.sinks.DeltaSink.read(spark, table))
    assert(!clean.contains("graft_dv_deleted") && !clean.contains("Join"),
      s"a DV-free read must plan zero DV overhead:\n$clean")
    // with a DV: application is ONE filter expression riding the scan —
    // all bitmaps travel as a plan literal, deserialized once per
    // executor — NEVER a join or a shuffle of the data side
    graft.sinks.DeltaSink.deleteWhereDV(spark, table, "id % 10 = 0")
    val dv = planOf(graft.sinks.DeltaSink.read(spark, table))
    assert(dv.contains("graft_dv_deleted"),
      s"the DV probe must ride the scan as a filter:\n$dv")
    assert(!dv.contains("Join") && !dv.contains("Exchange"),
      s"DV application must never join or shuffle:\n$dv")
  }

  test("q_semdedup: candidate pairs come from the cluster-id equi join, never corpus x corpus (r10)") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"), p)
    // the ONLY nested-loop allowed is the final 1-row gate assembly
    // (crossJoin of single-row aggregates); the pair join itself must key
    // on the cluster id. Formatted explain prints every operator twice
    // (tree line + details header), so count UNIQUE nodes via the
    // numbered details header, which appears exactly once per node.
    val bnl = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(p).size
    assert(bnl <= 4, s"unexpected nested-loop node count $bnl:\n$p")
  }

  test("readRange over a DV'd table packs ONLY the surviving files' bitmaps (r13 verdict)") {
    import graft.sinks.DeltaSink
    import org.apache.spark.sql.functions.{col, lit}
    val sess = spark
    import sess.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-plan-dv").toString
    // 4 files with disjoint id ranges (repartitionByRange + sort keeps
    // per-file [min,max] tight), a DV delete touching every file
    val df = (0L until 400L).map(i => (i, i % 5)).toDF("id", "g")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    assert(DeltaSink.write(df, table))
    assert(DeltaSink.deleteWhereDV(sess, table, "id % 100 = 7") == 4L)
    def dvLiteralKeys(q: org.apache.spark.sql.DataFrame): Set[String] = {
      val packs = q.queryExecution.optimizedPlan.collect {
        case pl => pl.expressions.flatMap(_.collect {
          case d: graft.functions.DvDeleted =>
            d.dvMap.eval(null).asInstanceOf[Array[Byte]]
        })
      }.flatten
      assert(packs.nonEmpty, "expected a DvDeleted probe in the plan")
      graft.functions.DeletionVector.unpackMap(packs.head).keySet
    }
    // unpruned read: all 4 files' bitmaps ride the literal
    val full = DeltaSink.read(sess, table)
    assert(full.count() == 396)
    assert(dvLiteralKeys(full.filter(!(col("id") % lit(100) === 7))).size >= 4)
    // stats-pruned read: only the file covering [0,100) survives, and the
    // plan literal must exclude the other three files' bitmaps
    val pruned = DeltaSink.readRange(sess, table, "id", "10", "60")
    val keys = dvLiteralKeys(pruned)
    // dual-keyed map (raw + URI-encoded): distinct FILES = distinct parquet names
    val distinctFiles = keys.map(k => k.substring(k.lastIndexOf('/') + 1))
    assert(distinctFiles.size == 1,
      s"a range-pruned read must pack ONE file's bitmap, got $distinctFiles")
    assert(pruned.filter(col("id").between(10, 60)).count() == 51) // inclusive 10..60; id=7 deleted but outside
  }

  test("past the literal threshold the DV probe ships as a broadcast (r14)") {
    import graft.sinks.{DeltaSink, IcebergSink}
    import org.apache.spark.sql.functions.{col, sum}
    val sess = spark
    import sess.implicits._
    def rows = (0L until 300L).map(i => (i, i % 3)).toDF("id", "g").coalesce(2)
    val table = java.nio.file.Files.createTempDirectory("graft-plan-dvbc").toString
    assert(DeltaSink.write(rows, table))
    val ibTable = java.nio.file.Files.createTempDirectory("graft-plan-ibdvbc")
      .toString + "/tbl"
    IcebergSink.write(rows, ibTable, IcebergSink.CreateExclusive)
    // both formats' merged reads share one size rule: (read, DV delete)
    val formats: Seq[(String, () => org.apache.spark.sql.DataFrame, () => Long)] = Seq(
      ("delta", () => DeltaSink.read(sess, table),
        () => DeltaSink.deleteWhereDV(sess, table, "id % 3 = 0")),
      ("iceberg", () => IcebergSink.read(sess, ibTable),
        () => IcebergSink.deleteWhereDV(sess, ibTable, "id % 3 = 0")))
    formats.foreach { case (_, _, delete) => assert(delete() == 100L) }
    val saved = DeltaSink.DvLiteralMaxBytes
    try {
      DeltaSink.DvLiteralMaxBytes = 1 // force the broadcast path
      formats.foreach { case (fmt, read, delete) =>
        val out = read()
        val hasBc = out.queryExecution.optimizedPlan.exists(
          _.expressions.exists(_.exists(
            _.isInstanceOf[graft.functions.DvDeletedBroadcast])))
        assert(hasBc, s"$fmt: expected a DvDeletedBroadcast probe past the threshold")
        assert(out.count() == 200)
        // census: ids 0..299 sum to 44850, the deleted multiples of 3 to 14850
        assert(out.agg(sum(col("id"))).head().getLong(0) == 30000L, fmt)
        assert(out.filter(col("id") % 3 === 0).count() == 0,
          s"$fmt: the broadcast probe must mask exactly the deleted rows")
        // the merged-view semantics hold through the broadcast path too
        assert(delete() == 0L,
          s"$fmt: re-delete stays a no-op when matches evaluate via the broadcast")
      }
    } finally DeltaSink.DvLiteralMaxBytes = saved
  }

  test("Iceberg V3 DV read plans the O(1) probe, never a positional anti-join; clean scans plan none (r15)") {
    import graft.sinks.IcebergSink
    import org.apache.spark.sql.functions.col
    val sess = spark
    import sess.implicits._
    val table = java.nio.file.Files.createTempDirectory("graft-plan-ibdv")
      .toString + "/tbl"
    IcebergSink.write((0L until 200L).map(i => (i, i % 5)).toDF("id", "g"),
      table, IcebergSink.CreateExclusive)
    // clean table: the read is the PLAIN scan — no lineage columns, no
    // probe, no join machinery of any kind rides a DV-free snapshot
    val clean = planOf(IcebergSink.read(sess, table))
    assert(!clean.contains("graft_dv_deleted") && !clean.contains("_gf_pos"))
    assert(IcebergSink.deleteWhereDV(sess, table, "id % 50 = 7") == 4L)
    val out = IcebergSink.read(sess, table)
    assert(out.count() == 196)
    // the vectors apply through the native expression — a per-row O(1)
    // bitmap probe — NOT through the v2 positional (file,pos) anti-join
    val p = planOf(out)
    assert(p.contains("graft_dv_deleted"))
    assert(!p.contains("LeftAnti"),
      "V3 vectors must not fall back to the positional anti-join")
    // only the broadcast path-sequence lookup joins; nothing sort-merges
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_rfm: exact NTILE ranks ride the range-partitioned rankExact, never a window (r16/r17 weak marks)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_rfm")(spark, dir)
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      s"q_rfm should carry NO window at all (rank = broadcast offset + " +
        s"checkpointed position arithmetic):\n${df.queryExecution.sparkPlan}")
    // the three score ranks join the broadcast per-partition offsets of
    // Ops.rankExact's sampled-CDF range partitioning
    val p = planOf(df)
    assert(p.contains("__graft_rank_pid"),
      s"expected Ops.rankExact broadcast offset joins:\n$p")
  }

  test("q_pack_bins: class-local ranks ride rankExact, not a per-class window (r17 weak mark)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = SparkEntry.queries("q_pack_bins")(spark, dir)
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.isEmpty,
      "q_pack_bins must not rank through a Window.partitionBy(k) — one " +
        s"harmonic class would flow through ONE task:\n${df.queryExecution.sparkPlan}")
    val p = planOf(df)
    assert(p.contains("__graft_rank_pid"),
      s"expected Ops.rankExact broadcast offset joins:\n$p")
  }

  test("suite gate: no declared query plans a global window, a data-plane single-partition exchange, or an unlisted cartesian product (r16 advice #2)") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.{GlobalLimitExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // CARTESIAN allowlist: queries where an all-pairs product is the
    // declared point, not a plan accident (every other cross-shape in the
    // suite is a broadcast 1-row scalar gate or a bounded grid, which
    // plan as BroadcastNestedLoopJoin, not CartesianProductExec)
    val allowCartesian: Map[String, String] = Map(
      "q_join_cross" -> "the declared cross-join demonstrator")
    // ALLOWLIST — each entry names the bounded frame that makes its global
    // window / single-partition exchange scale-safe. Anything new fails
    // the gate until it is either re-partitioned or justified here.
    val allow: Map[String, String] = Map(
      // running total over PER-DAY aggregates — the frame is calendar-
      // granularity-bounded (#distinct days, ~2.5k over the corpus's
      // 7 years), never row-scale; documented in the query's Scaladoc
      "q_cumulative_distinct" ->
        "global cumsum over day-granularity aggregates (bounded by #days)",
      // whole-frame max/avg over the 16-bucket skew census — the window
      // input is exactly 16 rows by construction (md5-prefix buckets)
      "q_partition_skew" ->
        "global window over the 16-row bucket census",
      // rank assignment AFTER limit(500): one partition of ≤500 rows by
      // construction (the vocabulary head), never the token stream
      "q_vocab_build" ->
        "global row_number after limit(500) — ≤500-row frame")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if allow.contains(name) => Nil
      case (name, fn) =>
        val plan =
          try fn(spark, dir).queryExecution.sparkPlan
          catch { case e: Throwable =>
            fail(s"$name failed to construct/plan at $dir: $e")
          }
        val bad = scala.collection.mutable.ArrayBuffer.empty[String]
        plan.foreach { node =>
          node match {
            case w: WindowExec if w.partitionSpec.isEmpty =>
              bad += s"$name: global Window(${w.windowExpression.mkString(",").take(80)})"
            case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
              bad += s"$name: global WindowGroupLimit"
            case _: CartesianProductExec if !allowCartesian.contains(name) =>
              bad += s"$name: CartesianProduct"
            case _ =>
          }
          // a 1-partition exchange is safe only when what flows through it
          // is already partition-count-bounded (partial→final scalar agg)
          // or row-bounded (global limit); anything else funnels data rows
          // through one task
          node.children.foreach {
            case e: ShuffleExchangeExec
                if e.outputPartitioning.numPartitions == 1 =>
              val childBounded = e.child match {
                case a: BaseAggregateExec => a.groupingExpressions.isEmpty
                case _ => false
              }
              val consumerBounded = node match {
                case _: GlobalLimitExec => true
                case a: BaseAggregateExec => a.groupingExpressions.isEmpty
                case _ => false
              }
              if (!childBounded && !consumerBounded)
                bad += s"$name: 1-partition exchange under ${node.nodeName}"
            case _ =>
          }
        }
        bad
    }
    assert(offenders.isEmpty,
      s"single-partition plan hazards (fix or allowlist with justification):\n${offenders.mkString("\n")}")
  }
}
