package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.util.SmallInput.distributed

/** Physical-plan regression guards (the 100 TB posture, checked at sf0.001):
  * filters/projections reach the parquet scan, dimension joins broadcast,
  * top-k never global-sorts, aggregation is partial+final with a single
  * data shuffle. A plan regression here is a scale bug long before it is a
  * local-runtime bug. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    // other suites may have cached these tables; plans must be inspected
    // against the real parquet scans, not InMemoryRelation substitutes.
    spark.catalog.clearCache()
    val df: DataFrame = SparkEntry.queries(name)(spark, sf())
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("scan queries push filters and prune columns at the parquet reader") {
    val p = plan("q_scan_filter_pushdown")
    assert(p.contains("PushedFilters: ["), "filters must reach the scan")
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("LessThan(l_partkey"),
      s"expected shipdate/partkey pushdown in:\n$p")
    // 5-column projection: ReadSchema must not contain unselected columns
    assert(!p.contains("l_extendedprice"), "unselected column read from parquet")
  }

  test("partition-prune query resolves its predicate against the directory index") {
    val p = plan("q_scan_partition_prune")
    assert(p.contains("PartitionFilters: ["), s"expected a partition filter in:\n$p")
    assert(raw"PartitionFilters: \[[^\]]*event_type[^\]]* = click".r.findFirstIn(p).isDefined,
      s"the event_type predicate must prune directories, not rows, in:\n$p")
    // the predicate must NOT degrade to a data filter on the scan output
    assert(!raw"PushedFilters: \[[^\]]*event_type".r.findFirstIn(p).isDefined,
      s"event_type must be a partition column, not a data column, in:\n$p")
  }

  test("dpp query plants a runtime pruning subquery on the fact's partition column") {
    val p = plan("q_scan_dpp")
    // the surviving event_type set is only known after the dim aggregate
    // runs: Catalyst must plant a dynamic pruning expression in the fact
    // scan's PartitionFilters — not a static literal, not a row filter
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected dynamicpruningexpression on the partitioned scan in:\n$p")
    assert(raw"PartitionFilters: \[[^\]]*dynamicpruning".r
      .findFirstIn(p.toLowerCase.replace("partitionfilters", "PartitionFilters")).isDefined ||
      p.contains("PartitionFilters: [isnotnull(event_type"),
      s"the pruning must sit in PartitionFilters in:\n$p")
    // dim side stays a broadcast (DPP reuses that exchange; no extra scan)
    assert(p.contains("BroadcastHashJoin"), s"dim join must broadcast in:\n$p")
  }

  test("psi drift: single corpus scan — the total row re-aggregates the bucket frame") {
    val p = plan("q_drift_psi")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") === 2,
      s"psi must scan orders exactly once (formatted plans list each scan twice) in:\n$p")
    // only the two consumed columns reach the reader
    assert(!p.contains("o_custkey"), "unselected column read from parquet")
  }

  test("bm25: postings-sized shuffles, broadcast idf, top-k without global sort") {
    val p = plan("q_search_bm25")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian in:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"idf join must broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "scoring must not need a corpus-sized sort-merge join (dl rides the tf aggregate)")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
    // stats scan + the shared tf subtree's two consumers = 3 static scans
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") <= 6,
      s"documents scanned more than 3 times in:\n$p")
  }

  test("semantic dedup and pq ANN never plan an all-pairs product") {
    Seq("q_dedup_semantic", "q_ann_pq").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested loop:\n$p")
    }
  }

  test("line dedup: keep-first plans as WindowGroupLimit (partial top-1 below the shuffle)") {
    val p = plan("q_dedup_lines")
    // Spark rewrites the rn=1 filter into WindowGroupLimit, which prunes
    // each map partition to its per-line minimum BEFORE the line-key
    // exchange — the difference between shuffling every line occurrence
    // and shuffling one candidate per (partition, line)
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("kmv sketch: rank <= k filter plans as WindowGroupLimit (partial bottom-k below the exchange)") {
    // q_agg_kmv_intersect localCheckpoints its sketch frame, so the
    // query's own explain only shows the materialized RDD — pin the
    // sketch ALGEBRA fragment (same ops as Aggs.scala's kmv builder)
    // instead: the per-set bottom-k rewrite must prune each map
    // partition to k rows per set BEFORE the exchange, so the shuffle
    // carries at most k·partitions rows per set — never the member
    // domain.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    spark.catalog.clearCache()
    val m = graft.catalog.Tables.lineitem(spark, sf())
      .select(($"l_orderkey" % 2).cast("string").as("st"),
        $"l_partkey".as("mem"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"st").orderBy($"h")
    val kmv = m
      .groupBy($"st",
        conv(substring(md5($"mem".cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .agg(count(lit(1)).as("cnt")).drop("cnt")
      .withColumn("r", row_number().over(w)).filter($"r" <= 512)
    val p = kmv.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("WindowGroupLimit"),
      s"kmv rank filter must plan as WindowGroupLimit in:\n$p")
  }

  test("round-16 queries: dim joins broadcast, no all-pairs products") {
    // er_entities takes the survivorship driver arm (optimization
    // round): its result plan is dim-row-sized; the ORIGINAL contract —
    // broadcast dim joins, no product — is pinned on the distributed
    // chain (distributed only), the over-cap 100 TB path
    val peArm = plan("q_er_entities")
    assert(!peArm.contains("Scan parquet"),
      s"the driver-arm result plan must be result-sized:\n$peArm")
    val pe = {
      import org.apache.spark.sql.functions._
      val wRep = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_name")).orderBy(col("p_partkey"))
      val part = graft.catalog.Tables.part(spark, sf())
      val ids = part.groupBy(col("p_name"))
        .agg(min(col("p_partkey")).cast("long").as("nid"),
          count(lit(1)).as("n_parts"))
        .select(col("p_name").as("name"), col("nid"), col("n_parts"))
      val rep = part.withColumn("rn", row_number().over(wRep))
        .filter(col("rn") === 1)
        .select(col("p_name").as("name"), col("p_brand"),
          col("p_type"), col("p_size"))
      distributed(graft.operators.Dedup.erEntitiesFrom(ids, rep))
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
    }
    assert(pe.contains("BroadcastHashJoin"),
      s"er_entities dim joins must broadcast in:\n$pe")
    assert(!pe.contains("CartesianProduct"), s"cartesian in:\n$pe")
    // decompose: the per-weekday seasonal frame broadcasts back onto
    // the daily frame (weekday-count-sized — never a shuffle join)
    val pd = plan("q_timeseries_decompose")
    assert(pd.contains("BroadcastHashJoin"),
      s"decompose season join must broadcast in:\n$pd")
    assert(!pd.contains("CartesianProduct"), s"cartesian in:\n$pd")
    // betweenness: forward/backward phases are equi-joins throughout
    val pb = plan("q_graph_betweenness")
    assert(!pb.contains("CartesianProduct") &&
      !pb.contains("BroadcastNestedLoopJoin"),
      s"betweenness must stay equi-join-only in:\n$pb")
  }

  test("literal-table queries: trig/prob tables broadcast onto the aggregate frame") {
    // periodogram: the 104-row trig table must broadcast (an equi-join
    // on t % p = r — never a shuffle of the daily frame for it)
    val pp = plan("q_timeseries_periodogram")
    assert(pp.contains("BroadcastHashJoin"),
      s"trig table must broadcast in:\n$pp")
    assert(!pp.contains("CartesianProduct"), s"cartesian in:\n$pp")
    // benford: the probs side of the outer join is 9 literal rows —
    // a broadcast-left outer can't hash-join in Spark, so the honest
    // pin is single-scan + no product (the join inputs are 9-row)
    val pb = plan("q_agg_benford")
    assert(!pb.contains("CartesianProduct"), s"cartesian in:\n$pb")
    assert("Scan parquet".r.findAllIn(pb).size == 2,
      s"benford must scan orders exactly once (formatted plans list each scan twice) in:\n$pb")
  }

  test("er blocking: dictionary-sized passes broadcast; no sort-merge, no product") {
    val p = plan("q_er_blocking")
    assert(p.contains("BroadcastHashJoin"), s"blocking joins must broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"distinct-name dictionary must never shuffle or cross in:\n$p")
  }

  test("merge upsert: ONE full-outer sort-merge join on the key") {
    val p = plan("q_merge_upsert")
    assert("SortMergeJoin FullOuter".r.findAllIn(p).size === 1,
      s"expected exactly one full-outer join in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("zorder box query pushes BOTH dimension predicates to the reader") {
    val p = plan("q_scan_zorder")
    // row-group stat skipping needs the range predicates at the parquet
    // reader — on both clustered dimensions, not just the first
    assert(raw"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_partkey,100\)".r.findFirstIn(p).isDefined,
      s"expected l_partkey lower bound pushed in:\n$p")
    assert(raw"PushedFilters: \[[^\]]*LessThanOrEqual\(l_suppkey,6\)".r.findFirstIn(p).isDefined,
      s"expected l_suppkey upper bound pushed in:\n$p")
    assert(!p.contains("l_extendedprice"), "unselected column read from parquet")
  }

  test("point lookup pushes the key predicate") {
    val p = plan("q_scan_point_lookup")
    assert(p.contains("EqualTo(o_orderkey,4242)"), s"expected key pushdown in:\n$p")
  }

  test("broadcast join: both dims broadcast, fact side never shuffles for the join") {
    val p = plan("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, s"expected 2 broadcast joins in:\n$p")
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to sort-merge")
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q_topk_global")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$p")
  }

  test("flagship aggregation is partial+final hash agg with one data shuffle") {
    val p = plan("q_agg_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final aggregation")
    // one exchange for the group-by, one for the deterministic output sort
    val exchanges = "\\+- Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"unexpected extra shuffles ($exchanges) in:\n$p")
    assert(p.contains("partial_sum"), "map-side partial aggregation missing")
  }

  test("kNN probes broadcast: corpus scan joins without shuffling") {
    val p = plan("q_sim_knn")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probes must broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), "kNN cross product must not sort-merge")
  }

  test("windows partition by key — no un-partitioned global window") {
    val p = plan("q_win_rank")
    assert(p.contains("Window"), "expected window operator")
    assert(p.contains("partitionBy") || p.contains("PartitionBy") ||
      p.contains("hashpartitioning(o_custkey"),
      s"window must hash-partition on the key in:\n$p")
  }

  test("as-of join keeps the range predicate inside the join") {
    val df = SparkEntry.queries("q_join_asof")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    // the ts range condition must sit in the join, not a post-join filter
    assert(p.contains("s_ts") && (p.contains("<=") || p.contains("joincondition")),
      s"expected range predicate in join condition:\n$p")
  }

  test("round-2 dedup/decontamination queries never plan an all-pairs product") {
    Seq("q_dedup_ngram_lsh", "q_decontaminate", "q_dedup_minhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans an all-pairs product:\n$p")
    }
  }

  test("percentiles: slice-stats and rank branches share ONE range exchange") {
    // percentilesOf's ranks are stitched from two branches of the same
    // repartitionByRange subtree; correctness requires both to observe the
    // SAME partition assignment, which holds because the planner/AQE dedups
    // the canonically-identical exchanges. If an edit makes the subtrees
    // non-canonical (cache, checkpoint, divergent projection), two
    // independent range exchanges appear — and ranks silently corrupt
    // (modulo the runtime bracket guard). Pin the reuse here.
    // The query itself takes the driver arm (optimization round): pin its
    // result plan exchange-free, then pin the ORIGINAL contract on the
    // distributed arm (distributed only) — the over-cap 100 TB path.
    spark.catalog.clearCache()
    val pq = plan("q_agg_percentiles")
    assert(!pq.contains("Scan parquet"),
      s"the driver-arm result plan must be result-sized:\n$pq")
    val df = distributed(graft.queries.Aggs.percentilesOf(
      graft.catalog.Tables.lineitem(spark, sf()), Seq(0.25, 0.5, 0.75)))
    df.collect() // AQE: reuse is visible only in the final executed plan
    // Count only the repartitionByRange exchange (REPARTITION_BY_COL) in
    // the FINAL adaptive plan — the trailing "== Initial Plan ==" section
    // legitimately shows two (AQE dedups them at stage submission), and
    // the output orderBy adds an unrelated ENSURE_REQUIREMENTS range
    // exchange. Both branches reusing one stage ⇔ a single plan_id.
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val ids = raw"Exchange rangepartitioning\([^)]*\), REPARTITION_BY_COL, \[plan_id=(\d+)\]".r
      .findAllMatchIn(finalSection).map(_.group(1)).toList
    assert(ids.nonEmpty && ids.distinct.size == 1,
      s"expected both branches on ONE range exchange, got plan_ids $ids in:\n$finalSection")
    assert(finalSection.contains("ReusedExchange"),
      s"expected a ReusedExchange for the second branch in:\n$finalSection")
  }

  test("gini: slice-stats and rank branches share ONE range exchange (percentiles discipline)") {
    spark.catalog.clearCache()
    val pq = plan("q_agg_gini")
    assert(!pq.contains("Scan parquet"),
      s"the driver-arm result plan must be result-sized:\n$pq")
    val df = graft.queries.Aggs.giniDistributed(spark,
      graft.catalog.Tables.orders(spark, sf()))
    df.collect()
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val ids = raw"Exchange rangepartitioning\([^)]*\), REPARTITION_BY_COL, \[plan_id=(\d+)\]".r
      .findAllMatchIn(finalSection).map(_.group(1)).toList
    assert(ids.nonEmpty && ids.distinct.size == 1,
      s"expected both branches on ONE range exchange, got plan_ids $ids in:\n$finalSection")
    assert(finalSection.contains("ReusedExchange"),
      s"expected a ReusedExchange for the slice branch in:\n$finalSection")
  }

  test("weighted median: slice-offset and crossing branches share ONE range exchange") {
    spark.catalog.clearCache()
    val pq = plan("q_agg_weighted_median")
    assert(!pq.contains("Scan parquet"),
      s"the driver-arm result plan must be result-sized:\n$pq")
    val df = graft.queries.Aggs.weightedMedianDistributed(spark,
      graft.catalog.Tables.lineitem(spark, sf()))
    df.collect()
    val finalSection = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val ids = raw"Exchange rangepartitioning\([^)]*\), REPARTITION_BY_COL, \[plan_id=(\d+)\]".r
      .findAllMatchIn(finalSection).map(_.group(1)).toList
    assert(ids.nonEmpty && ids.distinct.size == 1,
      s"expected both branches on ONE range exchange, got plan_ids $ids in:\n$finalSection")
    assert(finalSection.contains("ReusedExchange"),
      s"expected a ReusedExchange for the slice branch in:\n$finalSection")
  }

  test("tpch q3: dim filters reach the scans, broadcast joins, top-k without global sort") {
    val p = plan("q_tpch_q3")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"mktsegment filter must push to the customer scan in:\n$p")
    assert(p.contains("l_shipdate"), "shipdate predicate missing from plan")
    assert(p.contains("BroadcastHashJoin"),
      s"filtered dims must broadcast into the fact join in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT 20 must plan as top-k, not a global sort in:\n$p")
    assert(p.contains("partial_sum"), "revenue aggregation must partial map-side")
  }

  test("sequence packing: visible plan is offsets-broadcast, no cross join") {
    // NOTE the per-doc cumsum window (partitionBy pid) runs BEFORE the
    // localCheckpoint that pins one pid assignment, so it is not visible
    // in this explain — its partition-parallel shape is structural in
    // Pack.packSequences and covered by PackSpec's pathological-partition
    // equivalence test. What this plan CAN pin: the per-partition offset
    // frame joins back as a broadcast (never a shuffle of the data side),
    // the only window left is the tiny slice prefix sum keyed on pid,
    // and nothing cross-joins.
    val p = plan("q_pack_sequences")
    assert(p.contains("windowspecdefinition(_pid"),
      s"expected the slice prefix-sum window keyed on _pid in:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"per-partition offsets must broadcast back in:\n$p")
    assert(!p.contains("CartesianProduct"), "packing must not cross-join")
  }

  test("lateral join: the outer key range reaches the lineitem scan") {
    // per-key top-1 is invariant to dropping other keys, so repeating the
    // outer `o_orderkey < 1000` inside the lateral input is semantics-
    // preserving — and it turns the rank input from |lineitem| into the
    // matched slice. Without the pushed filter the rank runs over the
    // full table and only then joins down: at 100× THAT is the query.
    val p = plan("q_join_lateral")
    assert(p.contains("LessThan(l_orderkey,1000)"),
      s"the key range must reach the lineitem scan in:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"decorrelated per-key top-1 must plan as WindowGroupLimit in:\n$p")
  }

  test("tpch q6: every predicate reaches the lineitem scan, scalar agg partials") {
    val p = plan("q_tpch_q6")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate lower bound must push to the scan in:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_discount") && p.contains("LessThan(l_quantity"),
      s"discount/quantity range must push to the scan in:\n$p")
    assert(p.contains("partial_sum"), "scalar agg must partial map-side")
  }

  test("tpch EXISTS/IN shapes plan as semi joins, NOT EXISTS as anti — never correlated re-scans") {
    Seq("q_tpch_q4", "q_tpch_q18").foreach { q =>
      val p = plan(q)
      assert(p.contains("LeftSemi"), s"$q: EXISTS/IN must plan as a semi join in:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plans an all-pairs product:\n$p")
    }
    // q21 was deliberately reformulated (round 6, 3.74s -> 2.20s) from
    // EXISTS/NOT-EXISTS semi/anti joins into ONE per-(order, supplier)
    // aggregate + a window over the collapsed frame — a single lineitem
    // shuffle instead of three. Pin that shape: a Window operator, no
    // semi join re-scan of the fact, and no all-pairs product.
    val p21 = plan("q_tpch_q21")
    assert(p21.contains("Window"), s"q21 must keep the single-pass window shape in:\n$p21")
    assert(!p21.contains("CartesianProduct"), s"q21 plans an all-pairs product:\n$p21")
    val p22 = plan("q_tpch_q22")
    assert(p22.contains("LeftAnti"), s"q_tpch_q22: NOT EXISTS must plan as an anti join in:\n$p22")
    assert(!p22.contains("CartesianProduct"), s"q_tpch_q22 plans an all-pairs product:\n$p22")
  }

  test("tpch q7: both nation dims broadcast into the fact join") {
    val p = plan("q_tpch_q7")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected the two nation dims broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"q7 plans an all-pairs product:\n$p")
  }

  test("tpch q8/q13/q15/q17: dims broadcast, scalar subqueries stay one-row broadcasts") {
    val p8 = plan("q_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p8).size >= 3,
      s"q8's filtered dims must broadcast in:\n$p8")
    assert(!p8.contains("CartesianProduct"), s"q8 plans an all-pairs product:\n$p8")
    val p13 = plan("q_tpch_q13")
    assert(p13.contains("LeftOuter"), s"q13 must keep zero-order customers in:\n$p13")
    assert("HashAggregate".r.findAllIn(p13).size >= 2, "q13 aggs must partial map-side")
    val p15 = plan("q_tpch_q15")
    // the max(total) scalar lands as a one-row broadcast, not a shuffle
    assert(p15.contains("BroadcastExchange") || p15.contains("BroadcastNestedLoopJoin"),
      s"q15's max subquery must broadcast in:\n$p15")
    assert(!p15.contains("CartesianProduct"), s"q15 plans an all-pairs product:\n$p15")
    val p17 = plan("q_tpch_q17")
    assert(p17.contains("EqualTo(p_brand,Brand#5)"),
      s"q17's brand filter must push to the part scan in:\n$p17")
    assert(!p17.contains("CartesianProduct"), s"q17 plans an all-pairs product:\n$p17")
  }

  test("interval overlap join is a bucket equi-join, never a nested-loop product") {
    val p = plan("q_join_interval")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join degraded to an all-pairs product in:\n$p")
    assert(p.contains("gj_bucket"), s"join must key on the time bucket in:\n$p")
  }

  test("sign-LSH pairs: candidate generation is a bucket equi-join, never all-pairs") {
    val p = plan("q_sim_bucket_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation must be the bucket equi-join in:\n$p")
    assert(p.contains("bucket"), s"join must key on the sign bucket in:\n$p")
  }

  test("bucketed fact join: no hash exchange on either side, bucketed scans feed the merge") {
    val p = plan("q_join_bucketed")
    assert(p.contains("SortMergeJoin"), s"expected the pinned sort-merge join in:\n$p")
    // the whole point: both scans expose the bucket layout as their output
    // partitioning, so neither the join nor the orderkey group-by shuffles
    assert(!p.toLowerCase.contains("exchange hashpartitioning"),
      s"bucketed join must not hash-shuffle in:\n$p")
    assert(p.contains("SelectedBucketsCount"), s"expected bucketed scans in:\n$p")
  }

  test("substring dedup: window-hash key join path, never a product") {
    val p = plan("q_dedup_substring")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span marking must stay equi-keyed in:\n$p")
    // the one corpus-wide stage: the first-occurrence window keys on the
    // window digest (formatted explain puts partitioning on Arguments:)
    assert(p.contains("hashpartitioning(wh"),
      s"expected the window-digest shuffle in:\n$p")
  }

  test("budget selection: range-slice cumsum, no score-keyed window partitioning") {
    val p = plan("q_sample_budget")
    // round 12 de-skewed the running sum: the slice frame is checkpointed
    // (the range-repartition + pid-window stage sits behind the Scan
    // ExistingRDD boundary — ScaleProbe "budget_skew" measures that stage
    // flat on an all-one-score corpus), slice offsets come back through a
    // broadcast join, and NOTHING downstream partitions a window by the
    // quantized score — the single-task-per-score straggler shape must
    // not reappear
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed slice frame in:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"expected the broadcast slice-offset join in:\n$p")
    assert(!p.contains("hashpartitioning(q_e4"),
      s"score-keyed window partitioning reappeared in:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("quantile rollup: broadcast grid/rank joins, no product, no fact-scale window") {
    // driver arm result plan first (optimization round), then the
    // distributed frames (the over-cap arm) under the original pins
    val pq = plan("q_agg_quantile_rollup")
    assert(!pq.contains("Scan parquet"),
      s"the driver-arm result plan must be result-sized:\n$pq")
    import org.apache.spark.sql.functions.{col, floor}
    spark.catalog.clearCache()
    val p = graft.operators.Freq.quantileRollupFrames(
      graft.catalog.Tables.lineitem(spark, sf()).select(
        col("l_shipdate").cast("date").as("day"),
        floor(col("l_extendedprice") * 100).cast("long").as("v")),
      16384L, Seq(50, 90, 99))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // grid cum + rank lookups come back through broadcast joins; the
    // heavy frames (merged grid, sliced ranks) sit behind checkpoint
    // boundaries — nothing here may plan a product or a corpus window
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast grid/rank joins in:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"expected the checkpointed grid/slice frames in:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product allowed in:\n$p")
  }

  test("graph ANN: search result reads checkpointed deltas, no product, no corpus window") {
    // the query takes the driver search arm (optimization round): its
    // plan is the ranked LocalRelation — pin that, then pin the
    // ORIGINAL contract on the distributed arm's plan (distributed only),
    // which is what runs over cap
    val pq = plan("q_ann_graph")
    assert(!pq.contains("CartesianProduct") && !pq.contains("Scan parquet"),
      s"the driver-arm result plan is result-sized:\n$pq")
    import org.apache.spark.sql.functions.col
    val e = graft.catalog.Tables.embeddings(spark, sf())
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val corpus = e.filter(col("vec_id") >= 5 && col("vec_id") < 500)
      .select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val index = graft.operators.Ann.graphAnnIndex(corpus, 12)
    val entries = corpus.filter(col("cand_id").isin(5L, 128L))
      .crossJoin(probes.select(col("probe_id")))
      .select(col("probe_id"), col("cand_id"))
    val p = distributed(graft.operators.Ann
      .graphAnnSearch(probes, corpus, index, entries, 16, 2, 3))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the returned plan is the union of the per-hop checkpointed deltas
    // under the final per-probe rank — the corpus itself appears nowhere
    // (neither a scan nor a product); building the frame already ran the
    // bounded search (eager checkpoints), which is the operator contract
    assert(p.contains("Scan ExistingRDD"),
      s"expected checkpointed search deltas in:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product in the result plan:\n$p")
    assert(!p.contains("Scan parquet"),
      s"the result plan must not rescan the corpus:\n$p")
  }

  test("hybrid RRF: both arms take-ordered (partial top-k), never a global sort") {
    val p = plan("q_search_hybrid_rrf")
    // each arm's top-50 must plan as TakeOrderedAndProject (per-partition
    // heap + tiny merge), not Sort + Limit over a global exchange; the
    // final fused top-10 adds a third
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 3,
      s"expected take-ordered arms + fusion in:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product allowed in:\n$p")
  }

  test("triangle count: every join is an equi-join, never an all-pairs product") {
    val p = plan("q_graph_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge/closure joins must stay equi-joins in:\n$p")
  }

  test("weighted jaccard: wedge aggregate exchanges on the packed single-long key") {
    // the query takes the wedge driver arm (optimization round); the
    // packed-key posture pins move to the distributed arm's plan
    val pq = plan("q_graph_jaccard_weighted")
    assert(!pq.contains("CartesianProduct"),
      s"driver-arm jaccard plan stays product-free:\n$pq")
    val p = distributed(graft.operators.Graph
      .jaccardTopKWeighted(
        graft.operators.Graph.sliceEdgesAffinity(spark, sf()), k = 50))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the measured ~25% lever: the wedge-pair shuffle keys on pk (one
    // BIGINT), not a (v1, v2) struct — regression here silently reverts
    // the exchange-width win
    assert(p.contains("hashpartitioning(pk"),
      s"wedge aggregate must key on the packed long in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"weighted wedge/strength joins must stay equi-joins in:\n$p")
  }

  test("cdc diff: one full-outer equi-join on the key, classification post-join") {
    val p = plan("q_cdc_diff")
    assert(p.contains("FullOuter"), s"expected the full-outer join in:\n$p")
    // formatted explain prints each node twice (tree + detail): count the
    // detail headers, one per physical join node
    assert(raw"\(\d+\) SortMergeJoin".r.findAllIn(p).size === 1,
      s"diff must be ONE key join, not a cascade, in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"version diff must never plan a product in:\n$p")
  }

  test("stream join batch form: user equi-join carries the range as residual") {
    val p = plan("q_stream_join")
    // the range conjunct must ride the equi-join (join condition/filter),
    // never degrade the join itself to a nested-loop time product
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval conjunct degraded the equi-join in:\n$p")
  }

  test("curation pipeline plan: no cartesian product, LSH-bounded shuffles") {
    spark.catalog.clearCache()
    val docs = graft.catalog.Tables.documents(spark, sf())
    val embs = graft.catalog.Tables.embeddings(spark, sf())
    val plan = graft.pipeline.TrainingData.curate(docs, embs)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), s"all-pairs product in curate:\n$plan")
    // band bucket join + dedup anti join + verify joins + feature join —
    // shuffle count stays bounded (no quadratic re-shuffle cascade)
    val exchanges = "\\+- Exchange".r.findAllIn(plan).size
    assert(exchanges <= 14, s"unexpected shuffle cascade ($exchanges) in curate")
  }

  test("sessionize: lag window, running sum, and session agg share ONE user_id shuffle") {
    val p = plan("q_sessionize_gap")
    // HashPartitioning(user_id) satisfies the (user_id, session_no)
    // aggregate's clustering, so the whole query runs on a single hash
    // exchange (+ one range exchange for the presentation sort); formatted
    // explain puts the partitioning on the detail Arguments line
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(hashEx === 1, s"expected exactly one hash shuffle, got $hashEx in:\n$p")
  }

  test("resample: OHLC window and weekly aggregate share ONE (type, week) shuffle") {
    val p = plan("q_timeseries_resample")
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(hashEx === 1, s"expected exactly one hash shuffle, got $hashEx in:\n$p")
  }

  test("ewma: band self-join runs on the daily aggregate, never the raw events product") {
    val p = plan("q_timeseries_ewma")
    assert(!p.contains("CartesianProduct"), s"all-pairs product in ewma:\n$p")
    // the join keys on event_type with the day band as residual — an
    // equi-join (broadcast or sort-merge), not a nested loop
    assert(p.contains("Join") && (p.contains("BroadcastHashJoin") ||
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
      s"expected an equi-join in:\n$p")
  }

  test("heavy hitters: candidate semi-join broadcasts, top-m is TakeOrdered") {
    val p = plan("q_agg_heavy_hitters")
    // the exact-count aggregate must run AFTER the broadcast candidate
    // filter (map-side drop of non-candidates before the only exchange)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate filter must be a broadcast semi-join in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-m must not global-sort in:\n$p")
  }

  test("existence query plans as an ExistenceJoin mark join, not a correlated re-scan") {
    val p = plan("q_join_existence")
    assert(p.contains("ExistenceJoin"), s"expected ExistenceJoin in:\n$p")
    assert(!p.contains("CartesianProduct"), s"mark join degraded to a product in:\n$p")
  }

  test("scd2 pit join: interval predicate rides the user equi-join, never a time product") {
    val p = plan("q_join_scd2_pit")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"PIT join degraded to a product in:\n$p")
  }

  test("asof nearest: both phases are user/event equi-joins, no rank window over the fan-out") {
    val p = plan("q_join_asof_nearest")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nearest lookup degraded to a product in:\n$p")
    assert(!p.contains("Window"), s"two-phase min must avoid the rank window in:\n$p")
  }

  test("win share: window and presentation sort are the only exchanges") {
    val p = plan("q_win_share")
    val hashEx = "Arguments: hashpartitioning".r.findAllIn(p).size
    assert(hashEx === 1, s"expected exactly one hash shuffle, got $hashEx in:\n$p")
  }

  test("acf: lag joins run on the daily aggregate as equi-joins, never a product") {
    val p = plan("q_timeseries_acf")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lag join degraded to a product in:\n$p")
  }

  test("outlier_mad: per-type medians broadcast back — no wide fact shuffle") {
    val p = plan("q_outlier_mad")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      s"both median frames must broadcast in:\n$p")
  }

  test("filtered ANN: routed cells broadcast into the corpus join; filter pushed; no sort-merge") {
    val p = plan("q_ann_filtered")
    // the routed probe set (≤ probes·nprobe rows) is the broadcast side;
    // the corpus never shuffles for the cell join
    assert(p.contains("BroadcastHashJoin"),
      s"routed cells must broadcast-hash-join the corpus in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in the filtered-search plan warrants a sort-merge join:\n$p")
    // the corpus split predicate reaches the parquet reader
    assert(p.contains("GreaterThanOrEqual(vec_id,5)"),
      s"corpus split must push to the scan in:\n$p")
  }

  test("modularity: label frames broadcast onto the edge list; no sort-merge, no unrestricted product") {
    // the query takes the cap-gated driver arm (optimization round):
    // its plan is the in-memory result + TakeOrdered — pin that, then
    // pin the ORIGINAL 100 TB posture on the distributed arm's plan
    // (distributed only), which is what actually runs over cap
    val pq = plan("q_graph_modularity")
    assert(pq.contains("TakeOrderedAndProject"),
      s"driver-arm modularity must still take-order its top-k in:\n$pq")
    assert(!pq.contains("Exchange"),
      s"the driver-arm plan must carry no shuffle in:\n$pq")
    val e = graft.operators.Graph.jaccardSliceEdges(spark, sf())
    val p = distributed(graft.operators.Graph.modularityOf(e,
        graft.operators.Graph.labelAssign(e, 3), k = 10))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      s"both edge-label joins and the degree-label join must broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the node-count-sized label frame must never sort-merge in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row m frame may nested-loop in:\n$p")
  }

  test("derived-partsupp TPC-H tier: fact pruned before the pair agg, one lineitem scan, no sort-merge") {
    // q2/q9/q20 carry the prune-first claim (SURVEY §2B r15 rows): the
    // lineitem fact is scanned exactly ONCE (formatted plans list each
    // scan twice — 5 relations ⇒ 10 'Scan parquet'), the part filter is
    // pushed at the PART scan (the prune side), and every join
    // broadcasts — a second lineitem scan would mean the derived pair
    // relation was built unpruned (the 20×-too-large shuffle the plan
    // audit caught in the first cut of q2).
    for (q <- Seq("q_tpch_q2", "q_tpch_q9", "q_tpch_q20")) {
      val p = plan(q)
      assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") === 10,
        s"$q must scan its 5 relations exactly once each in:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q: all joins are dim-broadcasts — no sort-merge in:\n$p")
    }
    val p2 = plan("q_tpch_q2")
    assert(p2.contains("EqualTo(p_type,LARGE)"),
      s"q2's part filter must reach the part scan (the prune side) in:\n$p2")
    assert(p2.contains("TakeOrderedAndProject"),
      s"q2's top-100 must never global-sort in:\n$p2")
    // q16: both prunes (deficit anti, part inner) run on the FACT below
    // the one distinct-count aggregate — no intermediate pair agg.
    val p16 = plan("q_tpch_q16")
    assert(p16.contains("LeftAnti"), s"deficit exclusion must be an anti join in:\n$p16")
    assert(p16.sliding("Scan parquet".length).count(_ == "Scan parquet") === 6,
      s"q16 scans lineitem/supplier/part exactly once each in:\n$p16")
    assert(!p16.contains("SortMergeJoin"), s"q16 joins broadcast in:\n$p16")
  }

  test("priority sampling: bottom-k is a TakeOrdered, only the two consumed columns are read") {
    val p = plan("q_sample_priority")
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-200 must never global-sort in:\n$p")
    assert(!p.contains("lang"), s"unconsumed document column read in:\n$p")
    assert(p.contains("IsNotNull(text)"),
      s"the text filter must reach the parquet scan in:\n$p")
  }

  test("topk TVF read is summary-sized: the store is scanned, the fact table never") {
    val p = plan("q_tvf_topk")
    assert(!p.contains("lineitem"),
      s"the MG-store read must not touch the fact table in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 of the summary must never global-sort in:\n$p")
  }

  test("er scoring: candidates and representatives join by broadcast — no sort-merge, no product") {
    val p = plan("q_er_scoring")
    assert(!p.contains("SortMergeJoin"),
      s"dictionary-sized ER frames must broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"blocking bounds the pair set — no product in:\n$p")
  }

  test("backtest: one events scan feeds all three models — per-step forecast folds, no joins") {
    val p = plan("q_timeseries_backtest")
    // upper bound, not an exact doubled-literal count: plan formatting
    // may list a scan once or twice per node across Spark versions
    // (advice r17 #4) — the pin is that no SECOND source scan exists
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") <= 2,
      s"backtest must scan events exactly once in:\n$p")
    assert(!p.contains("Join"),
      s"the origins read prefix states appended by ONE fold per model — no join in:\n$p")
  }

  test("viterbi apply: the DP runs on the word dictionary; stats broadcast back to doc words") {
    val p = plan("q_text_viterbi_apply")
    // upper bound (advice r17 #4): ≤ 2 corpus touches (word count +
    // stat fan-out join), each of which the formatter may list twice
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") <= 4,
      s"corpus touched at most twice (word count + stat fan-out join) in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocab-sized score/stat frames must broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product in:\n$p")
  }

  test("louvain: modularity tail broadcasts every label frame; top-k never global-sorts") {
    // the local-move rounds are checkpoint-truncated (eager loop); the
    // inspectable tail is the shared modularity block — same posture
    // pins as q_graph_modularity, plus the presentation TakeOrdered
    val p = plan("q_graph_louvain")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 communities must never global-sort in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"node-count-sized frames must broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only the 1-row m frame may nested-loop in:\n$p")
  }

  test("weighted betweenness: node-sized result tail is a TakeOrdered, never a global sort") {
    val p = plan("q_graph_betweenness_weighted")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 brokers must never global-sort in:\n$p")
  }

  test("silhouette: the n² pair pass combines map-side — the shuffle carries mean cells, never pairs") {
    // the query takes the vector-cap driver arm (optimization round);
    // the 100 TB posture pins move to the distributed arm's plan, which
    // is what runs over cap
    val pq = plan("q_cluster_silhouette")
    assert(!pq.contains("Exchange") || pq.contains("rangepartitioning"),
      s"the driver-arm plan is result-sized — at most the order-by exchange in:\n$pq")
    val assigned = graft.operators.Ann.silhouetteAssigned(spark, sf())
    val p = distributed(graft.operators.Ann.silhouetteOf(assigned))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // the candidate side broadcasts into the nested-loop pair pass
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the pair pass must broadcast the candidate side in:\n$p")
    // (i, ci, cj) sums/counts partial-aggregate BELOW the exchange, so
    // the shuffle moves ≤ n·k cells — at 100 TB this is the difference
    // between shuffling pairs and shuffling the answer
    assert(p.contains("partial_sum") || p.contains("partial sum"),
      s"pair distances must partial-aggregate map-side in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the node-sized a/b frames must never sort-merge in:\n$p")
  }
}
