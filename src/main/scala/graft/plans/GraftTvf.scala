package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.catalog.Tables
import graft.util.FixtureCache

/** SQL table-valued functions over the operator library — the plain-SQL
  * entry point for operators that are DataFrame-first:
  *
  *   SELECT * FROM graft_near_dups('/data/sfX', 0.5)
  *   SELECT * FROM graft_doc_chunks('/data/sfX', 32, 8)
  *
  * Registered through `SparkSessionExtensions.injectTableFunction`: the
  * builder receives the parsed literal arguments and returns the
  * operator's ANALYZED logical plan, which the resolver splices into the
  * enclosing query like a named subquery — from there Catalyst optimizes
  * across the boundary (pushdown into the TVF's scans works).
  *
  * Arguments must be literals (standard TVF contract); non-literal input
  * fails resolution with a clear message. */
object GraftTvf {

  private def arg(children: Seq[Expression], i: Int, fn: String): Any = {
    require(i < children.size, s"$fn: missing argument ${i + 1}")
    val e = children(i)
    require(e.foldable, s"$fn: argument ${i + 1} must be a literal")
    e.eval(null)
  }

  private def str(children: Seq[Expression], i: Int, fn: String): String =
    arg(children, i, fn) match {
      case null => throw new IllegalArgumentException(s"$fn: argument ${i + 1} is null")
      case v => v.toString
    }

  private def dbl(children: Seq[Expression], i: Int, fn: String): Double =
    arg(children, i, fn) match {
      case d: Double => d
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case v => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be numeric, got $v")
    }

  private def int(children: Seq[Expression], i: Int, fn: String): Int =
    arg(children, i, fn) match {
      case n: Number => n.intValue()
      case v => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer, got $v")
    }

  /** graft_near_dups(dir, threshold) — MinHash-LSH verified near-dup pairs
    * over `dir`'s documents table. Uses the LAZY candidate path
    * (lshCandidatesLazy): the DataFrame operator eagerly materializes its
    * bucket frame for self-join reuse, but a TVF builder runs inside the
    * ANALYZER — an eager checkpoint there would execute the whole banding
    * pipeline on every EXPLAIN/resolve and pin checkpoint blocks per
    * statement for the session lifetime. */
  def nearDups(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_near_dups"
    require(children.size == 2, s"$fn(dir, threshold) takes 2 arguments")
    val spark = SparkSession.active
    val docs = Tables.documents(spark, str(children, 0, fn))
    val d = graft.operators.Dedup
    d.verifyJaccard(docs,
        d.lshCandidatesLazy(d.lshBuckets(d.minhashSignatures(docs))),
        dbl(children, 1, fn))
      .queryExecution.analyzed
  }

  /** graft_doc_chunks(dir, width, overlap) — overlapping token windows
    * over `dir`'s documents table (Pack.chunk). */
  def docChunks(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_doc_chunks"
    require(children.size == 3, s"$fn(dir, width, overlap) takes 3 arguments")
    val spark = SparkSession.active
    graft.operators.Pack
      .chunk(Tables.documents(spark, str(children, 0, fn)),
        int(children, 1, fn), int(children, 2, fn))
      .queryExecution.analyzed
  }

  /** graft_bm25(dir, query, k) — BM25 top-k over `dir`'s documents for a
    * space-separated query string (Search.bm25). */
  def bm25(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bm25"
    require(children.size == 3, s"$fn(dir, query, k) takes 3 arguments")
    val spark = SparkSession.active
    val terms = str(children, 1, fn).split("\\s+").toSeq.filter(_.nonEmpty)
    graft.queries.Search
      .bm25(Tables.documents(spark, str(children, 0, fn))
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("text")),
        terms, int(children, 2, fn))
      .queryExecution.analyzed
  }

  private def lng(children: Seq[Expression], i: Int, fn: String): Long =
    arg(children, i, fn) match {
      case n: Number => n.longValue()
      case v => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer, got $v")
    }

  /** LRU of spliced EAGER-loop TVF plans (round-15, the advice-14 fix):
    * a loop TVF runs its whole iterative job at analysis time and
    * splices localCheckpoint-backed frames that SQL callers have no way
    * to release — so repeated invocations (or even EXPLAIN) in a
    * long-lived SQL session used to accumulate pinned checkpoint blocks
    * without bound, because the memo-less builders left one strongly-
    * reachable-until-GC frame per statement. The memo makes a repeated
    * invocation (same fn, same literal args, same source mtime, same
    * session) REUSE the spliced plan — EXPLAIN-then-run now pays the
    * loop once — and caps STRONG references at `loopLruCap` plans.
    *
    * Eviction drops the reference WITHOUT unpersisting: an evicted plan
    * may still be spliced into a not-yet-executed statement (a UNION ALL
    * over more than `loopLruCap` distinct loop TVFs resolves the
    * (cap+1)-th while the first is still in the statement's tree — the
    * round-15 review's scenario), and a lineage-free LogicalRDD whose
    * blocks were force-dropped cannot recompute. Once every holder of
    * the evicted plan is garbage, the ContextCleaner reclaims its
    * checkpoint blocks through the normal RDD cleanup path — bounded by
    * eviction rate instead of the old one-leak-per-statement. */
  private val loopLruCap = 8
  private val loopLru =
    new java.util.LinkedHashMap[String, LogicalPlan](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, LogicalPlan]): Boolean =
        size() > loopLruCap
    }

  /** mtime stamp of the table file a loop TVF reads — keys the memo so
    * a rewritten source dir re-resolves instead of serving stale loops. */
  private def dirStamp(dir: String, table: String): String =
    try FixtureCache.sourceMtime(dir, table).toString
    catch { case _: java.io.IOException => "0" }

  private def loopMemo(key: String)(build: => DataFrame): LogicalPlan = {
    // liveness check on reuse: a cached plan is backed by lineage-free
    // localCheckpoint blocks that an EXTERNAL party may have released
    // (the bench harness drops dead checkpoint blocks between samples,
    // honoring its own contract — see graft.util.Memo's CONTRACT note).
    // Serving a released plan would fail the query; rebuild instead.
    val cached = loopLru.synchronized { Option(loopLru.get(key)) }
      .filter(graft.util.Frames.checkpointsAlive)
    cached.getOrElse {
      // the loop RUNS here, outside the lock: a cold-cache resolution
      // must not serialize every other session's loop-TVF analysis
      // behind a minutes-long iterative job (round-15 review). Two
      // concurrent cold resolutions of the SAME key both build; the
      // loser's plan becomes garbage and the ContextCleaner reclaims
      // its blocks — duplicate cost, never wrong results.
      val plan = build.queryExecution.analyzed
      loopLru.synchronized { loopLru.put(key, plan) }
      plan
    }
  }

  /** graft_pagerank(dir, iters) — the FULL (node, rank) integer-pagerank
    * map over `dir`'s part↔supplier co-purchase graph (the q_graph_pagerank
    * graph without the top-20 cut: ORDER BY/LIMIT belong to the enclosing
    * SQL). NOTE the iterative-operator contract: unlike the lazy TVFs
    * above, pagerank's loop is inherently eager (each round checkpoints —
    * a lazy plan would be exponential in iters), so RESOLVING this TVF
    * runs the loop and splices the final materialized frame; an EXPLAIN
    * pays the same cost. That is the price of giving SQL users a loop
    * operator at all — same trade as a materialized view. */
  def pagerank(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pagerank"
    require(children.size == 2, s"$fn(dir, iters) takes 2 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val iters = int(children, 1, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "lineitem")}|$iters") {
      graft.operators.Graph
        .pagerank(graft.operators.Graph.partSupplierEdges(spark, dir), iters)
    }
  }

  /** graft_communities(dir, rounds) — the FULL (v, lbl) label-propagation
    * assignment over `dir`'s %16-slice co-purchase graph (the
    * q_graph_labelprop assignment before the size rollup — join it back
    * to your own tables in SQL). Same eager-loop contract as
    * [[pagerank]]. */
  def communities(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_communities"
    require(children.size == 2, s"$fn(dir, rounds) takes 2 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val rounds = int(children, 1, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "lineitem")}|$rounds") {
      graft.operators.Graph
        .labelAssign(graft.operators.Graph.jaccardSliceEdges(spark, dir), rounds)
    }
  }

  /** graft_louvain(dir, rounds) — the modularity-OPTIMIZING community
    * assignment ([[graft.operators.Graph.louvainAssign]]) as a full
    * (v, lbl) map, beside [[communities]]' LPA rule. Same eager-loop
    * contract and memo keying. */
  def louvain(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_louvain"
    require(children.size == 2, s"$fn(dir, rounds) takes 2 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val rounds = int(children, 1, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "lineitem")}|$rounds") {
      graft.operators.Graph
        .louvainAssign(graft.operators.Graph.jaccardSliceEdges(spark, dir), rounds)
    }
  }

  /** graft_ppr(dir, iters, seed...) — personalized PageRank from explicit
    * seed node ids (≥ 1), full (node, rank) map. Same eager-loop contract
    * as [[pagerank]]. */
  def ppr(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ppr"
    require(children.size >= 3, s"$fn(dir, iters, seed...) takes >= 3 arguments")
    val spark = SparkSession.active
    import spark.implicits._
    val seeds = (2 until children.size).map(i => lng(children, i, fn))
    val dir = str(children, 0, fn)
    val iters = int(children, 1, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "lineitem")}|$iters|${seeds.mkString(",")}") {
      graft.operators.Graph
        .pagerankPersonalized(
          graft.operators.Graph.partSupplierEdges(spark, dir),
          seeds.toDF("node"), iters)
    }
  }

  /** graft_sssp(dir, rounds, source...) — weighted shortest paths from
    * explicit source node ids over `dir`'s inverse-affinity co-purchase
    * graph (the q_graph_sssp graph); (node, d) for nodes within
    * `rounds` edges. Eager-loop contract. */
  def sssp(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_sssp"
    require(children.size >= 3, s"$fn(dir, rounds, source...) takes >= 3 arguments")
    val spark = SparkSession.active
    import spark.implicits._
    val sources = (2 until children.size).map(i => lng(children, i, fn))
    val dir = str(children, 0, fn)
    val rounds = int(children, 1, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "lineitem")}|$rounds|${sources.mkString(",")}") {
      graft.operators.Graph
        .ssspWeighted(
          graft.operators.Graph.sliceEdgesWeighted(spark, dir),
          sources.toDF("node"), rounds)
    }
  }

  /** graft_ktruss(dir, k, rounds) — the surviving (a, b, sup) edges of
    * the k-truss peel over `dir`'s %16-slice co-purchase graph (the
    * q_graph_ktruss operator parameterized; support recomputed within
    * the final subgraph). Eager-loop contract like [[pagerank]]. */
  def ktruss(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ktruss"
    require(children.size == 3, s"$fn(dir, k, rounds) takes 3 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val k = int(children, 1, fn)
    val rounds = int(children, 2, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "lineitem")}|$k|$rounds") {
      graft.operators.Graph
        .ktrussPeel(graft.operators.Graph.jaccardSliceEdges(spark, dir), k, rounds)
    }
  }

  /** Node cap for graft_hyperball's auto-chosen broadcast arm: an lgK=12
    * HLL densifies to ~3 KB, so 16384 nodes bound the broadcast state at
    * ~48 MB — comfortably inside driver/broadcast limits, while every
    * fixture slice graph (≈ 10³ nodes) stays on the measured-faster
    * zero-exchange arm. Above the cap the shuffle arm is hyperBall's own
    * documented scale default. */
  private val HyperballBroadcastNodeCap = 16384L

  /** graft_hyperball(dir, radius[, broadcast_state]) — the FULL
    * (node, bs) HyperBall neighborhood-function map over `dir`'s
    * symmetrized %16-slice co-purchase graph: bs[t+1] = estimated
    * |ball of radius t| for t = 0..radius (harmonic centrality,
    * effective diameter, HyperANF N(t) are all SQL arithmetic over bs).
    * Eager-loop contract like [[pagerank]]. The state arm follows
    * hyperBall's own doc — broadcast is the small-graph accelerator,
    * shuffle the sketch-fat scale default — so with no explicit third
    * argument (0/1) it is picked from a node count against
    * [[HyperballBroadcastNodeCap]] instead of hardcoding broadcast
    * (which would blow past broadcast/driver limits on a large dir). */
  def hyperball(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_hyperball"
    require(children.size == 2 || children.size == 3,
      s"$fn(dir, radius[, broadcast_state]) takes 2 or 3 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val radius = int(children, 1, fn)
    val arm: Option[Boolean] =
      if (children.size == 3) Some(int(children, 2, fn) != 0) else None
    val armKey = arm.map(b => if (b) "1" else "0").getOrElse("auto")
    loopMemo(
      s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "lineitem")}|$radius|$armKey") {
      import org.apache.spark.sql.functions.col
      val edges = graft.operators.Graph.symmetrizedSliceEdges(spark, dir)
      val bc = arm.getOrElse {
        // one node-count distinct — round-sized relative to the eager
        // loop this TVF runs anyway, and GraphSpec pins arm equality
        edges.select(col("src")).distinct().count() <= HyperballBroadcastNodeCap
      }
      graft.operators.Graph.hyperBall(edges, radius, broadcastState = bc)
    }
  }

  /** graft_betweenness(dir, radius) — the FULL (node, b_e4)
    * sampled-Brandes brokerage map over `dir`'s symmetrized %16-slice
    * co-purchase graph (the q_graph_betweenness operator without the
    * top-20 cut: ORDER BY/LIMIT belong to the enclosing SQL). Eager-
    * loop contract like [[pagerank]]. */
  def betweenness(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_betweenness"
    require(children.size == 2, s"$fn(dir, radius) takes 2 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val radius = int(children, 1, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "lineitem")}|$radius") {
      val ed = graft.operators.Graph.symmetrizedSliceEdges(spark, dir)
      graft.operators.Graph.betweennessBounded(ed,
        graft.operators.Graph.sources53(ed), radius)
    }
  }

  /** graft_pagerank_store(edge_dir, iters) — PageRank served off a
    * PERSISTED arrival-built edge store
    * ([[graft.streaming.StreamOps]] edgesOnArrival layout): the read
    * runs the shared Graph.pagerank loop over the store's deduped edge
    * set, so it IS the batch recompute (StreamOpsSpec pins it). Eager-
    * loop contract like [[pagerank]]; the memo keys on the store's
    * partition mtimes so a newly ingested batch re-resolves instead of
    * serving stale ranks. */
  def pagerankStore(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_pagerank_store"
    require(children.size == 2, s"$fn(edge_dir, iters) takes 2 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val iters = int(children, 1, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${FixtureCache.storeStamp(dir)}|$iters") {
      graft.streaming.StreamOps.pagerankStoreRead(spark, dir, iters)
    }
  }

  /** graft_entities(store_dir) — canonical entities served off a
    * PERSISTED arrival-built entity store
    * ([[graft.streaming.StreamOps]] entitiesOnArrival layout): the read
    * folds the per-batch name summaries and runs the SHARED
    * Dedup.erEntitiesFrom blocking → scoring → closure → survivorship,
    * so it IS the batch q_er_entities recompute (StreamOpsSpec pins
    * it). Eager-loop contract like [[pagerankStore]] (the closure is a
    * loop); the memo keys on the store stamp so a newly ingested batch
    * re-resolves instead of serving stale entities. */
  def entitiesStore(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_entities"
    require(children.size == 1, s"$fn(store_dir) takes 1 argument")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${FixtureCache.storeStamp(dir)}") {
      graft.streaming.StreamOps.entitiesStoreRead(spark, dir)
    }
  }

  /** graft_ann_search(vec_dir, edge_dir, probe_id, k) — "more like this"
    * over a PERSISTED incremental ANN store ([[graft.streaming.StreamOps]]
    * layout): the probe vector is fetched from the store by id, searched
    * through the proximity graph with router entries, and the top-k
    * OTHER vectors return as (probe_id, cand_id, cos, rn). The search is
    * parameter-bounded (entries + hops·beam·degree scores), so the SQL
    * surface inherits the store's never-corpus-sized read cost. */
  def annSearch(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_ann_search"
    require(children.size == 4,
      s"$fn(vec_dir, edge_dir, probe_id, k) takes 4 arguments")
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.col
    val probeId = lng(children, 2, fn)
    // live-vectors read: a TOMBSTONED id must not be usable as a probe
    // either — right-to-forget means the embedding stops driving queries
    // the moment it is deleted, not at the next compaction
    val probes = graft.streaming.StreamOps
      .annStoreVectors(spark, str(children, 0, fn))
      .filter(col("cand_id") === probeId)
      .select(col("cand_id").as("probe_id"), col("cv").as("pv"))
      .limit(1)
    val k = int(children, 3, fn)
    // k+1 then re-rank: the probe usually finds itself at rn 1 (cos 1),
    // but an exact-duplicate vector with a smaller id can outrank it —
    // recompute rn over the ≤ k+1 survivors instead of shifting
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    graft.streaming.StreamOps
      .annIncrementalSearch(probes, str(children, 0, fn), str(children, 1, fn),
        k = k + 1)
      .filter(col("cand_id") =!= probeId)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= k)
      .queryExecution.analyzed
  }

  /** graft_dedup_clusters(dir, threshold) — every document labeled with
    * its near-dup CLUSTER id (connected components over the MinHash-LSH
    * verified pair graph at `threshold`) plus the is_canonical verdict
    * (keeper = the cluster's smallest doc_id — the keep-one-per-group
    * step a curation pipeline executes; dropping both ends of every pair
    * over-deletes chains). Output (doc_id, cluster_id, is_canonical).
    * Same EAGER-loop contract as [[pagerank]]: connectedComponents is
    * iterative pointer-jumping (each round checkpoints), so resolving
    * this TVF runs the loop — the price of giving SQL users a loop
    * operator, same trade as a materialized view. */
  def dedupClusters(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_dedup_clusters"
    require(children.size == 2, s"$fn(dir, threshold) takes 2 arguments")
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.{coalesce, col}
    val dir = str(children, 0, fn)
    val tau = dbl(children, 1, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "documents")}|$tau") {
      val docs = Tables.documents(spark, dir)
      val d = graft.operators.Dedup
      val pairs = d.verifyJaccard(docs,
        d.lshCandidatesLazy(d.lshBuckets(d.minhashSignatures(docs))), tau)
      val comp = graft.operators.Components.connectedComponents(
        pairs.select(col("d1").as("src"), col("d2").as("dst")))
      docs.select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
    }
  }

  /** graft_quantiles(store_dir, p...) — percentile reads off a PERSISTED
    * arrival-built quantile-summary store ([[graft.streaming.StreamOps]]
    * quantileOnArrival layout): one sketch-sized merged-rank pass, never
    * a fact scan — (q_pct, n, r, est_v) with Σw = n exact and the MRL
    * n/k + D rank bound. Lazy (no loop): the plan splices like any
    * named subquery. */
  def quantiles(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_quantiles"
    require(children.size >= 2, s"$fn(store_dir, p...) takes >= 2 arguments")
    val spark = SparkSession.active
    val pcts = (1 until children.size).map(i => int(children, i, fn))
    pcts.foreach(p => require(p >= 1 && p <= 100,
      s"$fn: percentile $p outside [1, 100]"))
    graft.streaming.StreamOps
      .quantileStoreRead(spark, str(children, 0, fn), pcts)
      .queryExecution.analyzed
  }

  /** graft_topk(store_dir, m) — heavy hitters off a PERSISTED
    * arrival-built Misra–Gries store ([[graft.streaming.StreamOps]]
    * topkOnArrival layout): one summary-sized count-addition pass —
    * (item, lb, n, max_err) with the mergeable-MG guarantee
    * lb ≤ true ≤ lb + max_err. Lazy (no loop): the plan splices like
    * any named subquery. */
  def topk(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_topk"
    require(children.size == 2, s"$fn(store_dir, m) takes 2 arguments")
    val spark = SparkSession.active
    graft.streaming.StreamOps
      .topkStoreRead(spark, str(children, 0, fn), int(children, 1, fn))
      .queryExecution.analyzed
  }

  /** graft_components_store(map_dir) — the current node→component map
    * off a PERSISTED arrival-built components store
    * ([[graft.streaming.StreamOps]] componentsOnArrival layout):
    * latest-wins merge-on-read over the delta partitions — map-sized,
    * never an edge re-scan. Lazy (no loop). */
  def componentsStore(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_components_store"
    require(children.size == 1, s"$fn(map_dir) takes 1 argument")
    graft.streaming.StreamOps
      .componentsStoreRead(SparkSession.active, str(children, 0, fn))
      .queryExecution.analyzed
  }

  /** graft_distinct(store_dir) — per-day distinct estimates off a
    * PERSISTED arrival-built HLL store ([[graft.streaming.StreamOps]]
    * distinctOnArrival layout): one sketch-sized union pass, never a
    * fact scan — union is register-max so the read equals the
    * from-scratch estimate exactly. Lazy (no loop). */
  def distinct(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_distinct"
    require(children.size == 1, s"$fn(store_dir) takes 1 argument")
    val spark = SparkSession.active
    graft.streaming.StreamOps
      .distinctStoreRead(spark, str(children, 0, fn))
      .queryExecution.analyzed
  }

  /** graft_bm25_index(store_dir, query, k) — BM25 top-k served off a
    * PERSISTED arrival-built inverted index
    * ([[graft.streaming.StreamOps]] bm25OnArrival layout): postings-
    * scoped reads with latest-wins doc versions, scores identical to a
    * from-scratch build (the shared Search.bm25Score tail). Lazy (no
    * loop): the plan splices like any named subquery. */
  def bm25Index(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bm25_index"
    require(children.size == 3, s"$fn(store_dir, query, k) takes 3 arguments")
    val spark = SparkSession.active
    val terms = str(children, 1, fn).split("\\s+").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, s"$fn: query string has no terms")
    graft.streaming.StreamOps
      .bm25StoreSearch(spark, str(children, 0, fn), terms, int(children, 2, fn))
      .queryExecution.analyzed
  }

  /** graft_semantic_dedup(dir, threshold) — SemDeDup keep/prune verdicts
    * over `dir`'s embeddings with label clusters (Dedup.semanticDedup). */
  def semanticDedup(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_semantic_dedup"
    require(children.size == 2, s"$fn(dir, threshold) takes 2 arguments")
    val spark = SparkSession.active
    import org.apache.spark.sql.functions.col
    graft.operators.Dedup
      .semanticDedup(
        Tables.embeddings(spark, str(children, 0, fn))
          .select(col("vec_id"), col("label").as("cluster"), col("embedding")),
        dbl(children, 1, fn))
      .queryExecution.analyzed
  }

  /** graft_kmeans(dir, k, iters) — Lloyd k-means cell summaries
    * (cluster, n, e4 centroid fingerprint) over `dir`'s embeddings —
    * the clustering tier's SQL surface (the q_cluster_kmeans frame
    * parameterized). Eager-loop contract like [[pagerank]]: the
    * fixpoint's per-round collects run at RESOLUTION, the memoized
    * plan serves the 8-row summary. */
  def kmeansTvf(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_kmeans"
    require(children.size == 3, s"$fn(dir, k, iters) takes 3 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val k = int(children, 1, fn)
    val iters = int(children, 2, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "embeddings")}|$k|$iters") {
      graft.operators.Ann.kmeansFrame(spark, dir, k, iters).localCheckpoint()
    }
  }

  /** graft_dbscan(dir, eps, minPts) — per-vector DBSCAN verdicts
    * (vec_id, deg, role, cluster) over `dir`'s embeddings — the
    * clustering tier's density SQL surface beside [[kmeansTvf]] (ONE
    * shared builder: [[graft.operators.Cluster.dbscan]], so at the
    * checked constants the TVF serves q_cluster_dbscan's exact frame).
    * Eager-loop contract: the component closure's convergence loop runs
    * at RESOLUTION; the memoized plan serves the node-sized verdicts. */
  def dbscanTvf(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_dbscan"
    require(children.size == 3, s"$fn(dir, eps, minPts) takes 3 arguments")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    val eps = dbl(children, 1, fn)
    val minPts = int(children, 2, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "embeddings")}|$eps|$minPts") {
      graft.operators.Cluster.dbscan(
        Tables.embeddings(spark, dir), eps, minPts)
        .localCheckpoint()
    }
  }

  /** graft_silhouette(dir) — per-vector silhouette over the learned
    * Lloyd cells (vec_id, cluster, s_e4) — the clustering tier's
    * quality-metric SQL surface beside [[kmeansTvf]]/[[dbscanTvf]]
    * (ONE shared builder: [[graft.operators.Ann.silhouetteFrame]] at
    * the checked codebook constants, so the TVF serves
    * q_cluster_silhouette's exact frame). Eager-loop contract: the
    * codebook fit runs at RESOLUTION, the memoized plan serves the
    * node-sized scores. */
  def silhouetteTvf(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_silhouette"
    require(children.size == 1, s"$fn(dir) takes 1 argument")
    val spark = SparkSession.active
    val dir = str(children, 0, fn)
    loopMemo(s"$fn|${Tables.sessionKey(spark)}|$dir|${dirStamp(dir, "embeddings")}") {
      graft.operators.Ann.silhouetteFrame(spark, dir).localCheckpoint()
    }
  }

  /** graft_backtest(dir) — rolling-origin forecast evaluation over
    * `dir`'s events (the q_timeseries_backtest frame: per event type,
    * one-step MAE/sMAPE for holt vs holtwinters vs seasonal-naive and
    * the winning model) — the SQL-surface member of the time series
    * family (round 18: every other family had a TVF; none of the 16
    * timeseries queries was reachable from SQL text). Pure plan (one
    * date-grain aggregate + per-type state folds), safe to build inside
    * the analyzer — no eager loop, no memo needed. */
  def backtest(children: Seq[Expression]): LogicalPlan = {
    val fn = "graft_backtest"
    require(children.size == 1, s"$fn(dir) takes 1 argument")
    val spark = SparkSession.active
    graft.queries.Timeseries.backtestFrame(spark, str(children, 0, fn))
      .queryExecution.analyzed
  }
}
