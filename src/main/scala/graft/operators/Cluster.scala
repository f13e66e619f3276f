package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.queries.Sim

/** Density-based clustering over the embeddings table — the clustering
  * tier's DENSITY member beside the centroid member (q_cluster_kmeans):
  * k-means finds convex cells around learned centroids; DBSCAN [Ester et
  * al., KDD'96] finds arbitrarily-shaped dense regions and — unlike any
  * centroid method — a first-class NOISE verdict, which is exactly the
  * outlier-exclusion a curation pipeline wants before the SemDeDup prune
  * (a vector with no dense neighborhood is not a duplicate of anything;
  * pruning or keeping it on cluster evidence is meaningless).
  *
  * Reference analog: none (*ext*, north-star clustering tier — the
  * reference's ETL has no clustering surface; SURVEY §2B).
  *
  * Every rule is deterministic, so the whole fixpoint runs under the
  * DuckDB oracle (the q_cluster_kmeans discipline):
  *
  *   - neighborhood: u ~ v  iff  round(cos(u,v), 4) ≥ eps, u ≠ v — the
  *     4dp-rounded `graft_cosine` kernel q_dedup_embed already proves
  *     portable engine-to-engine.
  *   - core: deg(v) + 1 ≥ minPts (the point itself counts — KDD'96's
  *     |N_eps(p)| ≥ MinPts with p ∈ N_eps(p)).
  *   - clusters: connected components of the core-core subgraph
  *     (density-connectedness restricted to cores), labeled by smallest
  *     member vec_id; an isolated core keeps its own id.
  *   - border: non-core with ≥ 1 core neighbor, assigned the SMALLEST
  *     core-neighbor cluster label — the deterministic replacement for
  *     KDD'96's first-scan-wins order dependence (same device as
  *     semanticDedup's keep-min-id).
  *   - noise: everything else, cluster −1 (integer sentinel, never NULL —
  *     the store-pattern null-sentinel hazard).
  */
object Cluster {

  /** Checked constants: cosine ≥ 0.3 neighborhoods, minPts 8 — at the
    * fixture SFs this exercises all three roles and a multi-cluster
    * core subgraph (18 clusters at sf0.001, 8 at sf0.01). */
  private val dbEps = 0.3
  private val dbMinPts = 8

  /** DBSCAN over the cosine eps-graph of `embs` (vec_id, embedding).
    *
    * Plan shape: ONE n² pair join builds the eps-graph (the exact,
    * oracle-checkable anchor — embeddings fixtures are ≤ 2k rows); the
    * rest is edge-frame algebra: a degree hash-agg, a broadcast-filtered
    * core subgraph, [[Components.connectedComponents]] (union-find under
    * the row cap, distributed min-label + pointer-jumping above it),
    * and one more broadcast join for border assignment. The symmetrized
    * eps-graph materializes ONCE (localCheckpoint) and feeds all three
    * consumers (degree, core subgraph, border assignment).
    *
    * 100 TB posture: everything downstream of the pair join is bounded
    * by the eps-graph (edge frame) and the node-sized core/cluster
    * frames — broadcast-scale by construction. The pair join itself is
    * the only quadratic stage, and it is exactly the stage the ANN tier
    * replaces at scale: eps-neighborhood candidates from the IVF/LSH
    * bucket route ([[Ann]] codebook cells, [[Dedup.embeddingNearDups]]'s
    * documented scale path) feed the same downstream algebra unchanged —
    * candidate recall is the one approximation, confined to edge
    * discovery, never to the component/role fixpoint.
    *
    * @param embs (vec_id BIGINT, embedding ARRAY<FLOAT>), distinct ids.
    * @return (vec_id, deg, role core|border|noise, cluster; −1 = noise),
    *         one row per input vector, unordered. */
  /** The eps-graph pair stage — (u, v) with u < v and round(cos,4) ≥
    * eps. ONE builder for [[dbscan]] and the ScaleProbe `dbscan.pairs` entry
    * (the probe must time the operator's own quadratic stage, never a
    * copy). */
  private[graft] def epsPairs(embs: DataFrame, eps: Double): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"))
    // Driver arm (optimization round — the silhouetteOf discipline for
    // the OTHER n² clustering stage): under the pair cap of VECTORS the
    // pair pass runs in memory with the exact per-pair arithmetic of
    // the join condition below — graft_cosine's sequential double
    // loop, Spark's HALF_UP round(·, 4), the ≥ eps compare (a NULL
    // cosine drops the row, as a NULL condition does) — so the edge
    // set is identical (OperatorsSpec pins arm equality). RDD-backed
    // (three downstream join/agg consumers). Over cap the broadcast-
    // nested-loop stage below runs unchanged — and at real scale the
    // ANN candidate route replaces it entirely (see [[dbscan]]).
    graft.util.SmallInput.take(e, graft.util.SmallInput.PairCap).foreach { take =>
      val n = take.length
      val ids = new Array[Long](n)
      val vs = new Array[Array[Float]](n)
      var i = 0
      while (i < n) {
        ids(i) = take(i).getAs[Number](0).longValue
        vs(i) = take(i).getAs[scala.collection.Seq[Float]](1).toArray
        i += 1
      }
      val perRow = new Array[Seq[(Long, Long)]](n)
      java.util.stream.IntStream.range(0, n).parallel().forEach { x =>
        val a = vs(x)
        val mine = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var j = x + 1
        while (j < n) {
          val b = vs(j)
          val len = math.min(a.length, b.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var t = 0
          while (t < len) {
            val xv = a(t).toDouble; val yv = b(t).toDouble
            dot += xv * yv; na += xv * xv; nb += yv * yv
            t += 1
          }
          if (na != 0.0 && nb != 0.0 && ids(x) != ids(j)) {
            val r4 = java.math.BigDecimal
              .valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            // u < v on VALUES, not indices — ids carry no order contract
            if (r4 >= eps)
              mine += (if (ids(x) < ids(j)) (ids(x), ids(j))
                else (ids(j), ids(x)))
          }
          j += 1
        }
        perRow(x) = mine.toSeq
      }
      val pairs: Seq[(Long, Long)] =
        perRow.iterator.filter(_ != null).flatten.toIndexedSeq
      val s = embs.sparkSession
      return s.createDataFrame(s.sparkContext.parallelize(pairs, 8))
        .toDF("u", "v")
    }
    // AT-SCALE tier (optimization round 19 — verdict r18 #3): above
    // [[EpsAnnCap]] vectors the n² product is not buildable at any
    // budget, and the documented ANN candidate route IS the over-cap
    // path, not a footnote: IVF cells bound which pairs are scored, the
    // exact kernel verifies every candidate (no false edges — recall is
    // the ONE approximation, confined to edge discovery). The oracle
    // never sees this tier: every checked SF is far below the default
    // 16384, so declared results are computed by the exact stages below.
    // The size probe is a limit(cap+1) count over ids — an early-stop
    // narrow scan.
    if (e.select(col("vec_id")).limit(EpsAnnCap + 1).count() > EpsAnnCap)
      epsPairsAnn(e, eps)
    else epsPairsExact(e, eps)
  }

  /** The exact eps-graph tier: every pair scored (n² work), no
    * approximation — the ScaleProbe `dbscan_ann` comparator's baseline. */
  private[graft] def epsPairsExact(embs: DataFrame, eps: Double): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"))
    // explicit broadcast-nested-loop shape (the EXACT mid-tier): the
    // candidate side is the broadcast build, the probe side REPARTITIONS
    // so the n² kernel work spreads across cores (a single-file parquet
    // read otherwise streams the whole product through one partition),
    // and BOTH predicates sit in the JOIN CONDITION — measured 10× on
    // the pair stage: with the cosine as a post-join filter, every one
    // of the n² candidate rows materializes as a joined row (two copied
    // 64-float arrays each) before 99% are dropped; inside the condition
    // the kernel reads the input rows in place and only survivors are
    // built
    e.select(col("vec_id").as("u"), col("embedding").as("va"))
      .repartition(col("u"))
      .join(broadcast(e.select(col("vec_id").as("v"), col("embedding").as("vb"))),
        col("u") < col("v") &&
          round(Sim.cosine(col("va"), col("vb")), 4) >= eps)
      .select(col("u"), col("v"))
  }

  /** Vector-count threshold where [[epsPairs]] abandons the exact n²
    * product for the IVF candidate route. The checked fixtures (≤ 2k
    * vectors at sf0.1) sit far below it, so the oracle always exercises
    * the exact stages. */
  private[graft] val EpsAnnCap: Int = 16384

  /** The IVF candidate route for the eps-graph [[Ann]] codebook cells
    * as the candidate generator; Ester et al.'s neighborhood predicate
    * verified EXACTLY per candidate]: k-means cells sized so per-cell
    * population stays ~constant (cells ≈ n/512, capped for codegen —
    * the codebook unrolls into one scan expression), every vector
    * routed to its nprobe=2 nearest cells (the IVF boundary-recall
    * lever), candidates = same-cell pairs, and the SAME
    * round(graft_cosine, 4) ≥ eps kernel decides every edge — so the
    * route can emit no edge the exact builder would not (one-sided
    * error, pinned by ClusterSpec). Candidate volume ≈ n²·nprobe²/cells
    * = O(n·cellSize): linear where the product is quadratic — the
    * ScaleProbe `dbscan_ann` entry measures the growth at 2k→8k→32k
    * vectors. Downstream DBSCAN algebra is unchanged (degree, core
    * rule, components, border election are edge-frame consumers). */
  private[graft] def epsPairsAnn(embs: DataFrame, eps: Double,
      nprobe: Int = 2, iters: Int = 2): DataFrame = {
    val e = embs.select(col("vec_id"), col("embedding"))
    val n = e.count()
    val cells = math.max(4L, math.min(1024L, n / 512L)).toInt
    // codebook fit on a deterministic md5-order sample, never the full
    // corpus: Lloyd over n rows made the FIT the route's dominant term
    // (measured 24 s of the 32k-vector probe's 92 s total; 8 s on the
    // sample with edge count within 1%) — and at 100 TB a full-corpus
    // Lloyd is unbuildable anyway. Routing/verify still see every row.
    val fitSample = e
      .orderBy(md5(col("vec_id").cast("string"))).limit(8192)
      .localCheckpoint()
    val codebook =
      try graft.operators.Ann.kmeans(fitSample, cells, iters)
      finally graft.util.Frames.releaseCheckpoint(fitSample)
    val routed = graft.operators.Ann.route(e, codebook,
      math.min(nprobe, codebook.size))
    val a = routed.select(col("cluster"), col("vec_id").as("u"),
      col("embedding").as("va"))
    val b = routed.select(col("cluster"), col("vec_id").as("v"),
      col("embedding").as("vb"))
    // kernel in the JOIN CONDITION (the BNLJ lesson above); a pair
    // sharing several routed cells dedups AFTER the cheap (u, v)
    // projection, never on vectors
    a.join(b, Seq("cluster"))
      .filter(col("u") < col("v") &&
        round(Sim.cosine(col("va"), col("vb")), 4) >= eps)
      .select(col("u"), col("v"))
      .distinct()
  }

  def dbscan(embs: DataFrame, eps: Double, minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val e = embs.select(col("vec_id"), col("embedding"))
    val pairs = epsPairs(e, eps)
    // Driver arm (optimization round): everything after the eps-graph —
    // degrees, the core rule, the min-id core-core closure, border
    // election — is node/edge-sized integer arithmetic (the eps pairs
    // are already driver-resident when epsPairs took ITS arm), yet the
    // frame chain paid two checkpoints + ~six join/aggregate stages per
    // run (the graft_dbscan TVF re-resolves that chain whenever the
    // bench releases its spliced checkpoint). Over cap / null ids: the
    // unchanged chain below (ClusterSpec pins arm equality).
    for (pTake <- graft.util.SmallInput.take(pairs);
         vTake <- graft.util.SmallInput.take(e.select(col("vec_id")))
         if !pTake.exists(r => r.isNullAt(0) || r.isNullAt(1)) &&
           !vTake.exists(_.isNullAt(0))) {
      import scala.collection.mutable.HashMap
      val pu = pTake.map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue))
      val ids = vTake.map(_.getAs[Number](0).longValue)
      val deg = HashMap.empty[Long, Long]
      pu.foreach { case (u, v) =>
        deg(u) = deg.getOrElse(u, 0L) + 1L
        deg(v) = deg.getOrElse(v, 0L) + 1L
      }
      val isCore = ids.iterator
        .filter(id => deg.getOrElse(id, 0L) + 1 >= minPts).toSet
      // min-id union-find over the core-core subgraph (the
      // Components.connectedComponents contract)
      val parent = HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      pu.foreach { case (u, v) =>
        if (isCore(u) && isCore(v)) {
          parent.getOrElseUpdate(u, u); parent.getOrElseUpdate(v, v)
          val ru = find(u); val rv = find(v)
          if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
        }
      }
      // core cluster: component min-id; isolated cores: own id
      val coreCluster = HashMap.empty[Long, Long]
      isCore.foreach(id => coreCluster(id) = id)
      parent.keysIterator.foreach(id => coreCluster(id) = find(id))
      // border: smallest core-neighbor cluster over the SYMMETRIZED
      // edge set
      val border = HashMap.empty[Long, Long]
      def offer(u: Long, v: Long): Unit =
        coreCluster.get(v).foreach { c =>
          val prev = border.get(u)
          if (prev.isEmpty || c < prev.get) border(u) = c
        }
      pu.foreach { case (u, v) => offer(u, v); offer(v, u) }
      val rows = ids.map { id =>
        val d = deg.getOrElse(id, 0L)
        val cc = coreCluster.get(id)
        val bc = border.get(id)
        val role =
          if (cc.isDefined) "core"
          else if (bc.isDefined) "border"
          else "noise"
        (id, d, role, cc.orElse(bc).getOrElse(-1L))
      }
      return embs.sparkSession.createDataFrame(rows.toSeq)
        .toDF("vec_id", "deg", "role", "cluster")
    }
    // symmetrize once; three consumers read the materialized blocks
    val sym = pairs.union(pairs.select(col("v").as("u"), col("u").as("v")))
      .localCheckpoint()
    val deg = e.select(col("vec_id"))
      .join(sym.groupBy(col("u").as("vec_id"))
          .agg(count(lit(1)).as("deg")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("deg"), lit(0L)).as("deg"))
    val core = deg.filter(col("deg") + 1 >= minPts).select(col("vec_id"))
    // core-core subgraph: the node-sized core set broadcasts into the
    // edge frame twice — edges never shuffle for the restriction
    val ce = sym
      .join(broadcast(core.select(col("vec_id").as("u"))), Seq("u"))
      .join(broadcast(core.select(col("vec_id").as("v"))), Seq("v"))
      .select(col("u").as("src"), col("v").as("dst"))
    val comp = Components.connectedComponents(ce)
    // isolated cores (no core neighbor) are their own singleton cluster
    val coreClusters = core
      .join(comp.select(col("id").as("vec_id"), col("component")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster"))
      .localCheckpoint()
    // border assignment: smallest core-neighbor cluster (deterministic)
    val borderClusters = sym
      .join(broadcast(coreClusters.select(col("vec_id").as("v"),
          col("cluster").as("ncluster"))),
        Seq("v"))
      .groupBy(col("u").as("vec_id"))
      .agg(min(col("ncluster")).as("bcluster"))
    deg
      .join(broadcast(coreClusters.select(col("vec_id"),
          col("cluster").as("ccluster"))),
        Seq("vec_id"), "left")
      .join(broadcast(borderClusters), Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg"),
        when(col("ccluster").isNotNull, lit("core"))
          .when(col("bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("ccluster"), col("bcluster"), lit(-1L)).as("cluster"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Per-vector density verdict over the FULL embeddings table at the
    // checked constants — every vector gets (deg, role, cluster), so the
    // oracle checks the eps-graph, the core rule, the component fixpoint
    // AND the border/noise assignment row by row.
    "q_cluster_dbscan" -> ((s, dir) =>
      dbscan(Tables.embeddings(s, dir), dbEps, dbMinPts)
        .orderBy(col("vec_id")))
  )

  val oracle: Map[String, String] = Map(
    "q_cluster_dbscan" ->
      s"""WITH RECURSIVE
         ev AS MATERIALIZED (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         nv AS MATERIALIZED (
           SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
           FROM ev),
         pe AS MATERIALIZED (
           SELECT a.vec_id AS u, b.vec_id AS w
           FROM nv a JOIN nv b ON a.vec_id < b.vec_id
           WHERE round(list_sum(list_transform(list_zip(a.v, b.v),
                         x -> x[1] * x[2])) / (a.nrm * b.nrm), 4) >= $dbEps),
         sym AS MATERIALIZED (
           SELECT u, w FROM pe UNION ALL SELECT w AS u, u AS w FROM pe),
         dg AS MATERIALIZED (
           SELECT e.vec_id, coalesce(d.deg, 0) AS deg
           FROM ev e LEFT JOIN (
             SELECT u, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u) d
             ON d.u = e.vec_id),
         co AS MATERIALIZED (SELECT vec_id FROM dg WHERE deg + 1 >= $dbMinPts),
         ce AS MATERIALIZED (
           SELECT s.u, s.w FROM sym s
           JOIN co a ON s.u = a.vec_id
           JOIN co b ON s.w = b.vec_id),
         lbl(node, l) AS (
           SELECT u, u FROM ce
           UNION
           SELECT ce.w, lbl.l FROM lbl JOIN ce ON ce.u = lbl.node
           WHERE lbl.l < ce.w),
         comp AS MATERIALIZED (
           SELECT node, min(l) AS component FROM lbl GROUP BY node),
         cc AS MATERIALIZED (
           SELECT c.vec_id, coalesce(p.component, c.vec_id) AS cluster
           FROM co c LEFT JOIN comp p ON p.node = c.vec_id),
         bc AS MATERIALIZED (
           SELECT s.u AS vec_id, min(k.cluster) AS bcluster
           FROM sym s JOIN cc k ON s.w = k.vec_id GROUP BY s.u)
         SELECT d.vec_id, d.deg,
                CASE WHEN c.vec_id IS NOT NULL THEN 'core'
                     WHEN b.vec_id IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                CASE WHEN c.vec_id IS NOT NULL THEN c.cluster
                     WHEN b.vec_id IS NOT NULL THEN b.bcluster
                     ELSE -1 END AS cluster
         FROM dg d
         LEFT JOIN cc c ON c.vec_id = d.vec_id
         LEFT JOIN bc b ON b.vec_id = d.vec_id
         ORDER BY d.vec_id"""
  )
}
