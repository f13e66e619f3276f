package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Frames.releaseCheckpoint

/** Connected components over an undirected edge list — the step that turns
  * near-duplicate PAIRS (graft.operators.Dedup) into dedup CLUSTERS, so a
  * curation pipeline can keep one canonical document per group of mutual
  * near-dups instead of dropping both ends of every pair.
  *
  * Algorithm: distributed min-label propagation with pointer jumping.
  * Each round does
  *
  *   1. neighbor-min — every node takes the smallest label among itself
  *      and its neighbors (one join edge⋈labels + one min groupBy); then
  *   2. pointer jumping — `lbl := lbl(lbl)` (one self-join), which halves
  *      label-chain depth each round.
  *
  * Propagation alone needs O(diameter) rounds; the jumping step compresses
  * chains exponentially, giving O(log n) rounds on pathological path
  * graphs (ComponentsSpec proves a 64-chain converges in ≤ 8 rounds) —
  * the same bound as the large-star/small-star contraction family.
  *
  * 100 TB posture: every round is two equi-join shuffles + one hash agg on
  * the EDGE frame, never an all-pairs product; the label frame has one row
  * per edge-touched node (near-dup edge sets are ≪ corpus — singleton docs
  * never enter). `localCheckpoint` truncates lineage each round, so plan
  * size stays constant across iterations. Convergence is detected with one
  * count per round (driver scalar, not a collect of data) and `maxIter`
  * hard-bounds the loop.
  */
object Components {

  /** Component id (= smallest member id) for every node that appears in
    * `edges` (columns `src`, `dst`; direction ignored, self-loops fine).
    * Output: (id, component). Nodes absent from `edges` are the caller's
    * singletons — left-join this result and coalesce to the node's own id.
    *
    * Edge lists at or under the row cap solve with a driver-side
    * union-find in ONE job instead of ~log n iterative jobs: an
    * LSH-verified near-dup edge list is bounded far below corpus size
    * (bucket caps + Jaccard verify), so it is broadcast-scale by the same
    * argument as a k-means codebook, and per-iteration job-scheduling
    * latency — not data volume — dominates the distributed loop there
    * ([[graft.util.SmallInput]] decides). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    run(edges, maxIter)._1

  /** Rounds the distributed propagation needed on this edge list — the
    * test hook backing the O(log n) convergence claim. */
  private[operators] def roundsToConverge(edges: DataFrame, maxIter: Int = 64): Int =
    graft.util.SmallInput.distributed(run(edges, maxIter))._2

  private def run(edges: DataFrame, maxIter: Int): (DataFrame, Int) = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // materialize the edge list ONCE, then probe it: collecting at most
    // cap+1 rows from the checkpoint both sizes and fetches the edges (no
    // separate count job), and an over-cap probe wastes only the bounded
    // collect — not a re-execution of the upstream pipeline, which for
    // near-dup edges is the whole minhash/verify chain
    val chk = edges.select(col("src").as("a"), col("dst").as("b"))
      .localCheckpoint()
    // union-find is direction-agnostic and dedup-tolerant: the raw edge
    // list suffices, no symmetrize/distinct needed on this path
    graft.util.SmallInput.take(chk).foreach { take =>
      releaseCheckpoint(chk)
      return (unionFind(take, edges.sparkSession), 1)
    }
    // distributed path: symmetrize once (min-propagation needs both
    // directions)
    val sym = chk
      .union(chk.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()
    releaseCheckpoint(chk)
    var labels = sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint()
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val nbrMin = sym
        .join(labels.select(col("id").as("b"), col("lbl").as("blbl")), "b")
        .groupBy(col("a").as("id"))
        .agg(min(col("blbl")).as("nmin"))
      // carry the round-start label along as `prev` so convergence reads
      // off the SAME materialized frame — no third join + count job per
      // round (iteration cost is dominated by per-action scheduling on
      // the small label frame, not data volume)
      val stepped = labels.select(col("id"), col("lbl").as("prev"))
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("prev"),
          least(col("prev"), coalesce(col("nmin"), col("prev"))).as("lbl"))
      // pointer jump: follow the label one hop (labels are always node ids,
      // so the lookup side is `stepped` itself keyed by id)
      val jumped = stepped
        .join(stepped.select(col("id").as("lbl"), col("lbl").as("lbl2")),
          Seq("lbl"), "left")
        .select(col("id"), col("prev"), coalesce(col("lbl2"), col("lbl")).as("lbl"))
        .localCheckpoint()
      converged = jumped.filter(col("lbl") =!= col("prev")).isEmpty
      releaseCheckpoint(labels)
      labels = jumped.select(col("id"), col("lbl"))
      it += 1
    }
    releaseCheckpoint(sym)
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    (labels.select(col("id"), col("lbl").as("component")), it)
  }

  /** Driver union-find (path compression + min-root union) over an
    * already-collected edge list — exact same (id, component) contract as
    * the distributed loop. */
  private def unionFind(rows: Array[org.apache.spark.sql.Row],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    rows.foreach { row =>
      val (x, y) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(x, x)
      parent.getOrElseUpdate(y, y)
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    import spark.implicits._
    parent.keys.toSeq.map(id => (id, find(id))).toDF("id", "component")
  }
}
