package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.SmallInput.distributed

/** DBSCAN (the clustering tier's density member): a handcrafted
  * direction-cluster fixture with every role represented, then the
  * KDD'96 laws on the real fixture table — core degree bound, border
  * adjacency, noise isolation, and the role partition. */
class ClusterSpec extends SparkSpec {

  /** 2-D direction fixture (cosine clusters are DIRECTIONS): two dense
    * direction bundles, one bridge-ish point near bundle A, one isolated
    * direction. eps = cos 0.95, minPts = 3. */
  private def fixture() = {
    import spark.implicits._
    // bundle A: ids 0-2 tightly around 0° (pairwise ≤ 4°, cos ≥ 0.9976);
    // bundle B: ids 10-12 around 90°; id 20 at 18° — inside eps of A's
    // 0° and 2° members only (cos 18° ≈ 0.9511, cos 16° ≈ 0.9613;
    // cos 20° ≈ 0.9397 misses the −2° member); id 30 at 45° — cos 27°
    // ≈ 0.891 to id 20 and farther from everything else, never in eps
    val aDeg = Seq(0.0, 2.0, -2.0)
    val bDeg = Seq(90.0, 88.0, 92.0)
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    (aDeg.zipWithIndex.map { case (d, i) => (i.toLong, v(d)) } ++
      bDeg.zipWithIndex.map { case (d, i) => (10L + i, v(d)) } ++
      Seq((20L, v(18.0)), (30L, v(45.0))))
      .toDF("vec_id", "embedding")
  }

  test("fixture: two direction clusters, an attached point, and noise") {
    val out = Cluster.dbscan(fixture(), eps = 0.95, minPts = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    // bundle A: all core, cluster 0 (min member id)
    for (i <- Seq(0L, 1L, 2L))
      assert(out(i)._2 === "core" && out(i)._3 === 0L, s"id $i: ${out(i)}")
    // bundle B: all core (deg 2 + self = 3), cluster 10
    for (i <- Seq(10L, 11L, 12L))
      assert(out(i)._2 === "core" && out(i)._3 === 10L, s"id $i: ${out(i)}")
    // id 20: deg 2 (A's 0° and 2° members), 2 + 1 ≥ 3 → core, joined to
    // A's component through its core edges
    assert(out(20L) === ((2L, "core", 0L)), s"id 20: ${out(20L)}")
    // id 30: no eps neighbor at all → noise with the −1 sentinel
    assert(out(30L) === ((0L, "noise", -1L)), s"id 30: ${out(30L)}")
    // arm equality (optimization round): the in-memory pair pass and the
    // broadcast-nested-loop stage emit the same eps-graph, and the zero
    // vector drops exactly as a NULL join condition does
    val withZero = fixture().unionByName(
      spark.createDataFrame(Seq((40L, Seq(0.0f, 0.0f)))).toDF("vec_id", "embedding"))
    val drv = Cluster.epsPairs(withZero, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = distributed(Cluster.epsPairs(withZero, 0.95))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(drv === dist, s"eps-pair arms diverged: $drv vs $dist")
    assert(!drv.exists(p => p._1 == 40L || p._2 == 40L),
      "zero vector must produce no eps edges on either arm")
  }

  test("fixture: raising minPts demotes attached points to border, thin cores to noise") {
    val out = Cluster.dbscan(fixture(), eps = 0.95, minPts = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
    // A's 0°/2° members have deg 3 (each other, −2°, id 20) → still core
    for (i <- Seq(0L, 1L))
      assert(out(i)._2 === "core" && out(i)._3 === 0L, s"id $i: ${out(i)}")
    // the −2° member drops to deg 2 → border on its two core neighbors
    assert(out(2L)._2 === "border" && out(2L)._3 === 0L, s"id 2: ${out(2L)}")
    // id 20 deg 2 → border, inheriting A's cluster via min core neighbor
    assert(out(20L)._2 === "border" && out(20L)._3 === 0L, s"id 20: ${out(20L)}")
    // bundle B: deg 2 each → no cores left anywhere in B → all noise
    for (i <- Seq(10L, 11L, 12L))
      assert(out(i)._2 === "noise" && out(i)._3 === -1L, s"id $i: ${out(i)}")
  }

  test("laws on the fixture table: role partition, core bound, border adjacency") {
    val embs = graft.catalog.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding"))
    val out = Cluster.dbscan(embs, eps = 0.3, minPts = 8).localCheckpoint()
    // one verdict per input vector
    assert(out.count() === embs.count())
    val byRole = out.groupBy(col("role")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRole.keySet.subsetOf(Set("core", "border", "noise")))
    assert(byRole.values.sum === embs.count())
    // core rule: deg + 1 ≥ minPts exactly on the core side, < on others
    assert(out.filter(col("role") === "core" && col("deg") + 1 < 8).isEmpty)
    assert(out.filter(col("role") =!= "core" && col("deg") + 1 >= 8).isEmpty)
    // noise never carries a cluster; core/border always do
    assert(out.filter(col("role") === "noise" && col("cluster") =!= -1L).isEmpty)
    assert(out.filter(col("role") =!= "noise" && col("cluster") === -1L).isEmpty)
    // cluster labels are core vec_ids: every label is a core member of
    // its own cluster (the min-label closure's fixpoint witness)
    val labels = out.filter(col("role") === "core")
      .select(col("vec_id").as("core_id"), col("cluster").as("core_cluster"))
    assert(out.filter(col("role") =!= "noise")
      .select(col("cluster")).distinct()
      .join(labels, col("cluster") === col("core_id") &&
        col("cluster") === col("core_cluster"), "left_anti").isEmpty)
  }

  test("dbscan: driver arm ≡ frame chain on real sf0.001 embeddings (driverCap = 0)") {
    val embs = graft.catalog.Tables.embeddings(spark, sf())
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val arm = Cluster.dbscan(embs, eps = 0.3, minPts = 8)
    val dist = distributed(Cluster.dbscan(embs, eps = 0.3, minPts = 8))
    assert(arm.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(rows(arm) === rows(dist))
  }

  test("epsPairsAnn: one-sided error — every routed edge passes the exact " +
      "kernel (subset of the exact eps-graph), schema identical") {
    val embs = graft.catalog.Tables.embeddings(spark, sf())
    val exact = distributed(Cluster.epsPairs(embs, 0.3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Cluster.epsPairsAnn(embs, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false edges ever (the verify kernel is the same expression);
    // recall is the documented approximation — positive, not pinned
    assert(ann.subsetOf(exact),
      s"ANN route emitted ${(ann -- exact).take(5)} outside the exact eps-graph")
    assert(ann.nonEmpty, "ANN route found no edges on the real fixture")
    // the exact tier still decides every oracle-reachable input: the
    // fixture sits far below the route threshold
    assert(embs.count() <= Cluster.EpsAnnCap)
  }
}
