package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.SmallInput.distributed

/** Connected components (pairs → dedup clusters): correctness vs a
  * driver-side union-find, and the O(log n) round bound that makes the
  * operator viable on 100 TB edge lists. */
class ComponentsSpec extends SparkSpec {

  private def edgesDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  test("labels every node with its component's minimum id") {
    // {1,2,3} chained, {10,11}, self-loop {20}
    val comp = Components.connectedComponents(
      edgesDf(Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 20L))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L))
  }

  test("matches a driver-side union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val es = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
    // reference union-find
    val parent = Array.tabulate(120)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonicalize to min member per root
    val members = (0 until 120).groupBy(find)
    val want = members.flatMap { case (_, ms) => ms.map(_.toLong -> ms.min.toLong) }
    // distributed path (cap=0 disables the driver fast path)
    val got = distributed(Components.connectedComponents(edgesDf(es)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // nodes never touched by an edge are absent from `got` by contract
    assert(got === want.filter { case (id, _) => got.contains(id) })
    assert(got.keySet === es.flatMap(e => Seq(e._1, e._2)).toSet)
    // driver fast path (default cap) must agree exactly
    val fast = Components.connectedComponents(edgesDf(es))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast === got)
  }

  test("pointer jumping: a 64-node path graph converges in O(log n) rounds") {
    val chain = (0L until 63L).map(i => (i, i + 1))
    val rounds = Components.roundsToConverge(edgesDf(chain))
    // plain min-propagation would need ~63 rounds (diameter); jumping
    // halves chain depth each round — allow slack over ceil(log2 64) = 6
    // for the final no-change detection round
    assert(rounds <= 9, s"expected O(log n) convergence, took $rounds rounds")
    val comp = Components.connectedComponents(edgesDf(chain))
    assert(comp.filter(col("component") =!= 0L).count() === 0)
  }
}
