package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.SmallInput.distributed

/** Integer PageRank: hand-computed exact ranks on a tiny star, a
  * driver-side reference implementation on a seeded random graph (proving
  * the DataFrame loop is the same integer recurrence), and the structural
  * invariants that make the result oracle-comparable. */
class GraphSpec extends SparkSpec {

  private def edgesDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("src", "dst")
  }

  /** Reference single-threaded implementation of the same recurrence. */
  private def refPagerank(es: Seq[(Long, Long)], iters: Int,
      mass: Long = 1000000000000L): Map[Long, Long] = {
    val out = es.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = out.keys.toSeq.sorted
    val n = nodes.size
    var rank = nodes.map(_ -> mass / n).toMap
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      es.foreach { case (s, d) => in(d) += rank(s) / out(s) }
      rank = nodes.map(v => v -> ((15L * (mass / n)) / 100 + (85L * in(v)) / 100)).toMap
    }
    rank
  }

  test("star graph: exact hand-computed ranks after one iteration") {
    // A=0 center, leaves B=1, C=2; symmetrized: outdeg A=2, B=C=1, N=3
    val es = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L))
    val got = Graph.pagerank(edgesDf(es), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // R0 = 1e12/3 = 333333333333; base = 15*R0/100 = 49999999999
    // in(A) = 2*(R0/1) = 666666666666 -> A = base + 85*in/100 = 616666666665
    // in(B) = in(C) = R0/2 = 166666666666 -> 49999999999 + 141666666666
    assert(got === Map(0L -> 616666666665L, 1L -> 191666666665L,
      2L -> 191666666665L))
  }

  test("center outranks leaves and total mass stays within floor slack") {
    val es = (1L to 8L).flatMap(l => Seq((0L, l), (l, 0L)))
    val ranks = Graph.pagerank(edgesDf(es), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 8L).forall(l => ranks(0L) > ranks(l)))
    // every div floors, so total only leaks downward, bounded by ~1 unit
    // per node per arithmetic step per iteration
    val total = ranks.values.sum
    assert(total <= 1000000000000L && total > 999999999000L)
  }

  test("matches the driver reference recurrence on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val raw = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    val es = (raw ++ raw.map(_.swap)).distinct // symmetrize: no dangling nodes
    val got = Graph.pagerank(edgesDf(es), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refPagerank(es, iters = 4))
  }

  test("shuffle-join rank fallback (broadcastRanks=false) is bit-identical to broadcast") {
    // The billions-of-nodes path: ranks distributed by shuffle equi-join
    // onto the src-partitioned edge layout instead of broadcast. Same
    // integer recurrence — the whole rank map must match exactly, with
    // auto-broadcast disabled so the fallback genuinely exercises the
    // shuffle join rather than being silently re-broadcast by the planner.
    val rnd = new scala.util.Random(11)
    val raw = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    val es = (raw ++ raw.map(_.swap)).distinct
    val viaBroadcast = Graph.pagerank(edgesDf(es), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // threshold -1 forbids planner-chosen broadcasts, and the fallback path
    // carries no broadcast() hint — so every loop join genuinely shuffles
    // during pagerank()'s eager per-round materialization (the returned
    // frame is a checkpoint, so asserting on ITS plan would be vacuous).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaShuffle = distributed(Graph.pagerank(edgesDf(es), iters = 4, broadcastRanks = false))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaShuffle === viaBroadcast)
      assert(viaBroadcast === refPagerank(es, iters = 4))
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("pagerankWeighted: w ≡ 1 is bit-identical to unweighted pagerank") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val raw = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    val es = (raw ++ raw.map(_.swap)).distinct
    val unw = Graph.pagerank(edgesDf(es), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = Graph.pagerankWeighted(
        es.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 === unw, "w ≡ 1 weighted pagerank must equal unweighted exactly")
  }

  test("pagerankWeighted: mass follows weight; shuffle arm bit-identical") {
    import spark.implicits._
    // Symmetric triangle 0-1-2, but edge 0↔1 carries weight 8 vs 1
    // elsewhere: 0 and 1 feed each other 8/9 of their mass and must both
    // outrank 2; under w ≡ 1 all three tie by symmetry — the ranking IS
    // the weight information.
    val es = Seq((0L, 1L, 8L), (1L, 0L, 8L), (0L, 2L, 1L), (2L, 0L, 1L),
      (1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val got = Graph.pagerankWeighted(es, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) === got(1L), "0 and 1 are symmetric")
    assert(got(0L) > got(2L), "heavy mutual edge must concentrate mass")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = distributed(Graph.pagerankWeighted(es, iters = 5, broadcastRanks = false))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sh === got, "weighted shuffle arm must match broadcast exactly")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("ssspWeighted: relaxation improves an already-reached node; round cap respected") {
    import spark.implicits._
    // 0→1 costs 10 direct, but 0→2→1 costs 2+3=5: round 1 sets d(1)=10,
    // round 2 must IMPROVE it to 5 (the update bfsHops structurally
    // cannot express). 1→3 extends the improved path in round 3.
    val es = Seq((0L, 1L, 10L), (0L, 2L, 2L), (2L, 1L, 3L), (1L, 3L, 1L))
      .toDF("src", "dst", "w")
    val src = Seq(0L).toDF("node")
    val r1 = Graph.ssspWeighted(es, src, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 === Map(0L -> 0L, 1L -> 10L, 2L -> 2L))
    val r3 = Graph.ssspWeighted(es, src, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r3 === Map(0L -> 0L, 1L -> 5L, 2L -> 2L, 3L -> 6L),
      s"round-2 relaxation must improve d(1) to 5 and extend to 3: $r3")
  }

  test("ssspWeighted: w ≡ 1 distances equal bfsHops hop counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val raw = Seq.fill(300)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.distinct
    val es = (raw ++ raw.map(_.swap)).distinct
    val src = Seq(0L, 7L).toDF("node")
    val hops = Graph.bfsHops(edgesDf(es), src, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val dist = Graph.ssspWeighted(
        es.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"),
        src, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist === hops, "unit-weight SSSP must reproduce BFS hop counts")
    // frontier-too-big-to-broadcast fallback arm: identical distances
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = distributed(Graph.ssspWeighted(
          es.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"),
          src, rounds = 4, broadcastFrontier = false))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sh === hops, "shuffle-frontier arm must match broadcast exactly")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("bfsHops: shuffle-frontier fallback (broadcastFrontier=false) is bit-identical to broadcast") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val raw = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    val es = (raw ++ raw.map(_.swap)).distinct
    val src = Seq(0L, 11L).toDF("node")
    val viaBroadcast = Graph.bfsHops(edgesDf(es), src, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaShuffle = distributed(Graph.bfsHops(edgesDf(es), src, maxHops = 4,
          broadcastFrontier = false))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(viaShuffle === viaBroadcast,
        "shuffle-frontier arm must match broadcast exactly")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("labelAssignWeighted/modularityOfWeighted: w ≡ 1 reproduces the unweighted operators bit-for-bit") {
    import spark.implicits._
    val cliqueA = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val es = cliqueA ++ cliqueB :+ (4L, 10L)
    val e = es.toDF("a", "b")
    val ew = es.map { case (a, b) => (a, b, 1L) }.toDF("a", "b", "w")
    val unw = Graph.labelAssign(e, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val w1 = Graph.labelAssignWeighted(ew, rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(w1 === unw)
    val qUnw = Graph.modularityOf(e, Graph.labelAssign(e, 3), k = 10)
      .collect().map(_.toSeq).toSeq
    val qW1 = Graph.modularityOfWeighted(ew, Graph.labelAssignWeighted(ew, 3), k = 10)
      .collect().map(_.toSeq).toSeq
    assert(qW1 === qUnw)
  }

  test("labelAssignWeighted: one heavy tie outvotes many light ones") {
    import spark.implicits._
    // node 5 has 3 unit edges into clique {0..3} (label 0 after round 1)
    // and ONE weight-10 edge to node 9 (self-labeled 9): unweighted LPA
    // would give 5 label 0 (3 votes > 1); weighted must give 9's label.
    val base = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j, 1L)
    val es = base ++ Seq((0L, 5L, 1L), (1L, 5L, 1L), (2L, 5L, 1L), (5L, 9L, 10L))
    val got = Graph.labelAssignWeighted(es.toDF("a", "b", "w"), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(5L) === 9L, s"weight-10 vote must win: $got")
    val unw = Graph.labelAssign(es.map(t => (t._1, t._2)).toDF("a", "b"), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unw(5L) === 0L, "the unweighted rule must disagree — the weight IS the information")
  }

  test("pagerankPersonalized: mass stays on paths from the seeds; uniform seeds ≠ global pagerank") {
    import spark.implicits._
    // two components: triangle {0,1,2} and pair {10,11}; seeds in the
    // triangle only — the pair must rank EXACTLY 0 (no path from seeds)
    val raw = Seq((0L, 1L), (1L, 2L), (2L, 0L), (10L, 11L))
    val es = (raw ++ raw.map(_.swap)).distinct
    val got = Graph.pagerankPersonalized(edgesDf(es), Seq(0L).toDF("node"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) === 0L && got(11L) === 0L,
      s"unreachable nodes must hold zero personalized rank: $got")
    assert(got(0L) > got(1L) && got(0L) > got(2L),
      "the seed must outrank its neighbors under restart")
    assert(got(1L) === got(2L), "symmetric neighbors tie")
    // one seed's restart mass is still conserved within floor slack
    // (seeding every node IS global pagerank — pinned in its own test)
    val total = got.values.sum
    assert(total <= 1000000000000L && total > 0L)
  }

  test("pagerankPersonalized seeded with every src node is global pagerank, in both arms") {
    // |S| = n and every restart flag set: the init and base terms are the
    // global ones, so one rank loop serves both operators bit-for-bit
    val rnd = new scala.util.Random(29)
    val raw = Seq.fill(300)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.distinct
    val es = edgesDf((raw ++ raw.map(_.swap)).distinct)
    val all = es.select(col("src").as("node")).distinct()
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val global = ranks(Graph.pagerank(es, iters = 4))
    assert(ranks(Graph.pagerankPersonalized(es, all, iters = 4)) === global)
    assert(ranks(distributed(Graph.pagerankPersonalized(es, all, iters = 4))) === global)
    assert(ranks(distributed(Graph.pagerank(es, iters = 4))) === global)
  }

  test("q_graph_jaccard: matches a driver-side neighbor-set replay on the fixture graph") {
    import spark.implicits._
    val got = graft.SparkEntry.queries("q_graph_jaccard")(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // rebuild the co-purchase graph driver-side
    val li = graft.catalog.Tables.lineitem(spark, sf())
      .filter(col("l_orderkey") % 16 === 0)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = li.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSet
    val nbrs = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => nbrs(a) += b; nbrs(b) += a }
    val expected = (for {
      (v1, n1) <- nbrs.toSeq; (v2, n2) <- nbrs.toSeq if v1 < v2
      common = (n1 & n2).size.toLong if common >= 2
    } yield {
      val union = n1.size + n2.size - common
      (v1, v2, common, n1.size.toLong, n2.size.toLong, common * 10000 / union)
    }).sortBy { case (a, b, _, _, _, j) => (-j, a, b) }.take(50)
    assert(got === expected)
  }

  /** The fixture slice graph as an (a, b) edge frame — the EXACT builder
    * q_graph_jaccard runs (shared via private[graft], so the capped-no-op
    * and recall pins can never silently test a different graph). */
  private def fixtureJaccardEdges() = Graph.jaccardSliceEdges(spark, sf())

  private def pairRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq

  test("jaccardTopK: the default maxDegree cap is a no-op on the fixture graph") {
    // the checked query runs the CAPPED code path; this pin is what makes
    // its oracle (exact algebra) legitimate — capped ≡ uncapped here
    val e = fixtureJaccardEdges()
    assert(pairRows(Graph.jaccardTopK(e, k = 50)) ===
      pairRows(Graph.jaccardTopK(e, k = 50, maxDegree = Int.MaxValue)))
  }

  test("jaccardTopK: maxDegree drops hub-mediated wedges, keeps true degrees") {
    import spark.implicits._
    // hub 100 adjacent to 1..8 (degree 8); besides the hub, nodes 1 and 2
    // share real neighbors {3, 4}: edges 1-3, 1-4, 2-3, 2-4
    val base = (1L to 8L).map(i => (i, 100L)) ++
      Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    val e = base.toDF("a", "b")
    // uncapped: (1,2) see hub + {3,4} → common 3; (3,4) common {1,2,100}
    val exact = pairRows(Graph.jaccardTopK(e, k = 100, minCommon = 1L,
      maxDegree = Int.MaxValue)).map(t => (t._1, t._2) -> t).toMap
    assert(exact((1L, 2L))._3 === 3L)
    // capped at 4: the hub (deg 8) does not expand — (1,2) keep only their
    // REAL shared neighbors {3,4}, and their degrees stay the TRUE ones
    val capped = pairRows(Graph.jaccardTopK(e, k = 100, minCommon = 1L,
      maxDegree = 4)).map(t => (t._1, t._2) -> t).toMap
    val (_, _, common12, d1, d2, j12) = capped((1L, 2L))
    assert(common12 === 2L) // hub-mediated wedge gone
    assert((d1, d2) === (3L, 3L)) // degrees from the UNCAPPED adjacency
    assert(j12 === 2L * 10000 / (3 + 3 - 2))
    // pairs mediated ONLY by the hub (e.g. 5,6) vanish under the cap
    assert(exact.contains((5L, 6L)) && !capped.contains((5L, 6L)))
  }

  test("jaccardTopKApprox: every emitted score is exact; fixture recall >= 0.90") {
    val e = fixtureJaccardEdges()
    val exactAll = pairRows(Graph.jaccardTopK(e, k = Int.MaxValue,
      maxDegree = Int.MaxValue)).map(t => (t._1, t._2) -> t).toMap
    val approx = pairRows(Graph.jaccardTopKApprox(e, k = 50))
    // verify-inside-the-join: a candidate's score comes from its real
    // neighbor arrays, so every approx row must equal the exact row
    approx.foreach { t =>
      assert(exactAll((t._1, t._2)) === t,
        s"approx row $t diverges from exact scoring") }
    // recall of the exact top-50 pair set (deterministic md5 minhash —
    // this is a fixed number on the fixture, not a statistical bound;
    // b=8 r=1 banding curve P = 1-(1-j)^8 over top scores 0.45..0.75)
    val exactTop = pairRows(Graph.jaccardTopK(e, k = 50,
      maxDegree = Int.MaxValue)).map(t => (t._1, t._2)).toSet
    val hit = approx.count(t => exactTop((t._1, t._2)))
    info(s"approx recall on fixture top-50: $hit/50")
    assert(hit >= 45, s"recall $hit/50 under the pinned 0.90 floor")
  }

  test("jaccardTopKWeighted: w ≡ 1 reproduces jaccardTopK bit-for-bit; weights reorder the ranking") {
    import spark.implicits._
    val e = fixtureJaccardEdges()
    val e1 = e.select(col("a"), col("b"), lit(1L).as("w"))
    // w≡1: min_sum = common, max_sum = d1 + d2 − common, same e4, same
    // rank order — compare on the shared invariant view
    val unw = pairRows(Graph.jaccardTopK(e, k = 50))
      .map(t => (t._1, t._2, t._3, t._3, t._4 + t._5 - t._3, t._6))
    val wgt = Graph.jaccardTopKWeighted(e1, k = 50)
      .select("v1", "v2", "common", "min_sum", "max_sum", "ruzicka_e4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(wgt === unw, "unit-weight Ružička must equal unweighted Jaccard")
    // hand-checked weighted triangle: a-z w=10, b-z w=4, a-b w=1 →
    // pair (a,b): common neighbor z contributes min(10,4)=4;
    // S(a)=11, S(b)=5 → max_sum = 11+5-4 = 12, e4 = 4*10000 div 12
    val tiny = Seq((1L, 9L, 10L), (2L, 9L, 4L), (1L, 2L, 1L)).toDF("a", "b", "w")
    val got = Graph.jaccardTopKWeighted(tiny, k = 10, minCommon = 1L)
      .filter(col("v1") === 1L && col("v2") === 2L)
      .select("min_sum", "max_sum", "ruzicka_e4").collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ===
      (4L, 12L, 4L * 10000 / 12))
  }

  test("kcorePeelWeighted: w ≡ 1 reproduces kcorePeel; strength keeps a repeat-tie node; arm equality") {
    import spark.implicits._
    val e = fixtureJaccardEdges()
    val e1 = e.select(col("a"), col("b"), lit(1L).as("w"))
    val unw = Graph.kcorePeel(e, k = 3, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val wgt = Graph.kcorePeelWeighted(e1, s = 3L, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(wgt === unw, "unit-weight s-core must equal the degree k-core")
    // strength semantics: path x-y (w=5) survives s=4 where degree-2
    // peel at k=4 would drop everything; y-z (w=1) peels away, and the
    // SECOND round re-checks x-y's strength without z's edge
    val tiny = Seq((1L, 2L, 5L), (2L, 3L, 1L)).toDF("a", "b", "w")
    val got = Graph.kcorePeelWeighted(tiny, s = 4L, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 5L), (2L, 5L)),
      "strength-4 peel must keep the w=5 edge and drop the w=1 tendril")
    // nodes-too-big-to-broadcast fallback arm: identical survivors
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = distributed(Graph.kcorePeelWeighted(e1, s = 3L, rounds = 4,
          broadcastKeep = false))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(sh === unw, "shuffle-keep arm must match broadcast exactly")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("jaccardTopK: pair-pack id guard fails loudly outside [0, 1e9)") {
    import spark.implicits._
    val bad = Seq((1L, 2000000000L)).toDF("a", "b")
    val ex = intercept[Exception] {
      Graph.jaccardTopK(bad, k = 10, minCommon = 1L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: messages(e.getCause))
    assert(messages(ex).exists(m => m != null && m.contains("pair-pack")),
      s"expected the pair-pack guard message, got: ${ex.getMessage}")
  }

  test("kcorePeel: cascading peel strips the tail, keeps the triangle, degrees are in-core") {
    import spark.implicits._
    // triangle {1,2,3} with a 2-hop tail 3-4-5: k=2 peel must CASCADE —
    // round 1 drops 5 (deg 1), round 2 drops 4 (deg 1 after 5 left) —
    // and node 3's reported degree is its IN-CORE degree (2, not 3)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = Graph.kcorePeel(e, k = 2, rounds = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $got")
    // one round is NOT enough on this graph (4 still present) — the
    // cascade is what the rounds exist for
    val oneRound = Graph.kcorePeel(e, k = 2, rounds = 1).collect()
      .map(_.getLong(0)).toSet
    assert(oneRound === Set(1L, 2L, 3L, 4L))
    // k above the max degree empties the graph
    assert(Graph.kcorePeel(e, k = 4, rounds = 3).count() === 0)
  }

  test("ktrussPeel: peel cascades on the bowtie, keeps the clique, support is in-truss") {
    import spark.implicits._
    // K4 {1,2,3,4} (every edge closes 2 triangles) + a pendant triangle
    // {4,5,6} + a tail 6-7: at k=4 the pendant triangle's edges close
    // only 1 triangle each -> dropped round 1 (the tail edge closes 0);
    // the K4 survives with every edge's in-truss support still 2
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L)).toDF("a", "b")
    val got = Graph.ktrussPeel(e, k = 4, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val k4 = Map((1L, 2L) -> 2L, (1L, 3L) -> 2L, (1L, 4L) -> 2L,
      (2L, 3L) -> 2L, (2L, 4L) -> 2L, (3L, 4L) -> 2L)
    assert(got === k4, s"got $got")
    // k=3 (support >= 1) keeps the pendant triangle too, sheds the tail
    val k3 = Graph.ktrussPeel(e, k = 3, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k3 === k4.keySet ++ Set((4L, 5L), (4L, 6L), (5L, 6L)), s"got $k3")
    // the CASCADE: two K4s sharing node 4... one round is NOT enough when
    // a drop re-exposes an edge — chain K4 {1,2,3,4} to triangle {4,5,6}
    // to triangle {5,6,8}: at k=4 round 1 drops both triangles' edges
    // at once here, so instead pin the round-capped NON-convergence the
    // contract allows: rounds=1 on the k=4 peel already equals rounds=2
    // (the pendant dies in one round), and the result is stable
    val oneRound = Graph.ktrussPeel(e, k = 4, rounds = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(oneRound === k4, s"got $oneRound")
  }

  test("hyperBall: path-graph ball estimates are exact at tiny cardinality; arms agree; anchor matches") {
    import spark.implicits._
    // path 1-2-3-4, symmetrized; HLL in list/set mode is exact at these
    // cardinalities, so the estimates must be the true ball sizes
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val ed = (p ++ p.map(_.swap)).toDF("src", "dst")
    val want = Map(
      1L -> Seq(1L, 2L, 3L, 4L), 2L -> Seq(1L, 3L, 4L, 4L),
      3L -> Seq(1L, 3L, 4L, 4L), 4L -> Seq(1L, 2L, 3L, 4L))
    val got = Graph.hyperBall(ed, radius = 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(got === want, s"got $got")
    // broadcast arm: identical estimates (union is register-max — the
    // distribution strategy cannot change the result)
    val bc = distributed(Graph.hyperBall(ed, radius = 3, broadcastState = true))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(bc === want)
    // shuffle arm, distributed only: the over-cap 100 TB path
    val sh = distributed(Graph.hyperBall(ed, radius = 3))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(sh === want)
    // the exact anchor agrees with the sketch on every (source, t)
    val ex = Graph.exactBallSizes(ed, Seq(1L, 3L).toDF("s"), 3).collect()
      .map(r => (r.getAs[Long]("s"), r.getAs[Int]("t")) -> r.getAs[Long]("b")).toMap
    assert(ex === Map((1L, 1) -> 2L, (1L, 2) -> 3L, (1L, 3) -> 4L,
      (3L, 1) -> 3L, (3L, 2) -> 4L, (3L, 3) -> 4L), s"got $ex")
  }

  test("hyperBall: driver arm ≡ distributed arm on the real sf0.001 slice graph") {
    // the in-memory DataSketches loop must reproduce the frame loop's
    // estimates bit-for-bit on a graph whose balls leave trivial
    // cardinality (register-max union is set-determined — this pins it)
    val ed = Graph.symSliceShared(spark, sf())._1
    val arm = Graph.hyperBall(ed, radius = 3, broadcastState = true,
        layoutOwned = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val dist = distributed(Graph.hyperBall(ed, radius = 3, broadcastState = true,
        layoutOwned = true))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(arm === dist)
  }

  test("ballSizesFromLevels ≡ exactBallSizes in both level modes (the shared-BFS anchor, verdict r16 #1)") {
    import spark.implicits._
    // path 1-2-3-4-5 plus a DISJOINT 2-node component {10,11}: source
    // 10's BFS exhausts at t=1 — the dense (s × t) grid must carry its
    // ball size forward exactly as exactBallSizes does
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val ed = (p ++ p.map(_.swap)).toDF("src", "dst")
    val srcs = Seq(1L, 3L, 10L).toDF("s")
    val want = Graph.exactBallSizes(ed, srcs, 3).collect()
      .map(r => (r.getAs[Long]("s"), r.getAs[Int]("t")) -> r.getAs[Long]("b"))
      .toMap
    assert(want((10L, 3)) === 2L, "exhausted source must carry b forward")
    // both wrap modes: the cold checkpoint-per-level and the pool's
    // lazy/persisted shape must agree
    val wraps: Seq[(String, (Int, () => org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)] =
      Seq(("checkpoint", (_, b) => b().localCheckpoint()),
        ("lazy", (_, b) => b()))
    for ((name, wrap) <- wraps) {
      val lvls = Graph.sigmaLevels(ed, srcs, 3, wrap)
      val got = Graph.ballSizesFromLevels(t => lvls(t), 3).collect()
        .map(r => (r.getAs[Long]("s"), r.getAs[Int]("t")) -> r.getAs[Long]("b"))
        .toMap
      assert(got === want, s"wrap=$name: got $got")
      if (name == "checkpoint")
        lvls.foreach(graft.util.Frames.releaseCheckpoint)
    }
  }

  test("betweennessBounded: hand-computed path and diamond dependencies") {
    import spark.implicits._
    // path 1-2-3-4-5 symmetrized, source 1, radius 3: node 5 sits past
    // the horizon; δ(3→4)=0 ⇒ δ(3)=1e4, δ(2)=σ2(1e4+δ3)/σ3=2e4
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val ed = (p ++ p.map(_.swap)).toDF("src", "dst")
    val got = Graph.betweennessBounded(ed, Seq(1L).toDF("s"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(2L -> 20000L, 3L -> 10000L, 4L -> 0L), s"got $got")
    // arm equality (round 18): the distributed chain (distributed only)
    // reproduces the default driver arm row-for-row
    val gotD = distributed(Graph.betweennessBounded(ed, Seq(1L).toDF("s"), 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotD === got, s"distributed arm diverged: $gotD vs $got")
    // diamond 1-{2,3}-4: two shortest paths to 4 (σ4 = 2) split the
    // dependency: δ(2) = δ(3) = 1·1e4/2 = 5000
    val d = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val edd = (d ++ d.map(_.swap)).toDF("src", "dst")
    val got2 = Graph.betweennessBounded(edd, Seq(1L).toDF("s"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 === Map(2L -> 5000L, 3L -> 5000L, 4L -> 0L), s"got $got2")
  }

  test("betweennessWeightedBounded: w ≡ 1 reproduces betweennessBounded; weights reroute brokerage") {
    import spark.implicits._
    // a 6-node graph with two routes 1→4: direct-ish via 2 and a longer
    // chain via {5,6}; plus tail 4-7 past nothing. Symmetrized.
    val p = Seq((1L, 2L), (2L, 4L), (1L, 5L), (5L, 6L), (6L, 4L), (3L, 2L))
    val ed = (p ++ p.map(_.swap)).toDF("src", "dst")
    val srcs = Seq(1L, 3L).toDF("s")
    val un = Graph.betweennessBounded(ed, srcs, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w1 = Graph.betweennessWeightedBounded(
        ed.withColumn("w", org.apache.spark.sql.functions.lit(1L)), srcs, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 === un, s"w≡1 diverged: $w1 vs $un")
    // weighted: make the 5-6 chain CHEAP (w=1) and 1-2, 2-4 expensive
    // (w=10): shortest 1→4 now runs through 5 and 6, so they gain
    // brokerage from source 1 while 2 keeps only its 3-side role
    val wts = Map((1L, 2L) -> 10L, (2L, 4L) -> 10L).withDefaultValue(1L)
    val edw = (p.map(e => (e._1, e._2, wts(e))) ++
        p.map(e => (e._2, e._1, wts(e)))).toDF("src", "dst", "w")
    val ww = Graph.betweennessWeightedBounded(edw, Seq(1L).toDF("s"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // from source 1 at 3 hops: the cheap chain 1-5-6-4 (cost 3) beats
    // 1-2-4 (cost 20), so 4's brokerage moves to {5,6}: δ(6) = 1e4,
    // δ(5) = 1e4 + δ(6) = 2e4. Node 2 keeps ONLY its broker role for 3
    // (DAG 1→2→3 at d = 10, 11): δ(2) = 1e4. Endpoints 3, 4 broker 0.
    assert(ww(5L) === 20000L && ww(6L) === 10000L, s"got $ww")
    assert(ww(2L) === 10000L && ww(3L) === 0L && ww(4L) === 0L, s"got $ww")
    // three-arm equality (round 18): the default DRIVER arm (computed
    // above — the sample-bounded-state fast path), the distributed
    // broadcast arm, and the shuffle-join fallback are row-for-row equal
    val wwB = distributed(Graph.betweennessWeightedBounded(edw, Seq(1L).toDF("s"), 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wwB === ww, s"broadcast arm diverged: $wwB vs $ww")
    val wwS = distributed(Graph.betweennessWeightedBounded(edw, Seq(1L).toDF("s"), 3,
        broadcastState = false))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wwS === ww, s"shuffle arm diverged: $wwS vs $ww")
    // and on the asymmetric-weight multi-source shape: driver ≡ broadcast
    val ms = Graph.betweennessWeightedBounded(edw, srcs, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val msB = distributed(Graph.betweennessWeightedBounded(edw, srcs, 3))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ms === msB, s"driver arm diverged on multi-source: $ms vs $msB")
  }

  test("harmonicWeightedBounded: w ≡ 1 + bucket 1 collapses to hop balls; weights stretch distances") {
    import spark.implicits._
    // path 1-2-3-4 plus branch 2-5, symmetrized; sources 1 and 3
    val p = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L))
    val ed = (p ++ p.map(_.swap)).toDF("src", "dst")
    val srcs = Seq(1L, 3L).toDF("s")
    // w ≡ 1, bucket = 1: wb_t must equal the hop-based cumulative ball
    // size minus the source itself (the hyperball anchor's law)
    val w1 = Graph.harmonicWeightedBounded(
        ed.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
        srcs, rounds = 3, bucket = 1L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    // exactBallSizes emits (s, b, t)
    val hop = Graph.exactBallSizes(ed, srcs, 3)
      .collect().map(r => (r.getLong(0),
        r.getAs[Number](2).longValue) -> r.getAs[Number](1).longValue).toMap
    for (s0 <- Seq(1L, 3L); t <- 1 to 3) {
      val wb = t match {
        case 1 => w1(s0)._1; case 2 => w1(s0)._2; case _ => w1(s0)._3
      }
      assert(wb === hop((s0, t.toLong)) - 1,
        s"w≡1 bucket-1 ball at t=$t for source $s0 diverged from hop ball")
    }
    // hand-checked harmonic from source 1 (hops 2:1, 3:2, 5:2, 4:3):
    // 10000 + 5000 + 5000 + 3333 = 23333
    assert(w1(1L)._4 === 23333L, s"got ${w1(1L)}")
    // weights stretch the metric: the same graph with w = 10 on every
    // edge pushes all neighbors past bucket 100's first cell boundary
    // except direct ones (d = 10 ≤ 100 — all within wb1 here), and the
    // harmonic sum scales as 10000 div (10·hops)
    val w10 = Graph.harmonicWeightedBounded(
        ed.withColumn("w", org.apache.spark.sql.functions.lit(10L)),
        srcs, rounds = 3, bucket = 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    // source 1: 10000/10 + 10000/20 + 10000/20 + 10000/30 = 1000+500+500+333
    assert(w10(1L) === 2333L, s"got $w10")
  }

  test("labelPropagate: two planted cliques converge to two communities; arms agree") {
    import spark.implicits._
    // two 5-cliques bridged by one edge: after 3 rounds each clique
    // carries one label and the bridge doesn't merge them
    val cliqueA = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val e = (cliqueA ++ cliqueB :+ (4L, 10L)).toDF("a", "b")
    val got = Graph.labelPropagate(e, rounds = 3, k = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length === 2, s"expected 2 communities, got ${got.toSeq}")
    assert(got.map(_._2).sum === 10L, "every node belongs to exactly one community")
    assert(got.forall(_._2 >= 5), s"clique communities must hold: ${got.toSeq}")
    // shuffle fallback = broadcast arm, row for row
    val sh = distributed(Graph.labelPropagate(e, rounds = 3, k = 10, broadcastLabels = false))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq === sh.toSeq)
    // determinism: a second run is identical (the tie rule is total)
    val again = Graph.labelPropagate(e, rounds = 3, k = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq === again.toSeq)
  }

  test("louvainAssign: planted cliques resolve to two communities; Q non-decreasing; arms agree; beats LPA's bridge merge rule") {
    import spark.implicits._
    // two 4-cliques bridged by one edge — modularity's textbook case
    val cliqueA = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val cliqueB = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val ed = (cliqueA ++ cliqueB :+ (3L, 10L)).toDF("a", "b")
    val got = Graph.louvainAssign(ed, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique one community, the bridge does not merge them
    assert(got.values.toSet.size === 2, s"got $got")
    assert((0L to 3L).map(got).toSet.size === 1, s"clique A split: $got")
    assert((10L to 13L).map(got).toSet.size === 1, s"clique B split: $got")
    assert(got(0L) !== got(10L), s"bridge merged the cliques: $got")
    // Q (Σ q_num over the fixed 4m² denominator) non-decreasing per
    // round — the modularity-OPTIMIZING property LPA does not have
    val q = (1 to 3).map { r =>
      Graph.modularityOf(ed, Graph.louvainAssign(ed, r), k = 100)
        .agg(org.apache.spark.sql.functions.sum(col("q_num")))
        .collect()(0).getLong(0)
    }
    assert(q(0) <= q(1) && q(1) <= q(2), s"Q decreased across rounds: $q")
    // arm equality: the shuffle-join fallback is bit-identical
    val shuffled = distributed(Graph.louvainAssign(ed, rounds = 2, broadcastLabels = false))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled === got)
    // w ≡ 1 collapse: the weighted operator reproduces the unweighted
    // assignment bit-for-bit (sum of ones = count)
    val w1 = Graph.louvainAssignWeighted(
        ed.withColumn("w", org.apache.spark.sql.functions.lit(1L)), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w1 === got)
    // weight matters: a massively heavy bridge makes its endpoints each
    // other's best move — under SYNCHRONOUS updates the mutually-best
    // pair two-cycles (the documented LPA-analog caveat), deterministic
    // either way, and the assignment provably differs from w ≡ 1
    val wed = (cliqueA ++ cliqueB).map(e => (e._1, e._2, 1L)) :+ (3L, 10L, 60L)
    val ww = Graph.louvainAssignWeighted(wed.toDF("a", "b", "w"), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ww !== got, s"the heavy bridge must change the assignment: $ww")
    val ww2 = Graph.louvainAssignWeighted(wed.toDF("a", "b", "w"), rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ww2 === ww, "weighted moves must be deterministic")
  }

  test("louvainMultilevel: two-tier fixture resolves both tiers; Q non-decreasing across levels; isolated super-node stays") {
    import spark.implicits._
    // tier 1: six 3-cliques; tier 2: two TRIANGLES of cliques (triangle
    // bridging is the stable synchronous-merge shape — an isolated pair
    // of equal-mass communities only swaps labels, a triangle settles);
    // plus a disconnected 12-clique blob that (a) inflates W so the
    // coarse move scores go positive and (b) coarsens to a super-node
    // with ONLY a self-loop — the isolated-super-node path.
    def clique(lo: Long, n: Long): Seq[(Long, Long)] =
      for (i <- lo until (lo + n); j <- (i + 1) until (lo + n)) yield (i, j)
    val g1 = clique(0, 4) ++ clique(10, 4) ++ clique(20, 4) ++
      Seq((3L, 10L), (13L, 20L), (23L, 0L))
    val g2 = g1.map { case (a, b) => (a + 30L, b + 30L) }
    val blob = clique(70, 12)
    val ed = (g1 ++ g2 ++ blob).toDF("a", "b")
    val lvl1 = Graph.louvainAssign(ed, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lvl2 = Graph.louvainMultilevelAssign(ed, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    info(s"level-1 communities: ${lvl1.values.toSet.size}, " +
      s"level-2: ${lvl2.values.toSet.size}")
    val g1Nodes = (0L to 3L) ++ (10L to 13L) ++ (20L to 23L)
    val g2Nodes = g1Nodes.map(_ + 30L)
    // tier 1 resolved: each 4-clique one community at level 1
    for (lo <- Seq(0L, 10L, 20L, 30L, 40L, 50L))
      assert((lo until lo + 4).map(lvl1).toSet.size === 1,
        s"level-1 split clique at $lo: $lvl1")
    // tier 2 resolved: each triangle-group collapses to ONE community
    // at level 2, the groups stay apart, the blob stays its own
    assert(g1Nodes.map(lvl2).toSet.size === 1, s"group 1 not merged: $lvl2")
    assert(g2Nodes.map(lvl2).toSet.size === 1, s"group 2 not merged: $lvl2")
    assert(lvl2(0L) !== lvl2(30L), s"groups merged across tiers: $lvl2")
    assert((70L to 81L).map(lvl2).toSet.size === 1, s"blob split: $lvl2")
    assert(lvl2(70L) !== lvl2(0L), s"blob merged into group 1: $lvl2")
    assert(lvl2(70L) !== lvl2(30L), s"blob merged into group 2: $lvl2")
    // Q non-decreasing ACROSS levels (the multilevel point: a whole
    // phase-1 community moves as one unit)
    def q(assign: Map[Long, Long]): Long = {
      val adf = assign.toSeq.toDF("v", "lbl")
      Graph.modularityOf(ed, adf, k = 100)
        .agg(org.apache.spark.sql.functions.sum(col("q_num")))
        .collect()(0).getLong(0)
    }
    val q1 = q(lvl1); val q2 = q(lvl2)
    info(s"Q numerators: level-1 $q1, level-2 $q2")
    assert(q2 >= q1, s"multilevel decreased Q: $q1 -> $q2")
    // determinism + arm equality of the whole multilevel chain
    val again = distributed(Graph.louvainMultilevelAssign(ed, rounds = 2,
        broadcastLabels = false))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === lvl2, "shuffle arm / rerun diverged")
  }

  test("louvainAssign: hand-checked first round on the path triangle-pendant") {
    import spark.implicits._
    // triangle {1,2,3} with pendant 4 on node 3. m = 4. Round 1 from
    // singletons: sc(v→C) = 4m·k − 2d·tot (tot without v's own d except
    // for staying). Node 4 (d=1): stay sc = 0 − 2·1·0 = 0; join {3}
    // (tot=3): 16·1 − 2·1·3 = 10 → moves to 3. Node 1 (d=2): stay 0−0=0;
    // join {2} (tot=2): 16 − 2·2·2 = 8; join {3} (tot=3): 16 − 12 = 4
    // → ties broken by score: moves to 2. Node 2 → smallest-label best:
    // join {1}: 16 − 8 = 8 > join {3}: 4 → moves to 1. Node 3 (d=3):
    // join {1}: 16 − 12 = 4; {2}: 4; {4} (tot=1): 16 − 6 = 10 → moves
    // to 4.
    val ed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val got = Graph.louvainAssign(ed, rounds = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L), s"got $got")
  }

  test("modularityOf: hand-checked exact integers on the two-clique fixture") {
    import spark.implicits._
    val cliqueA = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val e = (cliqueA ++ cliqueB :+ (4L, 10L)).toDF("a", "b")
    val got = Graph.modularityOf(e, Graph.labelAssign(e, rounds = 3), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // m = 21; each community: 5 members, e_in = 10 (the clique),
    // d_sum = 5·4 + 1 (bridge endpoint) = 21 → q_num = 4·21·10 − 21² = 399.
    // Q = Σ q_num / 4m² = 798/1764 ≈ 0.452 — the planted two-community
    // structure scores strongly positive, as it must.
    assert(got.toSeq === Seq((5L, 10L, 21L, 21L, 399L), (5L, 10L, 21L, 21L, 399L)),
      s"got ${got.toSeq}")
    // a single-community assignment scores ZERO by construction:
    // e_in = m and d_sum = 2m → 4m·m − (2m)² = 0
    val one = e.select($"a".as("v")).unionAll(e.select($"b".as("v")))
      .distinct().select($"v", lit(0L).as("lbl"))
    val q1 = Graph.modularityOf(e, one, k = 1).collect()(0)
    assert(q1.getLong(5) === 0L, s"one-community q_num must be 0, got $q1")
    // shuffle fallback (broadcastLabels=false, the nodes-too-big-to-
    // broadcast arm) scores identically, row for row
    val asn = Graph.labelAssign(e, rounds = 3)
    val sh = distributed(Graph.modularityOf(e, asn, k = 10,
        broadcastLabels = false))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq === sh.toSeq, "broadcast and shuffle arms must agree")
  }

  test("kcorePeel: broadcastKeep=false shuffle fallback peels identically") {
    import spark.implicits._
    // dense-ish random graph so several rounds actually drop nodes on
    // both arms; equality is row-for-row, not just count
    val rnd = new scala.util.Random(7)
    val raw = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val e = raw.toDF("a", "b")
    val bc = Graph.kcorePeel(e, k = 3, rounds = 4, broadcastKeep = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sh = distributed(Graph.kcorePeel(e, k = 3, rounds = 4, broadcastKeep = false))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bc.nonEmpty, "fixture should retain a core at k=3")
    assert(bc === sh, "broadcast and shuffle arms must peel identically")
  }

  test("bfsHops: hand-checked hops on a path graph, cap respected") {
    import spark.implicits._
    // path 0-1-2-3-4-5 (symmetrized), source {0}
    val raw = (0L to 4L).map(i => (i, i + 1))
    val es = raw ++ raw.map(_.swap)
    val src = Seq(0L).toDF("node")
    val got = Graph.bfsHops(edgesDf(es), src, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 4 and 5 are beyond the 3-hop cap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 3))
  }

  test("bfsHops: multi-source takes the nearest source, disconnected stays out") {
    import spark.implicits._
    // two components: 0-1-2 and 10-11; sources {2, 10}
    val raw = Seq((0L, 1L), (1L, 2L), (10L, 11L))
    val es = raw ++ raw.map(_.swap)
    val got = Graph.bfsHops(edgesDf(es), Seq(2L, 10L).toDF("node"), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(2L -> 0, 1L -> 1, 0L -> 2, 10L -> 0, 11L -> 1))
  }

  private def triDf(es: Seq[(Long, Long)]) = {
    import spark.implicits._
    es.toDF("a", "b")
  }

  /** Reference O(n^3) triangle count over an undirected a<b edge list. */
  private def refTriangles(es: Seq[(Long, Long)]): Long = {
    val set = es.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    (for {
      i <- nodes.indices; j <- (i + 1) until nodes.size; k <- (j + 1) until nodes.size
      if set((nodes(i), nodes(j))) && set((nodes(i), nodes(k))) &&
        set((nodes(j), nodes(k)))
    } yield 1).size.toLong
  }

  test("triangleCount: K4 has 4 triangles, a square has none") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val r = Graph.triangleCount(triDf(k4)).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((4L, 6L, 4L)))
    val square = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 3L))
    val r2 = Graph.triangleCount(triDf(square)).collect().head
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) === ((4L, 4L, 0L)))
  }

  test("triangleCount: hub star plus one chord — exactly the chord's triangle") {
    // degree orientation must not lose triangles at the hub
    val star = (1L to 30L).map(l => (0L, l))
    val r = Graph.triangleCount(triDf(star :+ (7L, 8L))).collect().head
    assert(r.getLong(2) === 1L)
  }

  test("triangleCount matches the cubic reference on a seeded random graph") {
    val rnd = new scala.util.Random(13)
    val es = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (x, y) => x != y }
      .map { case (x, y) => (math.min(x, y), math.max(x, y)) }.distinct
    val r = Graph.triangleCount(triDf(es)).collect().head
    assert(r.getLong(1) === es.size.toLong)
    assert(r.getLong(2) === refTriangles(es))
  }

  test("localClustering: K4 all 1.0; per-node tallies sum to 3x the global count") {
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val cc = Graph.localClusteringTopK(triDf(k4), k = 10).collect()
    assert(cc.length === 4 && cc.forall(_.getDouble(3) === 1.0))
    // conservation vs the global count on a seeded random graph: every
    // triangle contributes to exactly its 3 corners
    val rnd = new scala.util.Random(13)
    val es = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (x, y) => x != y }
      .map { case (x, y) => (math.min(x, y), math.max(x, y)) }.distinct
    val global = Graph.triangleCount(triDf(es)).collect().head.getLong(2)
    val perNode = Graph.localClusteringTopK(triDf(es), k = 1000).collect()
      .map(_.getLong(2)).sum
    assert(perNode === 3L * global,
      s"per-node triangle tallies $perNode != 3 x global $global")
  }

  test("q_graph_pagerank: top-20, bipartite id parity, positive ranks") {
    val df = graft.SparkEntry.queries("q_graph_pagerank")(spark, sf())
    val rows = df.collect()
    assert(rows.length === 20)
    assert(rows.forall(r => r.getLong(2) > 0L))
    assert(rows.forall { r =>
      val even = r.getLong(0) % 2 == 0
      r.getString(1) == (if (even) "part" else "supplier")
    })
    // ordered by rank desc
    val rs = rows.map(_.getLong(2))
    assert(rs.zip(rs.tail).forall { case (a, b) => a >= b })
  }

  test("driver arm ≡ distributed arm across the loop family (optimization round)") {
    import spark.implicits._
    // One seeded random graph (symmetrized, weights 1..5) drives every
    // loop operator through BOTH arms: the default cap-gated driver arm
    // and the distributed-only chain must agree row-for-row —
    // the same pin betweenness/components carry, extended to the
    // operators the optimization round driver-armed.
    val rnd = new scala.util.Random(23)
    val raw = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sym = (raw ++ raw.map(_.swap)).distinct
    val symW = sym.map { case (a, b) =>
      (a, b, (math.min(a, b) % 5) + 1L) } // symmetric deterministic weight
    val und = sym.filter { case (a, b) => a < b }
    val undW = symW.filter { case (a, b, _) => a < b }
    val edDf = sym.toDF("src", "dst")
    val edWDf = symW.toDF("src", "dst", "w")
    val unDf = und.toDF("a", "b")
    val unWDf = undW.toDF("a", "b", "w")
    val srcs = Seq(0L, 7L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    def eq(name: String, drv: org.apache.spark.sql.DataFrame,
        dist: org.apache.spark.sql.DataFrame): Unit =
      assert(rows(drv) === rows(dist), s"$name arms diverged")
    eq("pagerank", Graph.pagerank(edDf, 3),
      distributed(Graph.pagerank(edDf, 3)))
    eq("pagerankWeighted", Graph.pagerankWeighted(edWDf, 3),
      distributed(Graph.pagerankWeighted(edWDf, 3)))
    eq("pagerankPersonalized",
      Graph.pagerankPersonalized(edDf, srcs, 3),
      distributed(Graph.pagerankPersonalized(edDf, srcs, 3)))
    eq("ssspWeighted", Graph.ssspWeighted(edWDf, srcs, 3),
      distributed(Graph.ssspWeighted(edWDf, srcs, 3)))
    eq("bfsHops", Graph.bfsHops(edDf, srcs, 3),
      distributed(Graph.bfsHops(edDf, srcs, 3)))
    eq("kcorePeel", Graph.kcorePeel(unDf, 3, 3),
      distributed(Graph.kcorePeel(unDf, 3, 3)))
    eq("kcorePeelWeighted", Graph.kcorePeelWeighted(unWDf, 4L, 3),
      distributed(Graph.kcorePeelWeighted(unWDf, 4L, 3)))
    eq("ktrussPeel", Graph.ktrussPeel(unDf, 4, 2),
      distributed(Graph.ktrussPeel(unDf, 4, 2)))
    eq("triangleCount", Graph.triangleCount(unDf),
      distributed(Graph.triangleCount(unDf)))
    eq("localClusteringTopK", Graph.localClusteringTopK(unDf, 100),
      distributed(Graph.localClusteringTopK(unDf, 100)))
    eq("labelAssignWeighted", Graph.labelAssignWeighted(unWDf, 3),
      distributed(Graph.labelAssignWeighted(unWDf, 3)))
    eq("louvainAssignWeighted", Graph.louvainAssignWeighted(unWDf, 2),
      distributed(Graph.louvainAssignWeighted(unWDf, 2)))
    // louvain with self-loop mass (the coarse-graph contract)
    val sl = Seq((1L, 3L), (5L, 2L)).toDF("v", "sw")
    eq("louvainAssignWeighted+selfLoops",
      Graph.louvainAssignWeighted(unWDf, 2, selfLoops = Some(sl)),
      distributed(Graph.louvainAssignWeighted(unWDf, 2, selfLoops = Some(sl))))
    eq("modularityOfWeighted",
      Graph.modularityOfWeighted(unWDf,
        Graph.labelAssignWeighted(unWDf, 2), 100),
      distributed(Graph.modularityOfWeighted(unWDf,
        Graph.labelAssignWeighted(unWDf, 2), 100)))
    eq("jaccardTopK", Graph.jaccardTopK(unDf, 1000, 1L),
      distributed(Graph.jaccardTopK(unDf, 1000, 1L)))
    eq("jaccardTopKWeighted", Graph.jaccardTopKWeighted(unWDf, 1000, 1L),
      distributed(Graph.jaccardTopKWeighted(unWDf, 1000, 1L)))
  }

  test("wdist107Shared: driver Bellman arm ≡ the frame loop (state and schema)") {
    // the shared weighted forward pass both weighted-tier queries read:
    // the in-memory Bellman LocalRelation must carry the identical
    // (s, v, d) state the distributed min-union rounds produce
    val dir = sf()
    val (_, dArm, relA) = Graph.wdist107Shared(spark, dir, 3)
    val (_, dDist, relD) = distributed(Graph.wdist107Shared(spark, dir, 3))
    assert(dArm.schema.map(f => (f.name, f.dataType)) ===
      dDist.schema.map(f => (f.name, f.dataType)))
    assert(dArm.collect().map(_.toString).sorted.toSeq ===
      dDist.collect().map(_.toString).sorted.toSeq)
    relA(); relD()
  }
}
