package graft.operators

import scala.collection.mutable.{ArrayBuffer, HashMap, HashSet}

/** In-memory fixpoints behind the graph tier's DRIVER ARMS (round 18's
  * union-find arm, extended in the optimization round to every
  * loop operator whose distributed cost was measured to be sequential
  * stage-scheduling latency, not data): when the edge list fits the
  * cap the whole multi-round loop runs as plain integer loops over
  * collected arrays — exactly the recurrence the frame chain executes,
  * all-BIGINT, so the outputs are bit-identical (GraphSpec pins arm
  * equality per operator; the distributed chain stays the over-cap
  * 100 TB fallback and ScaleProbe keeps measuring it distributed only).
  *
  * One rank function, [[pagerank]], serves global, weighted and
  * personalized PageRank (the frame side's one loop is
  * [[Graph.pagerankLoop]]).
  *
  * Everything here is private to the operators package — the public
  * surface stays the DataFrame operators, which enter these arms
  * through [[graft.util.SmallInput]]. */
private[operators] object DriverGraph {

  /** (src -> out-neighbor list) adjacency over directed edge rows,
    * duplicates preserved (the frame loops count edge ROWS). */
  private[operators] def adjacency(ed: Array[(Long, Long)]): java.util.HashMap[Long, ArrayBuffer[Long]] = {
    val adj = new java.util.HashMap[Long, ArrayBuffer[Long]]
    ed.foreach { case (u, v) =>
      var b = adj.get(u)
      if (b == null) { b = ArrayBuffer.empty[Long]; adj.put(u, b) }
      b += v
    }
    adj
  }

  /** Node-id index compression: ids → dense ints so the loops run
    * over primitive arrays (a 1.2M-edge graph loops in milliseconds;
    * boxed maps were the first cut's cost). */
  private[operators] final class Ids {
    val map = new java.util.HashMap[Long, Integer]
    val ids = ArrayBuffer.empty[Long]
    def add(x: Long): Int = {
      val got = map.get(x)
      if (got != null) got.intValue
      else { val i = ids.length; map.put(x, i); ids += x; i }
    }
    def get(x: Long): Int = {
      val got = map.get(x); if (got == null) -1 else got.intValue
    }
    def n: Int = ids.length
  }

  /** Integer PageRank — [[Graph.pagerankLoop]]'s one recurrence for
    * the global, weighted and personalized operators: W_u = Σ w per
    * src, |S| = seeds present in the src domain (every node when
    * `seeds` is None), r0 = [v∈S]·(mass div |S|),
    * r' = [v∈S]·((15·(mass div |S|)) div 100) + (85·Σ (r·w) div W_u) div 100,
    * dst outside the src domain discarded (the frame's inner rank join).
    * All operands non-negative, so Long `/` = the frame's `div`. Returns
    * None when a seed set has no member in the graph — the operator's
    * loud-failure contract. */
  def pagerank(ed: Array[(Long, Long, Long)], seeds: Option[Array[Long]],
      iters: Int, mass: Long): Option[Seq[(Long, Long)]] = {
    val ids = new Ids
    val srcIdx = new Array[Int](ed.length)
    var i = 0
    while (i < ed.length) { srcIdx(i) = ids.add(ed(i)._1); i += 1 }
    val n = ids.n
    val isSrc = Array.fill(n)(seeds.isEmpty)
    seeds.foreach(_.foreach { s => val v = ids.get(s); if (v >= 0) isSrc(v) = true })
    val ns = isSrc.count(identity)
    if (ns == 0) return if (seeds.isEmpty) Some(Seq.empty) else None
    val dstIdx = new Array[Int](ed.length)
    val ws = new Array[Long](ed.length)
    val wout = new Array[Long](n)
    i = 0
    while (i < ed.length) {
      dstIdx(i) = ids.get(ed(i)._2); ws(i) = ed(i)._3; wout(srcIdx(i)) += ws(i)
      i += 1
    }
    val r0 = mass / ns
    val base = (15L * r0) / 100L
    var rank = Array.tabulate(n)(v => if (isSrc(v)) r0 else 0L)
    val in = new Array[Long](n)
    for (_ <- 1 to iters) {
      java.util.Arrays.fill(in, 0L)
      i = 0
      while (i < ed.length) {
        val d = dstIdx(i)
        if (d >= 0) in(d) += (rank(srcIdx(i)) * ws(i)) / wout(srcIdx(i))
        i += 1
      }
      rank = Array.tabulate(n)(v => (if (isSrc(v)) base else 0L) + (85L * in(v)) / 100L)
    }
    Some((0 until n).map(v => (ids.ids(v), rank(v))))
  }

  /** Round-capped Bellman-Ford — [[Graph.ssspWeighted]]'s fixpoint: d_k
    * after `rounds` synchronous min-relaxation rounds (the delta-frontier
    * frame computes exactly this, per its own scaladoc). */
  def ssspWeighted(ed: Array[(Long, Long, Long)], sources: Array[Long],
      rounds: Int): Seq[(Long, Long)] = {
    val dist = HashMap.empty[Long, Long]
    sources.distinct.foreach(s => dist(s) = 0L)
    var frontier: HashSet[Long] = HashSet(dist.keysIterator.toSeq: _*)
    val adj = new java.util.HashMap[Long, ArrayBuffer[(Long, Long)]]
    ed.foreach { case (u, v, w) =>
      var b = adj.get(u)
      if (b == null) { b = ArrayBuffer.empty[(Long, Long)]; adj.put(u, b) }
      b += ((v, w))
    }
    for (_ <- 1 to rounds if frontier.nonEmpty) {
      val improved = HashMap.empty[Long, Long]
      frontier.foreach { u =>
        val du = dist(u)
        val ns = adj.get(u)
        if (ns != null) ns.foreach { case (v, w) =>
          val nd = du + w
          if (nd < improved.getOrElse(v, Long.MaxValue)) improved(v) = nd
        }
      }
      val next = HashSet.empty[Long]
      improved.foreach { case (v, nd) =>
        if (nd < dist.getOrElse(v, Long.MaxValue)) { dist(v) = nd; next += v }
      }
      frontier = next
    }
    dist.toSeq
  }

  /** Multi-source BFS hops — [[Graph.bfsHops]]: hop = first-reach round,
    * capped at maxHops; hop 0 = sources (Int-typed, the frame's lit(h)). */
  def bfsHops(ed: Array[(Long, Long)], sources: Array[Long],
      maxHops: Int): Seq[(Long, Int)] = {
    val adj = adjacency(ed)
    val hop = HashMap.empty[Long, Int]
    sources.foreach(s => hop(s) = 0)
    var frontier = sources.distinct.toSeq
    for (h <- 1 to maxHops if frontier.nonEmpty) {
      val next = ArrayBuffer.empty[Long]
      val seen = HashSet.empty[Long]
      frontier.foreach { u =>
        val ns = adj.get(u)
        if (ns != null) ns.foreach { v =>
          if (!hop.contains(v) && !seen(v)) { seen += v; next += v }
        }
      }
      next.foreach(v => hop(v) = h)
      frontier = next.toSeq
    }
    hop.toSeq
  }

  /** Round-capped k-core peel — [[Graph.kcorePeel]]: per round drop
    * nodes with degree < k, then their edges; returns the FINAL
    * subgraph's per-node degree. Weight-sum form covers the s-core
    * ([[Graph.kcorePeelWeighted]]); w ≡ 1 is the unweighted peel. */
  def kcorePeelWeighted(edges: Array[(Long, Long, Long)], s: Long,
      rounds: Int): Seq[(Long, Long)] = {
    var e = edges
    for (_ <- 1 to rounds) {
      val d = HashMap.empty[Long, Long]
      e.foreach { case (a, b, w) =>
        d(a) = d.getOrElse(a, 0L) + w
        d(b) = d.getOrElse(b, 0L) + w
      }
      val keep = d.filter(_._2 >= s).keySet
      e = e.filter { case (a, b, _) => keep(a) && keep(b) }
    }
    val d = HashMap.empty[Long, Long]
    e.foreach { case (a, b, w) =>
      d(a) = d.getOrElse(a, 0L) + w
      d(b) = d.getOrElse(b, 0L) + w
    }
    d.toSeq
  }

  /** Per-edge triangle support via sorted-adjacency intersection — the
    * exact count [[Graph.edgeSupport]]'s oriented wedge join produces
    * (support is orientation-invariant). Edges in no triangle are
    * ABSENT, matching the frame's aggregate. Index-compressed CSR with
    * two-pointer merges so a 300k-edge co-purchase graph supports in
    * tens of milliseconds. Returns per-edge support aligned with `e`
    * (0 = absent). */
  private def edgeSupports(e: Array[(Long, Long)]): Array[Long] = {
    val ids = new Ids
    val ai = new Array[Int](e.length)
    val bi = new Array[Int](e.length)
    var i = 0
    while (i < e.length) {
      ai(i) = ids.add(e(i)._1); bi(i) = ids.add(e(i)._2); i += 1
    }
    val n = ids.n
    val deg = new Array[Int](n)
    i = 0
    while (i < e.length) { deg(ai(i)) += 1; deg(bi(i)) += 1; i += 1 }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](2 * e.length)
    val pos = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < e.length) {
      adj(pos(ai(i))) = bi(i); pos(ai(i)) += 1
      adj(pos(bi(i))) = ai(i); pos(bi(i)) += 1
      i += 1
    }
    i = 0
    while (i < n) { java.util.Arrays.sort(adj, off(i), off(i + 1)); i += 1 }
    val sup = new Array[Long](e.length)
    i = 0
    while (i < e.length) {
      var p = off(ai(i)); val pe = off(ai(i) + 1)
      var q = off(bi(i)); val qe = off(bi(i) + 1)
      var c = 0L
      while (p < pe && q < qe) {
        val x = adj(p); val y = adj(q)
        if (x == y) { c += 1L; p += 1; q += 1 }
        else if (x < y) p += 1
        else q += 1
      }
      sup(i) = c
      i += 1
    }
    sup
  }

  private def edgeSupport(e: Array[(Long, Long)]): HashMap[(Long, Long), Long] = {
    val sup = edgeSupports(e)
    val out = HashMap.empty[(Long, Long), Long]
    var i = 0
    while (i < e.length) {
      if (sup(i) > 0L) out(e(i)) = sup(i)
      i += 1
    }
    out
  }

  /** Round-capped k-truss peel — [[Graph.ktrussPeel]]: per round keep
    * edges closing ≥ k−2 triangles of the current subgraph; final
    * support recomputed within the peeled subgraph (triangle-
    * participating edges only). */
  def ktrussPeel(edges: Array[(Long, Long)], k: Int,
      rounds: Int): Seq[(Long, Long, Long)] = {
    var e = edges
    for (_ <- 1 to rounds) {
      val sup = edgeSupport(e)
      e = e.filter(ab => sup.getOrElse(ab, 0L) >= (k - 2).toLong)
    }
    edgeSupport(e).iterator.map { case ((a, b), s) => (a, b, s) }.toSeq
  }

  /** Global triangle census — [[Graph.triangleCount]]'s three counts:
    * nodes = distinct endpoints, edges = input rows, triangles = Σ
    * per-edge support / 3 (each triangle closes 3 edges). */
  def triangleCensus(e: Array[(Long, Long)]): (Long, Long, Long) = {
    val nodes = HashSet.empty[Long]
    e.foreach { case (a, b) => nodes += a; nodes += b }
    val tri = edgeSupport(e).valuesIterator.sum / 3L
    (nodes.size.toLong, e.length.toLong, tri)
  }

  /** Per-node triangle counts over degree-≥2 nodes —
    * [[Graph.localClusteringTopK]]'s exact integers (v, d, n_tri):
    * n_tri(v) = Σ support over v's incident edges / 2 (a triangle at v
    * closes exactly 2 of v's edges). Coefficient math stays in the
    * DataFrame so the rounding expression is shared verbatim. */
  def localTriangles(e: Array[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val d = HashMap.empty[Long, Long]
    e.foreach { case (a, b) =>
      d(a) = d.getOrElse(a, 0L) + 1L
      d(b) = d.getOrElse(b, 0L) + 1L
    }
    val sup = edgeSupport(e)
    val tri2 = HashMap.empty[Long, Long]
    sup.foreach { case ((a, b), s) =>
      tri2(a) = tri2.getOrElse(a, 0L) + s
      tri2(b) = tri2.getOrElse(b, 0L) + s
    }
    d.iterator.filter(_._2 >= 2L)
      .map { case (v, dv) => (v, dv, tri2.getOrElse(v, 0L) / 2L) }.toSeq
  }

  /** Synchronous weighted label propagation — [[Graph.labelAssignWeighted]]:
    * per round every node adopts the neighbor label with the greatest
    * incident weight sum (ties → smallest label); candidates are
    * NEIGHBOR labels only, exactly the frame's join-then-aggregate. */
  def labelAssignWeighted(edges: Array[(Long, Long, Long)],
      rounds: Int): Seq[(Long, Long)] = {
    val sym = new java.util.HashMap[Long, ArrayBuffer[(Long, Long)]]
    def add(u: Long, v: Long, w: Long): Unit = {
      var b = sym.get(u)
      if (b == null) { b = ArrayBuffer.empty[(Long, Long)]; sym.put(u, b) }
      b += ((v, w))
    }
    edges.foreach { case (a, b, w) => add(a, b, w); add(b, a, w) }
    var lbl = HashMap.empty[Long, Long]
    sym.keySet.forEach(v => lbl(v) = v)
    for (_ <- 1 to rounds) {
      val next = HashMap.empty[Long, Long]
      val it = sym.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        val votes = HashMap.empty[Long, Long]
        en.getValue.foreach { case (nb, w) =>
          val l = lbl(nb)
          votes(l) = votes.getOrElse(l, 0L) + w
        }
        var bestL = Long.MaxValue
        var bestC = Long.MinValue
        votes.foreach { case (l, c) =>
          if (c > bestC || (c == bestC && l < bestL)) { bestC = c; bestL = l }
        }
        next(en.getKey) = bestL
      }
      lbl = next
    }
    lbl.toSeq
  }

  /** Unweighted neighbor-set Jaccard wedge pass —
    * [[Graph.jaccardTopK]]'s algebra: symmetrized distinct-neighbor
    * sets, true degrees from the UNCAPPED adjacency, apexes over
    * `maxDegree` do not expand, common ≥ minCommon, exact e4 score.
    * Ids outside [0, 1e9) fail loudly with the pair-pack guard message
    * (the plan-level [[Graph.guardId]] contract). Returns
    * (v1, v2, common, d1, d2, jaccard_e4); ordering stays in the
    * DataFrame. */
  def jaccardTopK(edges: Array[(Long, Long)], minCommon: Long,
      maxDegree: Int): Seq[(Long, Long, Long, Long, Long, Long)] = {
    edges.foreach { case (a, b) =>
      for (x <- Seq(a, b))
        require(x >= 0L && x < 1000000000L,
          s"jaccard pair-pack id outside [0, 1e9): $x")
    }
    val nbr = new java.util.HashMap[Long, HashSet[Long]]
    def add(u: Long, v: Long): Unit = {
      var s = nbr.get(u)
      if (s == null) { s = HashSet.empty[Long]; nbr.put(u, s) }
      s += v
    }
    edges.foreach { case (a, b) => add(a, b); add(b, a) }
    val deg = HashMap.empty[Long, Long]
    nbr.forEach((v, s) => deg(v) = s.size.toLong)
    val common = HashMap.empty[Long, Long] // packed v1*1e9+v2 key
    nbr.forEach { (_, s) =>
      if (s.size <= maxDegree) {
        val ns = s.toArray.sorted
        var i = 0
        while (i < ns.length) {
          var j = i + 1
          while (j < ns.length) {
            val pk = ns(i) * 1000000000L + ns(j)
            common(pk) = common.getOrElse(pk, 0L) + 1L
            j += 1
          }
          i += 1
        }
      }
    }
    common.iterator.filter(_._2 >= minCommon).map { case (pk, c) =>
      val v1 = pk / 1000000000L; val v2 = pk % 1000000000L
      val d1 = deg(v1); val d2 = deg(v2)
      (v1, v2, c, d1, d2, c * 10000L / (d1 + d2 - c))
    }.toSeq
  }

  /** Weighted (Ružička) Jaccard wedge pass —
    * [[Graph.jaccardTopKWeighted]]: min-weight payload per ordered
    * wedge pair, strengths from the uncapped adjacency, max_sum =
    * s1 + s2 − min_sum. Returns (v1, v2, common, min_sum, max_sum,
    * ruzicka_e4). */
  def jaccardTopKWeighted(edges: Array[(Long, Long, Long)], minCommon: Long,
      maxDegree: Int): Seq[(Long, Long, Long, Long, Long, Long)] = {
    edges.foreach { case (a, b, _) =>
      for (x <- Seq(a, b))
        require(x >= 0L && x < 1000000000L,
          s"jaccard pair-pack id outside [0, 1e9): $x")
    }
    val nbr = new java.util.HashMap[Long, ArrayBuffer[(Long, Long)]]
    def add(u: Long, v: Long, w: Long): Unit = {
      var s = nbr.get(u)
      if (s == null) { s = ArrayBuffer.empty[(Long, Long)]; nbr.put(u, s) }
      s += ((v, w))
    }
    edges.foreach { case (a, b, w) => add(a, b, w); add(b, a, w) }
    val str = HashMap.empty[Long, Long]
    nbr.forEach((v, s) => str(v) = s.iterator.map(_._2).sum)
    val minSum = HashMap.empty[Long, Long]
    val common = HashMap.empty[Long, Long]
    nbr.forEach { (_, s) =>
      if (s.size <= maxDegree) {
        val ns = s.toArray.sortBy(x => (x._1, x._2))
        var i = 0
        while (i < ns.length) {
          var j = i + 1
          while (j < ns.length) {
            val pk = ns(i)._1 * 1000000000L + ns(j)._1
            minSum(pk) = minSum.getOrElse(pk, 0L) + math.min(ns(i)._2, ns(j)._2)
            common(pk) = common.getOrElse(pk, 0L) + 1L
            j += 1
          }
          i += 1
        }
      }
    }
    common.iterator.filter(_._2 >= minCommon).map { case (pk, c) =>
      val v1 = pk / 1000000000L; val v2 = pk % 1000000000L
      val ms = minSum(pk)
      val mx = str(v1) + str(v2) - ms
      (v1, v2, c, ms, mx, ms * 10000L / mx)
    }.toSeq
  }

  /** Exact-integer weighted modularity per community —
    * [[Graph.modularityOfWeighted]]'s aggregates: m = Σw over edges,
    * e_in = intra-community weight (both endpoints IN the assignment,
    * the frame's inner label joins), d_sum/n_members over nodes that
    * appear in BOTH the symmetrized edge list and the assignment (the
    * frame's inner join), q_num = 4·m·e_in − d_sum². Ordering/limit
    * stay in the DataFrame. */
  def modularityOfWeighted(ed: Array[(Long, Long, Long)],
      assign: Array[(Long, Long)]): Seq[(Long, Long, Long, Long, Long, Long)] = {
    val lbl = HashMap.empty[Long, Long]
    assign.foreach { case (v, l) => lbl(v) = l }
    val m = ed.iterator.map(_._3).sum
    val eIn = HashMap.empty[Long, Long]
    ed.foreach { case (a, b, w) =>
      (lbl.get(a), lbl.get(b)) match {
        case (Some(la), Some(lb)) if la == lb =>
          eIn(la) = eIn.getOrElse(la, 0L) + w
        case _ => ()
      }
    }
    val deg = HashMap.empty[Long, Long]
    ed.foreach { case (a, b, w) =>
      deg(a) = deg.getOrElse(a, 0L) + w
      deg(b) = deg.getOrElse(b, 0L) + w
    }
    val nMem = HashMap.empty[Long, Long]
    val dSum = HashMap.empty[Long, Long]
    deg.foreach { case (v, d) =>
      lbl.get(v).foreach { l =>
        nMem(l) = nMem.getOrElse(l, 0L) + 1L
        dSum(l) = dSum.getOrElse(l, 0L) + d
      }
    }
    nMem.keysIterator.map { l =>
      val ein = eIn.getOrElse(l, 0L)
      val ds = dSum(l)
      (l, nMem(l), ein, ds, m, 4L * m * ein - ds * ds)
    }.toSeq
  }

  /** Two-level Louvain — [[Graph.louvainMultilevelAssign]] end to end:
    * phase-1 local moves at w ≡ 1, [[Graph.louvainCoarsen]]'s exact
    * reduction (inter-community weights summed on the canonical a < b
    * pair, intra mass to self-loops), phase-2 local moves with the
    * self-loop strength/W contract, labels projected back. One edge
    * collect replaces the per-phase collects + the distributed coarsen
    * aggregates. */
  def louvainMultilevel(edges: Array[(Long, Long)],
      rounds: Int): Seq[(Long, Long)] = {
    val ew = edges.map { case (a, b) => (a, b, 1L) }
    val a1 = HashMap(louvainAssignWeighted(ew, rounds, Seq.empty): _*)
    val coarse = HashMap.empty[(Long, Long), Long]
    val selfw = HashMap.empty[Long, Long]
    ew.foreach { case (a, b, w) =>
      val ca = a1(a); val cb = a1(b)
      if (ca == cb) selfw(ca) = selfw.getOrElse(ca, 0L) + w
      else {
        val k = (math.min(ca, cb), math.max(ca, cb))
        coarse(k) = coarse.getOrElse(k, 0L) + w
      }
    }
    val a2 = HashMap(louvainAssignWeighted(
      coarse.iterator.map { case ((a, b), w) => (a, b, w) }.toArray,
      rounds, selfw.toSeq): _*)
    a1.iterator.map { case (v, c1) => (v, a2(c1)) }.toSeq
  }

  /** Synchronous weighted Louvain local move —
    * [[Graph.louvainAssignWeighted]]'s exact-integer move rule:
    * sc(C) = 4W·k_{v,C} − 2·s_v·(Σtot_C − [C = cur]·s_v), candidates =
    * neighbor communities ∪ own, max sc with ties to the smallest
    * label. `selfLoops` is the coarse-graph mass: 2·sw into strength,
    * sw into W, never into k. */
  def louvainAssignWeighted(edges: Array[(Long, Long, Long)], rounds: Int,
      selfLoops: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val sym = new java.util.HashMap[Long, ArrayBuffer[(Long, Long)]]
    def add(u: Long, v: Long, w: Long): Unit = {
      var b = sym.get(u)
      if (b == null) { b = ArrayBuffer.empty[(Long, Long)]; sym.put(u, b) }
      b += ((v, w))
    }
    edges.foreach { case (a, b, w) => add(a, b, w); add(b, a, w) }
    val deg = HashMap.empty[Long, Long]
    sym.forEach { (v, ns) =>
      deg(v) = deg.getOrElse(v, 0L) + ns.iterator.map(_._2).sum
    }
    selfLoops.foreach { case (v, sw) => deg(v) = deg.getOrElse(v, 0L) + 2L * sw }
    val m = edges.iterator.map(_._3).sum + selfLoops.iterator.map(_._2).sum
    val assign = HashMap.empty[Long, Long]
    deg.keysIterator.foreach(v => assign(v) = v)
    for (_ <- 1 to rounds) {
      val ctot = HashMap.empty[Long, Long]
      assign.foreach { case (v, c) => ctot(c) = ctot.getOrElse(c, 0L) + deg(v) }
      val next = HashMap.empty[Long, Long]
      deg.keysIterator.foreach { v =>
        val cur = assign(v)
        val dv = deg(v)
        val kv = HashMap.empty[Long, Long]
        val ns = sym.get(v)
        if (ns != null) ns.foreach { case (nb, w) =>
          val c = assign(nb)
          kv(c) = kv.getOrElse(c, 0L) + w
        }
        if (!kv.contains(cur)) kv(cur) = 0L
        var bestC = Long.MaxValue
        var bestS = Long.MinValue
        kv.foreach { case (c, k) =>
          val sc = 4L * m * k - 2L * dv *
            (ctot(c) - (if (c == cur) dv else 0L))
          if (sc > bestS || (sc == bestS && c < bestC)) { bestS = sc; bestC = c }
        }
        next(v) = bestC
      }
      next.foreach { case (v, c) => assign(v) = c }
    }
    assign.toSeq
  }
}
