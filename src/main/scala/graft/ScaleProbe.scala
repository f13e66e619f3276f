package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Cluster, Components, Dedup, Freq, Graph}
import graft.queries.{Aggs, Sim, Text}
import graft.streaming.StreamOps
import graft.util.{Frames, SmallInput}

/** Growth probe (not part of the driver contract): how the at-scale tiers
  * grow with their input. Every measurement is one [[Entry]] of [[table]]:
  * an input builder at x (a multiplier of the fixture, or an iteration
  * count, or a key-domain size), one timed operator call, and optionally
  * an exact comparator. One loop runs the selected entries inside one
  * [[graft.util.SmallInput.distributed]] scope, so every operator takes
  * the distributed chain that runs at 100 TB, never a driver arm.
  *
  * Inputs grow without changing the problem's shape: fact tables are
  * unioned N×; documents are replicated with disjoint vocabularies (every
  * token prefixed with the replica tag) and remapped ids, so replicas
  * never near-dup each other; embeddings get per-(replica, dimension)
  * sign flips, so each replica is a fresh set of directions; graphs get
  * disjoint id spaces. The true output then grows linearly, and measured
  * growth is the plan's, not the problem's.
  *
  * Run: `SPARK_GRAFT_SF_DIR=<sf dir> scripts/run.sh graft.ScaleProbe
  * [entry|section ...]` (no argument runs the whole table; a section is
  * the part of an entry name before the dot). One JSON line per point:
  * {"probe", "x", "inputs" (rows of each materialized input), "sec", the
  * call's counts, and "exact", "exact_sec", "recall" where a comparator
  * ran}; then one line per entry: {"probe", "xs", "secs",
  * "growth_exponent"}, the least-squares slope of log(sec) on log(x). An
  * exponent near 1 is linear growth, near 0 is fixed per-job cost, near 2
  * is a quadratic stage. */
object ScaleProbe {

  /** What one call reports, in print order. */
  type Counts = Seq[(String, Long)]

  /** One growth measurement. `build(x)` gives the call's inputs; the loop
    * materializes each once, outside the clock, and times `run(inputs, x)`
    * at every x of `xs`. `exact`, where given, is run on the same inputs
    * at every x up to `exactUpTo`, timed apart: it returns the exact value
    * of `run`'s first count, and `recall` is that count over it. */
  final case class Entry(
      name: String,
      xs: Seq[Int],
      build: Int => Seq[DataFrame],
      run: (Seq[DataFrame], Int) => Counts,
      exact: Option[Seq[DataFrame] => Long] = None,
      exactUpTo: Int = Int.MaxValue)

  /** The section an entry belongs to: its name up to the first dot. */
  def section(name: String): String = name.takeWhile(_ != '.')

  /** The entries `names` select, in table order: each name is an entry or
    * a section. No name selects the whole table. */
  def select(table: Seq[Entry], names: Seq[String]): Seq[Entry] = {
    val unknown = names.filterNot(n => table.exists(e => e.name == n || section(e.name) == n))
    require(unknown.isEmpty, s"unknown probe entry ${unknown.mkString(", ")}; " +
      s"known: ${table.map(_.name).mkString(", ")}")
    if (names.isEmpty) table
    else table.filter(e => names.exists(n => e.name == n || section(e.name) == n))
  }

  /** Least-squares slope of log(sec) on log(x): sec ∝ x^k gives k. NaN
    * when fewer than two distinct x were measured. */
  def growthExponent(points: Seq[(Double, Double)]): Double = {
    val ls = points.map { case (x, s) => (math.log(x), math.log(s)) }
    val (mx, my) = (ls.map(_._1).sum / ls.size, ls.map(_._2).sum / ls.size)
    val sxx = ls.map { case (a, _) => (a - mx) * (a - mx) }.sum
    if (sxx == 0) Double.NaN
    else ls.map { case (a, b) => (a - mx) * (b - my) }.sum / sxx
  }

  private def json(fields: (String, Any)*): String = {
    def value(v: Any): String = v match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else f"$d%.3f"
      case s: String => "\"" + s + "\""
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case other => other.toString
    }
    fields.map { case (k, v) => s""""$k":${value(v)}""" }.mkString("{", ",", "}")
  }

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `entries` and print their points and summaries. Each entry is
    * run once untimed at its first x (JIT, codegen), then timed at every
    * x; a point's inputs are released after it. */
  private def measure(entries: Seq[Entry]): Unit = SmallInput.distributed {
    for (e <- entries) {
      val points = e.xs.zipWithIndex.map { case (x, i) =>
        val inputs = e.build(x).map(_.localCheckpoint())
        val rows = inputs.map(_.count())
        if (i == 0) e.run(inputs, x)
        val (counts, sec) = seconds(e.run(inputs, x))
        val exact = e.exact.filter(_ => x <= e.exactUpTo).map(f => seconds(f(inputs)))
        inputs.foreach(Frames.releaseCheckpoint)
        val compared = exact.toSeq.flatMap { case (n, s) =>
          Seq("exact" -> n, "exact_sec" -> s,
            "recall" -> (if (n > 0) counts.head._2.toDouble / n else Double.NaN))
        }
        println(json(Seq("probe" -> e.name, "x" -> x, "inputs" -> rows, "sec" -> sec) ++
          counts ++ compared: _*))
        (x.toDouble, sec)
      }
      println(json("probe" -> e.name, "xs" -> e.xs, "secs" -> points.map(_._2),
        "growth_exponent" -> growthExponent(points)))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    GraftSession.configs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try measure(select(table(spark, sfDir), args.toSeq))
    finally spark.stop()
  }

  /** The growth table over the fixture at `sfDir`. Building it reads
    * nothing: every source is read when an entry's builder first runs. */
  def table(spark: SparkSession, sfDir: String): Seq[Entry] = {
    def read(t: String) = spark.read.parquet(s"$sfDir/$t.parquet")
    lazy val lineitem = read("lineitem")
    lazy val docs = read("documents").select(col("doc_id"), col("text"))
    lazy val embs = read("embeddings")
    lazy val slice = Graph.jaccardSliceEdges(spark, sfDir)

    // ---- shared builders
    def union(m: Int)(replica: Int => DataFrame): DataFrame =
      (0 until m).map(replica).reduce(_ unionAll _)
    /** `m` copies of `df`, the `ids` columns of copy i shifted by i·step. */
    def replicas(m: Int, df: DataFrame, step: Long, ids: String*): DataFrame =
      union(m)(i => df.select(df.columns.toSeq.map(c =>
        if (ids.contains(c)) (col(c) + lit(i * step)).as(c) else col(c)): _*))
    /** Edges plus their reversals. */
    def symmetric(e: DataFrame): DataFrame = e.unionAll(e.select(e.columns.toSeq.map {
      case "src" => col("dst").as("src")
      case "dst" => col("src").as("dst")
      case c => col(c)
    }: _*))
    def docReplicas(m: Int) = union(m)(i => docs.select(
      (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
      concat(lit(s"r$i"), regexp_replace(col("text"), " ", s" r$i")).as("text")))
    // the flip bit is a murmur hash of (replica, dim): a linear form mod 2
    // would collapse to (d + i) parity and make same-parity replicas exact
    // duplicates (quadratic true-pair growth)
    def flipped(i: Int): Column = transform(col("embedding"), (x, d) =>
      (x * when(pmod(hash(lit(i), d), lit(2)) === 0, 1.0f).otherwise(-1.0f)).cast("float"))
    def embReplicas(m: Int, extra: Int => Seq[Column] = _ => Nil) = union(m)(i =>
      embs.select(Seq((col("vec_id") + lit(i * 10000000L)).as("vec_id")) ++ extra(i) ++
        Seq(flipped(i).as("embedding")): _*))
    def annCorpus(m: Int) =
      embReplicas(m).select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    /** One synthetic hub of degree m·500 on (a, b): the Zipf apex. */
    def hub(m: Int) = spark.range(m * 500L)
      .select((col("id") + 500000000L).as("a"), lit(900000000L).as("b"))
    def sliceHub(m: Int) = slice.unionAll(hub(m))
    /** The part↔supplier graph, replicas 1e9 apart, both directions. */
    def partSupp(m: Int, weighted: Boolean) = {
      val keys = Seq((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      val pairs =
        if (weighted) lineitem.groupBy(keys: _*).agg(count(lit(1)).as("w"))
        else lineitem.select(keys: _*).distinct()
      symmetric(replicas(m, pairs, 1000000000L, "src", "dst"))
    }
    /** The q_graph_harmonic graph (symmetrized slice), replicas 1e8 apart. */
    def symSlice(m: Int) =
      replicas(m, Graph.symmetrizedSliceEdges(spark, sfDir), 100000000L, "src", "dst")
    def dayValues(m: Int) = union(m)(i => lineitem.select(
      date_add(col("l_shipdate").cast("date"), i * 10000).as("day"),
      floor(col("l_extendedprice") * 100).cast("long").as("v")))
    def marginCandidates(m: Int) = {
      val n = 100000L * m
      def side(swap: Boolean) = {
        val other = pmod(hash(col("id"), col("j"), lit(if (swap) 7 else 3)), lit(n)).cast("long")
        spark.range(n).select(col("id"), explode(sequence(lit(0), lit(7))).as("j")).select(
          (if (swap) other else col("id")).as("id_x"), (if (swap) col("id") else other).as("id_y"))
      }
      side(swap = false).unionAll(side(swap = true)).groupBy(col("id_x"), col("id_y"))
        .agg((pmod(hash(first(col("id_x")), first(col("id_y"))), lit(20001)) - 10000L)
          .cast("long").as("e4"))
    }
    def one(f: Int => DataFrame): Int => Seq[DataFrame] = x => Seq(f(x))
    def count1(name: String)(df: DataFrame): Counts = Seq(name -> df.count())
    def rows(name: String)(df: DataFrame): Counts = Seq(name -> df.collect().length.toLong)
    def sum1(name: String, c: String)(df: DataFrame): Counts =
      Seq(name -> df.agg(sum(col(c))).collect()(0).getLong(0))
    def bothArms(entry: (String, Boolean) => Entry) =
      Seq("broadcast" -> true, "shuffle" -> false).map { case (arm, bc) => entry(arm, bc) }

    Seq(
      // the q_agg_percentiles shape on N×-unioned lineitem: the range-sliced
      // rank (quantiles of a replicated multiset are the originals; the
      // work is the sort)
      Entry("percentiles", Seq(1, 8, 64), one(m => union(m)(_ => lineitem)),
        { case (Seq(li), _) => rows("out_rows")(Aggs.percentilesOf(li, Seq(0.25, 0.5, 0.75))) }),
      // exact-substring dedup: the window-hash row_number shuffle is the
      // only corpus-wide stage; the span-explode/anti-join tail must not
      // grow faster than the corpus
      Entry("substring", Seq(1, 4, 16), one(docReplicas), { case (Seq(d), _) =>
        val r = Dedup.substringDedup(d, w = 10).agg(sum(col("n_toks")), sum(col("n_kept")))
          .collect()(0)
        Seq("toks" -> r.getLong(0), "kept" -> r.getLong(1))
      }),
      // the banded minhash-LSH pair pipeline and the df-capped
      // decontamination join against a fixed benchmark slice (un-prefixed,
      // so it must still do its full index and join work)
      Entry("docs.near_dups", Seq(1, 4, 16), one(docReplicas),
        { case (Seq(d), _) => count1("near_dups")(Dedup.shingleNearDups(d, 0.2)) }),
      Entry("docs.decontaminate", Seq(1, 4, 16),
        m => Seq(docReplicas(m), docs.filter(col("doc_id") < 50)),
        { case (Seq(d, bench), _) => count1("contaminated")(Dedup.contamination(d, bench, 2)) }),
      // day-partitioned quantile summaries, replicas shifted to new days:
      // the build tracks the fact scan, the merged read stays
      // summary-bounded; all rows on ONE day takes the routed arm
      Entry("quantile_sketch.build", Seq(1, 4, 16), one(dayValues),
        { case (Seq(v), _) => count1("summary_rows")(Freq.quantileSummary(v, 64)) }),
      Entry("quantile_sketch.read", Seq(1, 4, 16), m => Seq(
          Freq.quantileSummary(dayValues(m), 64),
          dayValues(m).agg((count(lit(1)) / 2).cast("long").as("r"))
            .select(lit(50).as("q_pct"), col("r"))),
        { case (Seq(summary, ranks), _) => count1("rows")(Freq.quantileMergedRead(summary, ranks)) }),
      Entry("quantile_sketch.fat_day", Seq(1, 4, 16),
        one(m => dayValues(m).select(lit("d0").as("day"), col("v"))),
        { case (Seq(v), _) => count1("summary_rows")(Freq.quantileSummary(v, 64)) }),
      // min-label + pointer jumping on 1000-node chain-cycles (m×100k
      // edges): plain propagation would need ~1000 rounds; O(log) rounds
      // keep sec/edge flat. Exact = nodes/1000 components.
      Entry("components", Seq(1, 4, 16), one(m => spark.range(0, m * 100000L).select(
          col("id").as("src"),
          when(col("id") % 1000 === 999, col("id") - 999).otherwise(col("id") + 1).as("dst"))),
        { case (Seq(e), _) => Seq("components" -> Components.connectedComponents(e, maxIter = 30)
            .agg(countDistinct(col("component"))).collect()(0).getLong(0)) },
        exact = Some(in => in.head.count() / 1000)),
      // token-budget selection where every doc has the same score: the
      // range-slice cumsum splits on doc_id inside the single score, so no
      // task carries the whole corpus. Budget = everything.
      Entry("budget_skew", Seq(1, 4, 16), one(m => spark.range(m * 100000L).select(
          col("id").as("doc_id"),
          lit("the quick brown fox jumps over the lazy dog again and again").as("text"))),
        { case (Seq(d), _) => count1("kept")(Text.budgetSelect(d, Long.MaxValue)) }),
      // SemDeDup with per-replica cluster ids (k ∝ n): per-cluster
      // occupancy is constant, so the Σ|c|² pair work grows linearly
      Entry("semdedup", Seq(1, 4, 16),
        one(m => embReplicas(m, i => Seq((col("label") + i * 10).as("cluster")))),
        { case (Seq(c), _) => count1("pruned")(Dedup.semanticDedup(c, 0.3).filter(col("pruned"))) }),
      // candidate-local margin mining over per-side top-8 lists that grow
      // linearly (hash-scored, so only the k-sum windows and the
      // mutual-best filter are timed)
      Entry("margin", Seq(1, 4, 16), one(marginCandidates),
        { case (Seq(c), _) => count1("mined")(Sim.marginPairsFromCandidates(c, 4)) }),
      // graph-ANN build: NN-descent bounds a round at n·(2r)² candidates
      // where the exact kNN build scores n² pairs (run only up to 4×);
      // search cost is parameter-bounded and must stay flat (entries are
      // replica-0 ids, present at every x)
      Entry("ann_descent.build", Seq(1, 4, 16), one(annCorpus),
        { case (Seq(c), _) => count1("edges")(Ann.graphAnnIndexDescent(c, 12, 2)) }),
      Entry("ann_descent.exact", Seq(1, 4), one(annCorpus),
        { case (Seq(c), _) => count1("edges")(Ann.graphAnnIndex(c, 12)) }),
      Entry("ann_descent.search", Seq(1, 4, 16), m => {
          val c = annCorpus(m)
          Seq(c, Ann.graphAnnIndexDescent(c, 12, 2))
        }, { case (Seq(c, index), _) =>
          val probes = embs.filter(col("vec_id") < 5)
            .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
          val entries = c.filter(col("cand_id").isin(5L, 128L, 256L, 384L))
            .crossJoin(probes.select(col("probe_id"))).select(col("probe_id"), col("cand_id"))
          count1("hits")(Ann.graphAnnSearch(probes, c, index, entries, 16, 4, 3))
        }),
      // DBSCAN: the eps-graph pair join is the only quadratic stage;
      // degree, core rule, closure and border election are edge-bounded
      Entry("dbscan.pairs", Seq(1, 2, 4), one(m => embReplicas(m)),
        { case (Seq(c), _) => count1("eps_edges")(Cluster.epsPairs(c, 0.3)) }),
      Entry("dbscan", Seq(1, 2, 4), one(m => embReplicas(m)), { case (Seq(c), _) =>
        count1("clustered")(Cluster.dbscan(c, 0.3, 8).filter(col("role") =!= "noise")) }),
      // the over-EpsAnnCap eps-pair route: candidates ≈ n·cellSize·nprobe²
      // (linear) against the exact n² tier — epsPairsExact itself, never
      // epsPairs' size routing, which could rate the route against itself
      Entry("dbscan_ann", Seq(1, 4, 16), one(m => embReplicas(m)),
        { case (Seq(c), _) => count1("ann_edges")(Cluster.epsPairsAnn(c, 0.3)) },
        exact = Some(in => Cluster.epsPairsExact(in.head, 0.3).count()), exactUpTo = 4),
      // the Pregel loop: near-linear in edges; per added iteration a flat
      // marginal cost (the degree-annotated edge frame is built once and
      // each round's rank frame is checkpointed)
      Entry("pagerank", Seq(1, 4, 16), one(partSupp(_, weighted = false)),
        { case (Seq(g), _) => sum1("mass", "rank")(Graph.pagerank(g, 5)) }),
      Entry("pagerank.iters", Seq(1, 3, 6), one(_ => partSupp(1, weighted = false)),
        { case (Seq(g), iters) => count1("nodes")(Graph.pagerank(g, iters)) }),
      // Lloyd iterations over the corpus Ann.kmeans pins once: each added
      // iteration costs its compute, never a source re-scan
      Entry("kmeans_iters", Seq(1, 3, 6), one(_ => embs.select(col("vec_id"), col("embedding"))),
        { case (Seq(e), iters) => Seq("centroids" -> Ann.kmeans(e, k = 8, iters = iters).size.toLong) }),
      // weighted Pregel (the (rank·w) div wout term) and the delta-frontier
      // Bellman loop with one hub of degree m·500 at the source: the hub's
      // whole edge set relaxes in round 1 and costs its edge count
      Entry("weighted_graph.pagerank", Seq(1, 4, 16), one(partSupp(_, weighted = true)),
        { case (Seq(g), _) => sum1("mass", "rank")(Graph.pagerankWeighted(g, 5)) }),
      Entry("weighted_graph.sssp_hub", Seq(1, 4, 16), one(m => partSupp(m, weighted = true)
          .unionAll(symmetric(spark.range(m * 500L).select(lit(999999999999L).as("src"),
            (col("id") * 2).as("dst"), lit(1L).as("w"))))),
        { case (Seq(g), _) => count1("reached")(Graph.ssspWeighted(g,
            spark.range(1).select(lit(999999999999L).as("node")), 4)) })
    ) ++
    // broadcast vs shuffle-join rank distribution on identical graphs up to
    // 64× edges: the fallback a billions-of-nodes cluster takes must also
    // grow near-linearly, with a bounded gap to the broadcast arm
    bothArms((arm, bc) => Entry(s"pagerank_fallback.$arm", Seq(1, 16, 64),
      one(partSupp(_, weighted = false)),
      { case (Seq(g), _) => sum1("mass", "rank")(Graph.pagerank(g, 3, broadcastRanks = bc)) })) ++
    // k-core peel on slice replicas plus one hub of degree m·500: the
    // explode puts every hub edge into one degree key, so a per-round cost
    // that followed the hub's key share would grow superlinearly here
    bothArms((arm, bc) => Entry(s"kcore_fallback.$arm", Seq(1, 4, 16),
      one(m => replicas(m, slice, 1000000L, "a", "b").unionAll(hub(m))),
      { case (Seq(g), _) => count1("survivors")(Graph.kcorePeel(g, 3, 4, broadcastKeep = bc)) })) ++
    // HyperBall: per-round cost linear in edges; the broadcast arm (zero
    // per-round exchange) against the shuffle fallback
    bothArms((arm, bc) => Entry(s"hyperball.$arm", if (bc) Seq(1, 4, 16) else Seq(1, 4),
      one(symSlice),
      { case (Seq(g), _) => count1("nodes")(Graph.hyperBall(g, 3, 12, broadcastState = bc)) })) ++
    Seq(
      // neighbor-Jaccard on the q_graph_jaccard graph plus one hub of degree
      // m·500: exact wedge volume at the hub is C(m·500, 2), quadratic in m,
      // while the degree cap (256) and the minhash-LSH candidates stay flat
      Entry("jaccard_hub.capped", Seq(1, 4, 16), one(sliceHub),
        { case (Seq(g), _) => rows("pairs")(Graph.jaccardTopK(g, 50, 2L, 256)) }),
      Entry("jaccard_hub.approx", Seq(1, 4, 16), one(sliceHub),
        { case (Seq(g), _) => rows("pairs")(Graph.jaccardTopKApprox(g, 50)) }),
      Entry("jaccard_hub.exact", Seq(1, 4, 16), one(sliceHub),
        { case (Seq(g), _) => rows("pairs")(Graph.jaccardTopK(g, 50, 2L, Int.MaxValue)) }),
      // k-truss peel: per-round support cost linear in edges under the
      // wedge bound
      Entry("ktruss", Seq(1, 4, 16), one(m => replicas(m, slice, 100000000L, "a", "b")),
        { case (Seq(g), _) => count1("truss_edges")(Graph.ktrussPeel(g, 4, 3)) }),
      // sampled Brandes: replicas never connect, so per-source frontiers
      // stay replica-sized while |S| and n both grow m×
      Entry("betweenness", Seq(1, 4, 16), m => {
          val g = symSlice(m)
          Seq(g, g.select(col("src").as("s")).distinct().filter(col("s") % 53 === 0))
        }, { case (Seq(g, sources), _) => count1("ranked")(Graph.betweennessBounded(g, sources, 3)) })
    ) ++ {
      // 8M items over a growing key domain D (x): the exact plan's exchange
      // carries one partial row per (partition, key) and grows with D; the
      // Misra–Gries candidates stay bounded by partitions·k
      def items(d: Int) = spark.range(8000000L).select(
        when(pmod(col("id"), lit(20)) < 2, concat(lit("h"), pmod(col("id"), lit(2))))
          .otherwise(concat(lit("t"), pmod(col("id"), lit(d)))).as("item"))
      val domains = Seq(10000, 100000, 1000000)
      Seq(
        Entry("heavy_hitters.exact", domains, one(items), { case (Seq(it), _) =>
          rows("top")(it.groupBy(col("item")).agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc, col("item")).limit(10)) }),
        Entry("heavy_hitters.mg", domains, one(items),
          { case (Seq(it), _) => rows("mg_top")(Freq.heavyHitters(it, m = 10, k = 64)) }),
        Entry("heavy_hitters.candidates", domains, one(items),
          { case (Seq(it), _) => count1("candidates")(Freq.candidates(it, 64)) }))
    } ++ {
      // entities on arrival, x = batches: each 200k-row batch has a name
      // dim that grows with x in blocks of at most 16 variants, and 20% of
      // its block keys replay the previous batch's (so the store's
      // cross-batch folds run). Ingest must stay batch-sized (no store
      // read); the read is name-dim-bounded. The read entry's builder
      // ingests x batches into a fresh store, outside the clock; its
      // input is the store's distinct names.
      lazy val dir = java.nio.file.Files.createTempDirectory("entities_probe").toString
      def batch(b: Int) = {
        val ng = 400L + b * 200L
        val key = when(lit(b) > 0 && col("id") % 5 === 0, lit((b - 1) * 100000L))
          .otherwise(lit(b * 100000L)) + col("id") % ng
        spark.range(b * 120000L, b * 120000L + 200000L).select(col("id").as("p_partkey"),
          concat(lit("blk"), key.cast("string"), lit(" nn"), key.cast("string"),
            lit(" v"), ((col("id") / ng) % 16).cast("string")).as("p_name"),
          concat(lit("Brand#"), (col("id") % 25).cast("string")).as("p_brand"),
          concat(lit("TYPE "), (col("id") % 11).cast("string")).as("p_type"),
          (col("id") % 50).cast("int").as("p_size"))
      }
      Seq(
        Entry("entities_store.ingest", 1 to 8, x => Seq(batch(x - 1)), { case (Seq(b), x) =>
          StreamOps.entitiesIngestBatch(b, x - 1L, s"$dir/ingest")
          Nil
        }),
        Entry("entities_store.read", Seq(4, 8), x => {
          (0 until x).foreach(b => StreamOps.entitiesIngestBatch(batch(b), b.toLong, s"$dir/read$x"))
          Seq(spark.read.parquet(s"$dir/read$x").select(col("name")).distinct())
        }, { case (_, x) => count1("entities")(StreamOps.entitiesStoreRead(spark, s"$dir/read$x")) }))
    }
  }
}
