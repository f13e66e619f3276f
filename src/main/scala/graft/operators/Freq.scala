package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate heavy hitters (frequent items) via the Misra–Gries summary —
  * the frequency-analytics member of the sketch tier beside HLL
  * (q_agg_approx_distinct / q_agg_sketch_rollup) and KLL-style quantiles
  * (q_agg_approx_quantile).
  *
  * Why not just groupBy(item).count().orderBy(...).limit(m)? At 100 TB the
  * exact plan shuffles ONE ROW PER DISTINCT KEY — a URL/token/address
  * domain of billions — before the top-k can run. The MG path never
  * shuffles the key domain:
  *
  *   1. per-partition Misra–Gries summary of k counters (mapPartitions,
  *      O(k) memory, one pass);
  *   2. the ≤ partitions·k surviving candidates collect to the driver —
  *      bounded by construction, like a k-means codebook — and broadcast
  *      back as a semi-join filter;
  *   3. exact counts for candidate rows only: the map side drops every
  *      non-candidate row BEFORE the exchange, so the shuffle carries
  *      ≤ partitions·candidates partial sums.
  *
  * Cost shape (ScaleProbe "heavy_hitters", 8M rows, D = 1e4→1e6): the
  * candidate set stays bounded (29 → 110 items for 100× the domain, vs
  * the partitions·k = 2048 ceiling) and the MG wall is flat; the exact
  * plan is still FASTER at D ≤ 1e6 on local[32] because its shuffle isn't
  * yet the bottleneck there. MG trades a second source scan for the
  * shuffle: exact = 1 scan + a one-row-per-distinct-key exchange, MG =
  * 2 scans + a candidates-only exchange. The crossover is where the key
  * domain stops fitting comfortably in the exchange — exactly the 100 TB
  * token/URL regime this operator exists for, and why it is NOT the
  * default top-k (q_topk_global / q_text_top_terms stay exact).
  *
  * Correctness: MG guarantees any item with global frequency > n/k
  * survives in at least one partition's summary (pigeonhole over the
  * per-partition guarantee freq_p > n_p/k ⇒ kept), so the candidate set
  * is a SUPERSET of the true heavy hitters; exact counting then makes the
  * final top-m identical to the exact plan whenever the m-th frequency
  * exceeds n/k (the margin FreqSpec pins on adversarial Zipf data and the
  * fixture words: c_20 = 888 vs n/k = 425 at sf0.01, k = 64). Output is
  * deterministic — exact counts, ties broken by item — unlike reporting
  * the (partition-order-dependent) MG estimates themselves.
  */
object Freq {

  /** Per-partition Misra–Gries survivors for a single string column
    * `item`: (item, mg_count) with ≤ k rows per partition. Estimates are
    * per-partition lower bounds; their only contract is the superset
    * guarantee above. */
  def mgPartials(items: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = items.sparkSession
    import spark.implicits._
    items.select(col("item").cast("string")).as[String]
      .mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        it.foreach { w =>
          counts.get(w) match {
            case Some(c) => counts.update(w, c + 1)
            case None if counts.size < k => counts.update(w, 1L)
            case None =>
              // decrement-all step: every counter pays one, zeros evict
              val dead = List.newBuilder[String]
              counts.foreach { case (kk, c) =>
                if (c == 1L) dead += kk else counts.update(kk, c - 1L)
              }
              dead.result().foreach(counts.remove)
          }
        }
        counts.iterator
      }
      .toDF("item", "mg_count")
  }

  /** Exact top-m frequent items restricted to the MG candidate set:
    * (item, n) ordered by (n desc, item). Equals the exact global top-m
    * whenever the m-th frequency > n/k. */
  def heavyHitters(items: DataFrame, m: Int, k: Int): DataFrame = {
    val spark = items.sparkSession
    val cand = candidates(items, k)
    items.join(broadcast(cand), Seq("item"), "left_semi")
      .groupBy(col("item")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("item"))
      .limit(m)
  }

  /** The ≤ partitions·k candidate items (bounded by construction — safe to
    * broadcast by the same argument as an ANN codebook). */
  def candidates(items: DataFrame, k: Int): DataFrame =
    mgPartials(items, k).select(col("item")).distinct()

  // ---- Count-Min Sketch ----------------------------------------------------

  /** Count-Min Sketch (Cormode & Muthukrishnan 2005) of a string `item`
    * column: d independent md5-derived hash rows × w buckets, cell =
    * number of items hashing there. THE mergeable frequency summary —
    * cells are plain sums, so partial aggregation folds map-side and
    * sketches of disjoint corpus shards merge by elementwise addition
    * (CmsSpec pins sketch(A⊎B) = sketch(A) + sketch(B)), which is what a
    * 100 TB ingest needs: per-partition/per-day sketches roll up without
    * ever re-touching the data — the frequency-tier sibling of the HLL
    * rollup (q_agg_sketch_rollup). Memory is a FIXED d·w grid regardless
    * of key cardinality — the regime beyond even Misra–Gries (whose
    * candidate set grows with partitions·k): point-query estimates
    * min_j cell[j][h_j(t)] and overestimates only (collisions add,
    * never subtract) with ε = e/w under the standard analysis. The md5
    * recipe makes every cell index engine-portable (q_sample_hash's
    * conv ⇔ CAST('0x'…) bridge). */
  def cmsSketch(items: DataFrame, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 1 && d <= 8, s"need 1 <= d <= 8 and w >= 1, got d=$d w=$w")
    items.select(md5(col("item")).as("h"))
      .select(posexplode(cmsBuckets(col("h"), d, w)).as(Seq("j", "b")))
      .groupBy(col("j"), col("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** [[cmsSketch]] from an already-aggregated (item, n) count frame:
    * cell[j][b] = Σ n over items hashing there — identical grid (FreqSpec
    * pins the equality law), but the corpus is touched ZERO extra times
    * when exact counts already exist for another purpose (q_agg_countmin
    * shares one tokenize+agg between the sketch and its exact anchor;
    * the two consumers reuse the same exchange). */
  def cmsSketchFromCounts(counts: DataFrame, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 1 && d <= 8, s"need 1 <= d <= 8 and w >= 1, got d=$d w=$w")
    counts.select(md5(col("item")).as("h"), col("n"))
      .select(col("n"), posexplode(cmsBuckets(col("h"), d, w)).as(Seq("j", "b")))
      .groupBy(col("j"), col("b"))
      .agg(sum(col("n")).as("c"))
  }

  /** The d bucket indices of a 32-hex-char md5 digest: row j reads hex
    * chars [4j+1, 4j+4] (disjoint 16-bit slices of the 128-bit digest —
    * ONE hash evaluation per item instead of d; the slices are
    * independent uniform fields, the standard digest-splitting
    * construction) mod w. */
  private def cmsBuckets(h: org.apache.spark.sql.Column, d: Int, w: Int)
      : org.apache.spark.sql.Column =
    array((0 until d).map(j =>
      pmod(conv(substring(h, 4 * j + 1, 4), 16, 10).cast("int"), lit(w))): _*)

  /** CMS point-query estimates for `terms`: (item, est_n) with
    * est_n = min over the d cells the term hashes to. LEFT join + zero
    * coalesce: the sketch frame is sparse (empty cells have no row), and
    * an empty cell means COUNT ZERO — an inner join would silently drop
    * never-seen terms and take the min over only the collided cells,
    * overestimating against the documented min_j cell[j][h_j(t)]
    * contract (FreqSpec pins the absent-term → 0 path). */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame, d: Int, w: Int): DataFrame =
    terms.select(col("item"), md5(col("item")).as("h"))
      .select(col("item"), posexplode(cmsBuckets(col("h"), d, w)).as(Seq("j", "b")))
      .join(broadcast(sketch), Seq("j", "b"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_n"))

  // ---- fixed-grid histogram sketches (mergeable quantiles) ---------------

  /** Per-day fixed-grid histogram sketch of a BIGINT value column `v`
    * keyed by a `day` column (fixed input schema (day, v) → output
    * (day, b, cnt) with b = v div width; rename upstream for other key
    * domains). THE mergeable quantile summary
    * the sketch tier was missing: HLL (distinct) and CMS (frequency)
    * cells are plain sums and roll up by elementwise addition — so does
    * this grid (FreqSpec pins sketch(A⊎B) = sketch(A) + sketch(B)),
    * which is what the silver layer needs to absorb a day of percentile
    * state without rescanning facts: per-day sketches merge by bucket
    * addition ([[gridMerge]]) and any quantile is read off the merged
    * grid's cumulative counts with error bounded by ONE grid cell
    * (the rank-q element provably lies in the selected bucket — exact
    * cumulative counts locate exact ranks; only the position WITHIN the
    * cell is unknown). width is the resolution/size trade: the sketch
    * is ≤ domain/width rows per key regardless of row count. Fixed,
    * data-independent grid — sketches built on different days merge
    * without re-bucketing (a data-dependent grid could not). */
  def gridSketch(vals: DataFrame, width: Long): DataFrame = {
    require(width >= 1, s"width must be >= 1, got $width")
    // FLOOR division, not `div` (which truncates toward zero): under
    // `div` every v in (-width, width) would share bucket 0 — a
    // double-width cell that breaks the one-cell quantile containment
    // bound for negative domains, and diverges from the floor-division
    // the DuckDB oracle's `//` computes. (v - pmod(v, width)) is the
    // largest width-multiple ≤ v for either sign, so the `div` below is
    // exact — all-BIGINT, no double roundtrip.
    vals.select(col("day"), expr(s"(v - pmod(v, $width)) div $width").as("b"))
      .groupBy(col("day"), col("b"))
      .agg(count(lit(1)).as("cnt"))
  }

  // ---- domain-free mergeable quantile summaries (block compaction) -------

  /** Per-day ε-approximate quantile summary WITHOUT a priori domain
    * bounds — the [[gridSketch]] sibling for arbitrary metrics (a grid
    * needs the value domain fixed at write time; a silver layer over
    * open-ended metrics does not have one). Deterministic single-level
    * block compaction (the collapse step of Manku-Rajagopalan-Lindsay
    * [SIGMOD'98], the deterministic ancestor of KLL): each day's sorted
    * values split into ≤ k blocks of step = ⌈n_day/k⌉ consecutive ranks;
    * each block is represented by its LAST value carrying the block
    * size as weight. Deterministic — not KLL's coin-flip compaction —
    * because the checked query's DuckDB oracle must reproduce the
    * summary bit-for-bit; the price is the weaker (but still
    * domain-free and mergeable) MRL bound instead of KLL's randomized
    * one. Σw = n_day exactly, and any prefix-by-value's summarized
    * rank differs from its true rank by < step_day, so a merged read
    * across days errs by < Σ_d step_d ≤ N/k + D ranks — the tolerance
    * the checked query's `ok` predicate verifies against the exact
    * anchor.
    *
    * Summaries MERGE BY CONCATENATION (they are (value, weight) rows;
    * [[quantileMergedRead]] just unions them into one weighted rank
    * scan) — no re-bucketing, no shared domain, the property that lets
    * per-day sketches absorb a quantile workload without rescanning
    * facts. Value ties need no tie-break: any rank order among equal
    * values yields the identical (v, w) multiset.
    *
    * Scale shape: the per-day rank runs day-partitioned for NORMAL days
    * (the per-ingest-slice assumption every per-key GK/KLL build makes),
    * but a pathologically heavy day no longer serializes through one
    * window task: days above `heavyDayRows` AUTO-ROUTE through the
    * [[Slices.globalOrdinal]] decomposition (range-partitioned on
    * (day, v), so one fat day spreads across slices; per-day rank =
    * global ordinal − the day's prefix offset, a day-count-sized prefix
    * sum) — the round-13 fat-day probe measured the single-task wall at
    * 6.3× on 16× rows; the routed arm is what replaces it (the ScaleProbe
    * `quantile_sketch.fat_day` entry). The price of
    * the routing decision is one day-count aggregate over the facts
    * (map-side partial, day-sized output), which also SUPPLIES n_day to
    * both arms — the old count-over-window is gone, so the light path
    * pays one extra scan but one fewer window evaluation. Output is
    * bit-identical across arms and to the pre-routing operator (rank
    * ties among equal values pick different rows but the SELECTED
    * (day, v, rnk, w) multiset is invariant — the docstring's tie
    * argument), so the checked query's hash is unchanged at every SF.
    *
    * Compatibility note: rnk is BIGINT as of round 14 (it was INT via
    * row_number) — a summary STORE holding pre-round-14 partitions mixes
    * INT32/INT64 parquet files under one column, which Spark's reader
    * rejects. StreamOps.quantileStoreRead fails FAST on such stores with
    * a guided message (round-15 guard), and
    * StreamOps.quantileStoreMigrate performs the one-shot per-partition
    * rnk-to-long rewrite into a fresh store.
    *
    * The returned plan pins the day-counts frame (and on the heavy
    * route, the ordinal slices) as localCheckpoints — callers on a
    * long-running path should hand the frame to Frames.releaseCheckpoint
    * once fully consumed (quantileSummaryBatch does).
    *
    * @param vals (day, v BIGINT)
    * @param heavyDayRows days with more rows than this take the ordinal
    *        decomposition; the default keeps every fixture day (and any
    *        sane ingest slice) on the windowed path.
    * @return (day, v, rnk, w) — ≤ k+1 rows per day, Σw = n_day. */
  def quantileSummary(vals: DataFrame, k: Int,
      heavyDayRows: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val v = vals.select(col("day"), col("v"))
    // day-count-sized; checkpointed because it both decides the routing
    // (an action) and rides into the arms' broadcast joins
    val counts = v.groupBy(col("day")).agg(count(lit(1)).as("nd"))
      .localCheckpoint()
    val heavyDays = counts.filter(col("nd") > heavyDayRows)
    // rnk is BIGINT in both arms: the window arm's row_number is INT-typed
    // (and INT-bounded — exactly why a >2³¹-row day must route through the
    // ordinal arm, whose rank is a Long by construction)
    def compactArm(ranked: DataFrame): DataFrame = ranked
      .withColumn("rnk", col("rnk").cast("long"))
      .withColumn("step", expr(s"(nd + ${k - 1}) div $k"))
      .filter(expr("rnk % step = 0 OR rnk = nd"))
      .select(col("day"), col("v"), col("rnk"),
        (col("rnk") - expr("((rnk - 1) div step) * step")).as("w"))
    def lightArm(rows: DataFrame): DataFrame = {
      val wD = Window.partitionBy(col("day")).orderBy(col("v"))
      compactArm(rows
        .withColumn("rnk", row_number().over(wD))
        .join(broadcast(counts), "day"))
    }
    if (heavyDays.limit(1).count() == 0) lightArm(v)
    else {
      val hd = broadcast(heavyDays.select(col("day")))
      val light = lightArm(v.join(hd, Seq("day"), "left_anti"))
      // heavy arm: global ordinal under (day, v) — the range partitioner
      // splits on the FULL ordering, so a fat day spreads across slices;
      // per-day rank = ordinal − (rows of earlier heavy days), a prefix
      // sum over the (tiny) heavy-day counts
      val wOff = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = heavyDays
        .withColumn("off", coalesce(sum(col("nd")).over(wOff), lit(0L)))
      val heavy = compactArm(
        Slices.globalOrdinal(v.join(hd, Seq("day")), Seq(col("day"), col("v")), "p0")
          .join(broadcast(offs), "day")
          .withColumn("rnk", col("p0") + 1 - col("off"))
          .drop("p0", "off"))
      light.unionAll(heavy)
    }
  }

  /** The distributed frame pipeline behind q_agg_quantile_sketch — the
    * over-cap arm (and the reference the FreqSpec arm-equality pin runs
    * against): summary compaction + merged read + exact value-at-rank
    * anchor + tolerance verdict. */
  private[operators] def quantileSketchFrames(vals: DataFrame, k: Int,
      qs: Seq[Int]): DataFrame = {
    // summary-sized (≤ D·(k+1) rows); checkpointed: the n/D aggregate
    // and the merged read both consume it — lazy, each would re-run
    // the fact-scale per-day rank
    val summ = quantileSummary(vals, k).localCheckpoint()
    val nd = summ.agg(sum(col("w")).as("n"), countDistinct(col("day")).as("d"))
    val ranks = nd
      .select(explode(array(qs.map(lit): _*)).as("q_pct"), col("n"), col("d"))
      .withColumn("r", expr("(n * q_pct + 99) div 100"))
      .withColumn("tol", expr(s"n div $k + d"))
    val est = quantileMergedRead(summ, ranks.select(col("q_pct"), col("r")))
    val lookups = ranks.select(col("q_pct"), col("n"), col("r"), col("tol"),
        explode(array(
          struct(lit("exact").as("kind"), col("r").as("tr")),
          struct(lit("lo").as("kind"),
            greatest(lit(1L), col("r") - col("tol")).as("tr")),
          struct(lit("hi").as("kind"),
            least(col("n"), col("r") + col("tol")).as("tr")))).as("lk"))
      .select(col("q_pct"), col("n"), col("r"), col("tol"),
        col("lk.kind").as("kind"), col("lk.tr").as("tr"))
    val looked = Slices.globalOrdinal(vals.select(col("v")), Seq(col("v")), "p0")
      .withColumn("rn", col("p0") + 1)
      .join(broadcast(lookups), col("rn") === col("tr"))
      .groupBy(col("q_pct"), col("n"), col("r"), col("tol"))
      .agg(max(when(col("kind") === "exact", col("v"))).as("exact_v"),
        max(when(col("kind") === "lo", col("v"))).as("lo_v"),
        max(when(col("kind") === "hi", col("v"))).as("hi_v"))
    looked.join(est.select(col("q_pct"), col("est_v")), Seq("q_pct"))
      .select(col("q_pct"), col("n"), col("r"), col("tol"), col("est_v"),
        col("exact_v"), col("lo_v"), col("hi_v"),
        (col("est_v") >= col("lo_v") && col("est_v") <= col("hi_v")).as("ok"))
      .orderBy(col("q_pct"))
  }

  /** The in-memory arm behind q_agg_quantile_sketch (optimization
    * round): per-day sorted compaction, weighted-rank merged read and
    * the exact value-at-rank anchor as sorted-array arithmetic — every
    * step integer-deterministic, so the 3-row answer is bit-identical
    * to the frame pipeline (FreqSpec pins arm equality). None over the
    * row cap or on a null day/value — the frame pipeline runs then. */
  private[operators] def quantileSketchDriver(s: SparkSession,
      vals: DataFrame, k: Int, qs: Seq[Int]): Option[DataFrame] = {
    val take = graft.util.SmallInput.take(vals
      .select(unix_date(col("day")).as("ed"), col("v"))).getOrElse(return None)
    val n = take.length
    val eds = new Array[Int](n)
    val vsRaw = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = take(i)
      if (r.isNullAt(0) || r.isNullAt(1)) return None
      eds(i) = r.getInt(0); vsRaw(i) = r.getLong(1)
      i += 1
    }
    // per-day ascending values
    val byDay = new java.util.TreeMap[Int, scala.collection.mutable.ArrayBuffer[Long]]
    i = 0
    while (i < n) {
      var b = byDay.get(eds(i))
      if (b == null) {
        b = scala.collection.mutable.ArrayBuffer.empty[Long]
        byDay.put(eds(i), b)
      }
      b += vsRaw(i)
      i += 1
    }
    // compaction: (v, ed, rnk, w) summary rows in (v, ed, rnk) order
    // after one global sort — the merged read's cumulation key
    val summ = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
    val itD = byDay.entrySet().iterator()
    while (itD.hasNext) {
      val en = itD.next()
      val sorted = en.getValue.toArray
      java.util.Arrays.sort(sorted)
      val nd = sorted.length.toLong
      val step = (nd + k - 1) / k
      var rnk = 1L
      while (rnk <= nd) {
        if (rnk % step == 0L || rnk == nd)
          summ += ((sorted((rnk - 1).toInt), en.getKey, rnk,
            rnk - ((rnk - 1) / step) * step))
        rnk += 1L
      }
    }
    val summSorted = summ.sortBy(x => (x._1, x._2, x._3))
    val total = summSorted.iterator.map(_._4).sum // = n exactly
    val d = byDay.size.toLong
    val tol = total / k + d
    val allSorted = java.util.Arrays.copyOf(vsRaw, n)
    java.util.Arrays.sort(allSorted)
    def valueAt(rank: Long): Long = allSorted((rank - 1).toInt)
    val rows = qs.map { q =>
      val r = (total * q + 99) / 100
      var cw = 0L
      var est = 0L
      var found = false
      val it = summSorted.iterator
      while (!found && it.hasNext) {
        val row = it.next()
        cw += row._4
        if (cw >= r && cw - row._4 < r) { est = row._1; found = true }
      }
      val exact = valueAt(r)
      val lo = valueAt(math.max(1L, r - tol))
      val hi = valueAt(math.min(total, r + tol))
      (q, total, r, tol, est, exact, lo, hi, est >= lo && est <= hi)
    }
    Some(s.createDataFrame(rows)
      .toDF("q_pct", "n", "r", "tol", "est_v", "exact_v", "lo_v", "hi_v", "ok")
      .orderBy(col("q_pct")))
  }

  /** The distributed frame pipeline behind q_agg_quantile_rollup — the
    * over-cap arm (PlanSpec pins its broadcast-join/no-product shape;
    * FreqSpec pins arm equality). `vals` = (day, v). */
  private[graft] def quantileRollupFrames(vals: DataFrame, width: Long,
      qs: Seq[Int]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // grid-sized (≤ domain/width rows); checkpointed because BOTH the
    // total and the cumulative branch read it — lazy, each would
    // re-run the fact-scale sketch build
    val merged = gridMerge(gridSketch(vals, width)).localCheckpoint()
    val n = merged.agg(sum(col("cnt")).as("n"))
    val wCum = W.orderBy(col("b")).rowsBetween(W.unboundedPreceding, -1)
    val cum = merged
      .withColumn("cum_lo", coalesce(sum(col("cnt")).over(wCum), lit(0L)))
    val ranks = n
      .select(explode(array(qs.map(lit): _*)).as("q_pct"), col("n"))
      .withColumn("r", expr("(n * q_pct + 99) div 100"))
    val est = ranks.join(broadcast(cum),
        col("r") > col("cum_lo") && col("r") <= col("cum_lo") + col("cnt"))
      .select(col("q_pct"), col("n"), col("r"),
        (col("b") * width).as("est_lo"))
    val exact = Slices.globalOrdinal(vals.select(col("v")),
        Seq(col("v")), "p0")
      .withColumn("rn", col("p0") + 1)
      .join(broadcast(ranks.select(col("q_pct"), col("r"))),
        col("rn") === col("r"))
      .select(col("q_pct"), col("v").as("exact_v"))
    est.join(exact, Seq("q_pct"))
      .select(col("q_pct"), col("n"), col("r"), col("est_lo"), col("exact_v"),
        (col("exact_v") >= col("est_lo") &&
          col("exact_v") < col("est_lo") + width).as("ok"))
      .orderBy(col("q_pct"))
  }

  /** The in-memory arm behind q_agg_quantile_rollup (optimization
    * round): per-bucket counts via Math.floorDiv (gridSketch's
    * (v − pmod) div width), ranks (n·q+99) div 100, est_lo = first
    * bucket whose cumulative interval contains r, exact value-at-rank
    * from the sorted array — all exact integers, bit-identical to the
    * frame chain (FreqSpec pins arm equality). None over the row cap
    * or on a null v — the distributed chain runs then. */
  private[graft] def quantileRollupDriver(s: SparkSession,
      vals: DataFrame, width: Long, qs: Seq[Int]): Option[DataFrame] = {
    val take = graft.util.SmallInput.take(vals.select(col("v")))
      .getOrElse(return None)
    if (take.isEmpty) return None
    val n = take.length
    val vs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = take(i)
      if (r.isNullAt(0)) return None
      vs(i) = r.getLong(0)
      i += 1
    }
    val counts = new java.util.TreeMap[Long, Long]
    i = 0
    while (i < n) {
      val b = Math.floorDiv(vs(i), width)
      counts.merge(b, 1L, (a, c) => a + c)
      i += 1
    }
    val sorted = java.util.Arrays.copyOf(vs, n)
    java.util.Arrays.sort(sorted)
    val rows = qs.map { q =>
      val r = (n.toLong * q + 99) / 100
      var cumLo = 0L
      var estLo = 0L
      var found = false
      val it = counts.entrySet().iterator()
      while (!found && it.hasNext) {
        val en = it.next()
        if (r > cumLo && r <= cumLo + en.getValue) {
          estLo = en.getKey * width; found = true
        }
        cumLo += en.getValue
      }
      val exact = sorted((r - 1).toInt)
      (q, n.toLong, r, estLo, exact, exact >= estLo && exact < estLo + width)
    }
    Some(s.createDataFrame(rows)
      .toDF("q_pct", "n", "r", "est_lo", "exact_v", "ok")
      .orderBy(col("q_pct")))
  }

  /** Read quantiles off a UNION of [[quantileSummary]] frames: one
    * weighted cumulative rank over the summary rows (≤ D·(k+1) rows —
    * sketch-bounded, never fact-bounded; the single-partition window is
    * the same size class as [[gridMerge]]'s grid) picks, for each target
    * rank r, the summary row whose cumulative weight interval contains
    * r. Deterministic: cumulation ordered by (v, day, rnk).
    *
    * @param summaries unioned (day, v, rnk, w) summary rows.
    * @param ranks     (q_pct, r) target ranks — broadcast-sized.
    * @return (q_pct, r, est_v). */
  def quantileMergedRead(summaries: DataFrame, ranks: DataFrame): DataFrame = {
    // ROWS frame, explicitly: the default (no frame + orderBy) is RANGE,
    // under which rows TIED on the full ordering key share one cumulative
    // weight and the half-open interval join below can miss or duplicate
    // a target rank. (v, day, rnk) is unique within one quantileSummary
    // output, but a union of per-batch summaries — quantileStoreRead's
    // shape when the same day recurs across batches — can carry exact
    // ties; any row-unique cumulation is a correct rank estimate, and
    // ROWS matches the oracle's spelled-out ROWS UNBOUNDED PRECEDING.
    val wC = Window.orderBy(col("v"), col("day"), col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    summaries.withColumn("cw", sum(col("w")).over(wC))
      .join(broadcast(ranks),
        col("cw") >= col("r") && col("cw") - col("w") < col("r"))
      .select(col("q_pct"), col("r"), col("v").as("est_v"))
  }

  /** Merge per-key grid sketches into one global grid: elementwise
    * (bucket-wise) addition — touches only sketch rows, never facts. */
  def gridMerge(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("b")).agg(sum(col("cnt")).as("cnt"))

  // ---- driver contract ----------------------------------------------------

  private def words(s: SparkSession, dir: String): DataFrame =
    graft.catalog.Tables.documents(s, dir)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("item"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact-counted top-10 words through the MG candidate path. The oracle
    // is the plain exact top-10: identical output, different plan — the
    // sketch prunes the key domain before the only wide shuffle.
    "q_agg_heavy_hitters" -> ((s, dir) => heavyHitters(words(s, dir), m = 10, k = 64)),

    // CMS point queries for the exact top-10 words beside their true
    // counts: the full sketch path (hash grid build → min-cell estimate)
    // is what crosses engines; est_n >= n always, with equality whenever
    // the term's d cells are collision-free. ONE corpus tokenize: the
    // exact counts feed both the top-10 anchor and the sketch grid
    // (cmsSketchFromCounts), sharing the item exchange.
    "q_agg_countmin" -> ((s, dir) => {
      val counts = words(s, dir).groupBy(col("item")).agg(count(lit(1)).as("n"))
      val sketch = cmsSketchFromCounts(counts, d = 4, w = 256)
      val top10 = counts.orderBy(col("n").desc, col("item")).limit(10)
      top10.join(cmsEstimate(sketch, top10.select(col("item")), d = 4, w = 256),
          Seq("item"))
        .select(col("item"), col("n"), col("est_n"))
        .orderBy(col("n").desc, col("item"))
    }),

    // Mergeable-quantile rollup: per-SHIP-DAY grid sketches of the cent
    // price (the silver-layer state a 100 TB pipeline would persist),
    // merged by bucket addition, p50/p90/p99 read off the merged grid's
    // cumulative counts — beside the EXACT value-at-rank anchor from a
    // distributed rank pass, with the one-cell containment predicate
    // (`ok`) checking the two computation paths against each other.
    // Exact anchor = Slices.globalOrdinal (the shared slice-rank
    // decomposition) read at the three target ranks — discrete
    // single-group value-at-rank, never a one-partition sort.
    // The two global windows run on grid-/slice-count-bounded frames
    // (≤ domain/width and ≤ #partitions rows), never on facts.
    "q_agg_quantile_rollup" -> ((s, dir) => {
      val width = 16384L
      val qs = Seq(50, 90, 99)
      // Driver arm (optimization round — the quantileSketchDriver
      // recipe): the whole pipeline is integer-deterministic (floor-div
      // bucket counts, (n·q+99) div 100 ranks, value-at-rank anchor),
      // so under the cap the v projection collects once and the merged
      // grid + est/exact/ok read off sorted-array arithmetic — the
      // per-day sketch keys sum out in gridMerge, so v alone carries
      // the state. Over cap / nulls: the distributed chain below runs
      // unchanged (FreqSpec pins arm equality; PlanSpec the shape).
      quantileRollupDriver(s, graft.catalog.Tables.lineitem(s, dir)
          .select(floor(col("l_extendedprice") * 100).cast("long").as("v")),
          width, qs)
        .getOrElse(quantileRollupFrames(
          graft.catalog.Tables.lineitem(s, dir).select(
            col("l_shipdate").cast("date").as("day"),
            floor(col("l_extendedprice") * 100).cast("long").as("v")),
          width, qs))
    }),

    // Domain-FREE mergeable quantiles (the gridSketch sibling for
    // metrics without a priori bounds): per-ship-day block-compaction
    // summaries ([[quantileSummary]], k=64) of the cent price, merged
    // by weighted-rank concatenation ([[quantileMergedRead]]),
    // p50/p90/p99 read off the merge — beside the EXACT value-at-rank
    // anchor (Slices.globalOrdinal) and the PROVABLE tolerance
    // predicate: the merged read errs by < Σ_d ⌈n_d/k⌉ ≤ n/k + D
    // ranks, so `ok` pins est_v between the exact values at ranks
    // r ∓ (n div k + D). n and D come off the summary itself (Σw = n
    // exactly) — the anchor's ordinal pass is the only second fact
    // scan, and it IS the anchor, not the sketch.
    "q_agg_quantile_sketch" -> ((s, dir) => {
      val k = 64
      val qs = Seq(50, 90, 99)
      val vals = graft.catalog.Tables.lineitem(s, dir).select(
        col("l_shipdate").cast("date").as("day"),
        floor(col("l_extendedprice") * 100).cast("long").as("v"))
      // Driver arm (optimization round — the graph tier's cap-gated
      // discipline at the query level): the whole pipeline is integer-
      // deterministic (per-day value-sorted compaction, weighted-rank
      // merge, exact value-at-rank anchor), so under the cap it runs as
      // sorted-array arithmetic over ONE collect of the (epoch-day, v)
      // pairs — replacing the per-day window pass + the global ordinal
      // sort + the single-partition merge window + the routing action.
      // Over cap the frame pipeline below runs unchanged (the sketch
      // IS the at-scale story; its summaries stay distributed).
      quantileSketchDriver(s, vals, k, qs)
        .getOrElse(quantileSketchFrames(vals, k, qs))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_agg_quantile_sketch" ->
      """WITH v AS (SELECT CAST(l_shipdate AS DATE) AS day,
                  CAST(floor(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
         ranked AS (SELECT day, v, row_number() OVER (PARTITION BY day ORDER BY v) AS rnk,
                  count(*) OVER (PARTITION BY day) AS nd FROM v),
         summ AS (SELECT day, v, rnk, CAST(rnk - ((rnk - 1) // step) * step AS BIGINT) AS w
                  FROM (SELECT day, v, rnk, nd, (nd + 63) // 64 AS step FROM ranked)
                  WHERE rnk % step = 0 OR rnk = nd),
         nd AS (SELECT CAST(sum(w) AS BIGINT) AS n, count(DISTINCT day) AS d FROM summ),
         ranks AS (SELECT q_pct, n, d, CAST((n * q_pct + 99) // 100 AS BIGINT) AS r,
                  CAST(n // 64 + d AS BIGINT) AS tol
                  FROM (SELECT unnest([50, 90, 99]) AS q_pct), nd),
         cum AS (SELECT v, day, rnk, w,
                 CAST(sum(w) OVER (ORDER BY v, day, rnk ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
                 FROM summ),
         est AS (SELECT r.q_pct, c.v AS est_v FROM ranks r
                 JOIN cum c ON c.cw >= r.r AND c.cw - c.w < r.r),
         ord AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
         looked AS (SELECT r.q_pct, r.n, r.r, r.tol,
                  max(CASE WHEN o.rn = r.r THEN o.v END) AS exact_v,
                  max(CASE WHEN o.rn = greatest(1, r.r - r.tol) THEN o.v END) AS lo_v,
                  max(CASE WHEN o.rn = least(r.n, r.r + r.tol) THEN o.v END) AS hi_v
                  FROM ranks r JOIN ord o
                    ON o.rn IN (r.r, greatest(1, r.r - r.tol), least(r.n, r.r + r.tol))
                  GROUP BY 1, 2, 3, 4)
         SELECT l.q_pct, l.n, l.r, l.tol, e.est_v, l.exact_v, l.lo_v, l.hi_v,
                (e.est_v >= l.lo_v AND e.est_v <= l.hi_v) AS ok
         FROM looked l JOIN est e USING (q_pct) ORDER BY q_pct""",

    "q_agg_quantile_rollup" ->
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
                  CAST(l_shipdate AS DATE) AS day FROM lineitem),
         sk AS (SELECT day, v // 16384 AS b, count(*) AS cnt FROM v GROUP BY 1, 2),
         merged AS (SELECT b, CAST(sum(cnt) AS BIGINT) AS cnt FROM sk GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM merged),
         cum AS (SELECT b, cnt,
                 CAST(coalesce(sum(cnt) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_lo
                 FROM merged),
         ranks AS (SELECT q_pct, n, (n * q_pct + 99) // 100 AS r
                   FROM (SELECT unnest([50, 90, 99]) AS q_pct), n),
         est AS (SELECT r.q_pct, r.n, r.r, c.b * 16384 AS est_lo
                 FROM ranks r JOIN cum c ON r.r > c.cum_lo AND r.r <= c.cum_lo + c.cnt),
         ordered AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
         exact AS (SELECT r.q_pct, o.v AS exact_v FROM ranks r JOIN ordered o ON o.rn = r.r)
         SELECT e.q_pct, e.n, CAST(e.r AS BIGINT) AS r,
                CAST(e.est_lo AS BIGINT) AS est_lo, x.exact_v,
                (x.exact_v >= e.est_lo AND x.exact_v < e.est_lo + 16384) AS ok
         FROM est e JOIN exact x USING (q_pct) ORDER BY q_pct""",

    "q_agg_countmin" ->
      """WITH words AS (
           SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS item
           FROM documents),
         hashed AS (
           SELECT CAST(j AS INT) AS j,
                  CAST('0x' || substr(md5(item), CAST(1 + 4*j AS INT), 4) AS INT) % 256 AS b
           FROM words, LATERAL (SELECT unnest(range(4)) AS j)),
         sketch AS (
           SELECT j, b, CAST(count(*) AS BIGINT) AS c FROM hashed GROUP BY 1, 2),
         top10 AS (
           SELECT item, CAST(count(*) AS BIGINT) AS n FROM words GROUP BY 1
           ORDER BY n DESC, item LIMIT 10),
         probes AS (
           SELECT t.item, t.n, CAST(j AS INT) AS j,
                  CAST('0x' || substr(md5(t.item), CAST(1 + 4*j AS INT), 4) AS INT) % 256 AS b
           FROM top10 t, LATERAL (SELECT unnest(range(4)) AS j))
         SELECT p.item, p.n, min(s.c) AS est_n
         FROM probes p JOIN sketch s ON s.j = p.j AND s.b = p.b
         GROUP BY p.item, p.n
         ORDER BY p.n DESC, p.item""",
    "q_agg_heavy_hitters" ->
      """SELECT w AS item, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
               FROM documents)
         GROUP BY w
         ORDER BY n DESC, item
         LIMIT 10"""
  )
}
