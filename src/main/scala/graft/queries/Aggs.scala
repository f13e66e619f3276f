package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Tables._
import graft.util.D._

/** Aggregations (SURVEY.md §2B "Aggregations").
  *
  * Reference analogs: derived tx_count (`evm_consumer.rs:72-73`), UNIQUE
  * constraints (`0001_initial.sql:22-23`). Everything else is north-star
  * analytics surface.
  *
  * Scale notes: all groupBy aggregations here are hash aggregates with
  * map-side partial aggregation (one shuffle on the group keys); grouping
  * cardinality is tiny relative to input so the shuffle payload is the
  * partial-aggregate map, not the data. Decimal casts keep partial+final
  * merge order-insensitive (bit-deterministic across any executor count).
  */
object Aggs {

  /** q_agg_benford's expected first-digit probabilities
    * log10(1 + 1/d) — computed ONCE here and inlined into BOTH engines
    * as full-precision double literals (Double.toString round-trips
    * exactly, and +/−/×/÷ are IEEE-correctly-rounded on both engines,
    * so the whole statistic is bit-deterministic — the periodogram
    * trig-literal discipline; only TRANSCENDENTAL evaluation differs
    * across libms, and none happens at query time). */
  private val benfordProbs: Seq[(Int, Double)] =
    (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))

  private def benfordProbsSql: String =
    benfordProbs.map { case (d, p) => s"($d, $p)" }.mkString(", ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flagship — TPC-H Q1 style pricing summary.
    "q_agg_pricing_summary" -> ((s, dir) => pricingSummary(s, dir)),

    // Benford first-digit law over order totals — the classic
    // data-quality / fraud screen (natural multi-scale monetary data
    // follows log10(1+1/d); fabricated or truncated data doesn't).
    // Per-digit observed vs expected counts + chi-square contributions
    // in the q_drift_chisq floor-quantized e8 convention, with a
    // digit = -1 total row. One scan + one 9-row aggregate; the
    // expected probabilities are Scala-generated literals (no runtime
    // log10 on either engine).
    "q_agg_benford" -> ((s, dir) => {
      import s.implicits._
      val probs = benfordProbs.toDF("digit", "p")
      val obs = orders(s, dir)
        .select(substring(floor($"o_totalprice").cast("long").cast("string"),
          1, 1).cast("int").as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("obs"))
      val all = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
      broadcast(probs).join(obs, Seq("digit"), "left")
        .select($"digit", coalesce($"obs", lit(0L)).as("obs"), $"p")
        .withColumn("n", sum($"obs").over(all).cast("double"))
        .select($"digit", $"obs",
          floor($"n" * $"p" * 1e4 + 0.5).cast("long").as("exp_e4"),
          floor((($"obs" - $"n" * $"p") * ($"obs" - $"n" * $"p") /
            ($"n" * $"p")) * 1e8 + 0.5).cast("long").as("chisq_micro"))
        .select(explode(array($"digit", lit(-1))).as("digit"),
          $"obs", $"exp_e4", $"chisq_micro")
        .groupBy($"digit")
        .agg(sum($"obs").as("obs"), sum($"exp_e4").as("exp_e4"),
          sum($"chisq_micro").as("chisq_micro"))
        .orderBy($"digit")
    }),

    "q_agg_distinct" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(
          countDistinct($"o_custkey").as("n_cust"),
          sum_distinct($"o_custkey").as("sum_cust"))
        .orderBy($"o_orderpriority")
    }),

    "q_agg_multi_distinct" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(
          countDistinct($"o_custkey").as("n_cust"),
          countDistinct($"o_orderstatus").as("n_status"),
          count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    }),

    "q_agg_having" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_partkey")
        .agg(sum(dec4($"l_quantity")).as("sq"), count(lit(1)).as("n_items"))
        .filter($"sq" > 900)                  // HAVING on exact decimal
        .select($"l_partkey", r4($"sq").as("sum_qty"), $"n_items")
        .orderBy($"l_partkey")
    }),

    "q_agg_rollup" -> ((s, dir) => {
      import s.implicits._
      val c = customer(s, dir)
        .join(nation(s, dir), $"c_nationkey" === $"n_nationkey")
        .join(region(s, dir), $"n_regionkey" === $"r_regionkey")
      c.rollup($"r_name", $"n_name")
        .agg(
          grouping($"r_name").cast("int").as("gr"),
          grouping($"n_name").cast("int").as("gn"),
          count(lit(1)).as("n_cust"),
          r4(sum(dec4($"c_acctbal"))).as("sum_bal"))
        .select($"gr", $"gn", $"r_name", $"n_name", $"n_cust", $"sum_bal")
        .orderBy($"gr", $"gn", $"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
    }),

    // GROUPING() flags over a CUBE — the disambiguator between "null
    // because this row aggregates that column away" and "null in the
    // data", without which a cube over nullable keys is unreadable. The
    // SAME SQL text runs on both engines (GROUPING is SQL standard).
    "q_agg_grouping_id" -> ((s, dir) => {
      orders(s, dir).createOrReplaceTempView("orders_gid")
      s.sql(groupingIdSql("orders_gid"))
    }),

    "q_agg_cube" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .cube($"l_returnflag", $"l_linestatus")
        .agg(
          grouping($"l_returnflag").cast("int").as("gf"),
          grouping($"l_linestatus").cast("int").as("gs"),
          count(lit(1)).as("n_items"),
          r4(sum(dec4($"l_quantity"))).as("sum_qty"))
        .select($"gf", $"gs", $"l_returnflag", $"l_linestatus", $"n_items", $"sum_qty")
        .orderBy($"gf", $"gs",
          $"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }),

    "q_agg_grouping_sets" -> ((s, dir) => {
      lineitem(s, dir).createOrReplaceTempView("li_gs")
      s.sql("""
        SELECT CAST(grouping(l_returnflag) AS INT) AS gf,
               CAST(grouping(l_linestatus) AS INT) AS gs,
               l_returnflag, l_linestatus,
               count(1) AS n_items,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY gf, gs, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
    }),

    "q_agg_stats" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          r4(min($"l_quantity")).as("min_qty"),
          r4(max($"l_quantity")).as("max_qty"),
          round(sum(dec4($"l_quantity")).cast("double") / count(lit(1)), 4).as("avg_qty"),
          r4(stddev_samp($"l_quantity")).as("sd_qty"),
          r4(var_samp($"l_quantity")).as("var_qty"),
          count(lit(1)).as("n_items"))
        .orderBy($"l_returnflag")
    }),

    "q_agg_collect" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .filter($"l_orderkey" < 100)
        .groupBy($"l_orderkey")
        .agg(
          // collect_list/collect_set + array_sort stay under test; the
          // output is array_join-serialized because the driver's pandas
          // comparator cannot sort/hash raw ARRAY columns.
          array_join(array_sort(collect_list($"l_linenumber")).cast("array<string>"), "|").as("lns"),
          array_join(array_sort(collect_set($"l_returnflag")), "|").as("flags"))
        .orderBy($"l_orderkey")
    }),

    "q_agg_conditional" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          count_if($"l_quantity" > 25).as("n_bulk"),
          r4(sum(when($"l_linestatus" === "O", dec4($"l_extendedprice"))
            .otherwise(dec4(lit(0))))).as("open_price"),
          count_if($"l_discount" === 0.0).as("n_nodisc"))
        .orderBy($"l_returnflag")
    }),

    // Pearson correlation from EXACT decimal component sums — built-in
    // corr() uses engine-specific streaming algorithms (Welford vs
    // sum-of-products) whose float results differ across engines; the
    // hand-rolled algebra is bit-portable: exact Σx Σy Σxy Σx² Σy² then
    // one identical double formula on both sides.
    "q_agg_corr" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(dec4($"l_quantity")).as("sx"),
          sum(dec4($"l_extendedprice")).as("sy"),
          sum(dec4($"l_quantity") * dec4($"l_extendedprice")).as("sxy"),
          sum(dec4($"l_quantity") * dec4($"l_quantity")).as("sxx"),
          sum(dec4($"l_extendedprice") * dec4($"l_extendedprice")).as("syy"))
        // every exact decimal sum → double FIRST (identical nearest-double
        // on both engines), THEN one shared double formula: products of two
        // Σ-terms overflow DECIMAL(38) and precision-loss handling is
        // engine-specific, so the decimal domain must end here.
        .select($"l_returnflag", $"n".cast("double").as("nd"), $"n",
          $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"),
          $"sxy".cast("double").as("sxyd"), $"sxx".cast("double").as("sxxd"),
          $"syy".cast("double").as("syyd"))
        .select($"l_returnflag", $"n",
          round(
            ($"nd" * $"sxyd" - $"sxd" * $"syd") /
              (sqrt($"nd" * $"sxxd" - $"sxd" * $"sxd") *
               sqrt($"nd" * $"syyd" - $"syd" * $"syd")), 4).as("corr_qty_price"))
        .orderBy($"l_returnflag")
    }),

    // Per-group OLS regression (price ~ quantity): the regr_slope/
    // regr_intercept surface, engine-portable via the q_agg_corr
    // discipline — exact DECIMAL sums end the associative part, then ONE
    // shared double formula (cross-products of Σ-terms would overflow
    // DECIMAL(38), so the decimal domain must end before them). Same ONE
    // map-side-partial hash agg as every sums-family query.
    "q_agg_regression" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(dec4($"l_quantity")).as("sx"),
          sum(dec4($"l_extendedprice")).as("sy"),
          sum(dec4($"l_quantity") * dec4($"l_extendedprice")).as("sxy"),
          sum(dec4($"l_quantity") * dec4($"l_quantity")).as("sxx"))
        .select($"l_returnflag", $"n", $"n".cast("double").as("nd"),
          $"sx".cast("double").as("sxd"), $"sy".cast("double").as("syd"),
          $"sxy".cast("double").as("sxyd"), $"sxx".cast("double").as("sxxd"))
        .select($"l_returnflag", $"n",
          round(($"nd" * $"sxyd" - $"sxd" * $"syd") /
            ($"nd" * $"sxxd" - $"sxd" * $"sxd"), 4).as("slope"),
          round(($"syd" - ($"nd" * $"sxyd" - $"sxd" * $"syd") /
            ($"nd" * $"sxxd" - $"sxd" * $"sxd") * $"sxd") / $"nd", 4).as("intercept"))
        .orderBy($"l_returnflag")
    }),

    // Higher central moments — skewness + excess kurtosis per order
    // priority, completing the moments family (mean/var → corr →
    // regression → m3/m4) under the exact-sums discipline. x =
    // floor(o_totalprice) (BIGINT dollars — floor is truncation in both
    // engines, no decimal-cast tie rounding); Σx..Σx⁴ accumulate in
    // DECIMAL(38,0) (x⁴ ≤ 6.3e22 — 23 digits, exact) ⇔ DuckDB HUGEINT;
    // the central-moment expansion and the g1/g2 ratios are one shared
    // double formula over the exact sums. ONE hash agg, map-side partials.
    "q_agg_moments" -> ((s, dir) => {
      import s.implicits._
      val x = floor($"o_totalprice").cast("decimal(38,0)")
      orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(x).as("s1"), sum(x * x).as("s2"),
          sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
        .select($"o_orderpriority", $"n",
          $"n".cast("double").as("nd"),
          $"s1".cast("double").as("d1"), $"s2".cast("double").as("d2"),
          $"s3".cast("double").as("d3"), $"s4".cast("double").as("d4"))
        .select($"o_orderpriority", $"n", $"nd",
          ($"d1" / $"nd").as("mu"), $"d1", $"d2", $"d3", $"d4")
        .select($"o_orderpriority", $"n", $"nd", $"mu",
          ($"d2" / $"nd" - $"mu" * $"mu").as("m2"),
          ($"d3" / $"nd" - lit(3.0) * $"mu" * ($"d2" / $"nd")
            + lit(2.0) * $"mu" * $"mu" * $"mu").as("m3"),
          ($"d4" / $"nd" - lit(4.0) * $"mu" * ($"d3" / $"nd")
            + lit(6.0) * $"mu" * $"mu" * ($"d2" / $"nd")
            - lit(3.0) * $"mu" * $"mu" * $"mu" * $"mu").as("m4"))
        .select($"o_orderpriority", $"n",
          round($"mu", 4).as("mean"),
          round($"m3" / pow($"m2", 1.5), 6).as("skewness"),
          round($"m4" / ($"m2" * $"m2") - 3.0, 6).as("kurtosis"))
        .orderBy($"o_orderpriority")
    }),

    // pivot: one column per linestatus value (values pinned explicitly —
    // implicit value discovery would scan twice and order arbitrarily).
    "q_agg_pivot" -> ((s, dir) => {
      import s.implicits._
      lineitem(s, dir)
        .groupBy($"l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(r4(sum(dec4($"l_quantity"))))
        .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
        .orderBy($"l_returnflag")
    }),

    // unpivot/melt: wide metric columns → long (metric, value) rows.
    "q_reshape_unpivot" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .select($"o_orderkey", $"o_totalprice",
          $"o_custkey".cast("double").as("custkey_d"))
        .unpivot(
          ids = Array($"o_orderkey"),
          values = Array($"o_totalprice", $"custkey_d"),
          variableColumnName = "metric",
          valueColumnName = "value")
        .orderBy($"o_orderkey", $"metric")
    }),

    // Exact interpolated quantiles via PORTABLE algebra: built-in
    // percentile()/quantile_cont() interpolate with engine-specific
    // formula/order (ULP divergence), so both sides compute rank selection
    // + the SAME interpolation expression `a + (b - a) * g` on the SAME
    // double inputs — bit-identical, no rounding needed. g is exact: p ∈
    // {.25,.5,.75} and n−1 integer make p·(n−1) and its fraction exact
    // doubles.
    //
    // Scale shape: distributed rank via range partitioning — see
    // percentilesOf. A group-partitioned window caps sort parallelism at
    // the GROUP count (3 here); ScaleProbe measured that superlinear at
    // 64× input (74 s), vs 14 s for the range-sliced rank at identical
    // output. The production approximation remains percentile_approx
    // (sketch, one pass — tolerance unit-tested in AggToleranceSpec).
    "q_agg_percentiles" -> ((s, dir) =>
      percentilesOf(lineitem(s, dir), Seq(0.25, 0.5, 0.75))),

    // Fixed-bin histogram via portable bucket algebra: floor of a scaled
    // double (identical IEEE op both engines) with a capped overflow
    // bucket — width_bucket() exists in both engines but with different
    // edge conventions, so the shared formula is used instead.
    "q_agg_histogram" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .select(least(floor($"o_totalprice" / 25000.0), lit(15.0)).cast("int").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    }),

    // Modal value per group: count + rank with a deterministic tie-break
    // (highest count, then lowest value). Two hash aggs + a window over the
    // group×value table — never over the fact rows.
    "q_agg_mode" -> ((s, dir) => {
      import s.implicits._
      val counts = orders(s, dir)
        .groupBy($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_orderstatus").orderBy($"n".desc, $"o_orderpriority")
      counts.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"o_orderstatus", $"o_orderpriority".as("mode_priority"), $"n")
        .orderBy($"o_orderstatus")
    }),

    // Table profiling (the data-quality report a curation pipeline runs
    // first): per-column null count, exact distinct count, min/max — ONE
    // aggregate pass (multi-distinct lowers to a single Expand-based
    // aggregation, not one scan per column), then the 1-row wide result
    // explodes into the tall report. Doubles are profiled only via
    // null/distinct counts; min/max strings are emitted for the portable
    // types (int/string/date) — float-to-string formatting is
    // engine-specific.
    // Per-group z-score outlier detection — the data-quality anomaly scan.
    // Engine-portable by the q_agg_corr recipe: mean/sd derive from EXACT
    // decimal sums (value has ≤4 decimals) cast to double once, then one
    // shared double formula on both sides; the 2σ comparison is the same
    // IEEE arithmetic in both engines, so the flag can't flip. Stats
    // broadcast back to the fact rows (two passes, no wide shuffle).
    "q_outlier_zscore" -> ((s, dir) => {
      import s.implicits._
      val e = events(s, dir).select($"event_type", $"value")
      val stats = e.groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          sum(dec4($"value")).as("sx"),
          sum(dec4($"value") * dec4($"value")).as("sxx"))
        .select($"event_type",
          ($"sx".cast("double") / $"n").as("mean"),
          // greatest(_, 0): a zero-variance group can compute to a tiny
          // NEGATIVE double through cancellation — Spark's sqrt would give
          // NaN while DuckDB's sqrt ERRORS on negatives, aborting the
          // whole oracle run; clamp identically on both sides
          sqrt(greatest(($"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n")
            / ($"n" - 1), lit(0.0))).as("sd"))
      e.join(broadcast(stats), "event_type")
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(abs($"value" - $"mean") > lit(2.0) * $"sd", 1L).otherwise(0L))
            .as("n_outliers"),
          // floor-quantized BIGINT micro-key instead of round(double,4):
          // the doubles are bit-identical on both sides (exact decimal
          // sums cast to double), so floor(x*1e4) is portable where the
          // two engines' round() tie-breaking is not
          floor(min($"mean") * 1e4).cast("long").as("mean_e4"),
          floor(min($"sd") * 1e4).cast("long").as("sd_e4"))
        .orderBy($"event_type")
    }),

    // Robust (MAD-based) outlier scan — the heavy-tail-safe sibling of
    // q_outlier_zscore: med/MAD instead of mean/sd, so a few huge values
    // can't inflate the threshold and mask each other. Two tiny per-type
    // LOWER-median aggregates broadcast back to the fact rows (same
    // two-pass, no-wide-shuffle shape as zscore). The lower median (the
    // ACTUAL data value at rank ⌈n/2⌉, rank-selected, no interpolation)
    // is the portability fix: engine-interpolated median() — Spark's
    // a + (b−a)·g vs DuckDB's (a+b)/2 — differs in the last ULP and
    // flipped a round(·,4) boundary at sf0.1. With exact data values for
    // med/mad, d and 0.6745·d/mad are identical IEEE doubles on both
    // engines. Ties in the rank window don't matter: the value AT rank k
    // is the same however equal values order.
    "q_outlier_mad" -> ((s, dir) => {
      import s.implicits._
      val W = org.apache.spark.sql.expressions.Window
      val e = events(s, dir).select($"event_id", $"event_type", $"value")
      // Fused (optimization round 19, guide §2.4 — establish the
      // event_type partitioning ONCE per median pass): the group size n
      // rides the SAME window partition as the rank (count over the
      // unbounded frame ≡ the old per-type count aggregate), so the
      // separate cnt aggregate subtree and its two broadcast joins are
      // gone — each median is one exchange+sort instead of an
      // exchange+sort plus an aggregate exchange plus a join. Same rank,
      // same n, bit-identical medians.
      val wc = W.partitionBy($"event_type")
      val wv = W.partitionBy($"event_type").orderBy($"value", $"event_id")
      val med = e
        .select($"event_type", $"value",
          row_number().over(wv).as("rn"), count(lit(1)).over(wc).as("n"))
        .filter($"rn" === expr("(n + 1) div 2"))
        .select($"event_type", $"value".as("med"))
      val dev = e.join(broadcast(med), "event_type")
        .select($"event_id", $"event_type", $"value", ($"value" - $"med").as("d"))
      val wd = W.partitionBy($"event_type").orderBy(abs($"d"), $"event_id")
      val mad = dev
        .select($"event_type", $"d",
          row_number().over(wd).as("rn"), count(lit(1)).over(wc).as("n"))
        .filter($"rn" === expr("(n + 1) div 2"))
        .select($"event_type", abs($"d").as("mad"))
      dev.join(broadcast(mad), "event_type")
        // mad > 0 guard: on a degenerate distribution (>half the values
        // equal the median) Spark's non-ANSI 0-divisor Divide yields NULL
        // (rows silently dropped) while DuckDB's IEEE division yields ±inf
        // (every row flagged) — the engines would diverge instead of
        // failing loudly. Pinning mad > 0 on BOTH sides gives the
        // degenerate case one defined, portable behavior: no robust score
        // exists when the scale estimate is zero.
        .filter($"mad" > 0 && abs(lit(0.6745) * $"d" / $"mad") > 3.5)
        // value passes through RAW (same parquet double both sides); the
        // score is floor-quantized e4 — round() is NOT portable here
        // (DuckDB rounds 3.85224999… to 3.8523, Spark to 3.8522; floor of
        // the bit-identical double is safe — the zscore convention)
        .select($"event_id", $"event_type", $"value",
          floor(lit(0.6745) * $"d" / $"mad" * 1e4).cast("long").as("rz_e4"))
        .orderBy($"event_id")
    }),

    // Ordered string aggregation (SQL:2023 LISTAGG ... WITHIN GROUP) —
    // DISTINCT + explicit order makes the concatenation deterministic.
    "q_agg_listagg" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(expr("listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus)")
          .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }),

    // Bitwise aggregates (bit_or/bit_and/bit_xor) over a per-row flag
    // word — the flag-rollup idiom (permission masks, feature bitsets);
    // all three fold map-side like any algebraic aggregate.
    "q_agg_bitwise" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .select($"o_orderpriority", ($"o_orderkey" % 256).as("k"))
        .groupBy($"o_orderpriority")
        .agg(expr("bit_or(k)").as("flags_or"),
          expr("bit_and(k)").as("flags_and"),
          expr("bit_xor(k)").as("flags_xor"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }),

    // Key-skew diagnostics — the report that decides whether a join needs
    // Layout.saltedJoin (or AQE skew splits) BEFORE running it at scale:
    // per-key counts (ONE shuffle, materialized once for its three small
    // consumers), then a 1-row reduction + the top heavy hitter. The
    // heavy-key predicate is exact integer algebra (2·cnt·n_keys >
    // 3·n_rows ⇔ cnt > 1.5·mean) — no engine-specific double compare
    // decides membership; the two ratios ride along as round-4 info.
    "q_profile_skew" -> ((s, dir) => {
      import s.implicits._
      val counts = lineitem(s, dir)
        .groupBy($"l_orderkey".as("k")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val stats = counts.agg(
        sum($"cnt").as("n_rows"),
        count(lit(1)).as("n_keys"),
        max($"cnt").as("max_cnt"))
      val heavy = counts
        .crossJoin(broadcast(stats.select($"n_rows".as("nr"), $"n_keys".as("nk"))))
        .filter(lit(2) * $"cnt" * $"nk" > lit(3) * $"nr")
        .agg(count(lit(1)).as("heavy_keys"))
      val top = counts.orderBy($"cnt".desc, $"k").limit(1)
        .select($"k".as("top1_key"), $"cnt".as("top1_cnt"))
      stats.crossJoin(broadcast(heavy)).crossJoin(broadcast(top))
        .select($"n_rows", $"n_keys", $"max_cnt",
          round($"n_rows".cast("double") / $"n_keys", 4).as("mean_cnt"),
          round($"max_cnt".cast("double") * $"n_keys" / $"n_rows", 4)
            .as("max_over_mean"),
          $"heavy_keys", $"top1_key", $"top1_cnt")
    }),

    "q_profile_table" -> ((s, dir) => {
      import s.implicits._
      val od = $"o_orderdate".cast("date")
      val wide = orders(s, dir).agg(
        count(lit(1)).as("n_rows"),
        sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("nn_key"),
        countDistinct($"o_orderkey").as("nd_key"),
        min($"o_orderkey").cast("string").as("mn_key"),
        max($"o_orderkey").cast("string").as("mx_key"),
        sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("nn_cust"),
        countDistinct($"o_custkey").as("nd_cust"),
        min($"o_custkey").cast("string").as("mn_cust"),
        max($"o_custkey").cast("string").as("mx_cust"),
        sum(when($"o_orderstatus".isNull, 1L).otherwise(0L)).as("nn_status"),
        countDistinct($"o_orderstatus").as("nd_status"),
        min($"o_orderstatus").as("mn_status"),
        max($"o_orderstatus").as("mx_status"),
        sum(when($"o_orderpriority".isNull, 1L).otherwise(0L)).as("nn_prio"),
        countDistinct($"o_orderpriority").as("nd_prio"),
        min($"o_orderpriority").as("mn_prio"),
        max($"o_orderpriority").as("mx_prio"),
        sum(when(od.isNull, 1L).otherwise(0L)).as("nn_date"),
        countDistinct(od).as("nd_date"),
        min(od).cast("string").as("mn_date"),
        max(od).cast("string").as("mx_date"),
        sum(when($"o_totalprice".isNull, 1L).otherwise(0L)).as("nn_price"),
        countDistinct($"o_totalprice").as("nd_price"))
      wide.select($"n_rows", explode(array(
          struct(lit("o_orderkey").as("col_name"), $"nn_key".as("n_null"),
            $"nd_key".as("n_distinct"), $"mn_key".as("min_v"), $"mx_key".as("max_v")),
          struct(lit("o_custkey").as("col_name"), $"nn_cust".as("n_null"),
            $"nd_cust".as("n_distinct"), $"mn_cust".as("min_v"), $"mx_cust".as("max_v")),
          struct(lit("o_orderstatus").as("col_name"), $"nn_status".as("n_null"),
            $"nd_status".as("n_distinct"), $"mn_status".as("min_v"), $"mx_status".as("max_v")),
          struct(lit("o_orderpriority").as("col_name"), $"nn_prio".as("n_null"),
            $"nd_prio".as("n_distinct"), $"mn_prio".as("min_v"), $"mx_prio".as("max_v")),
          struct(lit("o_orderdate").as("col_name"), $"nn_date".as("n_null"),
            $"nd_date".as("n_distinct"), $"mn_date".as("min_v"), $"mx_date".as("max_v")),
          struct(lit("o_totalprice").as("col_name"), $"nn_price".as("n_null"),
            $"nd_price".as("n_distinct"), lit(null).cast("string").as("min_v"),
            lit(null).cast("string").as("max_v")))).as("p"))
        .select($"p.col_name", $"n_rows", $"p.n_null", $"p.n_distinct",
          $"p.min_v", $"p.max_v")
        .orderBy($"col_name")
    }),

    // HLL sketch with a driver-checkable anchor. The raw estimate has no
    // cross-engine oracle (sketch internals differ between engines), and
    // the driver hashes EVERY output column — so the result carries (a)
    // exact count(DISTINCT), fully hash-checked, and (b) the estimate
    // folded into a tolerance predicate the oracle pins to literal TRUE:
    // if the sketch ever drifts past ±5% of exact, approx_ok flips false
    // and the driver's hash compare fails. AggToleranceSpec still pins the
    // raw estimate values. At scale both aggregates share one shuffle
    // (each partial-aggregates map-side per event_type).
    // rsd pinned to 0.01 (not the 0.05 default): the tolerance predicate is
    // ±5%, and a sketch whose STANDARD deviation is 5% trips it routinely —
    // observed at sf0.1, where the default sketch landed outside 5% on one
    // group while sf0.01 passed. At rsd 0.01 the 5% bound is ~5 sigma:
    // stable at every shipped SF for a slightly larger (still KB-scale,
    // broadcast-irrelevant) sketch.
    "q_agg_approx_distinct" -> ((s, dir) => {
      import s.implicits._
      // Sketch and exact in SEPARATE aggregates (optimization round 19):
      // combining countDistinct with the HLL made Catalyst plan an
      // Expand (2 rows per input) and evaluate the rsd-0.01 sketch — the
      // query's dominant per-row cost — over the expanded stream. Split,
      // the HLL touches each row once and the exact side keeps its
      // distinct-rewrite; the k-row join is broadcast. Same two
      // aggregates, same values, same oracle.
      val e = events(s, dir)
      val exact = e.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      val approx = e.groupBy($"event_type")
        .agg(approx_count_distinct($"user_id", 0.01).as("approx"))
      exact.join(broadcast(approx), "event_type")
        .select($"event_type", $"exact_users",
          (abs($"approx" - $"exact_users") <= lit(0.05) * $"exact_users").as("approx_ok"))
        .orderBy($"event_type")
    }),

    // Mergeable quantile sketch with an exact anchor — the
    // q_agg_approx_distinct pattern applied to percentile_approx
    // (KLL-family sketch: one pass, fixed memory, partial-aggregates
    // map-side; THE production quantile at 100 TB, where the exact
    // distributed-rank form costs a full range shuffle). The exact median
    // comes from percentilesOf — already bit-identical to the oracle's
    // interpolation — and the sketch is oracled through the tolerance
    // predicate. accuracy 10000 bounds rank error at n/10000; at every
    // shipped SF the value at rank±n/10000 sits far inside ±1% of the
    // median for this distribution, so the predicate is stable, not
    // borderline.
    "q_agg_approx_quantile" -> ((s, dir) => {
      import s.implicits._
      val exact = percentilesOf(lineitem(s, dir), Seq(0.5))
        .select($"l_returnflag", $"q".as("exact_p50"))
      val approx = lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("approx"))
      exact.join(approx, "l_returnflag")
        .select($"l_returnflag", $"exact_p50",
          (abs($"approx" - $"exact_p50") <= lit(0.01) * $"exact_p50").as("approx_ok"))
        .orderBy($"l_returnflag")
    }),

    // Sketch ROLLUP — the pattern the one-shot approx_count_distinct can't
    // do: per-(type, day) HLL sketches materialized first (at 100 TB these
    // are what a silver layer stores — KB-size mergeable state per
    // partition), then re-aggregated per type by LOSSLESS sketch union and
    // only then estimated. Daily counts cannot be summed (users recur
    // across days); sketch union answers the rolled-up distinct from
    // pre-aggregated state without re-touching the fact rows. Same
    // exact-anchor + tolerance-predicate oracle device as
    // q_agg_approx_distinct (lgConfigK 14 → rsd ~0.4%, 5% bound ~12σ).
    "q_agg_sketch_rollup" -> ((s, dir) => {
      import s.implicits._
      val e = events(s, dir)
      val daily = e.groupBy($"event_type", to_date($"ts").as("day"))
        .agg(hll_sketch_agg($"user_id", lit(14)).as("sk"),
          count(lit(1)).as("n_rows"))
      val rolled = daily.groupBy($"event_type")
        .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est"),
          count(lit(1)).as("n_days"), sum($"n_rows").as("n_events"))
      val exact = e.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      rolled.join(exact, "event_type")
        .select($"event_type", $"n_days", $"n_events", $"exact_users",
          (abs($"est" - $"exact_users") <= lit(0.05) * $"exact_users").as("approx_ok"))
        .orderBy($"event_type")
    }),

    // Boolean aggregate surface (SQL:2023 EVERY/SOME + count_if): per
    // priority, did every order ship under 500k, did any exceed 400k, how
    // many were urgent-and-large — predicates folded map-side like any
    // algebraic aggregate. Exact threshold comparisons on raw doubles —
    // identical 3-valued logic both engines.
    "q_agg_bool" -> ((s, dir) => {
      import s.implicits._
      orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(every($"o_totalprice" < 500000).as("all_under_500k"),
          some($"o_totalprice" > 400000).as("any_over_400k"),
          count_if($"o_totalprice" > 300000 && $"o_orderstatus" === "O")
            .as("n_large_open"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderpriority")
    }),

    // WEIGHTED (lower) median: smallest x whose cumulative weight reaches
    // half the group total — the location estimate for importance-weighted
    // corpora (q_sample_dsir weights, mixture weights), where the plain
    // median ignores the weights entirely. Same range-repartition
    // discipline as q_agg_percentiles/q_agg_gini, generalized from row
    // counts to WEIGHT SUMS: slice weight totals give each partition's
    // cumulative offset, only the ONE crossing slice per group is
    // re-touched (its rows ≤ n/partitions), and the in-slice cumulative
    // runs under a RANGE frame so equal values aggregate together —
    // making the crossing x insensitive to how ties split across
    // partitions. The 2·cum ≥ W predicate is exact integer math; the
    // median itself is a raw parquet double (pass-through, no rounding).
    "q_agg_weighted_median" -> ((s, dir) =>
      weightedMedianDriver(s, lineitem(s, dir))
        .getOrElse(weightedMedianDistributed(s, lineitem(s, dir)))),

    // Incremental aggregate MAINTENANCE: yesterday's stored per-type
    // rollup (rows with event_id < 8000) combined with today's delta
    // batch (>= 8000) by merging ALGEBRAIC partial states — counts/sums
    // add, min/max fold, avg derives from (sum, n) at the end. The oracle
    // is the FULL recompute over all events: passing proves the
    // incremental path is exactly equivalent, which is what lets a 100 TB
    // silver layer absorb a daily batch without rescanning history (the
    // non-algebraic distinct goes through mergeable HLL state instead —
    // q_agg_sketch_rollup).
    "q_agg_incremental" -> ((s, dir) => {
      import s.implicits._
      val e = events(s, dir).select($"event_type", $"event_id", $"value")
      def partial(f: DataFrame) = f.groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum(dec4($"value")).as("s"),
          min($"value").as("lo"), max($"value").as("hi"))
      partial(e.filter($"event_id" < 8000))
        .unionAll(partial(e.filter($"event_id" >= 8000)))
        .groupBy($"event_type")
        .agg(sum($"n").as("n"), sum($"s").as("s"),
          min($"lo").as("lo"), max($"hi").as("hi"))
        .select($"event_type", $"n", r4($"s").as("sum_value"),
          r4($"s".cast("double") / $"n").as("avg_value"),
          r4($"lo").as("min_value"), r4($"hi").as("max_value"))
        .orderBy($"event_type")
    }),

    // Shannon entropy of the per-type user distribution — the
    // concentration/diversity profiling metric (a type whose events come
    // from few users scores low). H = ln N − (Σ c·ln c)/N from EXACT
    // integer counts; ln() is libm-dependent in the last ULP, so the
    // output is the floor-quantized BIGINT convention (unigram_logprob
    // recipe), never round(double, 4).
    "q_agg_entropy" -> ((s, dir) => {
      import s.implicits._
      events(s, dir)
        .groupBy($"event_type", $"user_id").agg(count(lit(1)).as("c"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_users"), sum($"c").as("n"),
          sum($"c".cast("double") * log($"c".cast("double"))).as("clc"))
        .select($"event_type", $"n_users", $"n",
          floor((log($"n".cast("double")) - $"clc" / $"n") * 1e4)
            .cast("long").as("entropy_e4"))
        .orderBy($"event_type")
    }),

    // Gini coefficient of order spend per priority class — the inequality
    // profiling metric. Needs a per-row global rank WITHIN group; a
    // group-partitioned window caps parallelism at the group count (5), so
    // the rank comes from the q_agg_percentiles distributed-rank shape:
    // range-repartition by (group, x), slice stats from a sort-free hash
    // agg, narrow in-partition sort + ordinal. Ranks permute only among
    // equal x, and Σ rank·x is invariant under that permutation, so the
    // result is deterministic. All sums exact decimals; the Gini formula
    // (2·Σrx − (n+1)·Σx)/(n·Σx) is one shared double expression.
    "q_agg_gini" -> ((s, dir) =>
      giniDriver(s, orders(s, dir))
        .getOrElse(giniDistributed(s, orders(s, dir)))),

    // Sketch SET ALGEBRA: |clickers ∩ purchasers| estimated by
    // inclusion-exclusion over mergeable HLL state (est_A + est_B −
    // est_A∪B) — the overlap question a silver layer answers from stored
    // KB-size sketches without re-touching fact rows (set INTERSECT at
    // 100 TB shuffles both distinct user sets). Exact columns are the
    // oracle anchor; the estimate lands through the tolerance predicate
    // (overlap ≈ union here, so inclusion-exclusion compounds the ~0.4%
    // per-sketch rsd to ~1%, well inside 5%).
    "q_agg_sketch_intersect" -> ((s, dir) => {
      import s.implicits._
      val e = events(s, dir)
        .filter($"event_type".isin("click", "purchase"))
        .select($"event_type", $"user_id")
      val sk = e.groupBy($"event_type")
        .agg(hll_sketch_agg($"user_id", lit(14)).as("sk"))
      val est = sk.agg(
        sum(hll_sketch_estimate($"sk")).as("est_sum"),
        hll_sketch_estimate(hll_union_agg($"sk", lit(false))).as("est_union"))
      val a = e.filter($"event_type" === "click").select($"user_id").distinct()
      val b = e.filter($"event_type" === "purchase").select($"user_id").distinct()
      val nA = a.agg(count(lit(1)).as("n_click"))
      val nB = b.agg(count(lit(1)).as("n_purchase"))
      val nBoth = a.intersect(b).agg(count(lit(1)).as("n_both"))
      nA.crossJoin(nB).crossJoin(nBoth).crossJoin(est)
        .select($"n_click", $"n_purchase", $"n_both",
          (abs(($"est_sum" - $"est_union") - $"n_both") <= lit(0.05) * $"n_both")
            .as("approx_ok"))
    }),

    // KMV / bottom-k (theta-family) sketch set algebra [Beyer et al.
    // SIGMOD'07; Dasgupta et al., theta sketches] — the DIRECT set
    // estimator beside q_agg_sketch_intersect's HLL inclusion-exclusion:
    // keep each set's k smallest distinct member hashes; the union
    // sketch is the k smallest of the merged survivors (mergeable by
    // construction), est |U| = (k−1)·2⁶⁰/M_k, and any set EXPRESSION
    // (∩, \) estimates as its observed fraction among the union
    // sketch's k hashes × est |U| — the algebra HLL cannot do without
    // inclusion-exclusion blowup. Sets here: buyers of two brands
    // (order custkeys through a broadcast part prune). At 100 TB the
    // per-set shuffle carries (set, distinct-hash) pairs (map-side
    // partial), the rank window sorts each set's own hashes, and
    // everything after the k-row survivors is broadcast-scale. The
    // exact anchors ride along (the q_agg_approx_distinct pattern:
    // DuckDB recomputes the exact counts and asserts the verdicts
    // TRUE); md5 hashes make the sketch engine-portable and the
    // verdict deterministic per dataset — tolerance 15% (k = 512,
    // rse ≈ 4.4%) with 25% on the doubly-estimated intersection,
    // pinned with ≥ 2× margin at every shipped SF.
    "q_agg_kmv_intersect" -> ((s, dir) => {
      import s.implicits._
      val m = lineitem(s, dir).select($"l_orderkey", $"l_partkey")
        .join(broadcast(part(s, dir)
          .filter($"p_brand".isin(kmvBrandA, kmvBrandB))
          .select($"p_partkey", $"p_brand")), $"l_partkey" === $"p_partkey")
        .join(orders(s, dir).select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .select($"p_brand".as("st"), $"o_custkey".as("mem"))
      // Driver arm (optimization round): the brand-pruned member frame
      // is tiny (two brands of a 2%-selective dim), and everything after
      // it — md5 bottom-k per set, merged union sketch, the exact
      // distinct anchors, the tolerance verdicts — is deterministic
      // hash/count arithmetic. One collect replaces the second pass over
      // m, both localCheckpoints, and the rank window. Over cap: the
      // frame chain (AggDriverArmSpec pins arm equality).
      kmvIntersectDriver(s, m).getOrElse(kmvIntersectDistributed(s, m))
    })
  )

  private val kmvK = 512
  private val kmvBrandA = "Brand#11"
  private val kmvBrandB = "Brand#22"

  /** The KMV frame chain — q_agg_kmv_intersect's over-cap arm. `m` =
    * (st, mem) brand-membership rows. */
  private[graft] def kmvIntersectDistributed(s: SparkSession,
      m: DataFrame): DataFrame = {
    import s.implicits._
    val k = kmvK
    val brandA = kmvBrandA
    val brandB = kmvBrandB
    // distinct (set, hash) pairs — duplicates collapse map-side — then
    // each set's k smallest survive (the sketch)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"st").orderBy($"h")
    val kmv = m
      .groupBy($"st",
        conv(substring(md5($"mem".cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .agg(count(lit(1)).as("cnt")).drop("cnt")
      .withColumn("r", row_number().over(w)).filter($"r" <= k)
      .localCheckpoint()
    // union sketch: k smallest of the merged survivors, each flagged
    // with which per-set sketches contain it
    val flags = kmv.groupBy($"h").agg(
      max(when($"st" === brandA, 1L).otherwise(0L)).as("in_a"),
      max(when($"st" === brandB, 1L).otherwise(0L)).as("in_b"))
    val uk = flags.orderBy($"h").limit(k)
    val est = uk.agg(count(lit(1)).as("nk"), max($"h").as("mk"),
        sum($"in_a" * $"in_b").as("both"),
        sum($"in_a").as("ka"), sum($"in_b").as("kb"))
      .select(
        when($"nk" < k, $"nk".cast("double"))
          .otherwise(lit((k - 1).toDouble * math.pow(2, 60)) / $"mk")
          .as("est_u"),
        ($"both".cast("double") / $"nk").as("f_inter"),
        ($"ka".cast("double") / $"nk").as("f_a"),
        ($"kb".cast("double") / $"nk").as("f_b"))
    // exact anchors
    val d = m.select($"st", $"mem").distinct().localCheckpoint()
    val ex = d.agg(
      coalesce(sum(when($"st" === brandA, 1L)), lit(0L)).as("n_a"),
      coalesce(sum(when($"st" === brandB, 1L)), lit(0L)).as("n_b"))
      .crossJoin(d.select($"mem").distinct().agg(count(lit(1)).as("n_union")))
      .select($"n_a", $"n_b", $"n_union",
        ($"n_a" + $"n_b" - $"n_union").as("n_inter"))
    def ok(estC: org.apache.spark.sql.Column, exn: String, pct: Int) =
      abs(estC - col(exn)) <= greatest(lit(25.0), col(exn) * pct / 100.0)
    ex.crossJoin(est)
      .select($"n_a", $"n_b", $"n_union", $"n_inter",
        ok($"est_u" * $"f_a", "n_a", 15).as("ok_a"),
        ok($"est_u" * $"f_b", "n_b", 15).as("ok_b"),
        ok($"est_u", "n_union", 15).as("ok_union"),
        ok($"est_u" * $"f_inter", "n_inter", 25).as("ok_inter"))
  }

  /** The in-memory arm behind q_agg_kmv_intersect: md5 bottom-k per set
    * (the same hex-prefix hash), union sketch flags, exact distinct
    * anchors and the tolerance verdicts — all hash/count-deterministic,
    * row-identical to the frame chain (AggDriverArmSpec pins it). None
    * over cap / on nulls. */
  private[graft] def kmvIntersectDriver(s: SparkSession,
      m: DataFrame): Option[DataFrame] = {
    val take = graft.util.SmallInput.take(m).getOrElse(return None)
    if (take.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val k = kmvK
    import scala.collection.mutable.HashSet
    val distinctA = HashSet.empty[Long]
    val distinctB = HashSet.empty[Long]
    take.foreach { r =>
      val st = r.getString(0); val mem = r.getAs[Number](1).longValue
      if (st == kmvBrandA) distinctA += mem
      if (st == kmvBrandB) distinctB += mem
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(mem: Long): Long = {
      val hex = md.digest(mem.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def bottomK(mems: HashSet[Long]): Array[Long] = {
      val hs = mems.iterator.map(h).toArray.distinct
      java.util.Arrays.sort(hs)
      hs.take(k)
    }
    val ha = bottomK(distinctA)
    val hb = bottomK(distinctB)
    val union = (ha ++ hb).distinct.sorted.take(k)
    if (union.isEmpty) return None // degenerate: let the frame chain define it
    val inA = ha.toSet
    val inB = hb.toSet
    val nk = union.length.toLong
    val mk = if (union.isEmpty) 0L else union.last
    val both = union.count(x => inA(x) && inB(x)).toLong
    val ka = union.count(inA).toLong
    val kb = union.count(inB).toLong
    val estU =
      if (nk < k) nk.toDouble
      else (k - 1).toDouble * math.pow(2, 60) / mk.toDouble
    val fInter = both.toDouble / nk
    val fA = ka.toDouble / nk
    val fB = kb.toDouble / nk
    val nA = distinctA.size.toLong
    val nB = distinctB.size.toLong
    val nUnion = (distinctA ++ distinctB).size.toLong
    val nInter = nA + nB - nUnion
    def ok(est: Double, exn: Long, pct: Int): Boolean =
      math.abs(est - exn.toDouble) <=
        math.max(25.0, (exn * pct).toDouble / 100.0)
    val row = (nA, nB, nUnion, nInter,
      ok(estU * fA, nA, 15), ok(estU * fB, nB, 15),
      ok(estU, nUnion, 15), ok(estU * fInter, nInter, 25))
    Some(s.createDataFrame(Seq(row))
      .toDF("n_a", "n_b", "n_union", "n_inter",
        "ok_a", "ok_b", "ok_union", "ok_inter"))
  }

  /** Exact interpolated per-group quantiles over (l_returnflag,
    * l_extendedprice) — the q_agg_percentiles operator, reusable on any
    * lineitem-shaped frame (ScaleProbe replays it on N×-unioned inputs).
    *
    * Distributed-rank shape: a window partitioned by the GROUP alone caps
    * parallelism at the group count (3 here — a ScaleProbe-measured
    * superlinear wall at 64× input). Instead:
    *
    *   1. range-repartition on (group, x) → every partition holds a
    *      contiguous slice of one-or-more groups' sorted value ranges, and
    *      partition count (not group count) is the parallelism;
    *   2. per-(group, slice) counts (≤ groups × partitions rows —
    *      broadcast-scale), prefix-summed in-plan into each slice's global
    *      rank offset;
    *   3. local rank within each (group, slice) — the per-slice sort is
    *      parallel across slices — then global rank = local + offset, and
    *      the same local bracket filter + tiny conditional agg.
    *
    * Rows with equal x may split across a partition boundary; their ranks
    * are then assigned arbitrarily BETWEEN equal values, which leaves the
    * value-at-rank (all that quantiles read) unchanged — the output is
    * deterministic. Interpolation algebra is unchanged and byte-identical
    * to the DuckDB oracle. percentile_approx remains the one-pass
    * production approximation (AggToleranceSpec).
    *
    * Driver arm (optimization round — the quantileSketchDriver recipe):
    * value-at-rank over a sorted in-memory array IS this operator's
    * semantics, so under the cap the (group, x) projection collects
    * once and the interpolation runs as plain double arithmetic —
    * a + (b − a)·g on IEEE doubles, identical to the frame's codegen'd
    * expression — replacing the range exchange + two window passes with
    * one job. Over cap (the 100 TB posture) the distributed-rank chain
    * below runs unchanged (PlanSpec pins its one-exchange shape;
    * AggDriverArmSpec pins arm equality); ScaleProbe measures it
    * distributed only. */
  def percentilesOf(li: DataFrame, ps: Seq[Double]): DataFrame = {
    graft.util.SmallInput.take(
        li.select(col("l_returnflag"), col("l_extendedprice").as("x"))).foreach { take =>
      val s = li.sparkSession
      if (!take.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        val byG = new java.util.TreeMap[String, scala.collection.mutable.ArrayBuffer[Double]]
        take.foreach { r =>
          var b = byG.get(r.getString(0))
          if (b == null) {
            b = scala.collection.mutable.ArrayBuffer.empty[Double]
            byG.put(r.getString(0), b)
          }
          b += r.getDouble(1)
        }
        val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
        byG.forEach { (g, buf) =>
          val xs = buf.toArray
          java.util.Arrays.sort(xs)
          val n = xs.length.toLong
          ps.foreach { p =>
            // the frame's bracket algebra verbatim: h = p·(n−1), lo/hi
            // 1-based ranks, g' the fractional part — all double ops
            val h = p * (n - 1).toDouble
            val lo = math.floor(h).toLong + 1
            val hi = math.min(math.floor(h).toLong + 2, n)
            val gg = h - math.floor(h)
            val a = xs((lo - 1).toInt)
            val b = xs((hi - 1).toInt)
            rows += ((g, p, a + (b - a) * gg))
          }
        }
        return s.createDataFrame(rows.toSeq).toDF("l_returnflag", "p", "q")
          .orderBy(col("l_returnflag"), col("p"))
      }
    }
    percentilesOfDistributed(li, ps)
  }

  /** The distributed-rank chain — [[percentilesOf]]'s over-cap arm. */
  private[graft] def percentilesOfDistributed(li: DataFrame, ps: Seq[Double]): DataFrame = {
    def sliced(ranged: DataFrame): DataFrame = ranged
      .sortWithinPartitions(col("l_returnflag"), col("x"))
      .withColumn("ord",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
    val W = org.apache.spark.sql.expressions.Window
    val ranged = li
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
      .repartitionByRange(col("l_returnflag"), col("x"))
      .withColumn("pid", spark_partition_id())
    // Slice stats: ≤ groups × partitions rows, from a sort-free hash agg.
    // BOTH rank ingredients derive from counts alone:
    //   rank_off  — this slice's global offset within its group: counts of
    //               the same group in earlier partitions (range partitioning
    //               puts strictly-lower x there);
    //   start_ord — where this group starts inside its partition's sorted
    //               order: counts of lexically-earlier groups in the SAME
    //               partition (the in-partition sort is (group, x));
    //   n         — group total.
    // The prefix sums run in-plan over the tiny frame (no driver collect —
    // that would be a second action re-executing the range shuffle);
    // ReuseExchange feeds this branch and the rank branch from ONE range
    // exchange.
    val wOff = W.partitionBy(col("l_returnflag")).orderBy(col("pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val wStart = W.partitionBy(col("pid")).orderBy(col("l_returnflag"))
      .rowsBetween(W.unboundedPreceding, -1)
    val wN = W.partitionBy(col("l_returnflag"))
    val slices = ranged.groupBy(col("l_returnflag"), col("pid"))
      .agg(count(lit(1)).as("slice_n"))
      .withColumn("rank_off", coalesce(sum(col("slice_n")).over(wOff), lit(0L)))
      .withColumn("start_ord", coalesce(sum(col("slice_n")).over(wStart), lit(0L)))
      .withColumn("n", sum(col("slice_n")).over(wN))
      .select(col("l_returnflag"), col("pid"), col("rank_off"),
        col("start_ord"), col("n"))
    // Rank branch: NARROW in-partition sort (parallelism = slice count, not
    // group count) + monotonically_increasing_id, whose low 33 bits are the
    // within-partition ordinal in sort order (nondeterministic-flagged, so
    // Catalyst never reorders it past the sort). Rows with equal x may
    // permute between executions or split across a slice boundary; that
    // shuffles ranks only AMONG equal values, so the value-at-rank — all
    // that quantiles read — is deterministic.
    sliced(ranged)
      .join(broadcast(slices), Seq("l_returnflag", "pid"))
      .withColumn("rn", col("ord") - col("start_ord") + 1 + col("rank_off"))
      .drop("pid", "ord", "start_ord", "rank_off")
      // |ps|× narrow row inflation (one per requested p), all codegen; the
      // bracket filter immediately cuts it to ≤ 2·|ps| rows per group
      .select(col("l_returnflag"), col("x"), col("rn"), col("n"),
        explode(array(ps.map(lit): _*)).as("p"))
      .withColumn("h", col("p") * (col("n") - 1))
      .withColumn("lo", floor(col("h")).cast("long") + 1)
      .withColumn("hi", least(floor(col("h")).cast("long") + 2, col("n")))
      .withColumn("g", col("h") - floor(col("h")))
      .filter(col("rn") === col("lo") || col("rn") === col("hi"))
      .groupBy(col("l_returnflag"), col("p"))
      .agg(
        max(when(col("rn") === col("lo"), col("x"))).as("a"),
        max(when(col("rn") === col("hi"), col("x"))).as("b"),
        first(col("g")).as("gg"))
      // Runtime invariant guard: rn is stitched from BOTH branches of the
      // reused range exchange (ord from the rank branch, offsets from the
      // slice-stats branch). If a future edit breaks that reuse — e.g. a
      // cache/localCheckpoint on one branch, or AQE re-planning one side —
      // the two branches can observe different spark_partition_id
      // assignments, ranks develop gaps/collisions, and some bracket rank
      // lo/hi simply never occurs. Healthy ranks are a permutation of
      // 1..n, so both brackets always match; a missing one must FAIL, not
      // silently interpolate from null.
      .select(col("l_returnflag"), col("p"),
        when(col("a").isNotNull && col("b").isNotNull,
          col("a") + (col("b") - col("a")) * col("gg"))
          .otherwise(raise_error(concat(
            lit("percentilesOf: rank bracket missing (broken exchange reuse?) group="),
            col("l_returnflag"), lit(" p="), col("p").cast("string"))))
          .as("q"))
      .orderBy(col("l_returnflag"), col("p"))
  }

  /** The range-repartition chain — q_agg_weighted_median's over-cap arm
    * (PlanSpec pins its one-exchange shape directly). */
  private[graft] def weightedMedianDistributed(s: SparkSession,
      li: DataFrame): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val t = li
      .select($"l_returnflag".as("g"), $"l_extendedprice".as("x"),
        $"l_quantity".cast("long").as("w"))
      .repartitionByRange($"g", $"x")
      .withColumn("pid", spark_partition_id())
    val wOff = W.partitionBy($"g").orderBy($"pid")
      .rowsBetween(W.unboundedPreceding, -1)
    val wTot = W.partitionBy($"g")
    val slices = t.groupBy($"g", $"pid").agg(sum($"w").as("slice_w"))
      .withColumn("w_off", coalesce(sum($"slice_w").over(wOff), lit(0L)))
      .withColumn("tot_w", sum($"slice_w").over(wTot))
      // the one slice per group where the cumulative weight crosses W/2
      .filter(lit(2) * $"w_off" < $"tot_w" &&
        lit(2) * ($"w_off" + $"slice_w") >= $"tot_w")
      .select($"g", $"pid", $"w_off", $"tot_w")
    val wCum = W.partitionBy($"g").orderBy($"x") // RANGE frame: ties together
    t.join(broadcast(slices), Seq("g", "pid"))
      .withColumn("cum", $"w_off" + sum($"w").over(wCum))
      .filter(lit(2) * $"cum" >= $"tot_w")
      .groupBy($"g")
      .agg(min($"tot_w").as("total_weight"), min($"x").as("weighted_median"))
      .orderBy($"g")
  }

  /** In-memory arm behind q_agg_weighted_median (optimization round):
    * the crossing rule — smallest x whose TIE-AGGREGATED cumulative
    * weight reaches half the group total — is a sorted-array walk, so
    * under the cap the (g, x, w) projection collects once and the
    * median reads off exact integer comparisons (2·cum ≥ W), identical
    * to the frame's RANGE-frame window. None over cap or on any null —
    * the range-repartition chain runs then (PlanSpec pins its shape;
    * AggDriverArmSpec pins arm equality). */
  private[graft] def weightedMedianDriver(s: SparkSession,
      li: DataFrame): Option[DataFrame] = {
    val take = graft.util.SmallInput.take(li.select(col("l_returnflag"),
      col("l_extendedprice"), col("l_quantity").cast("long")))
      .getOrElse(return None)
    if (take.exists(r => r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2)))
      return None
    // per-group primitive arrays: the crossing walk needs per-DISTINCT-x
    // weight sums in ascending x, which a sortable-bits key gives without
    // boxing 600k tuples (IEEE order-preserving long transform; all-
    // positive prices, but the sign flip keeps it general)
    def sortableBits(x: Double): Long = {
      val b = java.lang.Double.doubleToLongBits(x)
      if (b >= 0L) b else b ^ Long.MaxValue
    }
    def fromSortable(k: Long): Double =
      java.lang.Double.longBitsToDouble(if (k >= 0L) k else k ^ Long.MaxValue)
    final class Grp {
      var keys = new Array[Long](64)
      var ws = new Array[Long](64)
      var n = 0
      def add(k: Long, w: Long): Unit = {
        if (n == keys.length) {
          keys = java.util.Arrays.copyOf(keys, n * 2)
          ws = java.util.Arrays.copyOf(ws, n * 2)
        }
        keys(n) = k; ws(n) = w; n += 1
      }
    }
    val byG = new java.util.TreeMap[String, Grp]
    take.foreach { r =>
      var b = byG.get(r.getString(0))
      if (b == null) { b = new Grp; byG.put(r.getString(0), b) }
      b.add(sortableBits(r.getDouble(1)), r.getLong(2))
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
    byG.forEach { (g, grp) =>
      // weight per distinct key, then one primitive sort of the keys
      val wByK = new java.util.HashMap[java.lang.Long, java.lang.Long](grp.n * 2)
      var tot = 0L
      var i = 0
      while (i < grp.n) {
        val k = grp.keys(i); val w = grp.ws(i)
        val prev = wByK.get(k)
        wByK.put(k, if (prev == null) w else prev.longValue + w)
        tot += w
        i += 1
      }
      val uniq = new Array[Long](wByK.size)
      var j = 0
      val it = wByK.keySet().iterator()
      while (it.hasNext) { uniq(j) = it.next().longValue; j += 1 }
      java.util.Arrays.sort(uniq)
      var cum = 0L
      var med = Double.NaN
      var found = false
      i = 0
      while (i < uniq.length && !found) {
        cum += wByK.get(uniq(i)).longValue
        // the whole tie run is already aggregated — the RANGE frame
        if (2L * cum >= tot) { med = fromSortable(uniq(i)); found = true }
        i += 1
      }
      rows += ((g, tot, med))
    }
    Some(s.createDataFrame(rows.toSeq)
      .toDF("g", "total_weight", "weighted_median")
      .orderBy(col("g")))
  }

  /** The distributed-rank chain — q_agg_gini's over-cap arm (PlanSpec
    * pins its one-exchange shape directly). */
  private[graft] def giniDistributed(s: SparkSession, ord: DataFrame): DataFrame = {
    import s.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val ranged = ord
      .select($"o_orderpriority".as("g"), dec4($"o_totalprice").as("x"))
      .repartitionByRange($"g", $"x")
      .withColumn("pid", spark_partition_id())
    val wOff = W.partitionBy($"g").orderBy($"pid")
      .rowsBetween(W.unboundedPreceding, -1)
    val wStart = W.partitionBy($"pid").orderBy($"g")
      .rowsBetween(W.unboundedPreceding, -1)
    val slices = ranged.groupBy($"g", $"pid")
      .agg(count(lit(1)).as("slice_n"))
      .withColumn("rank_off", coalesce(sum($"slice_n").over(wOff), lit(0L)))
      .withColumn("start_ord", coalesce(sum($"slice_n").over(wStart), lit(0L)))
      .select($"g", $"pid", $"rank_off", $"start_ord")
    ranged
      .sortWithinPartitions($"g", $"x")
      .withColumn("ord",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(slices), Seq("g", "pid"))
      .withColumn("rn", $"ord" - $"start_ord" + 1 + $"rank_off")
      .groupBy($"g")
      .agg(count(lit(1)).as("n"),
        sum($"x").as("sx"),
        sum($"rn".cast("decimal(18,0)") * $"x").as("srx"))
      .select($"g".as("o_orderpriority"), $"n",
        r4((lit(2.0) * $"srx".cast("double") -
            ($"n" + 1).cast("double") * $"sx".cast("double")) /
           ($"n".cast("double") * $"sx".cast("double"))).as("gini"))
      .orderBy($"o_orderpriority")
  }

  /** In-memory arm behind q_agg_gini (optimization round): ranks are
    * the sorted positions 1..n (Σ rank·x is invariant under tie
    * permutation — the frame's own determinism argument), sums run in
    * exact BigDecimal (the frame's DECIMAL accumulators), and the final
    * Pearson-style quotient + HALF_UP round(·,4) replicate the frame's
    * double expression bit-for-bit. None over cap / on nulls. */
  private[graft] def giniDriver(s: SparkSession,
      ord: DataFrame): Option[DataFrame] = {
    val take = graft.util.SmallInput.take(
      ord.select(col("o_orderpriority"), dec4(col("o_totalprice"))))
      .getOrElse(return None)
    if (take.exists(r => r.isNullAt(0) || r.isNullAt(1)))
      return None
    val byG = new java.util.TreeMap[String, scala.collection.mutable.ArrayBuffer[java.math.BigDecimal]]
    take.foreach { r =>
      var b = byG.get(r.getString(0))
      if (b == null) {
        b = scala.collection.mutable.ArrayBuffer.empty[java.math.BigDecimal]
        byG.put(r.getString(0), b)
      }
      b += r.getDecimal(1)
    }
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double)]
    byG.forEach { (g, buf) =>
      val xs: Array[java.math.BigDecimal] = buf.toArray
      java.util.Arrays.sort(xs, java.util.Comparator.naturalOrder[java.math.BigDecimal]())
      val n = xs.length.toLong
      var sx = java.math.BigDecimal.ZERO
      var srx = java.math.BigDecimal.ZERO
      var i = 0
      while (i < xs.length) {
        sx = sx.add(xs(i))
        srx = srx.add(xs(i).multiply(java.math.BigDecimal.valueOf(i + 1L)))
        i += 1
      }
      val sxD = sx.doubleValue
      val srxD = srx.doubleValue
      val gini = java.math.BigDecimal
        .valueOf((2.0 * srxD - (n + 1).toDouble * sxD) / (n.toDouble * sxD))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      rows += ((g, n, gini))
    }
    Some(s.createDataFrame(rows.toSeq)
      .toDF("o_orderpriority", "n", "gini")
      .orderBy(col("o_orderpriority")))
  }

  /** TPC-H-Q1-style pricing summary. Exact decimal pipeline:
    * (18,4)*(19,4) products stay within precision 38 (no Spark precision-loss
    * rewrite), the (1-d)*(1+t) factor is cast to DECIMAL(18,8) (exact — inputs
    * have ≤4 decimals), giving a charge of scale 12 still ≤ precision 38.
    */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qty   = dec4($"l_quantity")
    val price = dec4($"l_extendedprice")
    val disc  = dec4($"l_discount")
    val tax   = dec4($"l_tax")
    val discPrice = price * (lit(1) - disc)
    val factor    = dec8((lit(1) - disc) * (lit(1) + tax))
    val charge    = price * factor
    lineitem(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        r4(sum(qty)).as("sum_qty"),
        r4(sum(price)).as("sum_base_price"),
        r4(sum(discPrice)).as("sum_disc_price"),
        r4(sum(charge)).as("sum_charge"),
        round(sum(qty).cast("double") / count(lit(1)), 4).as("avg_qty"),
        round(sum(price).cast("double") / count(lit(1)), 4).as("avg_price"),
        round(sum(disc).cast("double") / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** The GROUPING()-flagged cube, parameterized only by the table name —
    * Spark runs it on a temp view, the oracle the identical text on
    * DuckDB's `orders` view. */
  private def groupingIdSql(table: String): String =
    s"""SELECT o_orderstatus, o_orderpriority,
              CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
              CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
              CAST(count(*) AS BIGINT) AS n
       FROM $table
       GROUP BY CUBE (o_orderstatus, o_orderpriority)
       ORDER BY g_status, g_prio,
                o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""

  val oracle: Map[String, String] = Map(
    "q_agg_grouping_id" -> groupingIdSql("orders"),

    // same Scala-generated probability literals — no runtime log10
    "q_agg_benford" ->
      s"""WITH probs(digit, p) AS (VALUES $benfordProbsSql),
         obs AS (
           SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
                  CAST(count(*) AS BIGINT) AS obs
           FROM orders GROUP BY 1),
         cells AS (
           SELECT p.digit, coalesce(o.obs, 0) AS obs, p.p,
                  CAST(sum(coalesce(o.obs, 0)) OVER () AS DOUBLE) AS n
           FROM probs p LEFT JOIN obs o ON o.digit = p.digit),
         contrib AS (
           SELECT digit, obs,
                  CAST(floor(n * p * 1e4 + 0.5) AS BIGINT) AS exp_e4,
                  CAST(floor(((obs - n * p) * (obs - n * p) / (n * p)) * 1e8 + 0.5) AS BIGINT) AS chisq_micro
           FROM cells)
         SELECT digit, CAST(sum(obs) AS BIGINT) AS obs,
                CAST(sum(exp_e4) AS BIGINT) AS exp_e4,
                CAST(sum(chisq_micro) AS BIGINT) AS chisq_micro
         FROM (SELECT digit, obs, exp_e4, chisq_micro FROM contrib
               UNION ALL
               SELECT -1, obs, exp_e4, chisq_micro FROM contrib)
         GROUP BY digit
         ORDER BY digit""",

    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_base_price,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 4) AS sum_disc_price,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST((1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4))) AS DECIMAL(18,8))) AS DOUBLE), 4) AS sum_charge,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_price,
                round(CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_disc,
                count(*) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q_agg_distinct" ->
      """SELECT o_orderpriority,
                count(DISTINCT o_custkey) AS n_cust,
                CAST(sum(DISTINCT o_custkey) AS BIGINT) AS sum_cust
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_agg_multi_distinct" ->
      """SELECT o_orderpriority,
                count(DISTINCT o_custkey) AS n_cust,
                count(DISTINCT o_orderstatus) AS n_status,
                count(*) AS n_orders
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_agg_having" ->
      """SELECT l_partkey,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty,
                count(*) AS n_items
         FROM lineitem
         GROUP BY l_partkey
         HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > 900
         ORDER BY l_partkey""",

    "q_agg_rollup" ->
      """SELECT CAST(grouping(r_name) AS INT) AS gr,
                CAST(grouping(n_name) AS INT) AS gn,
                r_name, n_name,
                count(*) AS n_cust,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_bal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY gr, gn, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""",

    "q_agg_cube" ->
      """SELECT CAST(grouping(l_returnflag) AS INT) AS gf,
                CAST(grouping(l_linestatus) AS INT) AS gs,
                l_returnflag, l_linestatus,
                count(*) AS n_items,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY gf, gs, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q_agg_grouping_sets" ->
      """SELECT CAST(grouping(l_returnflag) AS INT) AS gf,
                CAST(grouping(l_linestatus) AS INT) AS gs,
                l_returnflag, l_linestatus,
                count(*) AS n_items,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY gf, gs, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",

    "q_agg_stats" ->
      """SELECT l_returnflag,
                round(CAST(min(l_quantity) AS DOUBLE), 4) AS min_qty,
                round(CAST(max(l_quantity) AS DOUBLE), 4) AS max_qty,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS avg_qty,
                round(CAST(stddev_samp(l_quantity) AS DOUBLE), 4) AS sd_qty,
                round(CAST(var_samp(l_quantity) AS DOUBLE), 4) AS var_qty,
                count(*) AS n_items
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_collect" ->
      """SELECT l_orderkey,
                array_to_string(list(l_linenumber ORDER BY l_linenumber), '|') AS lns,
                array_to_string(list_sort(list(DISTINCT l_returnflag)), '|') AS flags
         FROM lineitem
         WHERE l_orderkey < 100
         GROUP BY l_orderkey ORDER BY l_orderkey""",

    "q_agg_corr" ->
      """SELECT l_returnflag, n,
                round((nd * sxyd - sxd * syd)
                      / (sqrt(nd * sxxd - sxd * sxd)
                         * sqrt(nd * syyd - syd * syd)), 4) AS corr_qty_price
         FROM (
           SELECT l_returnflag,
                  count(*) AS n,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxd,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS syd,
                  -- DECIMAL(19,4): int128 storage so the product doesn't
                  -- overflow DuckDB's int64 decimal multiply; 19+19=38 ≤ max
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxyd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxxd,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS syyd
           FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag""",

    "q_agg_regression" ->
      """SELECT l_returnflag, n,
                round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 4) AS slope,
                round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd) / nd, 4) AS intercept
         FROM (
           SELECT l_returnflag,
                  count(*) AS n,
                  CAST(count(*) AS DOUBLE) AS nd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxd,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS syd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4))) AS DOUBLE) AS sxyd,
                  CAST(sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4))) AS DOUBLE) AS sxxd
           FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag""",

    "q_agg_moments" ->
      """SELECT o_orderpriority, n,
                round(mu, 4) AS mean,
                round(m3 / pow(m2, 1.5), 6) AS skewness,
                round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis
         FROM (
           SELECT o_orderpriority, n, nd, mu,
                  d2 / nd - mu * mu AS m2,
                  d3 / nd - 3.0 * mu * (d2 / nd) + 2.0 * mu * mu * mu AS m3,
                  d4 / nd - 4.0 * mu * (d3 / nd) + 6.0 * mu * mu * (d2 / nd)
                    - 3.0 * mu * mu * mu * mu AS m4
           FROM (
             SELECT o_orderpriority, n, nd, d1 / nd AS mu, d1, d2, d3, d4
             FROM (
               SELECT o_orderpriority,
                      count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
                      CAST(sum(x) AS DOUBLE) AS d1,
                      CAST(sum(x * x) AS DOUBLE) AS d2,
                      CAST(sum(x * x * x) AS DOUBLE) AS d3,
                      CAST(sum(x * x * x * x) AS DOUBLE) AS d4
               FROM (SELECT o_orderpriority,
                            CAST(floor(o_totalprice) AS HUGEINT) AS x
                     FROM orders)
               GROUP BY 1)))
         ORDER BY o_orderpriority""",

    "q_agg_pivot" ->
      """SELECT l_returnflag,
                round(CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS qty_f,
                round(CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_reshape_unpivot" ->
      """SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value FROM orders
         UNION ALL
         SELECT o_orderkey, 'custkey_d' AS metric, CAST(o_custkey AS DOUBLE) AS value FROM orders
         ORDER BY o_orderkey, metric""",

    "q_agg_conditional" ->
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
                round(CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE), 4) AS open_price,
                CAST(sum(CASE WHEN l_discount = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nodisc
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_agg_histogram" ->
      """SELECT CAST(least(floor(o_totalprice / 25000.0), 15.0) AS INT) AS bucket,
                count(*) AS n
         FROM orders GROUP BY 1 ORDER BY bucket""",

    "q_agg_mode" ->
      """SELECT o_orderstatus, mode_priority, n FROM (
           SELECT o_orderstatus, o_orderpriority AS mode_priority, count(*) AS n,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY count(*) DESC, o_orderpriority) AS rn
           FROM orders GROUP BY o_orderstatus, o_orderpriority)
         WHERE rn = 1
         ORDER BY o_orderstatus""",

    "q_outlier_zscore" ->
      """WITH stats AS (
           SELECT event_type, count(*) AS n,
                  sum(CAST(value AS DECIMAL(18,4))) AS sx,
                  sum(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS sxx
           FROM events GROUP BY event_type),
         s2 AS (
           SELECT event_type,
                  CAST(sx AS DOUBLE) / n AS mean,
                  sqrt(greatest((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                       / (n - 1), 0)) AS sd
           FROM stats)
         SELECT e.event_type, count(*) AS n_events,
                CAST(sum(CASE WHEN abs(value - mean) > 2.0 * sd THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                CAST(floor(CAST(min(mean) AS DOUBLE) * 10000) AS BIGINT) AS mean_e4,
                CAST(floor(CAST(min(sd) AS DOUBLE) * 10000) AS BIGINT) AS sd_e4
         FROM events e JOIN s2 USING (event_type)
         GROUP BY e.event_type
         ORDER BY e.event_type""",

    "q_outlier_mad" ->
      """WITH cnt AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
         med AS (
           SELECT r.event_type, r.value AS med FROM (
             SELECT event_type, value,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY value, event_id) AS rn
             FROM events) r JOIN cnt USING (event_type)
           WHERE r.rn = (cnt.n + 1) // 2),
         dev AS (SELECT e.event_id, e.event_type, e.value, e.value - m.med AS d
                 FROM events e JOIN med m USING (event_type)),
         madt AS (
           SELECT r.event_type, abs(r.d) AS mad FROM (
             SELECT event_type, event_id, d,
                    row_number() OVER (PARTITION BY event_type
                      ORDER BY abs(d), event_id) AS rn
             FROM dev) r JOIN cnt USING (event_type)
           WHERE r.rn = (cnt.n + 1) // 2),
         flagged AS (
           SELECT d.event_id, d.event_type, d.value,
                  0.6745 * d.d / m.mad AS rz
           FROM dev d JOIN madt m USING (event_type)
           WHERE m.mad > 0)
         SELECT event_id, event_type, value,
                CAST(floor(rz * 10000) AS BIGINT) AS rz_e4
         FROM flagged
         WHERE abs(rz) > 3.5
         ORDER BY event_id""",

    "q_agg_listagg" ->
      """SELECT o_orderpriority,
                string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
                count(*) AS n
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    // Exact column fully checked; the HLL estimate is oracled THROUGH the
    // tolerance predicate — TRUE here means "Spark's estimate landed within
    // ±5% of exact", which DuckDB can assert without reproducing the sketch.
    "q_agg_approx_distinct" ->
      """SELECT event_type,
                count(DISTINCT user_id) AS exact_users,
                TRUE AS approx_ok
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",

    // exact median via the q_agg_percentiles interpolation (bit-identical
    // formula); the sketch estimate is oracled through the tolerance
    // predicate, which DuckDB asserts as TRUE without reproducing the sketch
    "q_agg_approx_quantile" ->
      """WITH ranked AS (
           SELECT l_returnflag, l_extendedprice AS x,
                  row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn
           FROM lineitem),
         counts AS (SELECT l_returnflag, count(*) AS n FROM ranked GROUP BY l_returnflag),
         pos AS (
           SELECT l_returnflag, n,
                  CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) + 1 AS lo,
                  least(CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS BIGINT) + 2, n) AS hi,
                  CAST(0.5 AS DOUBLE) * (n - 1) - floor(CAST(0.5 AS DOUBLE) * (n - 1)) AS g
           FROM counts)
         SELECT pos.l_returnflag,
                a.x + (b.x - a.x) * g AS exact_p50,
                TRUE AS approx_ok
         FROM pos
         JOIN ranked a ON a.l_returnflag = pos.l_returnflag AND a.rn = pos.lo
         JOIN ranked b ON b.l_returnflag = pos.l_returnflag AND b.rn = pos.hi
         ORDER BY pos.l_returnflag""",

    // day-grain + exact columns fully checked; the merged-sketch estimate
    // is oracled through the tolerance predicate (TRUE ⇔ union-of-daily-
    // sketches landed within ±5% of exact — assertable without sketches)
    "q_agg_bool" ->
      """SELECT o_orderpriority,
                bool_and(o_totalprice < 500000) AS all_under_500k,
                bool_or(o_totalprice > 400000) AS any_over_400k,
                CAST(count(*) FILTER (o_totalprice > 300000 AND o_orderstatus = 'O')
                  AS BIGINT) AS n_large_open,
                CAST(count(*) AS BIGINT) AS n
         FROM orders
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    "q_agg_weighted_median" ->
      """WITH t AS (
           SELECT l_returnflag AS g, l_extendedprice AS x,
                  CAST(l_quantity AS BIGINT) AS w
           FROM lineitem),
         cum AS (
           SELECT g, x,
                  sum(w) OVER (PARTITION BY g ORDER BY x
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
                  sum(w) OVER (PARTITION BY g) AS tot_w
           FROM t)
         SELECT g, CAST(min(tot_w) AS BIGINT) AS total_weight,
                min(x) AS weighted_median
         FROM cum
         WHERE 2 * c >= tot_w
         GROUP BY g
         ORDER BY g""",

    "q_agg_incremental" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value,
                round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                      / count(*), 4) AS avg_value,
                round(CAST(min(value) AS DOUBLE), 4) AS min_value,
                round(CAST(max(value) AS DOUBLE), 4) AS max_value
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",

    "q_agg_entropy" ->
      """WITH cu AS (
           SELECT event_type, user_id, count(*) AS c
           FROM events GROUP BY 1, 2),
         agg AS (
           SELECT event_type,
                  CAST(count(*) AS BIGINT) AS n_users,
                  CAST(sum(c) AS BIGINT) AS n,
                  sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clc
           FROM cu GROUP BY 1)
         SELECT event_type, n_users, n,
                CAST(floor((ln(CAST(n AS DOUBLE)) - clc / n) * 10000) AS BIGINT)
                  AS entropy_e4
         FROM agg
         ORDER BY event_type""",

    "q_agg_gini" ->
      """WITH ranked AS (
           SELECT o_orderpriority AS g,
                  CAST(o_totalprice AS DECIMAL(18,4)) AS x,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice) AS rn
           FROM orders),
         sums AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
                  sum(CAST(rn AS DECIMAL(18,0)) * x) AS srx
           FROM ranked GROUP BY g)
         SELECT g AS o_orderpriority, n,
                round((2.0 * CAST(srx AS DOUBLE) -
                       CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) /
                      (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS gini
         FROM sums
         ORDER BY o_orderpriority""",

    "q_agg_sketch_intersect" ->
      """SELECT CAST(a.n AS BIGINT) AS n_click,
                CAST(b.n AS BIGINT) AS n_purchase,
                CAST(c.n AS BIGINT) AS n_both,
                TRUE AS approx_ok
         FROM (SELECT count(DISTINCT user_id) AS n FROM events
               WHERE event_type = 'click') a,
              (SELECT count(DISTINCT user_id) AS n FROM events
               WHERE event_type = 'purchase') b,
              (SELECT count(*) AS n FROM (
                 SELECT user_id FROM events WHERE event_type = 'click'
                 INTERSECT
                 SELECT user_id FROM events WHERE event_type = 'purchase')) c""",

    "q_agg_kmv_intersect" ->
      """WITH d AS (
           SELECT DISTINCT p.p_brand AS st, o.o_custkey AS mem
           FROM lineitem l
           JOIN part p ON p.p_partkey = l.l_partkey
             AND p.p_brand IN ('Brand#11', 'Brand#22')
           JOIN orders o ON o.o_orderkey = l.l_orderkey)
         SELECT a.n AS n_a, b.n AS n_b, u.n AS n_union,
                a.n + b.n - u.n AS n_inter,
                TRUE AS ok_a, TRUE AS ok_b, TRUE AS ok_union, TRUE AS ok_inter
         FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM d WHERE st = 'Brand#11') a,
              (SELECT CAST(count(*) AS BIGINT) AS n FROM d WHERE st = 'Brand#22') b,
              (SELECT CAST(count(DISTINCT mem) AS BIGINT) AS n FROM d) u""",

    "q_agg_sketch_rollup" ->
      """SELECT event_type,
                count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS n_days,
                count(*) AS n_events,
                count(DISTINCT user_id) AS exact_users,
                TRUE AS approx_ok
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",

    "q_agg_bitwise" ->
      """SELECT o_orderpriority,
                CAST(bit_or(k) AS BIGINT) AS flags_or,
                CAST(bit_and(k) AS BIGINT) AS flags_and,
                CAST(bit_xor(k) AS BIGINT) AS flags_xor,
                count(*) AS n
         FROM (SELECT o_orderpriority, o_orderkey % 256 AS k FROM orders)
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",

    "q_profile_skew" ->
      """WITH c AS MATERIALIZED (
           SELECT l_orderkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
         s AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
                      COUNT(*) AS n_keys,
                      CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c),
         h AS (SELECT COUNT(*) AS heavy_keys FROM c, s
                WHERE 2 * cnt * n_keys > 3 * n_rows),
         t AS (SELECT k AS top1_key, CAST(cnt AS BIGINT) AS top1_cnt
                 FROM c ORDER BY cnt DESC, k LIMIT 1)
         SELECT s.n_rows, s.n_keys, s.max_cnt,
                round(CAST(s.n_rows AS DOUBLE) / s.n_keys, 4) AS mean_cnt,
                round(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows, 4)
                  AS max_over_mean,
                h.heavy_keys, t.top1_key, t.top1_cnt
         FROM s, h, t""",

    "q_profile_table" ->
      """WITH w AS (SELECT
           count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_key,
           count(DISTINCT o_orderkey) AS nd_key,
           CAST(min(o_orderkey) AS VARCHAR) AS mn_key,
           CAST(max(o_orderkey) AS VARCHAR) AS mx_key,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_cust,
           count(DISTINCT o_custkey) AS nd_cust,
           CAST(min(o_custkey) AS VARCHAR) AS mn_cust,
           CAST(max(o_custkey) AS VARCHAR) AS mx_cust,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_status,
           count(DISTINCT o_orderstatus) AS nd_status,
           min(o_orderstatus) AS mn_status,
           max(o_orderstatus) AS mx_status,
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_prio,
           count(DISTINCT o_orderpriority) AS nd_prio,
           min(o_orderpriority) AS mn_prio,
           max(o_orderpriority) AS mx_prio,
           CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_date,
           count(DISTINCT CAST(o_orderdate AS DATE)) AS nd_date,
           CAST(min(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mn_date,
           CAST(max(CAST(o_orderdate AS DATE)) AS VARCHAR) AS mx_date,
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_price,
           count(DISTINCT o_totalprice) AS nd_price
         FROM orders)
         SELECT col_name, n_rows, n_null, n_distinct, min_v, max_v FROM (
           SELECT 'o_orderkey' AS col_name, n_rows, nn_key AS n_null, nd_key AS n_distinct, mn_key AS min_v, mx_key AS max_v FROM w
           UNION ALL SELECT 'o_custkey', n_rows, nn_cust, nd_cust, mn_cust, mx_cust FROM w
           UNION ALL SELECT 'o_orderstatus', n_rows, nn_status, nd_status, mn_status, mx_status FROM w
           UNION ALL SELECT 'o_orderpriority', n_rows, nn_prio, nd_prio, mn_prio, mx_prio FROM w
           UNION ALL SELECT 'o_orderdate', n_rows, nn_date, nd_date, mn_date, mx_date FROM w
           UNION ALL SELECT 'o_totalprice', n_rows, nn_price, nd_price, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM w)
         ORDER BY col_name""",

    "q_agg_percentiles" ->
      """WITH ranked AS (
           SELECT l_returnflag, l_extendedprice AS x,
                  row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn
           FROM lineitem),
         counts AS (SELECT l_returnflag, count(*) AS n FROM ranked GROUP BY l_returnflag),
         ps AS (SELECT unnest(CAST([0.25, 0.5, 0.75] AS DOUBLE[])) AS p),
         pos AS (
           SELECT l_returnflag, p, n,
                  CAST(floor(p * (n - 1)) AS BIGINT) + 1 AS lo,
                  least(CAST(floor(p * (n - 1)) AS BIGINT) + 2, n) AS hi,
                  p * (n - 1) - floor(p * (n - 1)) AS g
           FROM counts CROSS JOIN ps)
         SELECT pos.l_returnflag, p, a.x + (b.x - a.x) * g AS q
         FROM pos
         JOIN ranked a ON a.l_returnflag = pos.l_returnflag AND a.rn = pos.lo
         JOIN ranked b ON b.l_returnflag = pos.l_returnflag AND b.rn = pos.hi
         ORDER BY pos.l_returnflag, p"""
  )
}
