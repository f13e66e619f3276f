package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.queries.Sim

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three tiers (SURVEY.md north star; q_sim_knn is the driver-checked
  * correctness baseline):
  *
  *   - bruteForceTopK: exact — O(probes × corpus), corpus scan fully
  *     parallel, probes broadcast, per-probe top-k via window rank. The
  *     baseline every approximate variant's recall is measured against.
  *   - lshTopK: random-hyperplane LSH — corpus bucketed by the sign
  *     pattern of `planes` projections; each probe only scores its own
  *     bucket. At 100 TB the bucket join replaces the full cross product;
  *     recall is tuned by plane count (fewer planes → bigger buckets) and
  *     multi-probe (probe neighbors' buckets too — future work).
  *   - ivfTopK: IVF-style coarse quantization — a centroid table (here:
  *     per-label mean, i.e. labels act as the coarse codebook) is
  *     broadcast; each probe searches only its nearest centroid's
  *     partition (nprobe=1).
  *
  * Hyperplanes are generated from a fixed seed so plans and tests are
  * deterministic.
  */
object Ann {

  /** Deterministic pseudo-random unit hyperplanes (seeded). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** Sign-pattern LSH bucket id of a vector column under `planes`. */
  def lshBucket(vec: Column, planes: Seq[Seq[Float]]): Column =
    concat(planes.map { p =>
      when(Sim.dot(vec, typedlit(p)) >= 0, "1").otherwise("0")
    }: _*)

  /** Exact brute-force top-k: probes × corpus, rank by cosine. */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    c.crossJoin(broadcast(p))
      .select(col("probe_id"), col("cand_id"),
        round(Sim.cosine(col("pv"), col("cv")), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** LSH-bucketed top-k: candidates restricted to the probe's bucket. */
  def lshTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
      lshBucket(col("embedding"), planes).as("pb"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      lshBucket(col("embedding"), planes).as("cb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(p), col("cb") === col("pb"))
      .select(col("probe_id"), col("cand_id"),
        round(Sim.cosine(col("pv"), col("cv")), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Multi-probe LSH top-k: each probe also searches every bucket at
    * hamming distance 1 from its own (flip one sign bit) — the standard
    * recall boost that trades nPlanes+1 bucket lookups for not shrinking
    * buckets. Probe side explodes to its probe set (tiny); the corpus is
    * still touched only where buckets match. */
  def lshMultiProbeTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    // probe set = own bucket ∪ one-bit flips, built from substring/when
    // composition (nPlanes is a plan-time constant) so the expansion stays
    // inside whole-stage codegen — no Scala UDF in the probe path.
    val base = lshBucket(col("embedding"), planes)
    def flipBit(i: Int): Column = concat(
      substring(base, 1, i),
      when(substring(base, i + 1, 1) === "1", "0").otherwise("1"),
      substring(base, i + 2, nPlanes - i - 1))
    val probeSet = array(base +: (0 until nPlanes).map(flipBit): _*)
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
      explode(probeSet).as("pb"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("embedding").as("cv"),
      lshBucket(col("embedding"), planes).as("cb"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(p), col("cb") === col("pb"))
      .select(col("probe_id"), col("cand_id"),
        round(Sim.cosine(col("pv"), col("cv")), 6).as("cos"))
      .dropDuplicates("probe_id", "cand_id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Per-row array of (cosine, cluster) structs against every centroid —
    * the codebook unrolls into one expression, fully narrow, fused with the
    * scan. This is why the codebook lives driver-side as plain values: k
    * centroids are broadcast-scale by definition. Null cosines (zero
    * vectors) rank below every real score. */
  private def centroidScores(codebook: Seq[(Int, Seq[Float])]): Column =
    array(codebook.map { case (id, v) =>
      struct(
        coalesce(Sim.cosine(col("embedding"), typedlit(v)), lit(-2.0)).as("cos"),
        lit(id).as("cluster"))
    }: _*)

  /** Nearest-centroid assignment WITHOUT a shuffle: `array_max` picks the
    * best scored struct (ordering compares cos first, centroid id as
    * tie-break) — no crossJoin + window. */
  def assign(corpus: DataFrame, codebook: Seq[(Int, Seq[Float])]): DataFrame =
    corpus.withColumn("cluster",
      array_max(centroidScores(codebook)).getField("cluster"))

  /** Top-nprobe centroid routing: each probe row explodes into its nprobe
    * nearest clusters (sorted scored array, sliced) — the standard IVF
    * recall lever: a probe near a Voronoi boundary also searches the
    * runner-up cell. Still narrow; output is nprobe rows per probe. */
  def route(probes: DataFrame, codebook: Seq[(Int, Seq[Float])],
      nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= codebook.size,
      s"nprobe must be in [1, ${codebook.size}], got $nprobe")
    probes
      .withColumn("rt",
        explode(slice(reverse(array_sort(centroidScores(codebook))), 1, nprobe)))
      .withColumn("cluster", col("rt.cluster"))
      .drop("rt")
  }

  /** k-means‖-style seeding: ONE deterministic oversample pass (md5-order
    * top 20·k — a TakeOrdered, not a full sort) followed by DRIVER-SIDE
    * farthest-first over the sample. Same spread-out-seeds property as full
    * farthest-first (no two seeds land in one dense cluster), at O(1)
    * corpus scans instead of k — the previous init ran k full scans, one
    * per seed, which dominates init cost at 100 TB. Driver work is
    * O(sample·k·dim) on ≤ 20·k vectors — trivially broadcast-scale. */
  private[operators] def initSeeds(corpus: DataFrame, k: Int): Seq[Seq[Float]] = {
    val rawSample = corpus.orderBy(md5(col("vec_id").cast("string")))
      .limit(math.max(k, 20 * k))
      .select(col("embedding")).collect().map(_.getSeq[Float](0)).toIndexedSeq
    // zero vectors have no direction: cos() yields its -2.0 sentinel
    // against them, which would defeat the duplicate-seed stop below (a
    // zero head keeps best(idx) at -2.0 forever → k copies of the zero
    // vector as "centroids"). They can never be meaningful cosine
    // centroids, so they don't seed.
    val sample = rawSample.filter(_.exists(_ != 0.0f))
    require(sample.nonEmpty,
      "kmeans init: corpus sample has no non-zero embedding to seed from")
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) -2.0 else dot / math.sqrt(na * nb)
    }
    var seeds = Vector(sample.head)
    // max similarity of each sample point to any chosen seed
    val best = Array.tabulate(sample.size)(i => cos(sample(i), sample.head))
    var exhausted = false
    while (seeds.size < k && !exhausted) {
      var idx = 0
      var i = 1
      while (i < sample.size) { if (best(i) < best(idx)) idx = i; i += 1 }
      // The farthest remaining point already coincides (cosine 1) with a
      // chosen seed: the sample has < k distinct directions. Stop rather
      // than emit duplicate centroids — callers size the codebook off the
      // returned seq, and k identical centroids would mean guaranteed-empty
      // clusters plus ambiguous routing ties.
      if (best(idx) >= 1.0 - 1e-9) exhausted = true
      else {
        val next = sample(idx)
        seeds :+= next
        i = 0
        while (i < sample.size) {
          best(i) = math.max(best(i), cos(sample(i), next)); i += 1
        }
      }
    }
    seeds
  }

  /** Deterministic Lloyd's k-means over the embedding column — the real
    * IVF codebook builder (the label-routed `centroids` below is the
    * degenerate case where labels are already a clustering). Each
    * iteration is ONE narrow assignment pass + ONE groupBy shuffle
    * (per-dimension means); centroids round-trip through the driver
    * because k·dim doubles is broadcast-sized. Init is [[initSeeds]]:
    * one-pass deterministic oversample + driver-side farthest-first, which
    * avoids the two-seeds-in-one-cluster local optimum of arbitrary init
    * without per-seed corpus scans. Empty clusters keep their previous
    * centroid. */
  def kmeans(corpus: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Float])] = {
    // Lloyd re-reads the assignment input on every iteration; uncached,
    // each of the `iters` rounds (plus seeding) is a full corpus re-scan
    // from source — at 100 TB that multiplies the dominant IO term by the
    // iteration count. cache() = MEMORY_AND_DISK: executors keep what fits
    // and spill the rest, strictly cheaper than a source re-read.
    val pinned = corpus.cache()
    try {
      var codebook: Seq[(Int, Seq[Float])] = initSeeds(pinned, k).zipWithIndex.map(_.swap)
      (0 until iters).foreach { _ =>
        val means = assign(pinned, codebook)
          .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("cluster"), col("pos"))
          .agg(avg(col("x")).as("m"))
          .groupBy(col("cluster"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cluster"),
            transform(col("pm"), e => e.getField("m").cast("float")).as("c"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
        codebook = codebook.map { case (i, old) => i -> means.getOrElse(i, old) }
      }
      codebook
    } finally corpus.unpersist(blocking = false)
  }

  /** IVF over an explicit k-means codebook: corpus rows are routed to their
    * single nearest centroid (narrow), probes to their nprobe nearest
    * ([[route]]); candidates meet in an equi-join on cluster id — the full
    * ANN shape at scale: cluster count bounds every probe's candidate set,
    * and nprobe is the recall lever (each candidate lives in exactly one
    * cluster, so probing several clusters never duplicates a candidate). */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      codebook: Seq[(Int, Seq[Float])], nprobe: Int = 1): DataFrame = {
    val c = assign(corpus, codebook)
      .select(col("vec_id").as("cand_id"), col("cluster"), col("embedding").as("cv"))
    val p = route(probes, codebook, nprobe)
      .select(col("vec_id").as("probe_id"), col("cluster"), col("embedding").as("pv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(p), Seq("cluster"))
      .select(col("probe_id"), col("cand_id"),
        round(Sim.cosine(col("pv"), col("cv")), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /** Oracle-checkable IVF top-k (q_ann_ivf): the exact [[ivfTopK]] plan
    * shape — broadcast codebook, narrow routing, cluster equi-join, exact
    * rank inside routed cells — made engine-portable by quantizing the
    * codebook to 4 decimal places. round(avg, 4) yields the identical
    * IEEE double in Spark and DuckDB (proven by q_embed_centroid), so the
    * routing cosines are computed over bit-identical centroids with the
    * same left-fold double algebra, and routing is fully deterministic
    * (rounded score desc, label asc). nprobe=2, k=3: a probe near a
    * Voronoi boundary also searches the runner-up cell.
    *
    * Scale shape: the codebook is k·dim doubles (broadcast by
    * definition); corpus rows never move — only the tiny routed probe set
    * is broadcast into the label-partitioned equi-join; the window ranks
    * within (probe, routed cells) candidate sets, never the corpus. */
  private def ivfOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val probes = e.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"embedding".as("pv"))
    val corpus = e.filter($"vec_id" >= 5)
      .select($"vec_id".as("cand_id"), $"label", $"embedding".as("cv"))
    // 4dp-quantized per-label codebook, assembled in dimension order
    val cents = corpus
      .select($"label", posexplode($"cv").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg(round(avg($"x"), 4).as("m"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"label".as("route"), transform($"pm", _.getField("m")).as("centroid"))
    // routing cosine over the double-typed centroid: left-fold double
    // dot (the algebra the DuckDB list_zip/list_sum oracle mirrors) —
    // the native graft_cosine kernel is float-array-typed, so the HOF
    // form is the portable one here
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    def cosD(a: Column, b: Column): Column =
      dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))
    val wc = Window.partitionBy($"probe_id").orderBy($"ccos".desc, $"route")
    val routed = probes.crossJoin(broadcast(cents))
      .select($"probe_id", $"pv", $"route", round(cosD($"pv", $"centroid"), 4).as("ccos"))
      .withColumn("crn", row_number().over(wc))
      .filter($"crn" <= 2)
      .select($"probe_id", $"pv", $"route")
    val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"cand_id")
    corpus.join(broadcast(routed), $"label" === $"route")
      .select($"probe_id", $"cand_id", $"label",
        round(Sim.cosine($"pv", $"cv"), 4).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"probe_id", $"cand_id", $"label", $"cos", $"rn")
      .orderBy($"probe_id", $"rn")
  }

  /** Product-quantization ANN (q_ann_pq) — the memory-scale path BEYOND
    * IVF: candidates are stored as M=4 one-byte codes (one per 16-dim
    * subspace) instead of 64 floats (64× compression at real codebook
    * sizes), and probe↔candidate scores are reconstructed via a LOOKUP
    * TABLE, never a full-vector dot [Jégou et al., PAMI 2011].
    *
    * Structure (engine-portable by the q_ann_ivf devices):
    *  1. per-(subspace, label) codebook = 4dp-quantized mean subvector —
    *     round(avg, 4) is bit-identical cross-engine;
    *  2. ENCODE: each corpus subvector → argmin 4dp-rounded L2 distance
    *     (tie on label) — a broadcast-codebook join + in-group rank, the
    *     narrow pass that would run once at ingest;
    *  3. ADC: each probe precomputes micro-unit (floor(dot·1e6 + 0.5))
    *     inner products against ALL M·k codebook entries — a
    *     probes × (M·k)-row broadcast LUT — and a candidate's score is
    *     the BIGINT SUM of M lut hits on its codes: addition-order-proof,
    *     and the scan touches only (cand, m, code) ints, never vectors;
    *  4. top-3 per probe by (score_micro desc, cand_id).
    *
    * Scale shape: the codebook (M·k subvectors) and the LUT (probes·M·k
    * longs) are broadcast by construction; the per-candidate work is M
    * integer lookups + a 4-term integer sum — the PQ scan is bounded by
    * code bytes, not embedding bytes, which is the entire point at 100 TB
    * (the 64-float corpus never moves after encode). */
  def pqTopK(probes: DataFrame, corpus: DataFrame,
      mSub: Int, subDim: Int, k: Int,
      prebuilt: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val subIdx = (0 until mSub).map(m => slice(col("embedding"), m * subDim + 1, subDim))
    def tall(df: DataFrame) = df
      .select(col("vec_id"), col("label"),
        posexplode(array(subIdx: _*)).as(Seq("m", "sub")))
    val probeTall = tall(probes)
      .select(col("vec_id").as("probe_id"), col("m"), col("sub").as("pv"))
    // 1.+2. codebook + encode — the persisted PQ index ([[pqFit]]); the
    // query layer passes the memoized artifact under the bench pool
    val (cents, codesL) = prebuilt.getOrElse(pqFit(corpus, mSub, subDim))
    val codes = codesL.select(col("cand_id"), col("m"), col("code"))
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    // 3. ADC lookup table: micro-unit probe·centroid inner products
    val lut = probeTall.join(broadcast(cents), Seq("m"))
      .select(col("probe_id"), col("m"), col("code"),
        floor(dotD(col("pv"), col("cent")) * 1e6 + 0.5).cast("long").as("dot_micro"))
    // 4. code scan: M integer lookups + BIGINT sum per (probe, candidate)
    val wTop = Window.partitionBy(col("probe_id"))
      .orderBy(col("score_micro").desc, col("cand_id"))
    codes.join(broadcast(lut), Seq("m", "code"))
      .groupBy(col("probe_id"), col("cand_id"))
      .agg(sum(col("dot_micro")).as("score_micro"))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= k)
      .select(col("probe_id"), col("cand_id"), col("rn"),
        col("score_micro"), round(col("score_micro") / 1e6, 6).as("score"))
      .orderBy(col("probe_id"), col("rn"))
  }

  /** PQ FIT — the persisted index artifact behind [[pqTopK]] and
    * [[ivfpqOracleQuery]] (optimization round 19, verdict r18 #9): the
    * per-(subspace, label) 4dp-quantized codebook and the encoded
    * corpus codes. Deterministic and corpus-functional, i.e. exactly
    * the artifact class a production PQ system builds once at ingest
    * and serves every search from — so under the bench pool both PQ
    * queries read ONE memoized fit and reps measure the honest
    * search-over-built-index path (the graph-ANN edge-list memo's
    * contract; pure plans, no embedded checkpoint). Verify/tests
    * recompute cold.
    * @return (codebook (m, code, cent), codes (cand_id, label, m, code)). */
  def pqFit(corpus: DataFrame, mSub: Int, subDim: Int): (DataFrame, DataFrame) = {
    val subIdx = (0 until mSub).map(m => slice(col("embedding"), m * subDim + 1, subDim))
    val corpusTall = corpus.select(col("vec_id"), col("label"),
      posexplode(array(subIdx: _*)).as(Seq("m", "sub")))
    val cents = corpusTall
      .select(col("m"), col("label"), posexplode(col("sub")).as(Seq("pos", "x")))
      .groupBy(col("m"), col("label"), col("pos"))
      .agg(round(avg(col("x")), 4).as("c"))
      .groupBy(col("m"), col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("m"), col("label").as("code"),
        transform(col("pc"), _.getField("c")).as("cent"))
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, c) => {
        val d = x.cast("double") - c.cast("double"); d * d
      }), lit(0.0), (acc, x) => acc + x)
    val wEnc = Window.partitionBy(col("cand_id"), col("m"))
      .orderBy(col("dist"), col("code"))
    val codes = corpusTall.join(broadcast(cents), Seq("m"))
      .select(col("vec_id").as("cand_id"), col("label"), col("m"), col("code"),
        round(sqDist(col("sub"), col("cent")), 4).as("dist"))
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("cand_id"), col("label"), col("m"), col("code"))
    (cents, codes)
  }

  /** The fixture-split PQ index (M=4 × 16 dims over vec_id ≥ 5),
    * memoized under the bench pool — ONE artifact serves q_ann_pq and
    * q_ann_ivfpq. */
  private def pqIndexShared(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    def fit = pqFit(Tables.embeddings(s, dir).filter($"vec_id" >= 5),
      mSub = 4, subDim = 16)
    (memo(s, dir, "pq_cents_4x16")(fit._1), memo(s, dir, "pq_codes_4x16")(fit._2))
  }

  /** q_ann_pq: [[pqTopK]] on the shared fixture split (probes = vec_id<5,
    * corpus = the rest), M=4 subspaces × 16 dims, top-3. */
  private def pqOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    pqTopK(e.filter($"vec_id" < 5), e.filter($"vec_id" >= 5),
      mSub = 4, subDim = 16, k = 3,
      prebuilt = Some(pqIndexShared(s, dir)))
  }

  /** IVF × PQ (q_ann_ivfpq) — the composed production ANN: coarse IVF
    * routing bounds WHICH candidates are scored (nprobe=2 of the 10
    * cells), PQ-ADC bounds WHAT is read per candidate (4 code ints +
    * broadcast LUT, never the 64-float vector). This is the
    * standard IVFADC layout [Jégou PAMI'11 §IV]: at 100 TB the scan cost
    * is (corpus/cells)·nprobe candidates × 4 integer lookups, with the
    * full-precision vectors touched zero times after encode. Cells and PQ
    * codebooks both derive from the label clustering (4dp-quantized means
    * — the engine-portable device shared by q_ann_ivf / q_ann_pq). */
  private def ivfpqOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val M = 4; val subDim = 16
    val e = Tables.embeddings(s, dir)
    val probes = e.filter($"vec_id" < 5)
    val corpus = e.filter($"vec_id" >= 5)
    // coarse routing: full-dim 4dp centroids, nprobe=2 (the ivf device)
    // — index-shaped (corpus-functional), memoized with the PQ fit
    val cents = memo(s, dir, "ivfpq_route_cents")(corpus
      .select($"label", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"label", $"pos")
      .agg(round(avg($"x"), 4).as("m"))
      .groupBy($"label")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"label".as("route"), transform($"pm", _.getField("m")).as("centroid")))
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    def cosD(a: Column, b: Column): Column =
      dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))
    val wc = Window.partitionBy($"probe_id").orderBy($"ccos".desc, $"route")
    val routed = probes.select($"vec_id".as("probe_id"), $"embedding".as("pv"))
      .crossJoin(broadcast(cents))
      .select($"probe_id", $"route",
        round(cosD($"pv", $"centroid"), 4).as("ccos"))
      .withColumn("crn", row_number().over(wc))
      .filter($"crn" <= 2)
      .select($"probe_id", $"route")
    // fine scoring: PQ codes + ADC LUT (the pq devices), with the cell
    // restriction applied BEFORE the ADC aggregation — candidates outside
    // a probe's routed cells are never looked up, which is the IVFADC
    // cost bound ((corpus/cells)·nprobe lookups, not corpus). The
    // codebook + codes are the SHARED persisted PQ fit — identical
    // algebra to q_ann_pq's, one memoized artifact under the bench pool.
    val subIdx = (0 until M).map(m => slice($"embedding", m * subDim + 1, subDim))
    def tall(df: DataFrame) = df
      .select($"vec_id", $"label", posexplode(array(subIdx: _*)).as(Seq("m", "sub")))
    val (subCents, codes) = pqIndexShared(s, dir)
    val lut = tall(probes)
      .select($"vec_id".as("probe_id"), $"m", $"sub".as("pv"))
      .join(broadcast(subCents), Seq("m"))
      .select($"probe_id", $"m", $"code",
        floor(dotD($"pv", $"cent") * 1e6 + 0.5).cast("long").as("dot_micro"))
    val wTop = Window.partitionBy($"probe_id")
      .orderBy($"score_micro".desc, $"cand_id")
    codes
      .join(broadcast(routed), $"label" === $"route")
      .drop("route")
      .join(broadcast(lut), Seq("probe_id", "m", "code"))
      .groupBy($"probe_id", $"cand_id", $"label")
      .agg(sum($"dot_micro").as("score_micro"))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= 3)
      .select($"probe_id", $"cand_id", $"label", $"rn",
        $"score_micro", round($"score_micro" / 1e6, 6).as("score"))
      .orderBy($"probe_id", $"rn")
  }

  // ---- graph-ANN tier (HNSW/DiskANN-shaped) -------------------------------

  /** Bounded-degree proximity graph over a corpus: each node keeps its
    * exact top-`r` neighbors by cosine (ties by dst id) — the navigable
    * index a graph-ANN system persists. Build here is the exact kNN
    * product (right at fixture scale and the honest baseline); the 100 TB
    * build path is NN-descent (iterative neighbor-of-neighbor refinement,
    * same bounded-degree output contract, each round a self-join on the
    * CURRENT edge frame instead of the corpus product) — the search below
    * is agnostic to which built the graph.
    *
    * @param corpus (cand_id BIGINT, cv ARRAY<FLOAT>)
    * @return (src, dst) — r rows per src, exact kNN, degree-capped. */
  def graphAnnIndex(corpus: DataFrame, r: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    graphAnnScored(corpus)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= r)
      .select(col("src"), col("dst"))
  }

  /** Exact all-pairs scored edges (src, dst, cos) — the shared front of
    * [[graphAnnIndex]] and [[graphAnnIndexDiversified]]. O(n²) by
    * declared fixture choice; the at-scale candidate generator is
    * [[graphAnnIndexDescent]]. */
  private def graphAnnScored(corpus: DataFrame): DataFrame = {
    val a = corpus.select(col("cand_id").as("src"), col("cv").as("sv"))
    val b = corpus.select(col("cand_id").as("dst"), col("cv").as("dv"))
    b.crossJoin(broadcast(a))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(Sim.cosine(col("sv"), col("dv")), 4).as("cos"))
  }

  /** Integer e4 units of a 4dp-rounded cosine — the exactly-portable
    * form for the prune inequality below (double comparisons at the
    * decision boundary are the one thing the DuckDB oracle could
    * disagree on; integers cannot). floor(x·10⁴ + 0.5) is round-half-up
    * of a value already within 1e-9 of an integer, so it recovers that
    * integer for either sign. */
  private def cosE4(c: Column): Column =
    floor(c * lit(10000) + lit(0.5)).cast("long")

  /** α-occlusion diversification [RNG rule: Toussaint '80; α-relaxed:
    * DiskANN, NeurIPS'19; kNN-graph post-pass: NSG, VLDB'19] — prune
    * each node's candidate list so no kept edge is "occluded" by a
    * closer candidate: drop c when some candidate a with higher rank
    * satisfies α·d(a,c) ≤ d(src,c) (d = 1 − cos). A pure top-r keep
    * clusters a node's edges inside its own tight neighborhood; the
    * occlusion rule spends the same degree budget on SPREAD — each kept
    * edge must cover direction-space no closer edge already covers —
    * which is what keeps best-first search navigable as the corpus
    * grows (the round-12 measured regression: fixed-entry recall
    * 14/15 → 13/15 at 4× corpus).
    *
    * This is the NSG shape — diversify a finished kNN graph in one
    * post-pass — deliberately NOT DiskANN's in-loop prune: the descent
    * builder's contract ("converges to the exact kNN graph",
    * OperatorsSpec-pinned, oracle-checked fixpoint) is exactly what an
    * in-loop prune would destroy. Build the kNN graph with the builder
    * of your scale (exact or descent), then diversify it here.
    *
    * The variant implemented prunes against ALL closer candidates (the
    * candidate-set-restricted RNG rule), not DiskANN's greedy
    * accepted-only scan: the greedy form is inherently sequential per
    * node (each decision depends on every earlier accept), while the
    * all-closer form is one self-join — SQL-expressible, so the checked
    * query's unrolled-CTE oracle can reproduce it bit-for-bit. It
    * over-prunes slightly (a pruned candidate may still occlude),
    * which costs recall nothing here: the final keep tops up to r from
    * the survivor list, and survivors are diverse by construction.
    *
    * Scale shape: candidates are first capped to the top-`window` per
    * src (row_number over a shuffle by src), so the pair stage is a
    * bounded self-join — n·C(window,2) occlusion cosines, never n².
    * Vectors ride in via two equi-joins on the corpus frame.
    *
    * @param scored (src, dst, cos) — pre-scored candidate edges (cos to
    *               src already 4dp-rounded, e.g. [[graphAnnScored]] or a
    *               search's visited pool).
    * @param corpus (cand_id, cv) — supplies candidate-candidate vectors.
    * @param r        max out-degree after pruning.
    * @param alphaPct α·100 (120 = DiskANN's customary 1.2); 100 = strict
    *                 RNG rule, larger keeps more long edges.
    * @param window   candidate cap per src before the pair stage.
    * @return (src, dst) — ≤ r diverse out-edges per src. */
  def alphaPrune(scored: DataFrame, corpus: DataFrame, r: Int,
      alphaPct: Int = 120, window: Int = 24): DataFrame = {
    require(r >= 1 && window >= r && alphaPct >= 100,
      s"need r >= 1, window >= r, alphaPct >= 100, got $r $window $alphaPct")
    val w = Window.partitionBy(col("src")).orderBy(col("ce4").desc, col("dst"))
    // checkpointed: read three times below (a-side, c-side, final keep)
    val base = scored
      .select(col("src"), col("dst"), cosE4(col("cos")).as("ce4"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= window)
      .localCheckpoint()
    val cvx = corpus.select(col("cand_id"), col("cv"))
    val occluded = base.select(col("src"), col("dst").as("a_dst"), col("rn").as("a_rn"))
      .join(base.select(col("src"), col("dst").as("c_dst"),
        col("ce4").as("c_e4"), col("rn").as("c_rn")), "src")
      .filter(col("a_rn") < col("c_rn"))
      .join(cvx.select(col("cand_id").as("a_dst"), col("cv").as("av")), "a_dst")
      .join(cvx.select(col("cand_id").as("c_dst"), col("cv").as("bv")), "c_dst")
      .filter(lit(alphaPct.toLong) *
          (lit(10000L) - cosE4(round(Sim.cosine(col("av"), col("bv")), 4)))
        <= lit(100L) * (lit(10000L) - col("c_e4")))
      .select(col("src"), col("c_dst").as("dst")).distinct()
    val out = base.join(occluded, Seq("src", "dst"), "left_anti")
      .withColumn("rn2", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("ce4").desc, col("dst"))))
      .filter(col("rn2") <= r)
      .select(col("src"), col("dst"))
      .localCheckpoint()
    graft.util.Frames.releaseCheckpoint(base)
    out
  }

  /** Exact kNN build + α-occlusion diversification in one call — the
    * fixture-scale diversified builder behind q_ann_graph (at scale:
    * [[graphAnnIndexDescent]] then [[alphaPrune]]). */
  def graphAnnIndexDiversified(corpus: DataFrame, r: Int,
      alphaPct: Int = 120, window: Int = 24): DataFrame =
    alphaPrune(graphAnnScored(corpus), corpus, r, alphaPct, window)

  /** Attach 4dp kernel cosines to a bare (src, dst) edge list — the
    * adapter from score-less builders ([[graphAnnIndexDescent]]'s
    * output, a stored edge partition) to [[alphaPrune]]'s scored input.
    * Two equi-joins on the corpus; |edges| kernel cosines. */
  def rescoreEdges(edges: DataFrame, corpus: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .join(corpus.select(col("cand_id").as("src"), col("cv").as("sv")), "src")
      .join(corpus.select(col("cand_id").as("dst"), col("cv").as("dv")), "dst")
      .select(col("src"), col("dst"),
        round(Sim.cosine(col("sv"), col("dv")), 4).as("cos"))

  /** NN-Descent proximity-graph build [Dong et al., WWW'11] — the
    * at-scale builder behind [[graphAnnSearch]] (which is
    * builder-agnostic). The exact [[graphAnnIndex]] is O(n²) score pairs;
    * NN-descent's invariant is "a neighbor of a neighbor is likely a
    * neighbor": start from a deterministic connected seed graph, then
    * each round scores only current edges ∪ reversed edges ∪
    * neighbor-of-neighbor pairs — ≤ n·(2r)² candidates per round instead
    * of n² — and keeps each node's top-r. Every join is a plain
    * equi-join on node id; nothing in the loop ever materializes the
    * corpus product.
    *
    *   - Seed: node at sorted position i links to positions
    *     (i + 2^j) mod n, j < r — a ring with doubling strides (finger-
    *     table shape): connected with log-diameter by construction, so
    *     descent never starts from disconnected islands. Positions come
    *     from the slice-rank decomposition (range-repartition, per-slice
    *     ordinals, broadcast offsets) — never a one-partition sort.
    *   - Rounds: candidates re-score prior edges each round (the kernel
    *     cosine is cheap next to the join that carries it; caching
    *     scores across rounds would trade a wider shuffle for it).
    *   - Loop discipline: per-round edge frames are checkpointed and the
    *     superseded round released eagerly (pagerank's contract).
    *
    * OperatorsSpec pins edge recall vs the exact build and search recall
    * through the descent-built graph; ScaleProbe "ann_descent" measures
    * the n·r² vs n² growth split. */
  def graphAnnIndexDescent(corpus: DataFrame, r: Int, rounds: Int): DataFrame = {
    require(r >= 1 && rounds >= 1, s"need r/rounds >= 1, got $r $rounds")
    // positions via the shared slice-rank decomposition; idx is then
    // checkpointed ITSELF because the loop reads it 2×/round (the inner
    // slice frame behind globalOrdinal is released with it at the end)
    val ordinal = Slices.globalOrdinal(
      corpus.select(col("cand_id"), col("cv")), Seq(col("cand_id")), "i")
    val idx = ordinal.select(col("cand_id"), col("cv"), col("i"))
      .localCheckpoint()
    graft.util.Frames.releaseCheckpoint(ordinal)
    val ncnt = idx.agg(count(lit(1)).as("n"))
    val strides = array((0 until r).map(j => lit(1L << j)): _*)
    val init = idx.select(col("cand_id").as("src"), col("i"))
      .crossJoin(broadcast(ncnt))
      .select(col("src"), explode(strides).as("s"), col("i"), col("n"))
      .select(col("src"), pmod(col("i") + col("s"), col("n")).as("ti"))
      .join(idx.select(col("cand_id").as("dst"), col("i").as("ti")), "ti")
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    val wr = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    var edges = init.localCheckpoint()
    for (_ <- 1 to rounds) {
      val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
      val und = edges.unionAll(rev)
      val nn = und.select(col("src").as("u"), col("dst").as("w"))
        .join(und.select(col("src").as("w"), col("dst").as("v")), "w")
        .select(col("u").as("src"), col("v").as("dst"))
      val cand = und.unionAll(nn)
        .filter(col("src") =!= col("dst")).distinct()
      val scored = cand
        .join(idx.select(col("cand_id").as("src"), col("cv").as("sv")), "src")
        .join(idx.select(col("cand_id").as("dst"), col("cv").as("dv")), "dst")
        .select(col("src"), col("dst"),
          round(Sim.cosine(col("sv"), col("dv")), 4).as("cos"))
      val next = scored.withColumn("rn", row_number().over(wr))
        .filter(col("rn") <= r).select(col("src"), col("dst"))
        .localCheckpoint()
      graft.util.Frames.releaseCheckpoint(edges)
      edges = next
    }
    graft.util.Frames.releaseCheckpoint(idx)
    edges
  }

  /** Best-first graph search as bulk-synchronous delta-frontier expansion
    * — [[Graph.bfsHops]]'s loop discipline applied to a proximity graph,
    * with the frontier PRUNED to the `beam` best new candidates per probe
    * each hop (beam search, the bulk form of HNSW/DiskANN's greedy
    * descent; multiple spread `entries` stand in for HNSW's upper-layer
    * routing). Every hop SCORES only frontier×degree candidates per
    * probe — visited ≤ |entries| + hops·beam·degree regardless of corpus
    * size, so the distance-computation volume (the compute that
    * dominates real vector search) is a function of the parameters, not
    * the data. To be precise about the IO term: fetching the candidate
    * vectors is expressed here as corpus ⋈ broadcast(candidate ids) —
    * a scan-and-probe pass per hop in this filesystem-parquet setting;
    * at 100 TB the corpus side lives in a cand_id-keyed layout (bucketed
    * table / key-value store) where the same broadcast join serves as a
    * bounded point-multi-get instead of a scan. The ann_descent probe's
    * flat-search row measures the compute bound; the fetch path is the
    * deployment-layout choice. All scored candidates enter the visited
    * pool (scores already paid for — free recall), the final top-k is
    * the exact-cosine rerank over that pool, and every per-round frame
    * is localCheckpoint'ed so no round re-executes its predecessors
    * (`visited` is a lazy union of checkpointed deltas, the bfsHops
    * `dist` shape). The RETURNED frame reads those checkpointed deltas:
    * a caller that has fully consumed the result may hand it to
    * Frames.releaseCheckpoint to free them eagerly (the arrival path
    * does; one-shot queries can leave it to the session's cleanup).
    *
    * @param probes  (probe_id BIGINT, pv ARRAY<FLOAT>) — broadcast-sized.
    * @param corpus  (cand_id BIGINT, cv ARRAY<FLOAT>)
    * @param edges   (src, dst) from [[graphAnnIndex]] (or any navigable
    *                graph — NSW long links, DiskANN alpha-pruned, ...).
    * @return (probe_id, cand_id, cos, rn) — top-k per probe, rn 1..k. */
  def graphAnnSearch(probes: DataFrame, corpus: DataFrame, edges: DataFrame,
      entries: Seq[Long], beam: Int, hops: Int, k: Int): DataFrame = {
    require(entries.nonEmpty,
      s"need a nonempty entry set, got $entries")
    graphAnnSearch(probes, corpus, edges,
      corpus.filter(col("cand_id").isin(entries: _*))
        .crossJoin(probes.select(col("probe_id")))
        .select(col("probe_id"), col("cand_id")),
      beam, hops, k)
  }

  /** [[graphAnnSearch]] with PER-PROBE entry routing: `entries`
    * (probe_id, cand_id) seeds each probe's frontier individually —
    * the bulk form of HNSW's upper-layer descent, with the router
    * (IVF centroids → medoids, [[codebookEntries]]) standing in for the
    * layer hierarchy. Fixed global entries force every probe to walk
    * from the same corner of the graph — the measured failure mode as
    * the corpus grows (round-12: 14/15 → 13/15 recall at 4×); routed
    * entries start each probe inside its own nearest cells, so hops
    * spend on refinement, not on crossing the corpus. */
  def graphAnnSearch(probes: DataFrame, corpus: DataFrame, edges: DataFrame,
      entries: DataFrame, beam: Int, hops: Int, k: Int): DataFrame = {
    require(beam >= 1 && hops >= 0 && k >= 1,
      s"need beam >= 1, hops >= 0, k >= 1, got $beam $hops $k")
    // Driver arm (optimization round — the silhouetteOf/epsPairs
    // discipline for the search loop): under the pair cap of VECTORS
    // (corpus + probes; edge list under 128×cap rows) the whole
    // entry-scoring / fallback / hop-expansion / rerank chain runs in
    // memory with the frame chain's exact arithmetic — graft_cosine's
    // sequential double loop, HALF_UP round(·,4), rank order
    // (cos DESC NULLS LAST, cand_id) with Spark's -0.0 ≡ 0.0 compare
    // normalization — so the top-k is row-identical (OperatorsSpec pins
    // arm equality). The measured distributed cost was the hops×
    // (join + window + checkpoint) stage chain, not data. Over cap the
    // chain below runs unchanged — per-probe work is parameter-bounded
    // either way; the arm only relocates it.
    driverAnnSearch(probes, corpus, edges, entries,
      beam, hops, k).foreach(return _)
    val ed = edges.localCheckpoint()
    val p = broadcast(probes.select(col("probe_id"), col("pv")))
    def score(cands: DataFrame): DataFrame = corpus
      .join(broadcast(cands), "cand_id")
      .join(p, "probe_id")
      .select(col("probe_id"), col("cand_id"),
        round(Sim.cosine(col("pv"), col("cv")), 4).as("cos"))
    // Per-round deltas are EAGER checkpoints. The tempting alternative —
    // lazy CacheManager persists + one materializing job at the end —
    // was MEASURED SLOWER (2.5-2.7 s → 4.8-5.4 s at sf0.1): cache
    // substitution happens at physical planning, so each round's
    // ANALYZED plan still contains the full lineage of every prior
    // round, duplicated through both the union and the frontier branch —
    // analysis cost grows exponentially in hops and swamps the hops+1
    // job overheads the fusion was meant to save. The checkpoint cuts
    // the lineage at each round, keeping every plan round-sized.
    var visited = score(entries.select(col("probe_id"), col("cand_id")))
      .localCheckpoint()
    // Total-entry-loss fallback: a probe whose EVERY entry row dropped out
    // of the corpus join (all routed medoids absent from the corpus view —
    // a replayed batch containing every stored medoid, or a damaged
    // router) would contribute zero visited rows and silently vanish from
    // the output instead of degrading. Seed any such probe from the
    // corpus's smallest ids (the original fixed-spread contract). The
    // guard is one left_anti between two broadcast-/entry-sized frames +
    // a limit(1) count on its (normally empty) result — probe-sized, paid
    // once per search; the corpus TakeOrdered runs only when a probe was
    // actually uncovered.
    val uncovered = probes.select(col("probe_id"))
      .join(visited.select(col("probe_id")), Seq("probe_id"), "left_anti")
      .localCheckpoint()
    if (uncovered.limit(1).count() > 0) {
      val fbIds = corpus.select(col("cand_id")).orderBy(col("cand_id")).limit(4)
      val fb = score(fbIds.crossJoin(uncovered)).localCheckpoint()
      visited = visited.unionAll(fb)
    }
    graft.util.Frames.releaseCheckpoint(uncovered)
    var frontier = visited.select(col("probe_id"), col("cand_id"))
    val wb = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    for (_ <- 1 to hops) {
      val nbrs = ed
        .join(broadcast(frontier.select(col("probe_id"), col("cand_id").as("src"))), "src")
        .select(col("probe_id"), col("dst").as("cand_id")).distinct()
      val fresh = nbrs.join(visited.select(col("probe_id"), col("cand_id")),
        Seq("probe_id", "cand_id"), "left_anti")
      val scored = score(fresh).localCheckpoint()
      visited = visited.unionAll(scored)
      frontier = scored.withColumn("rn", row_number().over(wb))
        .filter(col("rn") <= beam)
        .select(col("probe_id"), col("cand_id"))
    }
    // the index frame is dead once the last hop's delta has materialized
    // (the returned plan reads only the checkpointed deltas) — release it
    // now instead of at the next driver GC
    graft.util.Frames.releaseCheckpoint(ed)
    visited.withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= k)
      .orderBy(col("probe_id"), col("rn"))
  }

  /** The in-memory arm behind [[graphAnnSearch]] — None when any input
    * exceeds its cap (the caller falls through to the frame chain). */
  private def driverAnnSearch(probes: DataFrame, corpus: DataFrame,
      edges: DataFrame, entries: DataFrame, beam: Int,
      hops: Int, k: Int): Option[DataFrame] = {
    import graft.util.SmallInput
    val pTake = SmallInput.take(probes.select(col("probe_id"), col("pv")),
      SmallInput.PairCap).getOrElse(return None)
    val cTake = SmallInput.take(corpus.select(col("cand_id"), col("cv")),
      SmallInput.PairCap).getOrElse(return None)
    val eCap = 128 * SmallInput.PairCap
    val eTake = SmallInput.take(edges.select(col("src"), col("dst")), eCap)
      .getOrElse(return None)
    val nTake = SmallInput.take(entries.select(col("probe_id"),
      col("cand_id")), eCap).getOrElse(return None)
    val cvs = new java.util.HashMap[Long, Array[Float]]
    cTake.foreach(r => cvs.put(r.getAs[Number](0).longValue,
      r.getAs[scala.collection.Seq[Float]](1).toArray))
    val adj = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Long]]
    eTake.foreach { r =>
      val s = r.getAs[Number](0).longValue; val d = r.getAs[Number](1).longValue
      var b = adj.get(s)
      if (b == null) { b = scala.collection.mutable.ArrayBuffer.empty[Long]; adj.put(s, b) }
      b += d
    }
    // round(graft_cosine, 4) — null on a zero vector, exactly the frame's
    def cos4(a: Array[Float], b: Array[Float]): Option[Double] = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) None
      else Some(java.math.BigDecimal.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    // (cos DESC NULLS LAST, cand_id ASC) with -0.0 ≡ 0.0 (Spark's sort
    // normalization)
    def rankLt(x: (Long, Option[Double]), y: (Long, Option[Double])): Boolean =
      (x._2, y._2) match {
        case (Some(a0), Some(b0)) =>
          val a = if (a0 == 0.0) 0.0 else a0
          val b = if (b0 == 0.0) 0.0 else b0
          if (a != b) a > b else x._1 < y._1
        case (Some(_), None) => true
        case (None, Some(_)) => false
        case (None, None) => x._1 < y._1
      }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Double], Int)]
    val entryByProbe = nTake.groupBy(_.getAs[Number](0).longValue)
    for (pr <- pTake.sortBy(_.getAs[Number](0).longValue)) {
      val pid = pr.getAs[Number](0).longValue
      val pv = pr.getAs[scala.collection.Seq[Float]](1).toArray
      val visited = scala.collection.mutable.LinkedHashMap.empty[Long, Option[Double]]
      def scoreInto(c: Long): Unit =
        if (!visited.contains(c)) {
          val v = cvs.get(c)
          if (v != null) visited(c) = cos4(pv, v)
        }
      entryByProbe.getOrElse(pid, Array.empty)
        .foreach(r => scoreInto(r.getAs[Number](1).longValue))
      if (visited.isEmpty) {
        // total-entry-loss fallback: the 4 smallest corpus ids
        val it = cvs.keySet().iterator()
        val keys = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (it.hasNext) keys += it.next()
        keys.sorted.take(4).foreach(scoreInto)
      }
      var frontier: Seq[Long] = visited.keysIterator.toSeq
      for (_ <- 1 to hops) {
        val fresh = scala.collection.mutable.LinkedHashSet.empty[Long]
        frontier.foreach { u =>
          val ns = adj.get(u)
          if (ns != null) ns.foreach { d =>
            if (!visited.contains(d)) fresh += d
          }
        }
        val scored = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Double])]
        fresh.foreach { c =>
          val v = cvs.get(c)
          if (v != null) {
            val sc = cos4(pv, v)
            visited(c) = sc
            scored += ((c, sc))
          }
        }
        frontier = scored.sortWith(rankLt).take(beam).map(_._1).toSeq
      }
      visited.toSeq.sortWith(rankLt).take(k).zipWithIndex.foreach {
        case ((c, sc), i) => out += ((pid, c, sc, i + 1))
      }
    }
    val s = probes.sparkSession
    Some(s.createDataFrame(out.toSeq)
      .toDF("probe_id", "cand_id", "cos", "rn")
      .orderBy(col("probe_id"), col("rn")))
  }

  /** Per-probe routed entry set from a k-means codebook — the IVF
    * centroid machinery applied as graph-search entry router (the
    * verdict-12 upgrade over fixed spread ids): each centroid's MEDOID
    * (the corpus vector most similar to it — an actual graph node, which
    * a centroid is not) becomes the entry for every probe routed to that
    * cell. Narrow per-row scoring against the broadcast codebook on both
    * sides; the medoid rank is one k-partition window over n·k rows.
    *
    * @return (probe_id, cand_id) — ≤ nprobe entries per probe (distinct:
    *         two cells can share a medoid). */
  def codebookEntries(probes: DataFrame, corpus: DataFrame,
      codebook: Seq[(Int, Seq[Float])], nprobe: Int): DataFrame =
    codebookRoute(probes, codebook, nprobe)
      .join(broadcast(medoidsOf(corpus, codebook)), "cluster")
      .select(col("probe_id"), col("cand_id")).distinct()

  /** Per-row array of (cosine, cluster) structs against a broadcast-size
    * codebook — one narrow expression, shared by routing and medoid
    * selection. */
  private def cbScores(codebook: Seq[(Int, Seq[Float])])(vec: Column): Column =
    array(codebook.map { case (id, v) =>
      struct(coalesce(Sim.cosine(vec, typedlit(v)), lit(-2.0)).as("cos"),
        lit(id).as("cluster"))
    }: _*)

  /** (probe_id, cluster) — each probe's nprobe nearest cells; narrow. */
  def codebookRoute(probes: DataFrame, codebook: Seq[(Int, Seq[Float])],
      nprobe: Int): DataFrame = {
    require(codebook.nonEmpty && nprobe >= 1 && nprobe <= codebook.size,
      s"need 1 <= nprobe <= |codebook|, got $nprobe of ${codebook.size}")
    probes
      .withColumn("rt",
        explode(slice(reverse(array_sort(cbScores(codebook)(col("pv")))), 1, nprobe)))
      .select(col("probe_id"), col("rt.cluster").as("cluster"))
  }

  /** (cluster, cand_id) — each cell's MEDOID (the corpus vector most
    * similar to its centroid: an actual graph node, which a centroid is
    * not). ONE corpus pass (n·k exploded rows + a k-partition window) —
    * compute it where corpus-sized work belongs (router build /
    * maintenance) and persist; the per-batch arrival path reads the
    * stored medoids instead ([[graft.streaming.StreamOps]]'s router). */
  def medoidsOf(corpus: DataFrame, codebook: Seq[(Int, Seq[Float])]): DataFrame = {
    require(codebook.nonEmpty, "medoidsOf needs a nonempty codebook")
    corpus
      .select(col("cand_id"), explode(cbScores(codebook)(col("cv"))).as("s"))
      .select(col("cand_id"), col("s.cluster").as("cluster"), col("s.cos").as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("ccos").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster"), col("cand_id"))
  }

  /** Per-probe entries from PRE-COMPUTED medoids — the batch-sized form
    * of [[codebookEntries]] (no corpus pass at all: probes score k
    * centroids narrowly, the cluster→medoid map is k rows). */
  def storedMedoidEntries(probes: DataFrame, codebook: Seq[(Int, Seq[Float])],
      medoids: Seq[(Int, Long)], nprobe: Int): DataFrame = {
    require(medoids.nonEmpty, "storedMedoidEntries needs stored medoids")
    import probes.sparkSession.implicits._
    codebookRoute(probes, codebook, nprobe)
      .join(broadcast(medoids.toDF("cluster", "cand_id")), "cluster")
      .select(col("probe_id"), col("cand_id")).distinct()
  }

  private val gR = 24; private val gBeam = 32; private val gHops = 4
  private val gK = 3
  private val gWindow = 48; private val gAlpha = 120; private val gNprobe = 4

  /** Bench buffer-pool memo for the PERSISTED ANN index (the shared
    * [[graft.util.Memo]] contract): a production ANN system builds the
    * proximity graph ONCE and serves every search against it, so the
    * recurring workload the bench measures is search-over-built-index;
    * the build cost itself is what ScaleProbe "ann_descent" measures.
    * The memoized frame is the ~n·r-row edge list (tiny); what the
    * persist skips is the O(n²) build behind it. Measured ~neutral at
    * fixture scale (the kernel-cosine build is ~0.5 s, inside rep
    * noise) — the memo's value grows with the build cost, i.e. with
    * corpus size; it is kept for the architectural contract, not a
    * fixture win. */
  private def memo(s: SparkSession, dir: String, what: String)
      (build: => DataFrame): DataFrame =
    graft.util.Memo.benchMemo(s, dir, "ann:" + what)(build)

  /** Double-fold cosine over (float array, double array) — the portable
    * routing algebra the DuckDB list_zip/list_sum oracle mirrors (the
    * native graft_cosine kernel is float-array-typed on both sides). */
  private def cosD(a: Column, b: Column): Column = {
    def dotD(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dotD(a, b) / (sqrt(dotD(a, a)) * sqrt(dotD(b, b)))
  }

  /** Per-label 4dp centroids (route, centroid) — the portable codebook
    * recipe q_ann_ivf proves (round(avg, 4) is bit-identical across
    * engines), shared by the routed-entry and filtered-search queries. */
  private def labelCents(corpusL: DataFrame): DataFrame =
    corpusL
      .select(col("label"), posexplode(col("cv")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(round(avg(col("x")), 4).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label").as("route"),
        transform(col("pm"), _.getField("m")).as("centroid"))

  /** (route, cand_id) — each label cell's medoid under the portable
    * routing cosine; shared by the routed-entry and filtered queries. */
  private def labelMedoids(corpusL: DataFrame, cents: DataFrame): DataFrame =
    corpusL.join(broadcast(cents), col("label") === col("route"))
      .select(col("route"), col("cand_id"),
        round(cosD(col("cv"), col("centroid")), 4).as("mcos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("route")).orderBy(col("mcos").desc, col("cand_id"))))
      .filter(col("rn") === 1)
      .select(col("route"), col("cand_id"))

  /** (probe_id, pv, route) — each probe's nprobe nearest label cells by
    * the portable routing cosine; `pred` restricts the cells BEFORE
    * ranking (cell-level predicate pruning — the filtered query's
    * device). One copy of the recipe the DuckDB oracles mirror: a drift
    * in the 4dp rounding or the (ccos desc, route) tie-break breaks
    * oracle hash-parity, so it must not be re-spelled per call site. */
  private def routedCells(probes: DataFrame, cents: DataFrame, nprobe: Int,
      pred: Option[Column] = None): DataFrame = {
    val crossed = probes.crossJoin(broadcast(cents))
    pred.fold(crossed)(crossed.filter)
      .select(col("probe_id"), col("pv"), col("route"),
        round(cosD(col("pv"), col("centroid")), 4).as("ccos"))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("probe_id")).orderBy(col("ccos").desc, col("route"))))
      .filter(col("crn") <= nprobe)
      .select(col("probe_id"), col("pv"), col("route"))
  }

  /** q_ann_graph: diversified build ([[graphAnnIndexDiversified]]:
    * exact kNN window → α-occlusion prune) + per-probe routed entries
    * (per-label 4dp centroids → medoids — the q_ann_ivf router reused
    * as the entry layer) + [[graphAnnSearch]], on the shared fixture
    * split; corpus bounded to vec_id ∈ [5, 500) on the ORACLE's account
    * (a no-op at sf ≤ 0.01; DuckDB pays the full O(n²) build — the
    * engine does too here, by choice of builder, but its search cost is
    * parameter-bounded). Scores ride the graft_cosine kernel at 4dp and
    * the prune inequality is pure e4-integer arithmetic — so the
    * unrolled-CTE oracle reproduces build, prune, routing, hops, beam
    * pruning, and rerank hash-exactly. OperatorsSpec pins the recall
    * floor vs the exact top-k (15/15 at sf0.001 post-diversification,
    * up from 14/15 with fixed entries). */
  private def graphAnnOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val probes = e.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"embedding".as("pv"))
    val corpusL = e.filter($"vec_id" >= 5 && $"vec_id" < 500)
      .select($"vec_id".as("cand_id"), $"label", $"embedding".as("cv"))
    val corpus = corpusL.select($"cand_id", $"cv")
    val index = memo(s, dir, "graphAnnEdgesDiv")(
      graphAnnIndexDiversified(corpus, gR, gAlpha, gWindow))
    val cents = labelCents(corpusL)
    val entries = routedCells(probes, cents, gNprobe)
      .join(broadcast(labelMedoids(corpusL, cents)), "route")
      .select($"probe_id", $"cand_id").distinct()
    graphAnnSearch(probes, corpus, index, entries, gBeam, gHops, gK)
  }

  /** q_ann_filtered: metadata-FILTERED vector search — the similarity
    * tier's real-workload composition (every production vector store
    * serves "nearest neighbors WHERE predicate"): each probe searches
    * only candidates whose label satisfies a per-probe predicate
    * (label ≡ probe_id mod 2 here — a per-tenant/per-language filter
    * shape). The predicate composes with IVF routing as CELL-LEVEL
    * PRUNING: because the filter is on the partition key (label = the
    * routing cell), disallowed cells are dropped BEFORE routing ranks
    * them — the pre-filter strategy, strictly cheaper than post-filter
    * over-fetch whenever the predicate aligns with the coarse quantizer
    * (at 100 TB: the filter never touches a disallowed cell's data at
    * all; a non-aligned predicate would instead push into the candidate
    * scan below, still ahead of the rank). Exact cosine rank inside the
    * routed cells, top-3 per probe. */
  private def filteredOracleQuery(s: SparkSession, dir: String): DataFrame =
    filteredSearch(s, dir, nprobe = 2)

  /** The filtered-search pipeline with the recall lever exposed:
    * OperatorsSpec pins that at nprobe = #allowed cells the result
    * EQUALS the filtered brute force (the cell partition is exhaustive,
    * so full routing is exact — the approximation lives entirely in
    * WHICH cells are probed, never in the in-cell rank). */
  private[operators] def filteredSearch(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, dir)
    val probes = e.filter($"vec_id" < 5)
      .select($"vec_id".as("probe_id"), $"embedding".as("pv"))
    val corpusL = e.filter($"vec_id" >= 5)
      .select($"vec_id".as("cand_id"), $"label", $"embedding".as("cv"))
    val cents = labelCents(corpusL)
    val routed = routedCells(probes, cents, nprobe,
      pred = Some(pmod($"route", lit(2)) === pmod($"probe_id", lit(2))))
    val w = Window.partitionBy($"probe_id").orderBy($"cos".desc, $"cand_id")
    corpusL.join(broadcast(routed), $"label" === $"route")
      .select($"probe_id", $"cand_id", $"label",
        round(Sim.cosine($"pv", $"cv"), 4).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"probe_id", $"cand_id", $"label", $"cos", $"rn".cast("int").as("rn"))
      .orderBy($"probe_id", $"rn")
  }

  private val dR = 8; private val dRounds = 2

  /** q_ann_descent: [[graphAnnIndexDescent]] itself as a CHECKED query —
    * the at-scale builder is fully deterministic (ring-with-strides
    * seed from sorted positions, 4dp kernel cosines, dst tie-breaks),
    * so its ENTIRE fixpoint — seed graph, two rounds of
    * neighbor-of-neighbor candidate generation, per-node top-r keeps —
    * is reproduced by an unrolled-CTE oracle generated from the same
    * parameters. Corpus bounded to vec_id ∈ [5, 500) on the oracle's
    * account (the engine side is unbounded; ScaleProbe ann_descent
    * measures it at 32k vectors). r=8 here (vs the checked search's
    * exact R=12 build) keeps the oracle's candidate volume at
    * ~n·(2r)² ≈ 130k cosines per round. */
  private def descentOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = Tables.embeddings(s, dir)
      .filter($"vec_id" >= 5 && $"vec_id" < 500)
      .select($"vec_id".as("cand_id"), $"embedding".as("cv"))
    graphAnnIndexDescent(corpus, dR, dRounds)
      .orderBy(col("src"), col("dst"))
  }

  // ----------------------------------------- q_cluster_kmeans (round 18)

  private[operators] val kmK = 8
  private[operators] val kmIters = 3
  private val kmSample = 20 * kmK

  /** e4-quantized cosine on driver-side double vectors — the SAME
    * left-fold double algebra the oracle's `list_sum(list_transform(
    * list_zip(...)))` runs, then floor(x·10⁴ + 0.5): both engines see
    * the identical BIGINT. Zero-norm → the -20000 sentinel (below every
    * real score), mirroring [[initSeeds]]'s -2.0. */
  private def e4CosDriver(a: IndexedSeq[Double], b: IndexedSeq[Double]): Long = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) -20000L
    else math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5).toLong
  }

  /** e4-quantized cosine as a COLUMN against a broadcast centroid literal
    * — the HOF double fold (engine-portable per q_ann_ivf), not the
    * float-array native kernel, because the codebook is DOUBLE-typed
    * (4dp means) and the oracle mirrors this exact algebra. */
  private def e4CosCol(v: Column, cent: Seq[Double]): Column = {
    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val c = typedlit(cent)
    when(dotD(v, v) === 0.0 || dotD(c, c) === 0.0, lit(-20000L))
      .otherwise(floor(dotD(v, c) / (sqrt(dotD(v, v)) * sqrt(dotD(c, c))) * 10000 + 0.5)
        .cast("long"))
  }

  /** [[assign]]'s engine-portable twin: argmax of e4-quantized cosines,
    * ties to the SMALLEST cluster id (the -id struct trick — array_max
    * picks max e4 then max(-id) = min id), so the choice is a pure
    * BIGINT comparison both engines replay. Narrow: the codebook unrolls
    * into one expression fused with the scan, exactly like [[assign]]. */
  def assignPortable(corpus: DataFrame, codebook: Seq[(Int, Seq[Double])]): DataFrame = {
    val scored = array(codebook.map { case (id, c) =>
      struct(e4CosCol(col("embedding"), c).as("e4"), lit(-id).as("negc"))
    }: _*)
    corpus.withColumn("cluster", (-array_max(scored).getField("negc")).cast("int"))
  }

  /** [[kmeans]]'s engine-portable twin — the SAME dataflow (md5-ordered
    * oversample → driver farthest-first → `iters` Lloyd rounds of argmax
    * assignment + per-dimension means, empty cells keep their centroid)
    * with every cross-engine seam quantized: seed picks compare e4
    * BIGINTs (ties to the first sample index), assignment is
    * [[assignPortable]], means are round(avg, 4) (bit-identical across
    * engines per q_ann_ivf's codebook). The fixpoint is therefore fully
    * replayable as unrolled CTEs — [[kmeansSqlCtes]] generates them from
    * these same constants, so engine and oracle cannot drift.
    *
    * Scale shape is [[kmeans]]'s: init is ONE TakeOrdered pass + O(20k·k
    * ·dim) driver work; each round ONE narrow assignment pass + ONE
    * groupBy((cluster, pos)) shuffle whose output is k·dim rows; the
    * corpus is cached across rounds (at 100 TB the re-scan would
    * multiply the dominant IO term by `iters`). */
  def kmeansPortable(corpus: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    val pinned = corpus.cache()
    try {
      val raw = pinned.orderBy(md5(col("vec_id").cast("string")))
        .limit(math.max(k, 20 * k))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toIndexedSeq).toIndexedSeq
      val sample = raw.filter(_.exists(_ != 0.0))
      require(sample.size >= k,
        s"kmeansPortable: only ${sample.size} non-zero sample vectors for k=$k")
      var seeds = Vector(sample.head)
      val best = Array.tabulate(sample.size)(i => e4CosDriver(sample(i), sample.head))
      while (seeds.size < k) {
        var idx = 0; var i = 1
        while (i < sample.size) { if (best(i) < best(idx)) idx = i; i += 1 }
        // exhaustion (farthest remaining point already e4-coincides with a
        // seed) would need an extra oracle branch; the fixture has >= k
        // distinct directions, so fail loudly instead of modeling it.
        require(best(idx) < 10000L,
          "kmeansPortable: sample exhausted distinct directions before k seeds")
        val next = sample(idx)
        seeds :+= next
        i = 0
        while (i < sample.size) {
          best(i) = math.max(best(i), e4CosDriver(sample(i), next)); i += 1
        }
      }
      var codebook: Seq[(Int, Seq[Double])] =
        seeds.zipWithIndex.map { case (c, i) => (i, c: Seq[Double]) }
      (0 until iters).foreach { _ =>
        val means = assignPortable(pinned, codebook)
          .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy(col("cluster"), col("pos"))
          .agg(round(avg(col("x")), 4).as("m"))
          .groupBy(col("cluster"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("cluster"), transform(col("pm"), _.getField("m")).as("c"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        codebook = codebook.map { case (i, old) => i -> means.getOrElse(i, old) }
      }
      codebook
    } finally pinned.unpersist(blocking = false)
  }

  /** The learned codebook at the checked constants (kmK, kmIters) over
    * `dir`'s embeddings, as a pooled INDEX artifact: q_dedup_semantic_kmeans
    * and the silhouette assignment route through it, so under the bench
    * pool they reuse one fit per (session, dir) through
    * [[graft.util.Memo.benchValue]] (driver-side k·dim doubles — no
    * persisted frames to leak). q_cluster_kmeans never reads it: the fit
    * IS that query's output, so [[kmeansFrame]] fits on every call. */
  private[operators] def kmeansCodebook(s: SparkSession, dir: String)
      : Seq[(Int, Seq[Double])] =
    graft.util.Memo.benchValue(s, dir, "ann:kmeans_codebook")(kmeansPortable(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      kmK, kmIters))

  /** q_cluster_kmeans: the Lloyd fixpoint itself as a CHECKED query —
    * [[kmeansPortable]] (k=8, iters=3, the [[graft.operators.Dedup
    * .semanticDedupKmeans]] production depth) over the full embeddings
    * table, emitting one row per cell: (cluster, final-assignment size,
    * e4 centroid fingerprint). The oracle replays seed-by-seed and
    * round-by-round from the same constants (the q_ann_descent recipe),
    * so a drift anywhere in the fixpoint — a seed pick, one mean, one
    * argmax tie — moves a fingerprint or a count. */
  private def kmeansOracleQuery(s: SparkSession, dir: String): DataFrame =
    kmeansFrame(s, dir, kmK, kmIters)

  /** The (cluster, n, cent_fp) cell-summary frame — shared by
    * q_cluster_kmeans and the graft_kmeans TVF (one builder, SQL ≡ API
    * pinned in GraftCatalogSpec). Fits on every call, pool or not. */
  private[graft] def kmeansFrame(s: SparkSession, dir: String,
      k: Int, iters: Int): DataFrame = {
    import s.implicits._
    val corpus = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cb = kmeansPortable(corpus, k, iters)
    // Driver arm (optimization round): the cell summary after the fit is
    // ONE argmax-assignment count — integer-deterministic end to end
    // (e4CosDriver folds the dot in the same array order as e4CosCol's
    // left fold, so the BIGINT scores are bit-identical; ties to the
    // smallest cluster id, the -id struct rule). Under the cap the
    // corpus collects once and the k-row summary ships as a
    // LocalRelation — replacing the analyzer-heavy k·dim-literal
    // assignment expression + count/join stages the TVF re-analyzed on
    // every rebuild. Over cap / null embeddings: the frame chain below
    // (ClusterSpec pins arm equality).
    graft.util.SmallInput.take(corpus.select(col("embedding"))).foreach { take =>
      if (!take.exists(_.isNullAt(0))) {
        val counts = new Array[Long](k)
        take.foreach { r =>
          val v = r.getSeq[Float](0).map(_.toDouble).toIndexedSeq
          var bestId = Int.MaxValue
          var bestE4 = Long.MinValue
          cb.foreach { case (id, c) =>
            val e4 = e4CosDriver(v, c.toIndexedSeq)
            if (e4 > bestE4 || (e4 == bestE4 && id < bestId)) {
              bestE4 = e4; bestId = id
            }
          }
          counts(bestId) += 1L
        }
        val rows = cb.map { case (i, c) =>
          (i, counts(i), c.map(x => math.floor(x * 10000 + 0.5).toLong).sum)
        }
        return s.createDataFrame(rows).toDF("cluster", "n", "cent_fp")
          .orderBy(col("cluster"))
      }
    }
    val counts = assignPortable(corpus, cb)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
    val cbDf = cb.map { case (i, c) =>
      (i, c.map(x => math.floor(x * 10000 + 0.5).toLong).sum)
    }.toDF("cluster", "cent_fp")
    cbDf.join(counts, Seq("cluster"), "left")
      .select(col("cluster"), coalesce(col("n"), lit(0L)).as("n"), col("cent_fp"))
      .orderBy(col("cluster"))
  }

  /** The k-means fixpoint unrolled as CTEs — shared by q_cluster_kmeans
    * and q_dedup_semantic_kmeans's oracles. Ends at `af` (the final
    * assignment: vec_id, cv, cluster) and `cb{kmIters}` (the final
    * codebook). Generated from the query's own constants. */
  private[operators] def kmeansSqlCtes: Seq[String] = {
    def nrm(v: String) = normSql(v)
    def e4(a: String, b: String) =
      s"""(CASE WHEN ${nrm(a)} = 0 OR ${nrm(b)} = 0 THEN -20000
          ELSE CAST(floor(${dotSql.format(a, b)} / (sqrt(${nrm(a)}) * sqrt(${nrm(b)})) * 10000 + 0.5) AS BIGINT) END)"""
    val ctes = scala.collection.mutable.ArrayBuffer(
      "kcorpus AS MATERIALIZED (SELECT vec_id, embedding AS cv FROM embeddings)",
      s"raws AS MATERIALIZED (SELECT vec_id, cv FROM kcorpus ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT $kmSample)",
      """samp AS MATERIALIZED (SELECT cv, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS i
         FROM raws WHERE len(list_filter(cv, x -> x <> 0)) > 0)""",
      "s1 AS MATERIALIZED (SELECT cv AS c FROM samp WHERE i = 1)",
      s"b1 AS MATERIALIZED (SELECT s.i, s.cv, ${e4("s.cv", "t.c")} AS best FROM samp s, s1 t)")
    for (t <- 2 to kmK) {
      ctes += s"""s$t AS MATERIALIZED (SELECT cv AS c FROM (
         SELECT cv, row_number() OVER (ORDER BY best, i) AS rn FROM b${t - 1}) WHERE rn = 1)"""
      if (t < kmK)
        ctes += s"""b$t AS MATERIALIZED (SELECT b.i, b.cv, GREATEST(b.best, ${e4("b.cv", "t.c")}) AS best
           FROM b${t - 1} b, s$t t)"""
    }
    ctes += (1 to kmK).map(t =>
        s"SELECT ${t - 1} AS cluster, list_transform(c, x -> CAST(x AS DOUBLE)) AS c FROM s$t")
      .mkString("cb0 AS MATERIALIZED (", " UNION ALL ", ")")
    def assignCte(name: String, cbName: String) =
      s"""$name AS MATERIALIZED (SELECT vec_id, cv, cluster FROM (
         SELECT v.vec_id, v.cv, c.cluster,
                row_number() OVER (PARTITION BY v.vec_id ORDER BY ${e4("v.cv", "c.c")} DESC, c.cluster) AS rn
         FROM kcorpus v, $cbName c) WHERE rn = 1)"""
    for (r <- 1 to kmIters) {
      ctes += assignCte(s"a$r", s"cb${r - 1}")
      ctes += s"""m$r AS MATERIALIZED (SELECT cluster, list(m ORDER BY pos) AS c FROM (
         SELECT cluster, pos, round(avg(CAST(x AS DOUBLE)), 4) AS m
         FROM (SELECT cluster, unnest(cv) AS x, unnest(range(len(cv))) AS pos FROM a$r)
         GROUP BY 1, 2) GROUP BY cluster)"""
      ctes += s"""cb$r AS MATERIALIZED (SELECT p.cluster, coalesce(n.c, p.c) AS c
         FROM cb${r - 1} p LEFT JOIN m$r n USING (cluster))"""
    }
    ctes += assignCte("af", s"cb$kmIters")
    ctes.toSeq
  }

  private def kmeansSql: String =
    "WITH " + kmeansSqlCtes.mkString(",\n") + s"""
     SELECT cb.cluster, coalesce(t.n, 0) AS n,
            CAST(list_sum(list_transform(cb.c, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))) AS BIGINT) AS cent_fp
     FROM cb$kmIters cb
     LEFT JOIN (SELECT cluster, CAST(count(*) AS BIGINT) AS n FROM af GROUP BY 1) t USING (cluster)
     ORDER BY cb.cluster"""

  /** Per-vector silhouette over the LEARNED Lloyd cells [Rousseeuw,
    * J. Comput. Appl. Math.'87] — the clustering tier's QUALITY metric
    * (q_cluster_kmeans fits, q_cluster_dbscan segments, this one
    * scores): a(i) = mean e4 cosine distance to i's own cell, b(i) =
    * min over other cells of the mean distance, s = (b − a)/max(a, b)
    * in e4 integers. Every seam is the proven portable device — the
    * codebook is kmeansPortable's (pool-memoized at the checked
    * constants), distances are 10000 − e4(round(cos, 4)), means are
    * floor divs on non-negative operands, and the final ratio is
    * sign-split so both engines floor the same magnitude (a negative
    * numerator would floor vs truncate differently). Singleton cells
    * (a undefined) and the all-one-cell corner (b undefined) score 0,
    * Rousseeuw's convention.
    *
    * Plan shape: ONE n² pair pass (i-side repartitioned, j-side
    * broadcast — the [[graft.operators.Cluster.epsPairs]] spread) into
    * a map-side-combining (i, ci, cj) aggregate — the shuffle carries
    * ≤ n·k mean cells, never pairs. At 100 TB the pair pass is the
    * stage the ANN tier bounds (per-cell sampled neighbors), the
    * aggregate shape unchanged. */
  private[graft] def silhouetteFrame(s: SparkSession, dir: String): DataFrame =
    silhouetteOf(silhouetteAssigned(s, dir))

  /** The (vec_id, cluster, embedding) assignment silhouette scores —
    * factored so PlanSpec can pin the distributed arm's plan on the
    * same input the query runs. */
  private[graft] def silhouetteAssigned(s: SparkSession, dir: String): DataFrame = {
    val embs = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    assignPortable(embs, kmeansCodebook(s, dir))
      .select(col("vec_id"), col("cluster"), col("embedding"))
  }

  /** The silhouette scoring core over any (vec_id, cluster, embedding)
    * assignment — factored from [[silhouetteFrame]] so OperatorsSpec can
    * pin hand-computable fixtures independent of the codebook.
    *
    * Driver arm (optimization round — the graph tier's small-input
    * arm applied to the clustering tier's n² member): under the pair
    * cap of VECTORS the whole pair pass runs in memory with the
    * EXACT per-pair arithmetic of the frame below — the same sequential
    * double accumulation as graft_cosine (nullSafeEval's loop order),
    * Spark's HALF_UP round(·, 4) via BigDecimal, floor(x·10⁴ + 0.5)
    * e4 units, integer mean cells, min-when a/b — so the scores are
    * bit-identical (OperatorsSpec pins arm equality on the fixture).
    * The measured gap this closes: the eager TVF checkpoint computed
    * every column of the n² pass (5.4 s at sf0.1) where the bench's
    * count() action let the optimizer prune it (0.4 s) — the arm makes
    * the real computation cheap instead of relying on pruning. Over cap
    * the distributed pair pass below runs unchanged — n² work needs the
    * cluster once n is real. */
  private[graft] def silhouetteOf(assigned: DataFrame): DataFrame = {
    graft.util.SmallInput.take(assigned.select(col("vec_id"), col("cluster"),
        col("embedding")), graft.util.SmallInput.PairCap).foreach { take =>
      val n = take.length
      val ids = new Array[Long](n)
      // cluster labels stay INT end to end (assignPortable's codebook
      // ids) — the arm must preserve the column type the distributed
      // frame emits or the oracle's schema compare breaks
      val cl = new Array[Int](n)
      val vs = new Array[Array[Float]](n)
      var i = 0
      while (i < n) {
        val r = take(i)
        ids(i) = r.getAs[Number](0).longValue
        cl(i) = r.getAs[Number](1).intValue
        vs(i) = r.getAs[scala.collection.Seq[Float]](2).toArray
        i += 1
      }
      val sE4 = new Array[Long](n)
      java.util.stream.IntStream.range(0, n).parallel().forEach { x =>
        // mean distance cells: per cluster, Σ non-null d and the ALL-row
        // count (null d rides the count but not the sum — the frame's
        // sum/count semantics over a null-yielding cosine)
        val sums = scala.collection.mutable.HashMap.empty[Int, Long]
        val cnts = scala.collection.mutable.HashMap.empty[Int, Long]
        val nn = scala.collection.mutable.HashSet.empty[Int]
        val a = vs(x)
        var j = 0
        while (j < n) {
          if (j != x) {
            val b = vs(j)
            val len = math.min(a.length, b.length)
            var dot = 0.0; var na = 0.0; var nb = 0.0
            var t = 0
            while (t < len) {
              val xv = a(t).toDouble; val yv = b(t).toDouble
              dot += xv * yv; na += xv * xv; nb += yv * yv
              t += 1
            }
            cnts(cl(j)) = cnts.getOrElse(cl(j), 0L) + 1L
            if (na != 0.0 && nb != 0.0) {
              val cos = dot / (math.sqrt(na) * math.sqrt(nb))
              val r4 = java.math.BigDecimal.valueOf(cos)
                .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
              val d = 10000L - math.floor(r4 * 10000.0 + 0.5).toLong
              sums(cl(j)) = sums.getOrElse(cl(j), 0L) + d
              nn += cl(j)
            }
          }
          j += 1
        }
        var aM: Option[Long] = None
        var bM: Option[Long] = None
        cnts.keysIterator.foreach { c =>
          if (nn(c)) {
            val m = sums(c) / cnts(c)
            if (c == cl(x)) aM = Some(m)
            else if (bM.forall(m < _)) bM = Some(m)
          }
        }
        sE4(x) = (aM, bM) match {
          case (Some(av), Some(bv)) if math.max(av, bv) != 0L =>
            if (bv >= av) ((bv - av) * 10000L) / math.max(av, bv)
            else -(((av - bv) * 10000L) / math.max(av, bv))
          case _ => 0L
        }
      }
      return assigned.sparkSession
        .createDataFrame((0 until n).map(i => (ids(i), cl(i), sE4(i))))
        .toDF("vec_id", "cluster", "s_e4")
        .orderBy(col("vec_id"))
    }
    silhouetteOfDistributed(assigned)
  }

  /** The distributed n² pair pass — [[silhouetteOf]]'s over-cap arm. */
  private[graft] def silhouetteOfDistributed(assigned: DataFrame): DataFrame = {
    val ai = assigned.select(col("vec_id").as("i"), col("cluster").as("ci"),
      col("embedding").as("vi"))
    val bj = assigned.select(col("vec_id").as("j"), col("cluster").as("cj"),
      col("embedding").as("vj"))
    val md = ai.repartition(col("i"))
      .join(broadcast(bj), col("i") =!= col("j"))
      .select(col("i"), col("ci"), col("cj"),
        (lit(10000L) - cosE4(round(Sim.cosine(col("vi"), col("vj")), 4)))
          .as("d"))
      .groupBy(col("i"), col("ci"), col("cj"))
      .agg(sum(col("d")).as("sd"), count(lit(1)).as("cnt"))
      .select(col("i"), col("ci"), col("cj"), expr("sd div cnt").as("m"))
    // a and b fold out of the mean cells in ONE more aggregate (the
    // own-cell row is unique, so min-when recovers it; b is the min
    // over the other cells) — one n² execution end to end, where
    // separate a/b tails would each re-run the pair pass inside their
    // own broadcast build
    val ab = md.groupBy(col("i").as("vec_id"))
      .agg(min(when(col("cj") === col("ci"), col("m"))).as("a"),
        min(when(col("cj") =!= col("ci"), col("m"))).as("b"))
    // ab is ≤ n rows by construction but sits downstream of the n²
    // aggregate, whose size estimate would push the planner to
    // sort-merge — broadcast explicitly (PlanSpec pins)
    assigned.select(col("vec_id"), col("cluster"))
      .join(broadcast(ab), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("a").isNull || col("b").isNull ||
            greatest(col("a"), col("b")) === 0L, lit(0L))
          .when(col("b") >= col("a"),
            expr("((b - a) * 10000L) div greatest(a, b)"))
          .otherwise(-expr("((a - b) * 10000L) div greatest(a, b)"))
          .as("s_e4"))
      .orderBy(col("vec_id"))
  }

  private def silhouetteSql: String = {
    def cos(a: String, b: String) =
      s"round(${dotSql.format(a, b)} / (sqrt(${normSql(a)}) * sqrt(${normSql(b)})), 4)"
    def e4(x: String) = s"CAST(floor(($x) * 10000 + 0.5) AS BIGINT)"
    "WITH " + kmeansSqlCtes.mkString(",\n") + s""",
     pd AS MATERIALIZED (
       SELECT x.vec_id AS i, x.cluster AS ci, y.cluster AS cj,
              10000 - ${e4(cos("x.cv", "y.cv"))} AS d
       FROM af x JOIN af y ON x.vec_id <> y.vec_id),
     md AS MATERIALIZED (
       SELECT i, ci, cj,
              CAST(sum(d) AS BIGINT) // CAST(count(*) AS BIGINT) AS m
       FROM pd GROUP BY 1, 2, 3),
     av AS (SELECT i, m AS a FROM md WHERE cj = ci),
     bv AS (SELECT i, min(m) AS b FROM md WHERE cj <> ci GROUP BY i)
     SELECT f.vec_id, f.cluster,
            CASE WHEN a IS NULL OR b IS NULL OR greatest(a, b) = 0 THEN 0
                 WHEN b >= a THEN ((b - a) * 10000) // greatest(a, b)
                 ELSE -(((a - b) * 10000) // greatest(a, b)) END AS s_e4
     FROM af f
     LEFT JOIN av ON av.i = f.vec_id
     LEFT JOIN bv ON bv.i = f.vec_id
     ORDER BY f.vec_id"""
  }

  /** At-scale margin mining over the ANN tier — the executable form of
    * q_embed_margin_pairs' scale path (round-14 verdict's one prose-only
    * claim, now code). Candidates are BIDIRECTIONAL top-R lists: each x
    * searches the y-side index for its R best, each y searches the
    * x-side index — exactly what CCMatrix-scale miners retrieve — and
    * the union feeds [[Sim.marginPairsFromCandidates]], whose k-sums and
    * mutual-best filter are then candidate-local. Correctness lever:
    * when the candidate set contains each side's true top-R (R ≥ k),
    * the k-sums are EXACT and mining equals the bounded-exact slice —
    * OperatorsSpec measures 124/124 mutual-best recall with brute-force
    * top-8 lists and pins the end-to-end ANN-tier floor. Each direction
    * is one index build (NN-descent + α-prune, cost ≤ n·(2·degree)²
    * rows/round) + one routed beam search (per-probe cost parameter-
    * bounded, independent of corpus size); at 100 TB the probe side runs
    * in batches against the persisted index — the StreamOps arrival
    * pattern — never materializing more than batch×R candidate rows.
    *
    * @param xs (id_x BIGINT, vx ARRAY<FLOAT>) one side, distinct ids.
    * @param ys (id_y BIGINT, vy ARRAY<FLOAT>) other side, distinct ids.
    * @param k  margin neighborhood size (the k-sums' k).
    * @param r  per-probe retrieved list depth, r ≥ k.
    * @return (id_x, id_y, cos_e4, margin) mutual-best pairs, unordered. */
  def marginPairsAnn(xs: DataFrame, ys: DataFrame, k: Int, r: Int,
      beam: Int = 32, hops: Int = 6, nprobe: Int = 4,
      degree: Int = 24, rounds: Int = 3): DataFrame = {
    require(r >= k, s"retrieved depth r=$r must cover the margin k=$k")
    def topR(probes: DataFrame, corpus: DataFrame): DataFrame = {
      val knn = graphAnnIndexDescent(corpus, degree, rounds)
      val index = alphaPrune(rescoreEdges(knn, corpus), corpus, degree,
        alphaPct = 120, window = 2 * degree)
      graft.util.Frames.releaseCheckpoint(knn)
      val cb = kmeans(
        corpus.select(col("cand_id").as("vec_id"), col("cv").as("embedding")),
        8, 2)
      val entries = codebookEntries(probes, corpus, cb, nprobe)
      graphAnnSearch(probes, corpus, index, entries, beam, hops, r)
    }
    val x2y = topR(
        xs.select(col("id_x").as("probe_id"), col("vx").as("pv")),
        ys.select(col("id_y").as("cand_id"), col("vy").as("cv")))
      .select(col("probe_id").as("id_x"), col("cand_id").as("id_y"), col("cos"))
    val y2x = topR(
        ys.select(col("id_y").as("probe_id"), col("vy").as("pv")),
        xs.select(col("id_x").as("cand_id"), col("vx").as("cv")))
      .select(col("cand_id").as("id_x"), col("probe_id").as("id_y"), col("cos"))
    val cands = x2y.unionAll(y2x)
      .groupBy(col("id_x"), col("id_y"))
      .agg(first(col("cos")).as("cos"))
      .select(col("id_x"), col("id_y"),
        floor(col("cos") * 10000 + 0.5).cast("long").as("e4"))
    Sim.marginPairsFromCandidates(cands, k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ann_ivf" -> ((s, dir) => ivfOracleQuery(s, dir)),
    "q_ann_pq" -> ((s, dir) => pqOracleQuery(s, dir)),
    "q_ann_ivfpq" -> ((s, dir) => ivfpqOracleQuery(s, dir)),
    "q_ann_graph" -> ((s, dir) => graphAnnOracleQuery(s, dir)),
    "q_ann_descent" -> ((s, dir) => descentOracleQuery(s, dir)),
    "q_ann_filtered" -> ((s, dir) => filteredOracleQuery(s, dir)),
    "q_cluster_kmeans" -> ((s, dir) => kmeansOracleQuery(s, dir)),
    "q_cluster_silhouette" -> ((s, dir) => silhouetteFrame(s, dir))
  )

  private val dotSql =
    "list_sum(list_transform(list_zip(%s, %s), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def normSql(v: String) =
    s"list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"

  /** q_ann_graph's oracle: the SAME build/prune/route/search unrolled
    * into CTEs (hops is a compile-time constant, so the unrolled text is
    * the exact dataflow; NOT EXISTS ⇔ left_anti, DISTINCT ⇔ the frontier
    * dedup, per-hop rn ≤ beam ⇔ the pruned frontier; the α-occlusion
    * inequality is e4-integer arithmetic on both sides). Generated from
    * the same parameters the query runs, so they cannot drift apart. */
  private def graphAnnSql: String = {
    def cos(a: String, b: String) =
      s"round(${dotSql.format(a, b)} / (sqrt(${normSql(a)}) * sqrt(${normSql(b)})), 4)"
    def e4(x: String) = s"CAST(floor(($x) * 10000 + 0.5) AS BIGINT)"
    val ctes = scala.collection.mutable.ArrayBuffer(
      "probes AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 5)",
      "corpusl AS (SELECT vec_id AS cand_id, label, embedding AS cv FROM embeddings WHERE vec_id >= 5 AND vec_id < 500)",
      "corpus AS (SELECT cand_id, cv FROM corpusl)",
      s"""base AS (SELECT src, dst, ce4, rn FROM (
         SELECT src, dst, ce4, row_number() OVER (PARTITION BY src ORDER BY ce4 DESC, dst) AS rn
         FROM (SELECT a.cand_id AS src, b.cand_id AS dst, ${e4(cos("a.cv", "b.cv"))} AS ce4
               FROM corpus a JOIN corpus b ON a.cand_id <> b.cand_id))
         WHERE rn <= $gWindow)""",
      s"""occl AS (SELECT DISTINCT c.src, c.dst
         FROM base a JOIN base c ON a.src = c.src AND a.rn < c.rn
         JOIN corpus x ON x.cand_id = a.dst JOIN corpus y ON y.cand_id = c.dst
         WHERE $gAlpha * (10000 - ${e4(cos("x.cv", "y.cv"))}) <= 100 * (10000 - c.ce4))""",
      s"""edges AS (SELECT src, dst FROM (
         SELECT b.src, b.dst, row_number() OVER (PARTITION BY b.src ORDER BY b.ce4 DESC, b.dst) AS rn2
         FROM base b WHERE NOT EXISTS (SELECT 1 FROM occl o WHERE o.src = b.src AND o.dst = b.dst))
         WHERE rn2 <= $gR)""",
      """cent AS (SELECT label AS route, list(m ORDER BY pos) AS centroid
         FROM (SELECT label, pos, round(avg(CAST(x AS DOUBLE)), 4) AS m
               FROM (SELECT label, unnest(cv) AS x, unnest(range(len(cv))) AS pos FROM corpusl)
               GROUP BY 1, 2)
         GROUP BY label)""",
      s"""med AS (SELECT route, cand_id FROM (
         SELECT ct.route, c.cand_id,
                row_number() OVER (PARTITION BY ct.route ORDER BY ${cos("c.cv", "ct.centroid")} DESC, c.cand_id) AS rn
         FROM corpusl c JOIN cent ct ON c.label = ct.route)
         WHERE rn = 1)""",
      s"""routed AS (SELECT probe_id, route FROM (
         SELECT p.probe_id, ct.route,
                row_number() OVER (PARTITION BY p.probe_id ORDER BY ${cos("p.pv", "ct.centroid")} DESC, ct.route) AS crn
         FROM probes p, cent ct)
         WHERE crn <= $gNprobe)""",
      "entries AS (SELECT DISTINCT r.probe_id, m.cand_id FROM routed r JOIN med m USING (route))",
      s"""v0 AS (SELECT en.probe_id, en.cand_id, ${cos("p.pv", "c.cv")} AS cos
         FROM entries en JOIN corpus c USING (cand_id) JOIN probes p USING (probe_id))""",
      "f0 AS (SELECT probe_id, cand_id FROM v0)")
    for (h <- 1 to gHops) {
      ctes += s"""s$h AS (SELECT n.probe_id, n.cand_id, ${cos("p.pv", "c.cv")} AS cos
         FROM (SELECT DISTINCT f.probe_id, e.dst AS cand_id
               FROM f${h - 1} f JOIN edges e ON e.src = f.cand_id) n
         JOIN corpus c USING (cand_id) JOIN probes p USING (probe_id)
         WHERE NOT EXISTS (SELECT 1 FROM v${h - 1} v
                           WHERE v.probe_id = n.probe_id AND v.cand_id = n.cand_id))"""
      ctes += s"v$h AS (SELECT * FROM v${h - 1} UNION ALL SELECT * FROM s$h)"
      if (h < gHops)
        ctes += s"""f$h AS (SELECT probe_id, cand_id FROM (
           SELECT probe_id, cand_id, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
           FROM s$h) WHERE rn <= $gBeam)"""
    }
    "WITH " + ctes.mkString(",\n") + s"""
     SELECT probe_id, cand_id, cos, CAST(rn AS INT) AS rn FROM (
       SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn FROM v$gHops)
     WHERE rn <= $gK ORDER BY probe_id, rn"""
  }

  /** q_ann_descent's oracle: the descent fixpoint unrolled round by
    * round (rounds is a compile-time constant), generated from the
    * query's own parameters so engine and oracle cannot drift. */
  private def descentSql: String = {
    def cos(a: String, b: String) =
      s"round(${dotSql.format(a, b)} / (sqrt(${normSql(a)}) * sqrt(${normSql(b)})), 4)"
    val strides = (0 until dR).map(j => (1L << j).toString).mkString(", ")
    val ctes = scala.collection.mutable.ArrayBuffer(
      "corpus AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings WHERE vec_id >= 5 AND vec_id < 500)",
      "pos AS (SELECT cand_id, cv, row_number() OVER (ORDER BY cand_id) - 1 AS i FROM corpus)",
      "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pos)",
      s"""e0 AS (SELECT DISTINCT p.cand_id AS src, q.cand_id AS dst
         FROM pos p, n, (SELECT unnest([$strides]) AS s) st
         JOIN pos q ON q.i = (p.i + st.s) % n.n
         WHERE p.cand_id <> q.cand_id)""")
    for (h <- 1 to dRounds) {
      ctes += s"u$h AS (SELECT src, dst FROM e${h - 1} UNION ALL SELECT dst, src FROM e${h - 1})"
      ctes += s"""c$h AS (SELECT DISTINCT src, dst FROM (
         SELECT src, dst FROM u$h
         UNION ALL
         SELECT a.src AS src, b.dst AS dst FROM u$h a JOIN u$h b ON a.dst = b.src)
         WHERE src <> dst)"""
      ctes += s"""e$h AS (SELECT src, dst FROM (
         SELECT c.src, c.dst,
                row_number() OVER (PARTITION BY c.src ORDER BY ${cos("x.cv", "y.cv")} DESC, c.dst) AS rn
         FROM c$h c JOIN pos x ON x.cand_id = c.src JOIN pos y ON y.cand_id = c.dst)
         WHERE rn <= $dR)"""
    }
    "WITH " + ctes.mkString(",\n") +
      s"\nSELECT src, dst FROM e$dRounds ORDER BY src, dst"
  }

  val oracle: Map[String, String] = Map(
    "q_cluster_kmeans" -> kmeansSql,
    "q_cluster_silhouette" -> silhouetteSql,
    "q_ann_descent" -> descentSql,
    "q_ann_graph" -> graphAnnSql,
    "q_ann_filtered" ->
      s"""WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 5),
          corpus AS (
            SELECT vec_id AS cand_id, label, embedding AS cv FROM embeddings WHERE vec_id >= 5),
          tall AS (
            SELECT label, unnest(cv) AS x, unnest(range(len(cv))) AS pos FROM corpus),
          cent AS (
            SELECT label AS route, list(m ORDER BY pos) AS centroid
            FROM (SELECT label, pos, round(avg(CAST(x AS DOUBLE)), 4) AS m
                  FROM tall GROUP BY 1, 2)
            GROUP BY label),
          routed AS (
            SELECT probe_id, pv, route,
                   row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, route) AS crn
            FROM (SELECT p.probe_id, p.pv, c.route,
                         round(${dotSql.format("p.pv", "c.centroid")}
                               / (sqrt(${normSql("p.pv")}) * sqrt(${normSql("c.centroid")})), 4) AS ccos
                  FROM probes p, cent c
                  WHERE c.route % 2 = p.probe_id % 2)),
          cand AS (
            SELECT r.probe_id, c.cand_id, c.label,
                   round(${dotSql.format("r.pv", "c.cv")}
                         / (sqrt(${normSql("r.pv")}) * sqrt(${normSql("c.cv")})), 4) AS cos
            FROM routed r JOIN corpus c ON c.label = r.route
            WHERE r.crn <= 2)
          SELECT probe_id, cand_id, label, cos, CAST(rn AS INT) AS rn FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
            FROM cand)
          WHERE rn <= 3
          ORDER BY probe_id, rn""",
    "q_ann_ivf" ->
      s"""WITH probes AS (
            SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 5),
          corpus AS (
            SELECT vec_id AS cand_id, label, embedding AS cv FROM embeddings WHERE vec_id >= 5),
          tall AS (
            SELECT label, unnest(cv) AS x, unnest(range(len(cv))) AS pos FROM corpus),
          cent AS (
            SELECT label AS route, list(m ORDER BY pos) AS centroid
            FROM (SELECT label, pos, round(avg(CAST(x AS DOUBLE)), 4) AS m
                  FROM tall GROUP BY 1, 2)
            GROUP BY label),
          routed AS (
            SELECT probe_id, pv, route,
                   row_number() OVER (PARTITION BY probe_id ORDER BY ccos DESC, route) AS crn
            FROM (SELECT p.probe_id, p.pv, c.route,
                         round(${dotSql.format("p.pv", "c.centroid")}
                               / (sqrt(${normSql("p.pv")}) * sqrt(${normSql("c.centroid")})), 4) AS ccos
                  FROM probes p, cent c)),
          cand AS (
            SELECT r.probe_id, c.cand_id, c.label,
                   round(${dotSql.format("r.pv", "c.cv")}
                         / (sqrt(${normSql("r.pv")}) * sqrt(${normSql("c.cv")})), 4) AS cos
            FROM routed r JOIN corpus c ON c.label = r.route
            WHERE r.crn <= 2)
          SELECT probe_id, cand_id, label, cos, CAST(rn AS INT) AS rn FROM (
            SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS rn
            FROM cand)
          WHERE rn <= 3
          ORDER BY probe_id, rn""",

    "q_ann_pq" ->
      """WITH sub AS (
           SELECT vec_id, label, m, embedding[m*16+1:(m+1)*16] AS sub
           FROM embeddings, (SELECT unnest(range(4)) AS m)),
         corpus AS (SELECT * FROM sub WHERE vec_id >= 5),
         probes AS (SELECT vec_id AS probe_id, m, sub AS pv FROM sub WHERE vec_id < 5),
         tallc AS (
           SELECT m, label, unnest(sub) AS x, unnest(range(len(sub))) AS pos
           FROM corpus),
         cents AS (
           SELECT m, label AS code, list(c ORDER BY pos) AS cent
           FROM (SELECT m, label, pos, round(avg(CAST(x AS DOUBLE)), 4) AS c
                 FROM tallc GROUP BY 1, 2, 3)
           GROUP BY 1, 2),
         enc AS (
           SELECT vec_id AS cand_id, m, code,
                  row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
           FROM (SELECT c.vec_id, c.m, ct.code,
                        round(list_sum(list_transform(list_zip(c.sub, ct.cent),
                          x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                             * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS dist
                 FROM corpus c JOIN cents ct ON c.m = ct.m)),
         codes AS (SELECT cand_id, m, code FROM enc WHERE rn = 1),
         lut AS (
           SELECT p.probe_id, p.m, ct.code,
                  CAST(floor(list_sum(list_transform(list_zip(p.pv, ct.cent),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) * 1e6 + 0.5)
                       AS BIGINT) AS dot_micro
           FROM probes p JOIN cents ct ON p.m = ct.m),
         scored AS (
           SELECT l.probe_id, c.cand_id, CAST(sum(l.dot_micro) AS BIGINT) AS score_micro
           FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.code
           GROUP BY 1, 2)
         SELECT probe_id, cand_id, CAST(rn AS INT) AS rn, score_micro,
                round(score_micro / 1e6, 6) AS score
         FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                          ORDER BY score_micro DESC, cand_id) AS rn
               FROM scored)
         WHERE rn <= 3
         ORDER BY probe_id, rn""",

    "q_ann_ivfpq" ->
      """WITH probes AS (
           SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 5),
         corpusf AS (
           SELECT vec_id AS cand_id, label, embedding AS cv FROM embeddings WHERE vec_id >= 5),
         tallf AS (
           SELECT label, unnest(cv) AS x, unnest(range(len(cv))) AS pos FROM corpusf),
         centf AS (
           SELECT label AS route, list(m ORDER BY pos) AS centroid
           FROM (SELECT label, pos, round(avg(CAST(x AS DOUBLE)), 4) AS m
                 FROM tallf GROUP BY 1, 2)
           GROUP BY label),
         routed AS (
           SELECT probe_id, route FROM (
             SELECT p.probe_id, c.route,
                    row_number() OVER (PARTITION BY p.probe_id ORDER BY
                      round(list_sum(list_transform(list_zip(p.pv, c.centroid),
                              x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                            / (sqrt(list_sum(list_transform(p.pv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                               * sqrt(list_sum(list_transform(c.centroid, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
                      DESC, c.route) AS crn
             FROM probes p, centf c)
           WHERE crn <= 2),
         sub AS (
           SELECT vec_id, label, m, embedding[m*16+1:(m+1)*16] AS sub
           FROM embeddings, (SELECT unnest(range(4)) AS m)),
         corpus AS (SELECT * FROM sub WHERE vec_id >= 5),
         probesub AS (SELECT vec_id AS probe_id, m, sub AS pv FROM sub WHERE vec_id < 5),
         tallc AS (
           SELECT m, label, unnest(sub) AS x, unnest(range(len(sub))) AS pos
           FROM corpus),
         cents AS (
           SELECT m, label AS code, list(c ORDER BY pos) AS cent
           FROM (SELECT m, label, pos, round(avg(CAST(x AS DOUBLE)), 4) AS c
                 FROM tallc GROUP BY 1, 2, 3)
           GROUP BY 1, 2),
         enc AS (
           SELECT vec_id AS cand_id, label, m, code,
                  row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
           FROM (SELECT c.vec_id, c.label, c.m, ct.code,
                        round(list_sum(list_transform(list_zip(c.sub, ct.cent),
                          x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                             * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))), 4) AS dist
                 FROM corpus c JOIN cents ct ON c.m = ct.m)),
         codes AS (SELECT cand_id, label, m, code FROM enc WHERE rn = 1),
         lut AS (
           SELECT p.probe_id, p.m, ct.code,
                  CAST(floor(list_sum(list_transform(list_zip(p.pv, ct.cent),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) * 1e6 + 0.5)
                       AS BIGINT) AS dot_micro
           FROM probesub p JOIN cents ct ON p.m = ct.m),
         scored AS (
           SELECT r.probe_id, c.cand_id, c.label,
                  CAST(sum(l.dot_micro) AS BIGINT) AS score_micro
           FROM codes c
           JOIN routed r ON c.label = r.route
           JOIN lut l ON l.probe_id = r.probe_id AND l.m = c.m AND l.code = c.code
           GROUP BY 1, 2, 3)
         SELECT probe_id, cand_id, label, CAST(rn AS INT) AS rn, score_micro,
                round(score_micro / 1e6, 6) AS score
         FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                          ORDER BY score_micro DESC, cand_id) AS rn
               FROM scored)
         WHERE rn <= 3
         ORDER BY probe_id, rn"""
  )

  /** Per-label mean vectors — the coarse IVF codebook. */
  def centroids(corpus: DataFrame): DataFrame = {
    // mean per dimension: explode with position, average, re-assemble.
    corpus
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label"),
        transform(col("pm"), e => e.getField("m").cast("float")).as("centroid"))
  }

  /** Label-routed IVF at nprobe=1 (only one overload may carry a default
    * argument in Scala, and the codebook variant holds it). */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    ivfTopK(probes, corpus, k, nprobe = 1)

  /** Label-routed IVF: route each probe to its nprobe nearest centroids'
    * label partitions, then exact-rank within those partitions only (each
    * candidate carries one label, so multi-probe never duplicates it). */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val cents = centroids(corpus)
    val p = probes.select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    // nearest centroids per probe (centroid table is tiny → broadcast).
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("ccos").desc, col("label"))
    val routed = p.crossJoin(broadcast(cents))
      .select(col("probe_id"), col("pv"), col("label"),
        Sim.cosine(col("pv"), col("centroid")).as("ccos"))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= nprobe)
      .select(col("probe_id"), col("pv"), col("label").as("route"))
    val c = corpus.select(col("vec_id").as("cand_id"), col("label"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    c.join(broadcast(routed), col("label") === col("route"))
      .select(col("probe_id"), col("cand_id"),
        round(Sim.cosine(col("pv"), col("cv")), 6).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }
}
