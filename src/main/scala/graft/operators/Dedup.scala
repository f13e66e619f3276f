package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Tables._

/** Near-duplicate detection operators for training-data pipelines — the
  * scale paths behind q_text_dedup_near's bounded pairwise check:
  *
  *   - MinHash + LSH banding: per-doc k-way MinHash signature (min of a
  *     keyed hash over the token set), banded into b buckets; only documents
  *     sharing a band bucket are candidate pairs → the pairwise product
  *     collapses from O(n²) to O(Σ bucket²), each bucket tiny at scale.
  *   - SimHash: 32-bit sign-of-weighted-bit-sums fingerprint; near-dups
  *     differ in few bits (banding on bit ranges gives the bucket join).
  *   - n-gram (shingle) Jaccard: 3-gram shingles instead of unigram token
  *     sets — order-sensitive near-dup detection.
  *   - Embedding cosine: semantic near-dup via vector similarity.
  *
  * Hashing is md5-based end-to-end (lexicographic min over hex strings is a
  * valid uniform MinHash) so the exact same algebra is expressible in the
  * DuckDB oracle — no JVM-private hash functions in the semantics.
  *
  * All four are exposed both as unbounded DataFrame operators (the real
  * API) and as bounded oracle queries (fixed candidate sets so the driver
  * check does fixed work at every SF).
  */
object Dedup {

  // ---------------------------------------------------------------- minhash

  val minhashSeeds: Seq[Int] = 0 until 8
  val bandsOf: Int = 4 // 4 bands × 2 rows

  private def tokens(text: Column): Column = array_distinct(split(text, " "))

  /** One MinHash component: lexicographic min of md5(token ∥ seed) — the
    * composable HOF form the DuckDB oracle mirrors; the SINGLE bit-parity
    * reference HashExprsSpec tests the native kernel against. The hot
    * path uses graft_minhash instead. */
  private[graft] def minhashReference(toks: Column, seed: Int): Column =
    array_min(transform(toks, t => md5(concat(t, lit(s"_s$seed")))))

  /** doc_id + k MinHash components m0..m7 over `setOf(text)` — token sets
    * by default; pass `shingles3` for the order-sensitive variant.
    *
    * All k components come from ONE `graft_minhash` kernel pass
    * (graft.functions.MinHashSignature): the HOF form walks the token
    * array k times with per-element interpreted eval; the kernel walks it
    * once with a reused digest, bit-identical output (HashExprsSpec).
    * Two-step projection on purpose: the set expression materializes ONCE
    * per row and the signature column reads the materialized array —
    * inlining `setOf(text)` would re-evaluate the tokenize/shingle
    * pipeline per reference (Catalyst's CollapseProject keeps the split
    * because the array is non-cheap). */
  def minhashSignatures(docs: DataFrame,
      setOf: Column => Column = tokens): DataFrame = {
    // the kernel hashes suffixes _s0.._s(k−1) and component i sits at
    // sig[i+1] — both assume the seed set IS 0 until k; a re-based or
    // sparse seed set would silently diverge from the oracle (which
    // interpolates real seed values), so fail loudly instead
    require(minhashSeeds == (0 until minhashSeeds.size),
      s"minhashSeeds must be 0 until k for the graft_minhash kernel, got $minhashSeeds")
    docs.select(col("doc_id"), setOf(col("text")).as("st"))
      .select(col("doc_id"),
        call_function("graft_minhash", col("st"), lit(minhashSeeds.size)).as("sig"))
      .select(
        col("doc_id") +:
          minhashSeeds.map(sd => element_at(col("sig"), sd + 1).as(s"m$sd")): _*)
  }

  /** (doc_id, band, band_hash) — the LSH bucket keys. */
  def lshBuckets(signatures: DataFrame): DataFrame = {
    val bands = (0 until bandsOf).map { b =>
      struct(lit(b).as("band"),
        md5(concat(col(s"m${2 * b}"), col(s"m${2 * b + 1}"))).as("bh"))
    }
    signatures
      .select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bh"))
  }

  /** Default hot-bucket cap for every public LSH entry point. 1000 matches
    * maxTokenDf: a band bucket holding >1000 documents carries no
    * discriminating information (the band collided on corpus-common
    * structure), and keeping it would make the self-join quadratic on one
    * shuffle partition. Pass maxBucketSize = Int.MaxValue to opt out. */
  val defaultMaxBucketSize: Int = 1000

  /** Candidate pairs from shared LSH buckets (distinct over bands),
    * hot-bucket-capped at [[defaultMaxBucketSize]] — the capped path is the
    * DEFAULT because the one corpus that needs the guard (near-empty docs
    * hashing identically) is exactly the one where forgetting it is
    * quadratic. Uncapped is the explicit opt-out.
    *
    * The buckets frame is materialized (localCheckpoint) before the
    * self-join: the two join sides carry different aliases, so ReuseExchange
    * cannot dedupe them and each side would otherwise re-execute the whole
    * tokenize + k×md5 + band-hash pipeline from the scan — 2× the most
    * expensive narrow work at 100 TB. The checkpointed frame is tiny
    * (doc_id, band, band_hash) relative to the corpus. */
  def lshCandidates(buckets: DataFrame): DataFrame =
    lshCandidates(buckets, maxBucketSize = defaultMaxBucketSize)

  /** As above, with the 100 TB skew guard: a bucket of k docs contributes
    * k·(k−1)/2 pairs, so one degenerate bucket (e.g. every near-empty doc
    * hashing identically) turns the self-join quadratic and lands on a
    * single shuffle partition. Buckets larger than maxBucketSize are
    * dropped — standard LSH practice: a bucket that big means the band
    * carries no discriminating information, and true near-dup pairs still
    * collide in one of their other b−1 bands. */
  def lshCandidates(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    candidatePairs(buckets.localCheckpoint(), maxBucketSize)

  /** As [[lshCandidates]] but WITHOUT the eager localCheckpoint — for
    * analysis-time consumers (the SQL TVF `graft_near_dups`) where merely
    * BUILDING the plan (EXPLAIN, view definition) must not run Spark jobs
    * or pin checkpoint blocks for the session lifetime. The price: the
    * self-join sides re-execute the banding pipeline at run time. */
  def lshCandidatesLazy(buckets: DataFrame,
      maxBucketSize: Int = defaultMaxBucketSize): DataFrame =
    candidatePairs(buckets, maxBucketSize)

  private def candidatePairs(mat: DataFrame, maxBucketSize: Int): DataFrame = {
    val sized =
      if (maxBucketSize == Int.MaxValue) mat
      else {
        val small = mat.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucketSize)
          .select(col("band"), col("bh"))
        mat.join(small, Seq("band", "bh"))
      }
    val a = sized.select(col("band"), col("bh"), col("doc_id").as("d1"))
    val b = sized.select(col("band").as("band2"), col("bh").as("bh2"),
      col("doc_id").as("d2"))
    a.join(b, col("band") === col("band2") && col("bh") === col("bh2") &&
        col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Incremental near-dup detection: a FRESH batch of documents checked
    * against an already-indexed corpus — the dedup-on-arrival pattern a
    * production pipeline actually runs (re-LSHing the whole corpus per
    * batch would make ingest cost corpus-sized instead of batch-sized).
    * `corpusBuckets` is the stored bucket index ([[lshBuckets]] output,
    * persisted once and appended to as batches commit); only the fresh
    * batch is signed and banded here. Candidates come from a
    * batch-buckets ⋈ corpus-buckets equi-join (never a self-join), then
    * exact-Jaccard verify against the supplied corpus text. The hot-bucket
    * cap is applied to the COMBINED (corpus + batch) bucket size — the
    * same population minhashNearDups counts on corpus∪batch, so the
    * equivalence `incremental ≡ full run restricted to cross-set pairs`
    * holds cap and all, and a degenerate batch (thousands of near-empty
    * docs in one bucket) cannot turn the index join quadratic either.
    * Output: (d1 = corpus doc, d2 = fresh doc, jaccard). */
  def incrementalNearDups(corpus: DataFrame, corpusBuckets: DataFrame,
      fresh: DataFrame, threshold: Double,
      maxBucketSize: Int = defaultMaxBucketSize): DataFrame = {
    val fb = lshBuckets(minhashSignatures(fresh)).localCheckpoint()
    val fbd = fb.select(col("band"), col("bh"), col("doc_id").as("d2"))
    val cbd = corpusBuckets.select(col("band"), col("bh"), col("doc_id").as("d1"))
    val cands =
      if (maxBucketSize == Int.MaxValue) fbd.join(cbd, Seq("band", "bh"))
      else {
        val fn = fb.groupBy(col("band"), col("bh")).agg(count(lit(1)).as("f_n"))
        val cn = corpusBuckets.groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("c_n"))
        // only buckets present on BOTH sides can produce candidates
        val ok = fn.join(cn, Seq("band", "bh"))
          .filter(col("f_n") + col("c_n") <= maxBucketSize)
          .select(col("band"), col("bh"))
        fbd.join(ok, Seq("band", "bh")).join(cbd, Seq("band", "bh"))
      }
    verifyJaccard(corpus.unionByName(fresh),
      cands.select("d1", "d2").distinct(), threshold)
  }

  /** Exact set Jaccard for a pair set (the verify step after LSH) —
    * token sets by default, any set extractor via `setOf`. */
  def verifyJaccard(docs: DataFrame, pairs: DataFrame, threshold: Double,
      setOf: Column => Column = tokens): DataFrame = {
    val withToks = docs.select(col("doc_id"), setOf(col("text")).as("toks"))
    pairs
      .join(withToks.select(col("doc_id").as("d1"), col("toks").as("t1")), "d1")
      .join(withToks.select(col("doc_id").as("d2"), col("toks").as("t2")), "d2")
      .select(col("d1"), col("d2"),
        // native kernel: |A∩B|/(|A|+|B|−|A∩B|) in one set pass, identical
        // algebra (and IEEE result) to size(intersect)/size(union)
        call_function("graft_jaccard", col("t1"), col("t2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Full MinHash-LSH near-dup pipeline: signature → band → bucket join →
    * exact verify. The only shuffles are the bucket join and the verify
    * joins; no all-pairs product anywhere. Hot buckets larger than
    * maxBucketSize (default [[defaultMaxBucketSize]]) are dropped — the
    * 100 TB skew guard is ON unless explicitly opted out. */
  def minhashNearDups(docs: DataFrame, threshold: Double,
      maxBucketSize: Int = defaultMaxBucketSize): DataFrame = {
    // Driver arm (optimization round): signatures and band hashes still
    // compute IN SPARK (the graft_minhash kernel + md5 band expressions
    // have one definition); the collect ships the bucket keys and the
    // token arrays, and the bucket-cap/pairing/exact-Jaccard tail — all
    // set/count arithmetic with one IEEE division — runs in memory,
    // replacing the checkpoint + bucket-size join + self-join + two
    // verify joins. Over cap / null ids: the frame chain below
    // (OperatorsSpec pins arm equality).
    // ONE pass computes gate + tokens + signature + band hashes
    // (signatures hash the SAME token array the verify reads — one
    // evaluation of the upstream pipeline instead of the frame
    // chain's checkpoint + re-reads)
    val sig = call_function("graft_minhash", col("toks"),
      lit(minhashSeeds.size))
    val bhs = array((0 until bandsOf).map { b =>
      md5(concat(element_at(col("sig"), 2 * b + 1),
        element_at(col("sig"), 2 * b + 2)))
    }: _*)
    graft.util.SmallInput.take(docs
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), sig.as("sig"))
        .select(col("doc_id"), col("toks"), bhs.as("bhs")))
      .filter(!_.exists(_.isNullAt(0))).foreach { rowsIn =>
      import scala.collection.mutable.{ArrayBuffer, HashMap, HashSet}
      val byBucket = HashMap.empty[(Int, String), ArrayBuffer[Long]]
      val toksOf = HashMap.empty[Long, Set[String]]
      rowsIn.foreach { r =>
        val id = r.getAs[Number](0).longValue
        if (!r.isNullAt(1)) toksOf(id) = r.getSeq[String](1).toSet
        if (!r.isNullAt(2)) {
          val hs = r.getSeq[String](2)
          var b = 0
          while (b < hs.length) {
            // null band hash (null text) pairs nothing
            if (hs(b) != null)
              byBucket.getOrElseUpdate((b, hs(b)), ArrayBuffer.empty) += id
            b += 1
          }
        }
      }
      val cand = HashSet.empty[(Long, Long)]
      byBucket.valuesIterator.foreach { ids =>
        if (ids.length <= maxBucketSize) {
          val arr = ids.toArray
          var i = 0
          while (i < arr.length) {
            var j = 0
            while (j < arr.length) {
              if (arr(i) < arr(j)) cand += ((arr(i), arr(j)))
              j += 1
            }
            i += 1
          }
        }
      }
      val rows = cand.iterator.flatMap { case (d1, d2) =>
        (toksOf.get(d1), toksOf.get(d2)) match {
          case (Some(t1), Some(t2)) =>
            val (small, big) = if (t1.size <= t2.size) (t1, t2) else (t2, t1)
            val inter = small.count(big)
            val jac = inter.toDouble / (t1.size + t2.size - inter).toDouble
            if (jac >= threshold) Some((d1, d2, jac)) else None
          case _ => None
        }
      }.toSeq
      return docs.sparkSession.createDataFrame(rows)
        .toDF("d1", "d2", "jaccard")
    }
    verifyJaccard(docs,
      lshCandidates(lshBuckets(minhashSignatures(docs)), maxBucketSize),
      threshold)
  }

  // -------------------------------------------------- inverted-index path

  /** Candidate pairs from a document-frequency-capped inverted-index join —
    * the unbounded form of q_text_dedup_near's token join (SURVEY §7.2.5).
    *
    * A token appearing in k documents contributes k·(k−1)/2 pairs to the
    * self-join, so one corpus-wide token ("the") makes the join quadratic in
    * corpus size. Dropping tokens with df > maxTokenDf bounds the candidate
    * count at O(n_tokens · maxTokenDf): true near-dups still collide on
    * their rare tokens, and only pairs whose entire overlap is corpus-common
    * vocabulary are missed (such pairs have near-zero Jaccard specificity
    * anyway — this is the standard df-cut from inverted-index retrieval). */
  def invertedIndexCandidates(docs: DataFrame, maxTokenDf: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val rare = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxTokenDf)
      .select(col("tok"))
    // materialized: both self-join sides read the capped index once instead
    // of re-executing tokenize + df-join from the scan (same reasoning as
    // lshCandidates).
    val capped = toks.join(rare, Seq("tok")).localCheckpoint()
    capped.select(col("tok"), col("doc_id").as("d1"))
      .join(capped.select(col("tok").as("tok2"), col("doc_id").as("d2")),
        col("tok") === col("tok2") && col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Unbounded token-set near-dup detection: df-capped inverted-index
    * candidates, then exact Jaccard over the FULL token sets (the df cut
    * only prunes candidate generation — reported scores are uncapped). */
  def invertedIndexNearDups(docs: DataFrame, threshold: Double,
      maxTokenDf: Int = 1000): DataFrame =
    verifyJaccard(docs, invertedIndexCandidates(docs, maxTokenDf), threshold)

  // ---------------------------------------------------------------- simhash

  val simhashBits: Int = 32

  /** 32-bit SimHash over the distinct token set, emitted as a bit string.
    * Bit j weight of token t = ((md5-nibble >> (j%4)) & 1) ? +1 : −1 on
    * nibble j/4; bit set where the summed weight is ≥ 0. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = explode(tokens(col("text"))).as("tok")
    val exploded = docs.select(col("doc_id"), tok)
      .withColumn("h", md5(col("tok")))
    val bitSums = (0 until simhashBits).map { j =>
      val nibble = conv(substring(col("h"), j / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(nibble, j % 4).bitwiseAND(lit(1)) === 1, 1)
        .otherwise(-1)).as(s"s$j")
    }
    exploded.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat((0 until simhashBits).map(j =>
          when(col(s"s$j") >= 0, "1").otherwise("0")): _*).as("simhash"))
  }

  /** Hamming distance between two equal-length bit strings. */
  def hamming(a: Column, b: Column): Column =
    size(filter(
      zip_with(split(a, ""), split(b, ""), (x, y) => x =!= y),
      d => d))

  /** SimHash near-dups: band the 32 bits into 4 byte-buckets; pairs sharing
    * any exact byte are candidates, verified by full hamming distance. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int): DataFrame = {
    val sh = simhash(docs)
    // Materialized for the same reason as lshCandidates: without it both
    // self-join sides recompute the full SimHash aggregation from the scan.
    val bands = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), substring(col("simhash"), b * 8 + 1, 8).as("bh"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.bh"))
      .localCheckpoint()
    val a = bands.select(col("band"), col("bh"), col("doc_id").as("d1"), col("simhash").as("h1"))
    val b = bands.select(col("band").as("band2"), col("bh").as("bh2"),
      col("doc_id").as("d2"), col("simhash").as("h2"))
    a.join(b, col("band") === col("band2") && col("bh") === col("bh2") &&
        col("d1") < col("d2"))
      .select(col("d1"), col("d2"), hamming(col("h1"), col("h2")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxHamming)
  }

  // ----------------------------------------------------------------- ngrams

  /** 3-gram shingle set of the token sequence (order-sensitive). Documents
    * with < 3 tokens yield an empty set — guarded explicitly because
    * sequence(1, 0) is the DESCENDING array [1, 0] and the out-of-range
    * element_at would throw under ANSI mode (Spark 4 default). */
  def shingles3(text: Column): Column = {
    val toks = split(text, " ")
    when(size(toks) >= 3,
      array_distinct(transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Shingle-MinHash signatures via the FUSED kernel: bit-identical to
    * `minhashSignatures(docs, shingles3)` (HashExprsSpec pins the parity)
    * but the per-window shingle strings are never materialized —
    * graft_minhash_sh3 streams each rolling 3-gram's bytes straight into
    * the digest. The composed form was the bench's heaviest allocator
    * (one string per window + array_distinct per row); fusing removes the
    * allocation, which is what made q_dedup_ngram_lsh's run-to-run spread
    * GC-sensitive at sf0.1. */
  def shingleSignatures(docs: DataFrame): DataFrame = {
    require(minhashSeeds == (0 until minhashSeeds.size),
      s"minhashSeeds must be 0 until k for the graft_minhash_sh3 kernel, got $minhashSeeds")
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        call_function("graft_minhash_sh3", col("toks"), lit(minhashSeeds.size)).as("sig"))
      .select(
        col("doc_id") +:
          minhashSeeds.map(sd => element_at(col("sig"), sd + 1).as(s"m$sd")): _*)
  }

  /** Order-sensitive unbounded near-dup: the same MinHash+LSH banding run
    * over 3-gram shingle sets instead of unigram token sets. A permuted
    * document (same vocabulary, different order) shares almost no shingles,
    * so it does NOT collide here, while it scores Jaccard 1.0 under
    * minhashNearDups — the two operators are complementary, and both scale
    * via band-bucket joins (no all-pairs). Documents with < 3 tokens have
    * empty shingle sets → null signatures → null band hashes, which match
    * nothing in the bucket join and verify to null Jaccard: they simply
    * never pair. Signatures come from [[shingleSignatures]] (fused kernel);
    * the exact-Jaccard verify still materializes shingles3, but only for
    * the candidate pairs. */
  def shingleNearDups(docs: DataFrame, threshold: Double,
      maxBucketSize: Int = defaultMaxBucketSize): DataFrame =
    verifyJaccard(docs,
      lshCandidates(lshBuckets(shingleSignatures(docs)), maxBucketSize),
      threshold, shingles3)

  /** Benchmark contamination scan — the training-data hygiene op (the
    * n-gram-collision decontamination used for LLM corpora): pairs of
    * (train doc, benchmark doc) sharing at least `minShared` 3-gram
    * shingles. The shingle join is df-capped on the train side like
    * invertedIndexCandidates — a boilerplate shingle present in half the
    * corpus is uninformative for contamination and would make the join
    * quadratic; real leaked passages collide on their rare shingles. */
  def contamination(train: DataFrame, benchmark: DataFrame, minShared: Int,
      maxShingleDf: Int = 1000): DataFrame = {
    val t = train.select(col("doc_id").as("train_id"),
      explode(shingles3(col("text"))).as("sh"))
    val rare = t.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf).select(col("sh"))
    val b = benchmark.select(col("doc_id").as("bench_id"),
      explode(shingles3(col("text"))).as("sh"))
    // shingles3 is distinct per doc, so the count is distinct shared shingles
    t.join(rare, Seq("sh")).join(b, Seq("sh"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Drop contaminated training documents (anti-join on flagged ids). */
  def decontaminate(train: DataFrame, benchmark: DataFrame, minShared: Int,
      maxShingleDf: Int = 1000): DataFrame =
    train.join(
      contamination(train, benchmark, minShared, maxShingleDf)
        .select(col("train_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")

  /** n-gram Jaccard near-dups over an explicit pair product (callers bound
    * the candidate set; `shingleNearDups` is the unbounded LSH path). */
  def ngramNearDups(docs: DataFrame, threshold: Double): DataFrame = {
    val withSh = docs.select(col("doc_id"), shingles3(col("text")).as("sh"))
    val a = withSh.select(col("doc_id").as("d1"), col("sh").as("s1"))
    val b = withSh.select(col("doc_id").as("d2"), col("sh").as("s2"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        call_function("graft_jaccard", col("s1"), col("s2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** One-sided shingle CONTAINMENT [Broder, SEQUENCES'97 c(A,B)] — the
    * sub-document duplication detector Jaccard misses: a short document
    * quoted whole inside a long one scores tiny Jaccard (the union is
    * long-doc-sized) but containment ≈ 1. c = |S1∩S2| / min(|S1|,|S2|)
    * in exact integer e4 (the symmetric max-containment form, so one
    * score covers both quote directions; the pair orientation stays
    * d1 < d2). Bounded pair product here (caller slices — the checked
    * form); the unbounded path is [[containmentCandidates]] — rare-
    * shingle inverted-index buckets, NOT minhash banding, because
    * band collision probability tracks Jaccard and fades exactly in
    * the small-doc-inside-big-doc regime containment exists to catch —
    * with the shared [[containmentVerify]] tail (OperatorsSpec pins
    * candidate-path recall on the fixture pairs). */
  def containmentNearDups(docs: DataFrame, thresholdE4: Long): DataFrame =
    containmentVerify(docs,
      docs.select(col("doc_id").as("d1"))
        .join(docs.select(col("doc_id").as("d2")), col("d1") < col("d2")),
      thresholdE4)

  /** Containment candidates AT SCALE: inverted-index bucketing on each
    * document's k globally-RAREST shingles. Minhash banding cannot
    * serve one-sided containment (a short doc inside a long one has
    * small Jaccard, so band collisions fade exactly when containment
    * is most interesting); rare-shingle postings can: a contained doc
    * shares EVERY shingle it has with its container, so each of its
    * rare shingles is a bucket the pair co-occupies. The rare-k
    * selection ranks over ALL the doc's shingles (no df exclusion —
    * a doc whose every shingle is boilerplate-common still gets its k
    * least-common picks, closing the df>dfCap zero-candidate blind
    * spot); the POSTINGS side is what dfCap bounds: full posting
    * lists only for df ≤ dfCap shingles, plus every doc's own rare
    * picks. The rare∪rare arm means exact-boilerplate clusters (all
    * copies share one shingle set, hence one rare selection) always
    * collide no matter how common their shingles. The rare-arm
    * posting lists are THEMSELVES capped at dfCap docs (lowest
    * doc_ids — deterministic): without the cap, non-duplicate docs
    * that merely share rare-k picks (templated pages over a small
    * common vocabulary) would rebuild the doc×doc product the tier
    * exists to avoid. Work: ≤ 2k·dfCap rows per doc across both arms.
    * An over-cap exact-boilerplate cluster therefore pairs every
    * member with the cluster's dfCap lowest-id docs — single
    * connected component (cluster recovery via Components intact),
    * not all pairs. Recall is probabilistic in the threshold regime
    * (a 0.5-contained doc shares half its shingles; its rarest may
    * fall in the unshared half) and certain at full containment
    * whenever the contained doc has ≥1 shingle with df ≤ dfCap OR the
    * pair reaches the capped rare arm; OperatorsSpec pins the fixture
    * recall floor, the planted full-containment guarantee, and the
    * over-dfCap boilerplate cluster's connectivity + pair count.
    * q_dedup_containment_scale runs this exact algebra under the
    * DuckDB oracle. */
  def containmentCandidates(docs: DataFrame, k: Int = 8,
      dfCap: Long = 64): DataFrame = {
    // Driver arm (optimization round): df counts, per-doc rare-k picks
    // ((df, s)-ordered — ties impossible, shingles are doc-distinct),
    // the dfCap'd postings union and the pair join are all exact
    // set/count algebra over the collected (doc, shingles) frame —
    // previously two window passes + a distinct + a join. Over cap:
    // the frame chain below (OperatorsSpec pins arm equality).
    collectShingles(docs).foreach { shArr =>
      import scala.collection.mutable.{ArrayBuffer, HashMap, HashSet}
      val df = HashMap.empty[String, Long]
      shArr.foreach { case (_, arr) =>
        arr.foreach(s => df(s) = df.getOrElse(s, 0L) + 1L)
      }
      // rare: per doc the k picks by (df asc, s asc)
      val rareByS = HashMap.empty[String, ArrayBuffer[Long]]
      shArr.foreach { case (id, arr) =>
        arr.sortBy(s => (df(s), s)).take(k)
          .foreach(s => rareByS.getOrElseUpdate(s, ArrayBuffer.empty) += id)
      }
      // postings: full lists for df ≤ dfCap shingles, plus each rare
      // bucket capped at its dfCap lowest doc_ids
      val postings = HashMap.empty[String, HashSet[Long]]
      if (dfCap > 0) shArr.foreach { case (id, arr) =>
        arr.foreach { s =>
          if (df(s) <= dfCap)
            postings.getOrElseUpdate(s, HashSet.empty) += id
        }
      }
      rareByS.foreach { case (s, ids) =>
        val capped = ids.sorted.take(math.min(dfCap, Int.MaxValue).toInt)
        val p = postings.getOrElseUpdate(s, HashSet.empty)
        capped.foreach(p += _)
      }
      val pairs = HashSet.empty[(Long, Long)]
      rareByS.foreach { case (s, ids) =>
        val post = postings.getOrElse(s, HashSet.empty[Long])
        ids.foreach { a =>
          post.foreach { b =>
            if (a != b)
              pairs += ((math.min(a, b), math.max(a, b)))
          }
        }
      }
      return docs.sparkSession.createDataFrame(pairs.toSeq)
        .toDF("d1", "d2")
    }
    val sh = docs.select(col("doc_id"), explode(shingles3(col("text"))).as("s"))
    val dfs = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("s"))
    val withDf = sh.join(dfs, "s")
    val rare = withDf
      .withColumn("r", row_number().over(w)).filter(col("r") <= k)
      .select(col("s"), col("doc_id"))
    // asymmetric by necessity: the CONTAINED doc's rare shingles are
    // shared, but the container's own rarest are usually its unshared
    // ones — so each doc's rare selection probes the capped postings
    // (≤ dfCap docs per bucket, ≤ k buckets per doc) UNION the rare
    // selections themselves (the boilerplate-cluster arm, ALSO capped
    // per shingle — lowest doc_ids — so shared-rare-pick non-dups
    // cannot rebuild the product)
    val wRare = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s")).orderBy(col("doc_id"))
    val rareCapped = rare
      .withColumn("pr", row_number().over(wRare))
      .filter(col("pr") <= dfCap).drop("pr")
    val postings = withDf.filter(col("df") <= dfCap)
      .select(col("s"), col("doc_id"))
      .unionByName(rareCapped)
      .distinct()
    rare.as("a").join(postings.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
  }

  /** Exact containment verify over an explicit candidate pair set —
    * the shared tail of the bounded-product checked form
    * ([[containmentNearDups]]) and the postings-bounded scale path
    * ([[containmentCandidates]]); precision is 1 by construction
    * (every emitted pair is exactly verified). */
  def containmentVerify(docs: DataFrame, cands: DataFrame,
      thresholdE4: Long): DataFrame = {
    // Driver arm (optimization round): the verify is per-pair exact set
    // arithmetic over doc-distinct shingle arrays — shingles3 still
    // computes IN SPARK (the collect ships the arrays, so tokenization
    // semantics have one definition) and the intersection counts/e4
    // quotient are integer-deterministic in memory, replacing the
    // array_intersect-per-pair join stage (the pair product × shingle
    // width was the CPU cost). Over cap / null ids: the frame chain
    // below (OperatorsSpec pins arm equality).
    val armOut = for {
      sh <- collectShingles(docs)
      t <- graft.util.SmallInput.take(cands.select(col("d1"), col("d2")))
      if !t.exists(r => r.isNullAt(0) || r.isNullAt(1))
      pr = t.map(r => (r.getAs[Number](0).longValue,
        r.getAs[Number](1).longValue))
    } yield {
      val sets = sh.iterator
        .map { case (id, arr) => id -> arr.toSet }.toMap
      val rows = pr.iterator.flatMap { case (d1, d2) =>
        (sets.get(d1), sets.get(d2)) match {
          case (Some(s1), Some(s2)) if s1.nonEmpty && s2.nonEmpty =>
            val (small, big) = if (s1.size <= s2.size) (s1, s2) else (s2, s1)
            val inter = small.count(big).toLong
            val mn = small.size.toLong
            val e4 = inter * 10000L / mn
            if (e4 >= thresholdE4) Some((d1, d2, inter, mn, e4)) else None
          case _ => None
        }
      }.toSeq
      docs.sparkSession.createDataFrame(rows)
        .toDF("d1", "d2", "inter", "mn", "cont_e4")
    }
    armOut.foreach(out => return out)
    val withSh = docs
      .select(col("doc_id"), shingles3(col("text")).as("sh"))
      .filter(size(col("sh")) >= 1)
    cands
      .join(withSh.select(col("doc_id").as("d1"), col("sh").as("s1")), "d1")
      .join(withSh.select(col("doc_id").as("d2"), col("sh").as("s2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("s1"), col("s2"))).cast("long").as("inter"),
        least(size(col("s1")), size(col("s2"))).cast("long").as("mn"))
      .select(col("d1"), col("d2"), col("inter"), col("mn"),
        expr("(inter * 10000L) div mn").as("cont_e4"))
      .filter(col("cont_e4") >= thresholdE4)
  }

  /** Collect (doc_id, shingles3) for the containment driver arms —
    * shingle arrays computed by the SAME Spark expression the frame
    * chains use. None over cap or on a null doc_id; a null/empty
    * shingle array keeps the doc with an empty set (it then pairs with
    * nothing, the frames' inner-join/explode behavior). */
  private def collectShingles(
      docs: DataFrame): Option[Array[(Long, Array[String])]] = {
    val t = graft.util.SmallInput.take(
      docs.select(col("doc_id"), shingles3(col("text")).as("sh")))
      .getOrElse(return None)
    if (t.exists(_.isNullAt(0))) None
    else Some(t.map { r =>
      val sh: Array[String] =
        if (r.isNullAt(1)) Array.empty[String]
        else r.getSeq[String](1).toArray
      (r.getAs[Number](0).longValue, sh)
    })
  }

  // ------------------------------------------------------------- embeddings

  /** Embedding-cosine near-dups over an explicit pair product (bounded by
    * caller; the unbounded paths are [[srpNearDups]] and ANN bucketing,
    * graft.operators.Ann). */
  def embeddingNearDups(embs: DataFrame, threshold: Double): DataFrame = {
    import graft.queries.Sim
    val a = embs.select(col("vec_id").as("d1"), col("embedding").as("v1"))
    val b = embs.select(col("vec_id").as("d2"), col("embedding").as("v2"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        round(Sim.cosine(col("v1"), col("v2")), 4).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Cluster-scoped semantic dedup (SemDeDup shape [Abbas et al. 2023,
    * arXiv:2303.09540]): candidate pairs are generated ONLY within a
    * cluster — an equi-join on the cluster id — and a vector is pruned iff
    * a same-cluster neighbor with a SMALLER id sits at cosine ≥ threshold
    * (deterministic keep-min-id in place of the paper's keep-farthest-
    * from-centroid, which ties on identical vectors; the prune RATE is the
    * same knob). `clustered` must carry (vec_id, cluster, embedding); the
    * production clustering is the [[graft.operators.Ann.kmeans]] codebook
    * (routing proven portable by q_ann_ivf), so total pair work is
    * Σ_c |c|² with |c| ≈ n/k — choose k ∝ n to hold per-cluster size
    * constant and the join output grows linearly in the corpus, never
    * corpus². Returns every input vector flagged: (vec_id, cluster,
    * n_dup_neighbors, pruned). */
  def semanticDedup(clustered: DataFrame, threshold: Double): DataFrame = {
    import graft.queries.Sim
    val a = clustered.select(col("cluster"), col("vec_id").as("d1"),
      col("embedding").as("v1"))
    val b = clustered.select(col("cluster"), col("vec_id").as("d2"),
      col("embedding").as("v2"))
    // verify INSIDE the join stage (the srpNearDups lesson): only the
    // surviving (d2, 1) rows reach the count aggregate, vectors dropped
    val dupCounts = a.join(b, Seq("cluster"))
      .filter(col("d1") < col("d2") &&
        round(Sim.cosine(col("v1"), col("v2")), 4) >= threshold)
      .groupBy(col("d2").as("vec_id"))
      .agg(count(lit(1)).as("n_dup_neighbors"))
    clustered.select(col("vec_id"), col("cluster"))
      .join(dupCounts, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("n_dup_neighbors"), lit(0L)).as("n_dup_neighbors"))
      .withColumn("pruned", col("n_dup_neighbors") > 0)
  }

  /** The PRODUCTION SemDeDup path: cluster assignment comes from a learned
    * [[graft.operators.Ann.kmeans]] codebook (broadcast argmax routing —
    * narrow), then [[semanticDedup]] prunes within the learned cells.
    * Size k ∝ corpus so per-cell occupancy stays constant and total pair
    * work stays linear (the ScaleProbe `semdedup` entry measures exactly this
    * at fixed cells). The q_dedup_semantic oracle query uses the label
    * clustering instead only because a lossy learned clustering has no
    * cross-engine mirror; the routing itself is what q_ann_ivf checks. */
  def semanticDedupKmeans(embs: DataFrame, threshold: Double,
      k: Int, iters: Int = 3): DataFrame = {
    import graft.operators.Ann
    val codebook = Ann.kmeans(embs, k, iters)
    semanticDedup(
      Ann.assign(embs, codebook)
        .select(col("vec_id"), col("cluster"), col("embedding")),
      threshold)
  }

  /** UNBOUNDED embedding near-dup at scale: banded SRP-LSH candidate
    * generation (native `graft_srp` kernel — `bands` buckets of `bits`
    * hyperplane sign bits per vector) + exact-cosine verify within
    * buckets. The same band/bucket/verify shape as [[minhashNearDups]],
    * with Charikar's sign-random-projection in place of MinHash: the pair
    * join is an equi-join on (band, bucket), never all-pairs, so the
    * candidate count scales with bucket occupancy, not corpus². Occupancy
    * is n/2^bits per band — size bits ≈ log₂(n/128) as the corpus grows
    * (each extra bit halves candidates and costs ~1% recall at cos 0.9;
    * defaults fit the 10³-10⁵ fixture range). Recall vs exact kNN at
    * cos ≥ 0.9 with the default 4×8 bands ≈ 1−(1−p⁸)⁴, p = 1−θ/π —
    * pinned by OperatorsSpec on planted near-dup pairs. */
  def srpNearDups(embs: DataFrame, threshold: Double = 0.9,
      bands: Int = 4, bits: Int = 8): DataFrame = {
    import graft.queries.Sim
    val sig = embs.select(col("vec_id"), col("embedding"),
      posexplode(call_function("graft_srp", col("embedding"), lit(bands), lit(bits)))
        .as(Seq("band", "bucket")))
    val a = sig.select(col("band"), col("bucket"),
      col("vec_id").as("d1"), col("embedding").as("v1"))
    val b = sig.select(col("band"), col("bucket"),
      col("vec_id").as("d2"), col("embedding").as("v2"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("d1") < col("d2"))
      // verify INSIDE the bucket-join stage, then dedup: a pair colliding
      // in several bands recomputes the (cheap, codegen'd) cosine up to
      // `bands` times, but the dedup shuffle carries only the (d1, d2,
      // cos) rows that SURVIVED the threshold — never the vectors. The
      // alternative ordering (dedup before verify) was measured shuffling
      // candidate×vector rows: 4.4 GB and a 70x wall blowup at 32k
      // vectors (125 per bucket, ~8M candidates).
      .select(col("d1"), col("d2"),
        round(Sim.cosine(col("v1"), col("v2")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("d1"), col("d2")).agg(first(col("cos")).as("cos"))
  }

  // ------------------------------------------------------- oracle queries

  /** Exact-substring dedup core (Lee et al. 2021 ExactSubstr, hash-window
    * form — see the q_dedup_substring entry for the full rationale): mark
    * every token of `docs` covered by a w-token sliding window whose
    * content hash occurred earlier in (doc_id, pos) order, drop covered
    * tokens, reassemble survivors. Input: (doc_id, text); output one row
    * per doc: (doc_id, n_toks, n_kept, clean_md5). Cost: one row_number
    * shuffle keyed on the 32-byte window digest (~n_tokens rows), one
    * doc-keyed anti-join + reassembly aggregate — corpus-linear
    * (ScaleProbe "substring"). */
  def substringDedup(docs: DataFrame, w: Int = 10): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    // sequence(0, n) is DESCENDING for n < 0, so short docs are filtered
    // out of window generation instead of generating garbage positions
    val wins = toks.filter(size(col("toks")) >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $w), " +
          s"i -> md5(encode(array_join(slice(toks, i + 1, $w), ' '), 'UTF-8')))"
      )).as(Seq("pos", "wh")))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("wh")).orderBy(col("doc_id"), col("pos"))
    val dupPos = wins.withColumn("rn", row_number().over(wd))
      .filter(col("rn") > 1)
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${w - 1})")).as("tok_idx"))
      .distinct()
    val tokens = toks.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("tok_idx", "tok")))
    val kept = tokens.join(dupPos, Seq("doc_id", "tok_idx"), "left_anti")
    val agg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(encode(array_join(
          transform(array_sort(collect_list(struct(col("tok_idx"), col("tok")))),
            x => x.getField("tok")), " "), "UTF-8")).as("clean_md5"))
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_md5"), md5(encode(lit(""), "UTF-8"))).as("clean_md5"))
  }

  /** Bench buffer-pool memo (active only under -Dgraft.cacheTables=true,
    * like [[graft.catalog.Tables.t]]): q_dedup_minhash, q_dedup_clusters
    * and q_dedup_incremental all derive from the SAME signature→band
    * pipeline over docs<500 — the banded bucket frame and the verified
    * pairs frame are computed once per (session, dir) and persisted, the
    * in-session analog of the persisted bucket index that
    * incrementalNearDups reuses across arrival batches. Off (pure
    * recompute) for Verify and tests, so correctness runs stay cold.
    * Implementation: the shared [[graft.util.Memo]] (one copy of the
    * gating/keying contract for every operator-level cache). */
  private def memo(s: SparkSession, dir: String, what: String)
      (build: => DataFrame): DataFrame =
    graft.util.Memo.benchMemo(s, dir, "dedup:" + what)(build)

  /** Banded LSH buckets of docs<500 — bucket filters for subsets (e.g. the
    * <400 corpus of q_dedup_incremental) are row filters on this frame,
    * because both the signature and the band hash are per-row. */
  private def buckets500(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "buckets500") {
      lshBuckets(minhashSignatures(
        documents(s, dir).filter(col("doc_id") < 500)))
    }

  /** Verified minhash near-dup pairs of docs<500 at 0.5 — shared verbatim
    * by q_dedup_minhash (emits them) and q_dedup_clusters (clusters them). */
  private def minhashPairs500(s: SparkSession, dir: String): DataFrame =
    memo(s, dir, "pairs500") {
      // Under the memo, the checkpoint inside lshCandidates would EMBED a
      // checkpoint RDD into the PERSISTED plan — the bench harness's
      // between-queries checkpoint release would then leave this cache
      // unrecoverable on a recompute path (a local checkpoint has no
      // lineage). The persist itself materializes the pipeline exactly
      // once, so the lazy variant loses nothing there; the cold path
      // keeps the checkpointed form (its self-join would otherwise
      // re-execute the banding pipeline per side).
      val cands =
        if (graft.util.Memo.pooled)
          lshCandidatesLazy(buckets500(s, dir))
        else lshCandidates(buckets500(s, dir))
      verifyJaccard(documents(s, dir).filter(col("doc_id") < 500), cands, 0.5)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MinHash signature + LSH banding + exact-Jaccard verify, bounded ids.
    "q_dedup_minhash" -> ((s, dir) =>
      minhashPairs500(s, dir).orderBy(col("d1"), col("d2"))),

    // Per-doc 32-bit SimHash fingerprint (pair-finding is unit-tested).
    "q_dedup_simhash" -> ((s, dir) => {
      simhash(documents(s, dir).filter(col("doc_id") < 200))
        .orderBy(col("doc_id"))
    }),

    // SimHash PAIR search through the banded path: at maxHamming = 3 the
    // 4 disjoint 8-char bands make the banding exhaustive by pigeonhole
    // (≤3 diffs over 4 bands leaves one band identical), so the banded
    // result provably equals the oracle's all-pairs scan.
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      simhashNearDups(documents(s, dir).filter(col("doc_id") < 100), maxHamming = 3)
        .orderBy(col("d1"), col("d2"))
    }),

    // 3-gram shingle Jaccard, bounded pair product.
    "q_dedup_ngram" -> ((s, dir) => {
      ngramNearDups(documents(s, dir).filter(col("doc_id") < 200), 0.2)
        .orderBy(col("d1"), col("d2"))
    }),

    // One-sided shingle containment at 0.5 over the bounded 300-doc
    // slice — the sub-document (quote-inclusion) duplication detector
    // Jaccard misses; exact integer e4 score, pairs + intersection
    // sizes.
    "q_dedup_containment" -> ((s, dir) =>
      containmentNearDups(
        documents(s, dir).filter(col("doc_id") < 300 && col("text").isNotNull),
        5000L)
        .orderBy(col("d1"), col("d2"))),

    // The containment SCALE path under the oracle: rare-shingle
    // inverted-index candidates (k=8 rarest per doc, dfCap=64 postings
    // bound, rare∪rare boilerplate arm) → exact verify — the tier a
    // corpus-scale quote-inclusion dedup actually runs, never doc×doc.
    // The oracle reproduces the candidate algebra exactly (df counts,
    // rare-k row_number ranking, postings union, verify tail), the
    // q_dedup_ngram_lsh precedent.
    "q_dedup_containment_scale" -> ((s, dir) => {
      val slice =
        documents(s, dir).filter(col("doc_id") < 300 && col("text").isNotNull)
      containmentVerify(slice, containmentCandidates(slice), 5000L)
        .orderBy(col("d1"), col("d2"))
    }),

    // Order-sensitive LSH: MinHash banding over 3-gram shingles — the
    // unbounded scale path for shingle near-dup (same banding algebra as
    // q_dedup_minhash, reproduced exactly in the oracle SQL).
    "q_dedup_ngram_lsh" -> ((s, dir) => {
      shingleNearDups(documents(s, dir).filter(col("doc_id") < 500), 0.2)
        .orderBy(col("d1"), col("d2"))
    }),

    //

    "q_dedup_embed" -> ((s, dir) => {
      embeddingNearDups(embeddings(s, dir).filter(col("vec_id") < 100), 0.3)
        .orderBy(col("d1"), col("d2"))
    }),

    // SemDeDup over the full embeddings table, cluster = the given label
    // (the deterministic stand-in for a kmeans codebook assignment — the
    // routing itself is what q_ann_ivf oracle-checks); every vector gets
    // a keep/prune verdict, prune rate is the curation-budget knob.
    "q_dedup_semantic" -> ((s, dir) => {
      semanticDedup(
        embeddings(s, dir).select(col("vec_id"), col("label").as("cluster"),
          col("embedding")),
        threshold = 0.3)
        .orderBy(col("vec_id"))
    }),

    // The PRODUCTION SemDeDup path (semanticDedupKmeans's shape) under
    // the oracle: cells come from the LEARNED Lloyd codebook — the
    // engine-portable kmeansPortable twin (k=8, iters=3, the same
    // constants q_cluster_kmeans checks) so the oracle can replay the
    // clustering itself, then the same within-cell keep-min-id prune as
    // q_dedup_semantic. Pair work is cluster-scoped Σ|c|² over LEARNED
    // cells — the arXiv:2303.09540 shape end to end, no label crutch.
    "q_dedup_semantic_kmeans" -> ((s, dir) => {
      semanticDedup(
        Ann.assignPortable(embeddings(s, dir), Ann.kmeansCodebook(s, dir))
          .select(col("vec_id"), col("cluster"), col("embedding")),
        threshold = 0.3)
        .orderBy(col("vec_id"))
    }),

    // Benchmark decontamination: docs < 50 play the benchmark set, docs in
    // [50, 300) the training corpus; pairs sharing ≥ 2 shingles flagged.
    "q_decontaminate" -> ((s, dir) => {
      val docs = documents(s, dir)
      contamination(
        docs.filter(col("doc_id") >= 50 && col("doc_id") < 300),
        docs.filter(col("doc_id") < 50), minShared = 2)
        .orderBy(col("train_id"), col("bench_id"))
    }),

    // Dedup-on-arrival: docs [400, 500) arrive as a fresh batch and are
    // checked against the stored bucket index of corpus [0, 400) — only
    // the batch is signed/banded, candidates are a batch⋈corpus bucket
    // join (batch-sized ingest cost, never corpus×corpus).
    "q_dedup_incremental" -> ((s, dir) => {
      val all = documents(s, dir).filter(col("doc_id") < 500)
      val corpus = all.filter(col("doc_id") < 400)
      val fresh = all.filter(col("doc_id") >= 400)
      // the stored index is a row filter on the shared bucket frame: both
      // the signature and the band hash are per-row, so buckets(docs<400)
      // ≡ buckets(docs<500) WHERE doc_id < 400
      val corpusIndex = buckets500(s, dir).filter(col("doc_id") < 400)
      incrementalNearDups(corpus, corpusIndex, fresh, 0.5)
        .orderBy(col("d1"), col("d2"))
    }),

    // Global LINE-level exact dedup (the C4/RefinedWeb repeated-span
    // remover): docs explode into fixed 10-token "lines", a line survives
    // only at its FIRST corpus occurrence (min (doc_id, idx) — one
    // window over the line key, i.e. one corpus shuffle on the line
    // hash), and surviving lines REASSEMBLE into the cleaned doc in
    // original order (sorted collect per doc — bounded by doc length).
    // Duplication is planted: docs < 50 replayed under doc_id + 10000
    // with their first line + a unique marker tail, so replays lose
    // exactly their first line and keep the marker — partial removal and
    // reassembly both exercised, originals untouched.
    "q_dedup_lines" -> ((s, dir) => {
      val base = documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val replayed = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(array_join(slice(split(col("text"), " "), 1, 10), " "),
            lit(" uniq"), col("doc_id").cast("string")).as("text"))
      val toks = base.unionByName(replayed)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val lines = toks.select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, (size(toks)-1) div 10), i -> array_join(slice(toks, i*10+1, 10), ' '))"
        )).as(Seq("idx", "line")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("line")).orderBy(col("doc_id"), col("idx"))
      val kept = lines.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val agg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(encode(array_join(
            transform(array_sort(collect_list(struct(col("idx"), col("line")))),
              x => x.getField("line")), " "), "UTF-8")).as("clean_md5"))
      toks.select(col("doc_id"),
          (floor((size(col("toks")) - 1) / 10) + 1).cast("long").as("n_lines"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_md5"), md5(encode(lit(""), "UTF-8"))).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Leakage-free train/val/test split: the md5-bucket split assigned by
    // near-dup CLUSTER, not by doc — the standard fix for eval leakage
    // through near-duplicates (a doc and its 0.8-Jaccard twin landing in
    // train and test makes the test set partially memorized; GPT-3's
    // dedup postmortem and every serious data card since treat this as a
    // split-time invariant, not a cleanup). Same cluster frame as
    // q_dedup_clusters (LSH-banded pairs → connected components), split
    // key = the cluster's canonical min doc_id, bucket = the q_sample_hash
    // md5 recipe on THAT key — so entire near-dup groups move between
    // splits atomically, singletons degrade to exactly q_sample_hash's
    // per-doc assignment. Cost over plain hash split: the pair pipeline
    // (banded, never all-pairs) + component closure — both measured
    // sublinear (the ScaleProbe `docs.near_dups` and `components`
    // entries); the split itself stays one narrow projection.
    "q_split_leakage_free" -> ((s, dir) => {
      val docs = documents(s, dir).filter(col("doc_id") < 500)
      val pairs = minhashPairs500(s, dir)
      val comp = Components.connectedComponents(
        pairs.select(col("d1").as("src"), col("d2").as("dst")))
      docs.select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .withColumn("bucket",
          graft.queries.Text.hashBucketExpr(col("cluster_id")))
        .withColumn("split",
          when(col("bucket") < graft.queries.Text.trainBucket, "train")
            .when(col("bucket") < graft.queries.Text.valBucket, "val")
            .otherwise("test"))
        .orderBy(col("doc_id"))
    }),

    // Exact-substring dedup (Lee et al. 2021 "Deduplicating Training Data
    // Makes Language Models Better" — the ExactSubstr tier RefinedWeb runs
    // beside line dedup; arXiv:2107.06499 uses a corpus suffix array, we
    // use its scalable hash twin): every W=10-token sliding window is
    // keyed by its content hash; a window whose key occurred EARLIER in
    // corpus order (row_number over the key — the only corpus-wide
    // shuffle, carrying a 32-byte digest per position, never the text)
    // marks its whole token span as duplicated; tokens covered by any
    // duplicated window are removed and the survivors reassemble in
    // order (same shape as q_dedup_lines, which removes aligned blocks —
    // this tier removes UNALIGNED repeats a block grid can't see).
    // Duplication is planted: docs < 50 replay their first 30 tokens
    // under doc_id + 20000 with a unique marker tail — replays lose
    // exactly the copied span (the original, earlier in (doc_id, pos)
    // order, keeps it) and keep the marker, exercising partial mid-doc
    // removal and reassembly. 100 TB posture: windows never materialize
    // corpus×W text — the transform emits one md5 per position (a
    // production run would swap in xxhash64: same plan, 8-byte key;
    // md5 here because the oracle must compute the identical key) —
    // and the span-union, anti-join, and reassembly are all narrow or
    // doc-keyed. Suffix arrays find UNBOUNDED-length repeats; the fixed-W
    // window form finds every repeat >= W tokens (any such repeat
    // contains a duplicated W-window at each offset), which is the
    // deployed configuration anyway (W = 50 BPE tokens in the paper).
    "q_dedup_substring" -> ((s, dir) => {
      val base = documents(s, dir)
        .filter(col("doc_id") < 500 && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val replayed = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(array_join(slice(split(col("text"), " "), 1, 30), " "),
            lit(" uniq"), col("doc_id").cast("string")).as("text"))
      substringDedup(base.unionByName(replayed), w = 10)
        .orderBy(col("doc_id"))
    }),

    // Entity resolution / record linkage: typo-tolerant matching of part
    // NAMES under multi-pass blocking. The scale device: candidate
    // pairing runs on the DISTINCT-name dictionary (vocab-bounded — the
    // corpus only feeds a support-count hash agg), and each pass is an
    // equi-join on one blocking key (adjective / noun token), never
    // all-pairs. Two passes union'd: a one-token-swapped name pair
    // ("small ring"/"small king") survives via the pass whose key it
    // preserves — the classic blocking-recall argument. Verify =
    // levenshtein ≤ 2 (portability proven by q_str_distance).
    "q_er_blocking" -> ((s, dir) =>
      erBlockingShared(s, dir).orderBy(col("name_1"), col("name_2"))),

    // Fellegi–Sunter scoring of the q_er_blocking candidate pairs — the
    // match-decision stage of the entity-resolution pipeline (blocking
    // bounds the pair set; scoring turns each pair's field-agreement
    // vector into a log-odds sum and a match/possible/nonmatch verdict).
    // Weights are fixed integer milli-log-odds constants (not estimated:
    // deterministic, engine-portable); the fields are the pair's name
    // distance plus brand/container/size agreement of each name's
    // representative part (min partkey — the blocking key's canonical
    // row, a window over the dim table, never the fact). At 100 TB the
    // shape is unchanged: candidate pairs come from blocking (bounded),
    // the representative lookup is a dim-sized window + broadcast join,
    // and the score is a narrow per-row expression.
    "q_er_scoring" -> ((s, dir) => {
      val wRep = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_name")).orderBy(col("p_partkey"))
      val rep = graft.catalog.Tables.part(s, dir)
        .withColumn("rn", row_number().over(wRep))
        .filter(col("rn") === 1)
        .select(col("p_name").as("name"), col("p_brand"),
          col("p_type"), col("p_size"))
      val cands = erBlockingShared(s, dir)
        .select(col("name_1"), col("name_2"), col("dist"))
      erScoring(cands, rep)
        .orderBy(col("score").desc, col("name_1"), col("name_2"))
    }),

    // Entity CANONICALIZATION — the ER pipeline's last stage (blocking →
    // scoring → entities): q_er_scoring's match-verdict pairs become an
    // undirected edge list, Components.connectedComponents closes them
    // into entities, and deterministic survivorship elects one canonical
    // record per multi-member entity (longest name tie-broken
    // lexicographically; modal brand/type tie-broken by count desc then
    // value asc; min size; summed part counts). Names are keyed by their
    // min p_partkey — integer node ids both engines derive identically.
    // 100 TB posture: edges are blocking-bounded (never name×name),
    // components is the shared dedup-cluster machinery (driver union-find
    // under the edge cap, distributed min-label loop above it), and
    // survivorship is dim-sized hash aggs + windows — facts never enter.
    // Oracle: the same closure as a recursive reachability CTE + the
    // survivorship SQL verbatim.
    "q_er_entities" -> ((s, dir) => {
      // edge tier inside erEntitiesFrom: score >= 1500. The fixture's
      // two-word synthetic names cap FS scores at 3000 (brand/type/size
      // rarely co-agree), so the textbook match tier (>= 5500) is empty
      // here and would leave the closure + survivorship stages
      // unexercised; 1500 is the review-accept tier — production swaps
      // in the match threshold without touching the pipeline shape.
      val ids = graft.catalog.Tables.part(s, dir)
        .groupBy(col("p_name"))
        .agg(min(col("p_partkey")).cast("long").as("nid"),
          count(lit(1)).as("n_parts"))
        .select(col("p_name").as("name"), col("nid"), col("n_parts"))
      val wRep = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_name")).orderBy(col("p_partkey"))
      val rep = graft.catalog.Tables.part(s, dir)
        .withColumn("rn", row_number().over(wRep))
        .filter(col("rn") === 1)
        .select(col("p_name").as("name"), col("p_brand"),
          col("p_type"), col("p_size"))
      erEntitiesFrom(ids, rep, blocked = Some(erBlockingShared(s, dir)))
    }),

    // Pairs → clusters: connected components over the q_dedup_minhash edge
    // list (Components.connectedComponents), every doc labeled with its
    // cluster's smallest doc_id; the canonical keeper IS that smallest id —
    // the keep-one-per-near-dup-group step a curation pipeline actually
    // executes (dropping both ends of every pair over-deletes chains).
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = documents(s, dir).filter(col("doc_id") < 500)
      val pairs = minhashPairs500(s, dir)
      val comp = Components.connectedComponents(
        pairs.select(col("d1").as("src"), col("d2").as("dst")))
      docs.select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"), col("component")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
        .orderBy(col("doc_id"))
    })
  )

  // ---- shared ER pipeline stages -------------------------------------
  // ONE definition of blocking → scoring → closure → survivorship,
  // parameterized on the name dim — q_er_blocking/q_er_scoring/
  // q_er_entities instantiate it from the part table;
  // StreamOps.entitiesStoreRead instantiates it from the arrival-built
  // store's folded summaries, so the store read IS the batch recompute
  // by construction (the pagerankStoreRead discipline).

  /** The part-table blocking frame, pool-memoized (optimization round):
    * q_er_blocking, q_er_scoring and q_er_entities all run the same
    * dictionary self-join + levenshtein pass over the same name dim —
    * one persisted frame serves all three under the bench pool (pure
    * plan, the Memo no-embedded-checkpoint contract); Verify/tests
    * build cold. */
  private def erBlockingShared(s: SparkSession, dir: String): DataFrame =
    graft.util.Memo.benchMemo(s, dir, "er:blocking_part") {
      val names = graft.catalog.Tables.part(s, dir)
        .groupBy(col("p_name"))
        .agg(count(lit(1)).as("n_parts"))
        .select(col("p_name").as("name"), col("n_parts"),
          element_at(split(col("p_name"), " "), 1).as("adj"),
          element_at(split(col("p_name"), " "), 2).as("noun"))
      erBlocking(names)
    }

  /** Multi-pass blocked candidate pairs over a name dim
    * (name, n_parts, adj, noun): per pass one equi-join on a blocking
    * token (never all-pairs), verify = levenshtein ≤ 2.
    * @return (name_1, name_2, dist, n_1, n_2), name_1 < name_2. */
  private[graft] def erBlocking(names: DataFrame): DataFrame = {
    def pass(key: String) = {
      val a = names.select(col(key).as("k"), col("name").as("name_1"),
        col("n_parts").as("n_1"))
      val b = names.select(col(key).as("k"), col("name").as("name_2"),
        col("n_parts").as("n_2"))
      a.join(b, Seq("k"))
        .filter(col("name_1") < col("name_2") &&
          levenshtein(col("name_1"), col("name_2")) <= 2)
        .select(col("name_1"), col("name_2"), col("n_1"), col("n_2"))
    }
    pass("noun").unionByName(pass("adj")).distinct()
      .select(col("name_1"), col("name_2"),
        levenshtein(col("name_1"), col("name_2")).as("dist"),
        col("n_1"), col("n_2"))
  }

  /** Fellegi–Sunter scoring of blocked candidates against a
    * representative-record dim (name, p_brand, p_type, p_size):
    * fixed integer milli-log-odds weights, match/possible/nonmatch
    * verdict. Candidates broadcast-join the dim — blocking bounds the
    * pair set, so the per-pair cost is a narrow expression. */
  private[graft] def erScoring(cands: DataFrame, rep: DataFrame): DataFrame =
    cands
      .join(broadcast(rep.select(col("name").as("name_1"),
        col("p_brand").as("brand_1"), col("p_type").as("type_1"),
        col("p_size").as("size_1"))), Seq("name_1"))
      .join(broadcast(rep.select(col("name").as("name_2"),
        col("p_brand").as("brand_2"), col("p_type").as("type_2"),
        col("p_size").as("size_2"))), Seq("name_2"))
      .select(col("name_1"), col("name_2"), col("dist"),
        (col("brand_1") === col("brand_2")).as("agr_brand"),
        (col("type_1") === col("type_2")).as("agr_type"),
        abs(col("size_1") - col("size_2")).cast("int").as("d_size"))
      .withColumn("score",
        when(col("dist") === 0, 4000).when(col("dist") === 1, 2500).otherwise(1000) +
          when(col("agr_brand"), 1200).otherwise(-300) +
          when(col("agr_type"), 900).otherwise(-200) +
          when(col("d_size") === 0, 600).when(col("d_size") <= 2, 250).otherwise(-100))
      .withColumn("verdict",
        when(col("score") >= 5500, "match")
          .when(col("score") >= 4000, "possible")
          .otherwise("nonmatch"))

  /** The full ER closure + survivorship over a name dim: `ids` =
    * (name, nid, n_parts) with nid an integer node key (min p_partkey
    * in the batch query; the folded min over batches in the store
    * read), `rep` = (name, p_brand, p_type, p_size) — the
    * representative record behind each name. Blocking keys (adj/noun)
    * derive from the name itself, edges are the ≥ 1500 score tier (see
    * q_er_entities for why the fixture uses the review-accept tier),
    * closure is the shared Components machinery, survivorship elects
    * the canonical record deterministically. */
  private[graft] def erEntitiesFrom(ids: DataFrame, rep: DataFrame,
      blocked: Option[DataFrame] = None): DataFrame = {
    val names = ids.select(col("name"), col("n_parts"),
      element_at(split(col("name"), " "), 1).as("adj"),
      element_at(split(col("name"), " "), 2).as("noun"))
    // `blocked` (optimization round): the query layer passes the
    // pool-shared part-name blocking frame (erBlockingShared) so the
    // three ER queries pay ONE dictionary self-join pass; the store
    // read and tests build fresh (None) — same frame by construction
    // (names here == the blocking query's names: same dim, same keys)
    val cands = blocked.getOrElse(erBlocking(names))
      .select(col("name_1"), col("name_2"), col("dist"))
    // Driver arm (optimization round): everything after blocking —
    // scoring, min-id closure, survivorship election — is dim-bounded
    // string/integer arithmetic (blocking-bounded pairs, one row per
    // name), previously ~7 sequential broadcast-join/window stages.
    // Under the cap the three frames collect once and the canonical
    // entities compute in memory with the identical deterministic rules
    // (FS integer weights, min-member component, longest-then-lexical
    // canon, count-desc-then-value-asc modal). Over cap or on any null:
    // the unchanged frame chain below (DedupSpec pins arm equality; the
    // store read shares this code path, so q_tvf_entities inherits it).
    erEntitiesDriver(ids, rep, cands).foreach(return _)
    val edges = erScoring(cands, rep)
      .filter(col("score") >= 1500)
      .join(broadcast(ids.select(col("name").as("name_1"),
        col("nid").as("src"))), Seq("name_1"))
      .join(broadcast(ids.select(col("name").as("name_2"),
        col("nid").as("dst"))), Seq("name_2"))
      .select(col("src"), col("dst"))
    val members = Components.connectedComponents(edges)
      .select(col("id").as("nid"), col("component").as("entity_id"))
      .join(ids, Seq("nid"))
      .join(rep, Seq("name"))
    val wCanon = org.apache.spark.sql.expressions.Window
      .partitionBy(col("entity_id"))
      .orderBy(length(col("name")).desc, col("name"))
    val canon = members
      .withColumn("rn", row_number().over(wCanon)).filter(col("rn") === 1)
      .select(col("entity_id"), col("name").as("canonical_name"))
    def modal(field: String, out: String) = {
      val wM = org.apache.spark.sql.expressions.Window
        .partitionBy(col("entity_id"))
        .orderBy(col("cnt").desc, col(field))
      members.groupBy(col("entity_id"), col(field))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wM)).filter(col("rn") === 1)
        .select(col("entity_id"), col(field).as(out))
    }
    members.groupBy(col("entity_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("p_size")).cast("int").as("size_min"),
        sum(col("n_parts")).as("n_parts_total"))
      .join(canon, Seq("entity_id"))
      .join(modal("p_brand", "brand"), Seq("entity_id"))
      .join(modal("p_type", "ptype"), Seq("entity_id"))
      .select(col("entity_id"), col("n_members"), col("canonical_name"),
        col("brand"), col("ptype"), col("size_min"), col("n_parts_total"))
      .orderBy(col("entity_id"))
  }

  /** The in-memory arm behind [[erEntitiesFrom]]: FS scoring of the
    * collected candidate pairs, min-id union-find closure, and the
    * survivorship election — each rule integer/string-exact, so the
    * output is row-identical to the frame chain (DedupSpec pins it).
    * None over the row cap or on any null field. */
  private def erEntitiesDriver(ids: DataFrame, rep: DataFrame,
      cands: DataFrame): Option[DataFrame] = {
    import scala.collection.mutable.{ArrayBuffer, HashMap}
    import graft.util.SmallInput
    val s = ids.sparkSession
    val idRows = SmallInput.take(ids.select(col("name"), col("nid"),
      col("n_parts"))).getOrElse(return None)
    if (idRows.exists(r =>
        r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))) return None
    val repRows = SmallInput.take(rep.select(col("name"), col("p_brand"),
      col("p_type"), col("p_size"))).getOrElse(return None)
    if (repRows.exists(r =>
        r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2) || r.isNullAt(3)))
      return None
    val candRows = SmallInput.take(cands).getOrElse(return None)
    if (candRows.exists(r =>
        r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(2))) return None
    // dims
    val idByName = HashMap.empty[String, (Long, Long)] // name -> (nid, n_parts)
    idRows.foreach { r =>
      idByName(r.getString(0)) =
        (r.getAs[Number](1).longValue, r.getAs[Number](2).longValue)
    }
    val repByName = HashMap.empty[String, (String, String, Long)]
    repRows.foreach { r =>
      repByName(r.getString(0)) =
        (r.getString(1), r.getString(2), r.getAs[Number](3).longValue)
    }
    // scoring — erScoring's integer weights verbatim; inner-join
    // semantics: a cand whose name misses either dim contributes nothing
    val edges = ArrayBuffer.empty[(Long, Long)]
    candRows.foreach { r =>
      val n1 = r.getString(0); val n2 = r.getString(1)
      val dist = r.getAs[Number](2).longValue
      (repByName.get(n1), repByName.get(n2),
        idByName.get(n1), idByName.get(n2)) match {
        case (Some((b1, t1, s1)), Some((b2, t2, s2)),
              Some((nid1, _)), Some((nid2, _))) =>
          val dSize = math.abs(s1 - s2)
          val score =
            (if (dist == 0L) 4000 else if (dist == 1L) 2500 else 1000) +
            (if (b1 == b2) 1200 else -300) +
            (if (t1 == t2) 900 else -200) +
            (if (dSize == 0L) 600 else if (dSize <= 2L) 250 else -100)
          if (score >= 1500) edges += ((nid1, nid2))
        case _ => ()
      }
    }
    // min-id union-find closure (the Components.connectedComponents
    // contract: component = smallest member id; edge-touched nodes only)
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
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    // members: one row per edge-touched nid, with its dim attributes
    val nidToName = HashMap.empty[Long, String]
    idByName.foreach { case (n, (nid, _)) => nidToName(nid) = n }
    case class Mem(entity: Long, name: String, nParts: Long,
      brand: String, ptype: String, size: Long)
    val members = parent.keysIterator.map { nid =>
      val name = nidToName(nid)
      val (_, nParts) = idByName(name)
      val (b, t, sz) = repByName(name)
      Mem(find(nid), name, nParts, b, t, sz)
    }.toArray
    // survivorship per entity
    val byEnt = members.groupBy(_.entity)
    val rows = byEnt.keysIterator.toArray.sorted.map { ent =>
      val ms = byEnt(ent)
      // canon: longest name, ties lexicographically smallest
      val canon = ms.minBy(m => (-m.name.length, m.name)).name
      def modal(f: Mem => String): String = {
        val counts = HashMap.empty[String, Long]
        ms.foreach(m => counts(f(m)) = counts.getOrElse(f(m), 0L) + 1L)
        counts.toArray.minBy { case (v, c) => (-c, v) }._1
      }
      (ent, ms.length.toLong, canon, modal(_.brand), modal(_.ptype),
        ms.iterator.map(_.size).min.toInt, ms.iterator.map(_.nParts).sum)
    }
    Some(s.createDataFrame(rows.toSeq)
      .toDF("entity_id", "n_members", "canonical_name", "brand", "ptype",
        "size_min", "n_parts_total")
      .orderBy(col("entity_id")))
  }

  private[graft] val toksSql = "list_distinct(string_split(text, ' '))"

  /** Shared blocking→scoring CTE chain (names/pairs/rep/feat/scored) —
    * q_er_scoring's body, composed into q_er_entities' closure +
    * survivorship so both oracles share one definition. */
  private val erScoredCtes =
    """names AS (
           SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts,
                  string_split(p_name, ' ')[1] AS adj,
                  string_split(p_name, ' ')[2] AS noun
           FROM part GROUP BY 1),
         pairs AS (
           SELECT a.name AS name_1, b.name AS name_2
           FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
           WHERE levenshtein(a.name, b.name) <= 2
           UNION
           SELECT a.name, b.name
           FROM names a JOIN names b ON a.adj = b.adj AND a.name < b.name
           WHERE levenshtein(a.name, b.name) <= 2),
         rep AS (
           SELECT p_name AS name, p_brand, p_type, p_size
           FROM (SELECT p_name, p_brand, p_type, p_size,
                        row_number() OVER (PARTITION BY p_name ORDER BY p_partkey) AS rn
                 FROM part)
           WHERE rn = 1),
         feat AS (
           SELECT p.name_1, p.name_2,
                  CAST(levenshtein(p.name_1, p.name_2) AS INT) AS dist,
                  r1.p_brand = r2.p_brand AS agr_brand,
                  r1.p_type = r2.p_type AS agr_type,
                  CAST(abs(r1.p_size - r2.p_size) AS INT) AS d_size
           FROM pairs p
           JOIN rep r1 ON r1.name = p.name_1
           JOIN rep r2 ON r2.name = p.name_2),
         scored AS (
           SELECT *,
                  CAST(CASE WHEN dist = 0 THEN 4000 WHEN dist = 1 THEN 2500 ELSE 1000 END
                   + CASE WHEN agr_brand THEN 1200 ELSE -300 END
                   + CASE WHEN agr_type THEN 900 ELSE -200 END
                   + CASE WHEN d_size = 0 THEN 600 WHEN d_size <= 2 THEN 250 ELSE -100 END
                   AS INT) AS score
           FROM feat)"""

  /** DuckDB mirror of shingles3 (same as the q_dedup_ngram oracle). */
  private[graft] val shingleSql =
    """list_distinct(list_transform(
      |  range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
      |  i -> concat(string_split(text, ' ')[i], ' ',
      |              string_split(text, ' ')[i + 1], ' ',
      |              string_split(text, ' ')[i + 2])))""".stripMargin

  private def minhashSqlOver(set: String, seed: Int): String =
    s"list_min(list_transform($set, t -> md5(t || '_s$seed')))"

  private def minhashSql(seed: Int): String = minhashSqlOver(toksSql, seed)

  /** The MinHash+LSH+verify CTE chain (docs → sets → sigs → bands → cands →
    * verified pairs) as a WITH-body fragment, over an arbitrary docs CTE —
    * reused verbatim by the standalone dedup oracles AND composed into the
    * end-to-end q_pipeline_curate oracle (where `docsSql` is the
    * quality-gated subset, mirroring TrainingData.dropNearDups running on
    * the gated frame). */
  private[graft] def lshPairsCtes(setSql: String, threshold: Double,
      candCond: String = "a.doc_id < b.doc_id",
      docsSql: String = "SELECT doc_id, text FROM documents WHERE doc_id < 500"): String = {
    val sigCols = minhashSeeds.map(s => s"${minhashSqlOver("st", s)} AS m$s")
      .mkString(",\n                  ")
    val bandSelects = (0 until bandsOf).map(b =>
      s"SELECT doc_id, $b AS band, md5(m${2 * b} || m${2 * b + 1}) AS bh FROM sigs")
      .mkString("\n           UNION ALL ")
    s"""docs AS ($docsSql),
        sets AS (SELECT doc_id, $setSql AS st FROM docs),
        sigs AS (SELECT doc_id,
                $sigCols
                 FROM sets),
        bands AS ($bandSelects),
        cands AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bh = b.bh AND $candCond),
        lsh_pairs AS (
          SELECT d1, d2,
                 CAST(len(list_intersect(t1.st, t2.st)) AS DOUBLE)
                       / len(list_distinct(list_concat(t1.st, t2.st))) AS jaccard
          FROM cands
          JOIN sets t1 ON t1.doc_id = d1
          JOIN sets t2 ON t2.doc_id = d2
          WHERE CAST(len(list_intersect(t1.st, t2.st)) AS DOUBLE)
                      / len(list_distinct(list_concat(t1.st, t2.st))) >= $threshold)"""
  }

  /** MinHash+LSH+verify oracle over an arbitrary set expression — shared by
    * q_dedup_minhash (token sets), q_dedup_ngram_lsh (shingles), and
    * q_dedup_incremental (corpus×fresh candidate predicate). */
  private def lshOracleSql(setSql: String, threshold: Double,
      candCond: String = "a.doc_id < b.doc_id"): String =
    s"""WITH ${lshPairsCtes(setSql, threshold, candCond)}
        SELECT d1, d2, jaccard FROM lsh_pairs
        ORDER BY d1, d2"""

  private val simhashBitSql: String = {
    val bitCases = (0 until simhashBits).map { j =>
      s"""CASE WHEN sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, ${j / 4 + 1}, 1)) - 1) >> ${j % 4}) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN '1' ELSE '0' END"""
    }
    s"""SELECT doc_id, concat(${bitCases.mkString(", ")}) AS simhash
        FROM (SELECT doc_id, unnest($toksSql) AS tok, md5(unnest($toksSql)) AS h
              FROM documents WHERE doc_id < 200)
        GROUP BY doc_id
        ORDER BY doc_id"""
  }

  val oracle: Map[String, String] = Map(
    "q_dedup_minhash" -> lshOracleSql(toksSql, 0.5),

    // corpus-side docs pair only with fresh-batch docs
    "q_dedup_incremental" ->
      lshOracleSql(toksSql, 0.5, "a.doc_id < 400 AND b.doc_id >= 400"),

    // Transitive closure over the exact q_dedup_minhash pair list: min
    // reachable doc_id per node via a recursive CTE (UNION dedup bounds
    // the walk), singletons keep their own id.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE
          pairs AS (${lshOracleSql(toksSql, 0.5)}),
          edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                    UNION SELECT d2 AS a, d1 AS b FROM pairs),
          reach(id, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
          comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
          SELECT d.doc_id,
                 coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                 d.doc_id = coalesce(c.cluster_id, d.doc_id) AS is_canonical
          FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
          LEFT JOIN comp c ON c.id = d.doc_id
          ORDER BY d.doc_id""",

    "q_split_leakage_free" ->
      s"""WITH RECURSIVE
          pairs AS (${lshOracleSql(toksSql, 0.5)}),
          edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                    UNION SELECT d2 AS a, d1 AS b FROM pairs),
          reach(id, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
          comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
          keyed AS (
            SELECT d.doc_id,
                   coalesce(c.cluster_id, d.doc_id) AS cluster_id
            FROM (SELECT doc_id FROM documents WHERE doc_id < 500) d
            LEFT JOIN comp c ON c.id = d.doc_id),
          bucketed AS (
            SELECT doc_id, cluster_id,
                   CAST('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 4) AS INT) AS bucket
            FROM keyed)
          SELECT doc_id, cluster_id, bucket,
                 CASE WHEN bucket < 52429 THEN 'train'
                      WHEN bucket < 58982 THEN 'val'
                      ELSE 'test' END AS split
          FROM bucketed
          ORDER BY doc_id""",

    "q_dedup_ngram_lsh" -> lshOracleSql(shingleSql, 0.2),

    "q_dedup_simhash" -> simhashBitSql,

    // all-pairs hamming over the same fingerprints — the banded Spark
    // path is exhaustive at maxHamming 3 (see the query comment)
    "q_dedup_simhash_pairs" ->
      s"""WITH sh AS (SELECT * FROM ($simhashBitSql) WHERE doc_id < 100)
          SELECT d1, d2, dist FROM (
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(len(list_filter(range(1, 33),
                     i -> substr(a.simhash, CAST(i AS INT), 1)
                          <> substr(b.simhash, CAST(i AS INT), 1))) AS INT) AS dist
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          WHERE dist <= 3
          ORDER BY d1, d2""",

    "q_decontaminate" ->
      s"""WITH tr AS (SELECT doc_id AS train_id, unnest($shingleSql) AS sh
                      FROM documents WHERE doc_id >= 50 AND doc_id < 300),
          rare AS (SELECT sh FROM (SELECT sh, count(*) AS df FROM tr GROUP BY sh)
                   WHERE df <= 1000),
          bm AS (SELECT doc_id AS bench_id, unnest($shingleSql) AS sh
                 FROM documents WHERE doc_id < 50)
          SELECT train_id, bench_id, count(*) AS n_shared
          FROM tr JOIN rare USING (sh) JOIN bm USING (sh)
          GROUP BY train_id, bench_id
          HAVING count(*) >= 2
          ORDER BY train_id, bench_id""",

    "q_dedup_ngram" ->
      s"""WITH sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                     range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                     i -> concat(string_split(text, ' ')[i], ' ',
                                 string_split(text, ' ')[i + 1], ' ',
                                 string_split(text, ' ')[i + 2]))) AS s
            FROM documents WHERE doc_id < 200)
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.s, b.s))) >= 0.2
          ORDER BY d1, d2""",

    "q_dedup_containment" ->
      s"""WITH sh AS (
            SELECT doc_id, $shingleSql AS s
            FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
          nz AS (SELECT doc_id, s FROM sh WHERE len(s) >= 1)
          SELECT d1, d2, inter, mn, (inter * 10000) // mn AS cont_e4
          FROM (
            SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
                   CAST(least(len(a.s), len(b.s)) AS BIGINT) AS mn
            FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
          WHERE (inter * 10000) // mn >= 5000
          ORDER BY d1, d2""",

    // exact DuckDB replay of containmentCandidates (rare-k ranking,
    // dfCap postings bound, rare∪rare arm) + the containmentVerify tail
    "q_dedup_containment_scale" ->
      s"""WITH sh0 AS (
            SELECT doc_id, $shingleSql AS sarr
            FROM documents WHERE doc_id < 300 AND text IS NOT NULL),
          sh AS (SELECT doc_id, unnest(sarr) AS s FROM sh0),
          dfs AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
          withdf AS (SELECT sh.doc_id, sh.s, dfs.df FROM sh JOIN dfs USING (s)),
          rare AS (
            SELECT s, doc_id FROM (
              SELECT s, doc_id,
                     row_number() OVER (PARTITION BY doc_id ORDER BY df, s) AS r
              FROM withdf)
            WHERE r <= 8),
          postings AS (
            SELECT DISTINCT s, doc_id FROM (
              SELECT s, doc_id FROM withdf WHERE df <= 64
              UNION ALL
              SELECT s, doc_id FROM (
                SELECT s, doc_id,
                       row_number() OVER (PARTITION BY s ORDER BY doc_id) AS pr
                FROM rare)
              WHERE pr <= 64)),
          cands AS (
            SELECT DISTINCT least(a.doc_id, b.doc_id) AS d1,
                   greatest(a.doc_id, b.doc_id) AS d2
            FROM rare a JOIN postings b
              ON a.s = b.s AND a.doc_id <> b.doc_id),
          nz AS (SELECT doc_id, sarr FROM sh0 WHERE len(sarr) >= 1)
          SELECT d1, d2, inter, mn, (inter * 10000) // mn AS cont_e4
          FROM (
            SELECT c.d1, c.d2,
                   CAST(len(list_intersect(a.sarr, b.sarr)) AS BIGINT) AS inter,
                   CAST(least(len(a.sarr), len(b.sarr)) AS BIGINT) AS mn
            FROM cands c
            JOIN nz a ON a.doc_id = c.d1
            JOIN nz b ON b.doc_id = c.d2)
          WHERE (inter * 10000) // mn >= 5000
          ORDER BY d1, d2""",

    "q_dedup_embed" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 100)
         SELECT a.vec_id AS d1, b.vec_id AS d2,
                round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                         * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                       x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                     / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) >= 0.3
         ORDER BY d1, d2""",

    "q_dedup_lines" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         corpus AS (
           SELECT doc_id, text FROM base
           UNION ALL
           SELECT doc_id + 10000 AS doc_id,
                  array_to_string(string_split(text, ' ')[1:10], ' ')
                    || ' uniq' || CAST(doc_id AS VARCHAR) AS text
           FROM base WHERE doc_id < 50),
         toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
         lines AS (
           SELECT doc_id, CAST(i AS INT) AS idx,
                  array_to_string(toks[i*10+1:(i+1)*10], ' ') AS line
           FROM toks, LATERAL (SELECT unnest(range((len(toks)-1)//10 + 1)) AS i)),
         kept AS (
           SELECT doc_id, idx, line FROM (
             SELECT doc_id, idx, line,
                    row_number() OVER (PARTITION BY line ORDER BY doc_id, idx) AS rn
             FROM lines)
           WHERE rn = 1),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  md5(string_agg(line, ' ' ORDER BY idx)) AS clean_md5
           FROM kept GROUP BY 1)
         SELECT t.doc_id,
                CAST((len(t.toks)-1)//10 + 1 AS BIGINT) AS n_lines,
                coalesce(a.n_kept, 0) AS n_kept,
                coalesce(a.clean_md5, md5('')) AS clean_md5
         FROM toks t LEFT JOIN agg a USING (doc_id)
         ORDER BY t.doc_id""",

    "q_dedup_substring" ->
      """WITH base AS (
           SELECT doc_id, text FROM documents
           WHERE doc_id < 500 AND text IS NOT NULL),
         corpus AS (
           SELECT doc_id, text FROM base
           UNION ALL
           SELECT doc_id + 20000 AS doc_id,
                  array_to_string(string_split(text, ' ')[1:30], ' ')
                    || ' uniq' || CAST(doc_id AS VARCHAR) AS text
           FROM base WHERE doc_id < 50),
         toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
         wins AS (
           SELECT doc_id, CAST(i AS INT) AS pos,
                  md5(array_to_string(
                    toks[CAST(i AS INT)+1:CAST(i AS INT)+10], ' ')) AS wh
           FROM toks, LATERAL (SELECT unnest(range(len(toks)-10+1)) AS i)),
         dup AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
                    row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
             FROM wins)
           WHERE rn > 1),
         dupt AS (
           SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS tok_idx
           FROM dup, LATERAL (SELECT unnest(range(10)) AS j)),
         tokens AS (
           SELECT doc_id, CAST(i AS INT) AS tok_idx, toks[CAST(i AS INT)+1] AS tok
           FROM toks, LATERAL (SELECT unnest(range(len(toks))) AS i)),
         kept AS (
           SELECT t.doc_id, t.tok_idx, t.tok FROM tokens t
           LEFT JOIN dupt d ON d.doc_id = t.doc_id AND d.tok_idx = t.tok_idx
           WHERE d.doc_id IS NULL),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                  md5(string_agg(tok, ' ' ORDER BY tok_idx)) AS clean_md5
           FROM kept GROUP BY 1)
         SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_toks,
                coalesce(a.n_kept, 0) AS n_kept,
                coalesce(a.clean_md5, md5('')) AS clean_md5
         FROM toks t LEFT JOIN agg a USING (doc_id)
         ORDER BY t.doc_id""",

    "q_er_blocking" ->
      """WITH names AS (
           SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_parts,
                  string_split(p_name, ' ')[1] AS adj,
                  string_split(p_name, ' ')[2] AS noun
           FROM part GROUP BY 1),
         pairs AS (
           SELECT a.name AS name_1, b.name AS name_2, a.n_parts AS n_1, b.n_parts AS n_2
           FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
           WHERE levenshtein(a.name, b.name) <= 2
           UNION
           SELECT a.name, b.name, a.n_parts, b.n_parts
           FROM names a JOIN names b ON a.adj = b.adj AND a.name < b.name
           WHERE levenshtein(a.name, b.name) <= 2)
         SELECT name_1, name_2,
                CAST(levenshtein(name_1, name_2) AS INT) AS dist, n_1, n_2
         FROM pairs
         ORDER BY name_1, name_2""",

    "q_er_scoring" ->
      s"""WITH $erScoredCtes
         SELECT name_1, name_2, dist, agr_brand, agr_type, d_size, score,
                CASE WHEN score >= 5500 THEN 'match'
                     WHEN score >= 4000 THEN 'possible'
                     ELSE 'nonmatch' END AS verdict
         FROM scored
         ORDER BY score DESC, name_1, name_2""",

    // the scoring chain + recursive reachability closure (UNION fixpoint
    // over the symmetrized match edges) + the survivorship SQL — the
    // DuckDB replay of connectedComponents' min-label contract
    "q_er_entities" ->
      s"""WITH RECURSIVE $erScoredCtes,
         ids AS (
           SELECT p_name AS name, CAST(min(p_partkey) AS BIGINT) AS nid,
                  CAST(count(*) AS BIGINT) AS n_parts
           FROM part GROUP BY 1),
         medges AS (
           SELECT i1.nid AS a, i2.nid AS b
           FROM scored s
           JOIN ids i1 ON i1.name = s.name_1
           JOIN ids i2 ON i2.name = s.name_2
           WHERE s.score >= 1500),
         reach AS (
           SELECT a, b FROM medges UNION SELECT b, a FROM medges),
         paths AS (
           SELECT a AS id, b AS nb FROM reach
           UNION
           SELECT p.id, r.b FROM paths p JOIN reach r ON p.nb = r.a),
         comp AS (
           SELECT id, least(id, min(nb)) AS entity_id
           FROM paths GROUP BY id),
         members AS (
           SELECT c.entity_id, i.name, i.n_parts, r.p_brand, r.p_type, r.p_size
           FROM comp c
           JOIN ids i ON i.nid = c.id
           JOIN rep r ON r.name = i.name),
         canon AS (
           SELECT entity_id, name AS canonical_name FROM (
             SELECT entity_id, name,
                    row_number() OVER (PARTITION BY entity_id
                      ORDER BY length(name) DESC, name) AS rn
             FROM members)
           WHERE rn = 1),
         brandm AS (
           SELECT entity_id, p_brand AS brand FROM (
             SELECT entity_id, p_brand,
                    row_number() OVER (PARTITION BY entity_id
                      ORDER BY count(*) DESC, p_brand) AS rn
             FROM members GROUP BY 1, 2)
           WHERE rn = 1),
         typem AS (
           SELECT entity_id, p_type AS ptype FROM (
             SELECT entity_id, p_type,
                    row_number() OVER (PARTITION BY entity_id
                      ORDER BY count(*) DESC, p_type) AS rn
             FROM members GROUP BY 1, 2)
           WHERE rn = 1),
         agg AS (
           SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members,
                  CAST(min(p_size) AS INT) AS size_min,
                  CAST(sum(n_parts) AS BIGINT) AS n_parts_total
           FROM members GROUP BY 1)
         SELECT a.entity_id, a.n_members, c.canonical_name,
                b.brand, t.ptype, a.size_min, a.n_parts_total
         FROM agg a
         JOIN canon c USING (entity_id)
         JOIN brandm b USING (entity_id)
         JOIN typem t USING (entity_id)
         ORDER BY a.entity_id""",

    "q_dedup_semantic" ->
      """WITH e AS (SELECT vec_id, label AS cluster, embedding FROM embeddings),
         dups AS (
           SELECT b.vec_id, CAST(count(*) AS BIGINT) AS n_dup_neighbors
           FROM e a JOIN e b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) >= 0.3
           GROUP BY 1)
         SELECT e.vec_id, e.cluster,
                coalesce(d.n_dup_neighbors, 0) AS n_dup_neighbors,
                coalesce(d.n_dup_neighbors, 0) > 0 AS pruned
         FROM e LEFT JOIN dups d ON e.vec_id = d.vec_id
         ORDER BY e.vec_id""",

    "q_dedup_semantic_kmeans" ->
      ("WITH " + (Ann.kmeansSqlCtes ++ Seq(
        "e AS MATERIALIZED (SELECT vec_id, cluster, cv AS embedding FROM af)",
        """dups AS (
           SELECT b.vec_id, CAST(count(*) AS BIGINT) AS n_dup_neighbors
           FROM e a JOIN e b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
           WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
                         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                          * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) >= 0.3
           GROUP BY 1)""")).mkString(",\n") +
        """
         SELECT e.vec_id, e.cluster,
                coalesce(d.n_dup_neighbors, 0) AS n_dup_neighbors,
                coalesce(d.n_dup_neighbors, 0) > 0 AS pruned
         FROM e LEFT JOIN dups d ON e.vec_id = d.vec_id
         ORDER BY e.vec_id""")
  )
}
