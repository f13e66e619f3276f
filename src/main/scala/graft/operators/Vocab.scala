package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Frames.releaseCheckpoint

/** Byte-pair-encoding vocabulary induction — the tokenizer-training half
  * of an LLM data pipeline, DataFrame-native.
  *
  * Classic BPE trains on the WORD-FREQUENCY table, not the raw corpus:
  * distinct words with counts are orders of magnitude smaller than the
  * corpus itself (Zipf), so each merge iteration is one aggregation over a
  * small frame regardless of corpus size. The corpus is touched exactly
  * once (word count — one shuffle); each of the k merge rounds is:
  *
  *   1. adjacent-pair counts weighted by word frequency (one groupBy on
  *      the vocab-sized frame),
  *   2. argmax pair with deterministic tie-break (count desc, pair asc),
  *   3. greedy left-to-right merge of that pair inside every word's unit
  *      array (narrow higher-order fold, no shuffle).
  *
  * Only the merge table (k pairs) ever reaches the driver — the same
  * broadcast-scale justification as Ann.kmeans centroids.
  */
object Vocab {

  /** Word → initial character units ("low" → ["l","o","w"]). Spark's
    * split(s, "") emits a trailing "" (Java split with limit −1) — filtered. */
  def charUnits(word: Column): Column =
    filter(split(word, ""), u => u =!= "")

  /** One greedy left-to-right merge pass of the pair (a, b) over a unit
    * array: ["l","o","w"] under ("l","o") → ["lo","w"]; overlaps resolve
    * leftmost-first (["a","a","a"] under ("a","a") → ["aa","a"]). */
  def mergeOnce(units: Column, a: String, b: String): Column = {
    val merged = a + b
    aggregate(
      units,
      struct(array().cast("array<string>").as("acc"), lit("").as("prev")),
      (st, u) => {
        val acc = st.getField("acc")
        val prev = st.getField("prev")
        when(prev === "", struct(acc.as("acc"), u.as("prev")))
          .when(prev === a && u === b,
            struct(concat(acc, array(lit(merged))).as("acc"), lit("").as("prev")))
          .otherwise(struct(concat(acc, array(prev)).as("acc"), u.as("prev")))
      },
      st => when(st.getField("prev") === "", st.getField("acc"))
        .otherwise(concat(st.getField("acc"), array(st.getField("prev")))))
  }

  /** Adjacent unit pairs of an array as structs (a, b). */
  private def adjacentPairs(units: Column): Column =
    zip_with(
      slice(units, lit(1), size(units) - 1),
      slice(units, lit(2), size(units) - 1),
      (x, y) => struct(x.as("a"), y.as("b")))

  /** Learn up to k merges from the corpus' text column. Stops early when
    * no pair reaches minCount. Deterministic: ties break on (a, b) order.
    *
    * Driver arm (optimization round): the merge loop runs on the
    * WORD-FREQUENCY table by design — vocab-sized — yet the frame loop
    * paid k rounds × (pair-count aggregate + argmax collect + merge-fold
    * checkpoint) of sequential stage latency. Under the cap the
    * (w, n) frame collects once and the identical greedy recurrence runs
    * in memory: per-occurrence weighted pair counts, (cnt desc, a, b)
    * argmax, leftmost-overlap merge scan (the mergeOnce fold's
    * consume-and-reset rule). Over cap: the unchanged frame loop
    * (VocabSpec pins arm equality). */
  def learnMerges(docs: DataFrame, k: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    val wordFreq = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    graft.util.SmallInput.take(wordFreq).foreach { take =>
      if (!take.exists(_.isNullAt(0))) {
        var words: Array[(Array[String], Long)] = take.map { r =>
          (r.getString(0).map(_.toString).toArray, r.getAs[Number](1).longValue)
        }
        val merges = ArrayBuffer.empty[(String, String)]
        var continue = true
        var round = 0
        while (continue && round < k) {
          val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
          words.foreach { case (us, n) =>
            var i = 0
            while (i + 1 < us.length) {
              val p = (us(i), us(i + 1))
              cnt(p) = cnt.getOrElse(p, 0L) + n
              i += 1
            }
          }
          if (cnt.isEmpty) continue = false
          else {
            val ((a, b), c) = cnt.minBy { case ((a, b), c) => (-c, a, b) }
            if (c < minCount) continue = false
            else {
              merges += ((a, b))
              val merged = a + b
              words = words.map { case (us, n) =>
                val out = ArrayBuffer.empty[String]
                var i = 0
                while (i < us.length) {
                  if (i + 1 < us.length && us(i) == a && us(i + 1) == b) {
                    out += merged; i += 2
                  } else { out += us(i); i += 1 }
                }
                (out.toArray, n)
              }
              round += 1
            }
          }
        }
        return merges.toSeq
      }
    }
    var words = wordFreq
      .select(charUnits(col("w")).as("units"), col("n"))
      .localCheckpoint() // vocab-sized; each round folds on materialized units
    val merges = ArrayBuffer.empty[(String, String)]
    var continue = true
    var round = 0
    while (continue && round < k) {
      val top = words
        .select(explode(adjacentPairs(col("units"))).as("p"), col("n"))
        .groupBy(col("p.a"), col("p.b")).agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty || top.head.getAs[Long]("cnt") < minCount) {
        continue = false
      } else {
        val (a, b) = (top.head.getAs[String]("a"), top.head.getAs[String]("b"))
        merges += ((a, b))
        words = words
          .select(mergeOnce(col("units"), a, b).as("units"), col("n"))
          .localCheckpoint()
        round += 1
      }
    }
    merges.toSeq
  }

  /** Apply a learned merge list (in order) to a word column. */
  def applyMerges(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(charUnits(word)) { case (c, (a, b)) => mergeOnce(c, a, b) }

  /** Tokenize a text column under the learned vocab: (doc_id, units per
    * word flattened) plus unit counts before/after — the compression the
    * vocabulary buys. */
  def tokenize(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    docs.select(
      col("doc_id"),
      flatten(transform(
        filter(split(col("text"), " "), w => w =!= ""),
        w => applyMerges(w, merges))).as("units"))

  // ---- unigram-LM (SentencePiece-style) tokenizer ------------------------
  // [Kudo, ACL'18] — the OTHER production tokenizer beside BPE: a piece
  // VOCABULARY with log-probabilities, fit by fixed-round hard EM
  // (Viterbi-EM: segment under current scores, re-estimate scores from
  // usage), applied by Viterbi segmentation. Everything is
  // engine-portable by construction: scores are floor-quantized e4
  // integer log-probs (the idf_e4 discipline — ln of an integer ratio,
  // floored once, never compared as a float again), the DP maximizes an
  // exact BIGINT sum, and ties break "longest piece wins" — so the
  // unrolled DuckDB oracle (recursive CTE carrying the same sliding DP
  // state) reproduces the segmentation bit-for-bit.

  /** Max piece length: DP candidates per position = 3. */
  val unigramMaxPiece = 3

  /** Missing-piece score sentinel: additive-safe (a word of 9k unknown
    * chars stays far from BIGINT overflow) yet dominated by ANY real
    * score chain, so unknown substrings lose to known ones and two
    * engines agree without null handling. */
  val unigramMissing = -1000000000000000L

  /** All (position, length) substrings of the distinct-word frame
    * (w, n): one row per (w, j = end position 1..len, L = 1..maxPiece),
    * piece = w[j−L+1 .. j] (null when j < L — kept so the per-word score
    * array below is DENSE and indexable as (j−1)·maxPiece + L). */
  private def wordSubstrings(words: DataFrame): DataFrame =
    words
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")))).as("j"))
      .select(col("w"), col("n"), col("j"),
        explode(sequence(lit(1), lit(unigramMaxPiece))).as("l"))
      .withColumn("piece",
        when(col("j") >= col("l"),
          col("w").substr(col("j") - col("l") + 1, col("l"))))

  /** Viterbi-segment the distinct words of `words` (w, n) under a
    * piece-score frame (piece, logp_e4): maximize Σ logp over
    * segmentations, ties prefer the LONGER piece at each DP step.
    * Implementation: candidate scores come from a JOIN (the score table
    * is a frame, never embedded in the expression — a k-entry map
    * literal inlined 3× per fold step falls out of whole-stage codegen,
    * the q_text_bpe_apply lesson), collected per word as a dense
    * (j, L)-indexed array; the fold then carries a sliding window of
    * the last 3 (best score, segmentation string) pairs FORWARD — the
    * segmentation rides along, so no backward pass and no backpointer
    * reconstruction exists to diverge between engines.
    * @return (w, n, seg) — seg = "|piece|piece|…"-style joined pieces
    *         (leading separator; split+filter to consume). */
  def viterbiSegments(words: DataFrame, scores: DataFrame): DataFrame = {
    val cands = wordSubstrings(words)
      .join(broadcast(scores.select(col("piece"), col("logp_e4"))),
        Seq("piece"), "left")
      .select(col("w"), col("n"), col("j"), col("l"),
        coalesce(col("logp_e4"), lit(unigramMissing)).as("sc"))
    val scs = cands.groupBy(col("w"), col("n"))
      .agg(transform(
        sort_array(collect_list(struct(col("j"), col("l"), col("sc")))),
        x => x.getField("sc")).as("scs"))
    val big = lit(unigramMissing)
    val init = struct(
      lit(0L).as("b0"), lit("").as("g0"),
      big.as("b1"), lit("").as("g1"),
      big.as("b2"), lit("").as("g2"))
    scs.select(col("w"), col("n"),
      aggregate(
        sequence(lit(1), length(col("w"))), init,
        (st, j) => {
          val base = (j - 1) * lit(unigramMaxPiece)
          val c1 = st.getField("b0") + element_at(col("scs"), (base + 1).cast("int"))
          val c2 = st.getField("b1") + element_at(col("scs"), (base + 2).cast("int"))
          val c3 = st.getField("b2") + element_at(col("scs"), (base + 3).cast("int"))
          // j-guards: an L-piece exists only at j ≥ L. Without them a
          // sentinel-vs-sentinel tie at j < L could pick a negative
          // substr position — where Spark and DuckDB disagree.
          val pick3 = j >= 3 && c3 >= c2 && c3 >= c1
          val pick2 = j >= 2 && c2 >= c1
          val newB = when(pick3, c3).otherwise(when(pick2, c2).otherwise(c1))
          val piece = when(pick3, col("w").substr(j - 2, lit(3)))
            .otherwise(when(pick2, col("w").substr(j - 1, lit(2)))
              .otherwise(col("w").substr(j, lit(1))))
          val prevG = when(pick3, st.getField("g2"))
            .otherwise(when(pick2, st.getField("g1"))
              .otherwise(st.getField("g0")))
          struct(
            newB.as("b0"), concat(prevG, lit("|"), piece).as("g0"),
            st.getField("b0").as("b1"), st.getField("g0").as("g1"),
            st.getField("b1").as("b2"), st.getField("g1").as("g2"))
        },
        st => st.getField("g0")).as("seg"))
  }

  /** One hard-EM usage count: Viterbi-segment, then piece usage weighted
    * by word frequency. @return (piece, cnt). */
  def unigramUsage(words: DataFrame, scores: DataFrame): DataFrame =
    viterbiSegments(words, scores)
      .select(col("n"),
        explode(filter(split(col("seg"), "\\|"), p => p =!= "")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))

  /** Floor-e4 log-prob scores with Laplace smoothing over the SEED piece
    * domain (so every seed piece — in particular every single char —
    * stays segmentable in the next round even at zero usage). */
  private def unigramScores(seed: DataFrame, usage: DataFrame): DataFrame = {
    val tot = usage.agg(coalesce(sum(col("cnt")), lit(0L)).as("tot"))
    val nSeed = seed.agg(count(lit(1)).as("n_seed"))
    seed.select(col("piece"))
      .join(usage, Seq("piece"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(nSeed))
      .select(col("piece"),
        floor(log((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double") /
          (col("tot") + col("n_seed")).cast("double")) * 1e4)
          .cast("long").as("logp_e4"))
  }

  /** Fixed-round unigram-LM induction (hard EM) over a word-frequency
    * frame: seed = ALL substrings of length ≤ 3 scored by occurrence
    * count, then `rounds` Viterbi-segment → re-estimate cycles.
    * @return (piece, cnt, logp_e4) — usage counts of the LAST round,
    *         scored with the post-round Laplace estimate. */
  def unigramFit(words: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    // Driver arm (optimization round): the whole fit is vocab-sized —
    // seed counts, floor-e4 ln scores (same JVM libm on both arms), the
    // sliding-window Viterbi DP with its exact j-guarded longest-wins
    // tie rule, Laplace re-estimation — so under the cap the (w, n)
    // frame collects once and `rounds` hard-EM cycles run as plain
    // loops, replacing per-round join+fold+aggregate stage chains.
    // Over cap / nulls: the frame loop below (VocabSpec pins arm
    // equality).
    graft.util.SmallInput.take(words.select(col("w"), col("n"))).foreach { take =>
      if (!take.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        import scala.collection.mutable.HashMap
        val wn = take.map(r => (r.getString(0), r.getAs[Number](1).longValue))
        // seed: per-occurrence substring counts, length ≤ maxPiece
        val seedCnt = HashMap.empty[String, Long]
        wn.foreach { case (w, n) =>
          var j = 1
          while (j <= w.length) {
            var l = 1
            while (l <= unigramMaxPiece) {
              if (j >= l) {
                val p = w.substring(j - l, j)
                seedCnt(p) = seedCnt.getOrElse(p, 0L) + n
              }
              l += 1
            }
            j += 1
          }
        }
        val nSeed = seedCnt.size.toLong
        val tot0 = seedCnt.valuesIterator.sum
        var scores = HashMap.empty[String, Long]
        seedCnt.foreach { case (p, c) =>
          scores(p) = math.floor(
            math.log(c.toDouble / tot0.toDouble) * 1e4).toLong
        }
        var usage = HashMap.empty[String, Long]
        for (_ <- 1 to rounds) {
          usage = HashMap.empty[String, Long]
          wn.foreach { case (w, n) =>
            // the viterbiSegments fold verbatim: window of the last 3
            // (best, pieces) states; ties prefer the LONGER piece
            var b0 = 0L; var b1 = unigramMissing; var b2 = unigramMissing
            var g0 = List.empty[String]
            var g1 = List.empty[String]; var g2 = List.empty[String]
            var j = 1
            while (j <= w.length) {
              def sc(l: Int): Long =
                if (j >= l) scores.getOrElse(w.substring(j - l, j), unigramMissing)
                else unigramMissing
              val c1 = b0 + sc(1)
              val c2 = b1 + sc(2)
              val c3 = b2 + sc(3)
              val pick3 = j >= 3 && c3 >= c2 && c3 >= c1
              val pick2 = j >= 2 && c2 >= c1
              val (nb, piece, prevG) =
                if (pick3) (c3, w.substring(j - 3, j), g2)
                else if (pick2) (c2, w.substring(j - 2, j), g1)
                else (c1, w.substring(j - 1, j), g0)
              b2 = b1; g2 = g1
              b1 = b0; g1 = g0
              b0 = nb; g0 = piece :: prevG
              j += 1
            }
            g0.foreach(p => usage(p) = usage.getOrElse(p, 0L) + n)
          }
          val totU = usage.valuesIterator.sum
          val next = HashMap.empty[String, Long]
          seedCnt.keysIterator.foreach { p =>
            next(p) = math.floor(
              math.log((usage.getOrElse(p, 0L) + 1L).toDouble /
                (totU + nSeed).toDouble) * 1e4).toLong
          }
          scores = next
        }
        val rows = usage.iterator
          .map { case (p, c) => (p, c, scores(p)) }.toSeq
        return words.sparkSession.createDataFrame(rows)
          .toDF("piece", "cnt", "logp_e4")
      }
    }
    val wordsM = words.localCheckpoint()
    val seed = wordSubstrings(wordsM).filter(col("piece").isNotNull)
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
      .localCheckpoint()
    val tot0 = seed.agg(sum(col("cnt")).as("tot"))
    var scores = seed
      .crossJoin(broadcast(tot0))
      .select(col("piece"),
        floor(log(col("cnt").cast("double") / col("tot").cast("double"))
          * 1e4).cast("long").as("logp_e4"))
      .localCheckpoint()
    var usage: DataFrame = null
    for (_ <- 1 to rounds) {
      val prevUsage = usage
      usage = unigramUsage(wordsM, scores).localCheckpoint()
      if (prevUsage != null) releaseCheckpoint(prevUsage)
      val next = unigramScores(seed, usage).localCheckpoint()
      releaseCheckpoint(scores)
      scores = next
    }
    // the consumer's plan reads only the LAST usage + scores (both
    // materialized) — the word/seed inputs are dead now
    releaseCheckpoint(wordsM)
    releaseCheckpoint(seed)
    usage.join(scores, Seq("piece"))
      .select(col("piece"), col("cnt"), col("logp_e4"))
  }

  /** The FIXED demo piece table of q_text_viterbi_apply (the
    * [[demoMerges]] analog): hand-set integer scores — no ln anywhere
    * in the apply path — with multi-char pieces that only win where the
    * DP actually prefers them, plus the corpus' common chars so most
    * words segment without the missing sentinel. */
  val demoPieces: Seq[(String, Long)] = Seq(
    ("tab", -30000L), ("ble", -32000L), ("ta", -40000L), ("ab", -45000L),
    ("le", -41000L), ("sca", -31000L), ("an", -42000L), ("val", -33000L),
    ("row", -34000L), ("er", -39000L), ("in", -38000L), ("on", -43000L),
    ("re", -44000L), ("at", -46000L), ("en", -47000L)) ++
    "abcdefghijklmnopqrstuvwxyz0123456789".map(c => (c.toString, -60000L))

  /** The FIXED demo merge table of q_text_bpe_apply — multi-level chains
    * ("t a"→…→"table") so merge ORDER is load-bearing, over pairs the
    * synthetic corpus actually contains. */
  val demoMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("v", "a"), ("va", "l"), ("r", "o"))

  /** Learn 10 merges on a bounded corpus slice, emit per-doc unit counts
    * and the serialized tokenization. Fully oracle-checked: the iterative
    * learning loop unrolls into [[bpeOracleSql]]'s chained CTEs. */
  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
    "q_vocab_bpe" -> ((s, dir) => {
      val docs = graft.catalog.Tables.documents(s, dir).filter(col("doc_id") < 100)
      val merges = learnMerges(docs, k = 10)
      tokenize(docs, merges)
        .select(col("doc_id"), size(col("units")).as("n_units"),
          array_join(col("units"), "|").as("units_str"))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM (SentencePiece) vocabulary induction — the OTHER
    // production tokenizer beside BPE (verdict r17 #4): seed = all
    // substrings ≤ 3 of the doc<100 word dictionary scored by
    // occurrence count, then two hard-EM rounds (Viterbi-segment every
    // word under current floor-e4 log-probs, re-estimate from usage
    // with Laplace smoothing over the seed domain so single chars stay
    // segmentable). Emits the top-150 pieces by final usage with their
    // post-round scores. The oracle unrolls both rounds: the DP is a
    // recursive CTE carrying the same sliding (best, segmentation)
    // window the Spark fold carries — forward-only, no backpointers.
    "q_vocab_unigram" -> ((s, dir) => {
      val words = graft.catalog.Tables.documents(s, dir)
        .filter(col("doc_id") < 100)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      unigramFit(words, rounds = 2)
        .orderBy(col("cnt").desc, col("piece"))
        .limit(150)
    }),

    // The APPLY half of the unigram tokenizer: Viterbi-segment the
    // WHOLE corpus under the FIXED demoPieces table (hand-set integer
    // scores — no ln anywhere in this path). The per-word DP runs once
    // per DISTINCT word (vocab-sized), then a join fans the stats back
    // out to doc occurrences — the 100 TB shape: corpus touched twice
    // (word count + stat join), the DP never.
    "q_text_viterbi_apply" -> ((s, dir) => {
      val docs = graft.catalog.Tables.documents(s, dir)
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      val words = docs
        .select(explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n"))
      import s.implicits._
      val scores = demoPieces.toDF("piece", "logp_e4")
      val wstats = viterbiSegments(words, scores)
        .select(col("w"),
          filter(split(col("seg"), "\\|"), p => p =!= "").as("pieces"))
        .select(col("w"), size(col("pieces")).cast("long").as("np"),
          size(filter(col("pieces"), p => length(p) > 1)).cast("long").as("nm"))
      docs.select(col("doc_id"),
          explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
        .join(wstats, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("np")).as("n_pieces"), sum(col("nm")).as("n_multi"))
        .orderBy(col("doc_id"))
    }),

    // The APPLY half of the tokenizer pipeline: q_vocab_bpe trains on a
    // slice; production then encodes the WHOLE corpus under the frozen
    // merge table — embarrassingly parallel (applyMerges is a narrow
    // per-row fold: 10 greedy left-to-right merge passes per word, no
    // shuffle until the per-doc stats agg), which is exactly the shape a
    // 100 TB tokenization pass needs. Fixed demo merges (merge order is
    // load-bearing through the t→ta→tab→tabl→table chain); per-doc
    // token count + merged-unit count. The oracle replays the greedy
    // fold with unit-boundary-safe nested replaces (each unit wrapped
    // |u|, pattern |a||b| — flanking bars cannot be shared between
    // adjacent matches, so leftmost-nonoverlapping replace ≡ the fold).
    "q_text_bpe_apply" -> ((s, dir) => {
      // empty/space-only/NULL texts drop BEFORE tokenizing: the oracle's
      // word unnest emits zero rows for such docs, so they must be absent
      // here too (a doc surviving the trim filter always has ≥ 1 word).
      //
      // Distinct-word shape (optimization round 19 — the
      // q_text_viterbi_apply discipline, guide §1.2 step 1): the merge
      // fold is WORD-FUNCTIONAL and both outputs are ADDITIVE over a
      // doc's words (n_units = Σ_w |units(w)|, n_merged likewise), so
      // the 10-level fold expression runs once per DISTINCT word
      // (vocab-sized) and a join fans the two per-word counts back to
      // occurrences. The old form ran the fold per word OCCURRENCE over
      // the whole corpus — the round-19 noop audit measured it at
      // 35.5 s (86 task-seconds, and count() had pruned it to 0.21 s);
      // per-distinct-word it is corpus-size-free. Values identical
      // (same fold, same filter, same additivity — the oracle is
      // unchanged and stays green).
      val docs = graft.catalog.Tables.documents(s, dir)
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      val occ = docs.select(col("doc_id"),
        explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
      val wstats = occ.groupBy(col("w")).agg(count(lit(1)).as("n_occ"))
        .select(col("w"), applyMerges(col("w"), demoMerges).as("units"))
        .select(col("w"),
          size(col("units")).cast("long").as("nu"),
          size(filter(col("units"), u => length(u) > 1)).cast("long").as("nm"))
      occ.join(wstats, Seq("w"))
        .groupBy(col("doc_id"))
        .agg(sum(col("nu")).as("n_units"), sum(col("nm")).as("n_merged"))
        .orderBy(col("doc_id"))
    }))

  /** The k merge rounds of [[learnMerges]] unrolled into DuckDB SQL — one
    * CTE block per round over the word-frequency state `w{r}(w, n, units)`:
    * position explode with lookahead (f), weighted adjacent-pair counts
    * (pc), argmax with the same (cnt desc, a, b) tie-break and minCount 2
    * (best — empty makes the round a no-op, matching early stop), greedy
    * LEFTMOST overlap resolution as island-detection + even-offset parity
    * (st: a run of consecutive matches keeps positions at even distance
    * from the run head — exactly the left fold's "consume and reset"), and
    * the rebuild (w{r}: merged unit at each start, the consumed position
    * dropped). Tokenization reuses the final state: per-word merge
    * evolution IS applyMerges(word), and every doc word appears in the
    * vocab frame, so a join on w replaces re-deriving units per document.
    * MATERIALIZED pins each round's state: DuckDB otherwise inlines the
    * CTE chain into an exponentially expanded plan (observed as thousands
    * of parquet re-opens at prototype time). Verified cell-identical to
    * the Spark result (100/100 rows, matching column types) at sf0.01. */
  private def bpeOracleSql(k: Int): String = {
    val rounds = (1 to k).map { r =>
      val p = r - 1
      s"""
  e$r AS (SELECT w, n, unnest(list_transform(units, (x, j) -> {'u': x, 'j': j})) AS s, units FROM w$p),
  f$r AS MATERIALIZED (SELECT w, n, s['u'] AS u, s['j'] AS j, units[s['j'] + 1] AS nxt FROM e$r),
  pc$r AS (SELECT u AS a, nxt AS b, sum(n) AS cnt FROM f$r WHERE nxt IS NOT NULL GROUP BY u, nxt),
  best$r AS (SELECT a, b FROM pc$r WHERE cnt >= 2 ORDER BY cnt DESC, a, b LIMIT 1),
  mt$r AS (SELECT f.w, f.j FROM f$r f, best$r b WHERE f.u = b.a AND f.nxt = b.b),
  st$r AS MATERIALIZED (SELECT w, j FROM (
      SELECT w, j, (j - min(j) OVER (PARTITION BY w, g)) % 2 AS par
      FROM (SELECT w, j, j - row_number() OVER (PARTITION BY w ORDER BY j) AS g FROM mt$r)
    ) WHERE par = 0),
  w$r AS MATERIALIZED (
    SELECT f.w AS w, f.n AS n,
           list(CASE WHEN st.j IS NOT NULL THEN f.u || f.nxt ELSE f.u END ORDER BY f.j) AS units
    FROM f$r f
    LEFT JOIN st$r st ON st.w = f.w AND st.j = f.j
    WHERE NOT EXISTS (SELECT 1 FROM st$r s2 WHERE s2.w = f.w AND s2.j = f.j - 1)
    GROUP BY f.w, f.n
  )"""
    }.mkString(",")
    s"""WITH
  words AS MATERIALIZED (
    SELECT w, count(*) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id < 100)
    WHERE w <> '' GROUP BY w),
  w0 AS (SELECT w, n, list_transform(range(1, len(w) + 1), j -> w[j]) AS units FROM words),$rounds,
  dw AS (
    SELECT doc_id, unnest(list_transform(
      list_filter(string_split(text, ' '), x -> x <> ''), (x, k) -> {'w': x, 'k': k})) AS s
    FROM documents WHERE doc_id < 100),
  tk AS (SELECT d.doc_id, d.s['k'] AS k, v.units AS units
         FROM dw d JOIN w$k v ON v.w = d.s['w']),
  fl AS (SELECT doc_id, flatten(list(units ORDER BY k)) AS flat FROM tk GROUP BY doc_id)
SELECT doc_id, CAST(len(flat) AS INT) AS n_units, array_to_string(flat, '|') AS units_str
FROM fl ORDER BY doc_id"""
  }

  /** The Viterbi DP as DuckDB CTEs, parameterized on a round tag, the
    * substring CTE (`sub`: w, n, j, l, piece) and the score CTE
    * (piece, logp_e4): `pc$tag` pivots the candidate scores to one row
    * per (w, j) — missing pieces take the additive sentinel — and
    * `st$tag` is the recursive forward DP carrying the exact sliding
    * (best, segmentation) window [[viterbiSegments]]'s fold carries,
    * with the same j-guards and the same longest-piece tie-break.
    * `seg$tag` is the final (w, n, seg) frame. */
  private def viterbiCtes(tag: String, subCte: String, scoreCte: String): String = s"""
  pc$tag AS MATERIALIZED (
    SELECT s.w, s.n, s.j,
           max(CASE WHEN s.l = 1 THEN COALESCE(sc.logp_e4, $unigramMissing) END) AS s1,
           max(CASE WHEN s.l = 2 THEN COALESCE(sc.logp_e4, $unigramMissing) END) AS s2,
           max(CASE WHEN s.l = 3 THEN COALESCE(sc.logp_e4, $unigramMissing) END) AS s3
    FROM $subCte s LEFT JOIN $scoreCte sc ON sc.piece = s.piece
    GROUP BY s.w, s.n, s.j),
  st$tag AS (
    SELECT w, n, len(w) AS len, 0 AS j,
           CAST(0 AS BIGINT) AS b0, CAST('' AS VARCHAR) AS g0,
           CAST($unigramMissing AS BIGINT) AS b1, CAST('' AS VARCHAR) AS g1,
           CAST($unigramMissing AS BIGINT) AS b2, CAST('' AS VARCHAR) AS g2
    FROM (SELECT DISTINCT w, n FROM $subCte)
    UNION ALL
    SELECT s.w, s.n, s.len, s.j + 1,
           CASE WHEN s.j + 1 >= 3 AND s.b2 + p.s3 >= s.b1 + p.s2 AND s.b2 + p.s3 >= s.b0 + p.s1 THEN s.b2 + p.s3
                WHEN s.j + 1 >= 2 AND s.b1 + p.s2 >= s.b0 + p.s1 THEN s.b1 + p.s2
                ELSE s.b0 + p.s1 END,
           (CASE WHEN s.j + 1 >= 3 AND s.b2 + p.s3 >= s.b1 + p.s2 AND s.b2 + p.s3 >= s.b0 + p.s1 THEN s.g2
                 WHEN s.j + 1 >= 2 AND s.b1 + p.s2 >= s.b0 + p.s1 THEN s.g1
                 ELSE s.g0 END) || '|' ||
           (CASE WHEN s.j + 1 >= 3 AND s.b2 + p.s3 >= s.b1 + p.s2 AND s.b2 + p.s3 >= s.b0 + p.s1 THEN substr(s.w, s.j - 1, 3)
                 WHEN s.j + 1 >= 2 AND s.b1 + p.s2 >= s.b0 + p.s1 THEN substr(s.w, s.j, 2)
                 ELSE substr(s.w, s.j + 1, 1) END),
           s.b0, s.g0, s.b1, s.g1
    FROM st$tag s JOIN pc$tag p ON p.w = s.w AND p.j = s.j + 1
    WHERE s.j < s.len),
  seg$tag AS MATERIALIZED (SELECT w, n, g0 AS seg FROM st$tag WHERE j = len),
  use$tag AS (
    SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
    FROM (SELECT n, unnest(list_filter(string_split(seg, '|'), x -> x <> '')) AS piece
          FROM seg$tag)
    GROUP BY piece)"""

  /** q_vocab_unigram's oracle: seed counts + floor-e4 ln scores, then
    * both hard-EM rounds unrolled with [[viterbiCtes]], Laplace
    * re-estimation between them — the exact [[unigramFit]] recurrence. */
  private def unigramOracleSql: String = s"""WITH RECURSIVE
  words AS MATERIALIZED (
    SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE doc_id < 100)
    WHERE w <> '' GROUP BY w),
  sub AS MATERIALIZED (
    SELECT w, n, j, l,
           CASE WHEN j >= l THEN substr(w, j - l + 1, l) END AS piece
    FROM (SELECT w, n, unnest(range(1, len(w) + 1)) AS j FROM words),
         (VALUES (1), (2), (3)) AS ls(l)),
  seedcnt AS MATERIALIZED (
    SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
    FROM sub WHERE piece IS NOT NULL GROUP BY piece),
  ns AS (SELECT CAST(count(*) AS BIGINT) AS nseed FROM seedcnt),
  sc0 AS MATERIALIZED (
    SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE) /
      CAST((SELECT sum(cnt) FROM seedcnt) AS DOUBLE)) * 1e4) AS BIGINT) AS logp_e4
    FROM seedcnt),
  ${viterbiCtes("1", "sub", "sc0")},
  sc1 AS MATERIALIZED (
    SELECT s.piece, CAST(floor(ln(CAST(COALESCE(u.cnt, 0) + 1 AS DOUBLE) /
      CAST((SELECT COALESCE(sum(cnt), 0) FROM use1) + ns.nseed AS DOUBLE)) * 1e4) AS BIGINT) AS logp_e4
    FROM seedcnt s LEFT JOIN use1 u ON u.piece = s.piece, ns),
  ${viterbiCtes("2", "sub", "sc1")},
  sc2 AS (
    SELECT s.piece, CAST(floor(ln(CAST(COALESCE(u.cnt, 0) + 1 AS DOUBLE) /
      CAST((SELECT COALESCE(sum(cnt), 0) FROM use2) + ns.nseed AS DOUBLE)) * 1e4) AS BIGINT) AS logp_e4
    FROM seedcnt s LEFT JOIN use2 u ON u.piece = s.piece, ns)
  SELECT u.piece, u.cnt, sc.logp_e4
  FROM use2 u JOIN sc2 sc ON sc.piece = u.piece
  ORDER BY u.cnt DESC, u.piece LIMIT 150"""

  /** q_text_viterbi_apply's oracle: the fixed piece table as VALUES,
    * one [[viterbiCtes]] pass over the whole-corpus word dictionary,
    * per-doc sums via the word-occurrence join. */
  private def viterbiApplySql: String = {
    val values = demoPieces
      .map { case (p, s) => s"('$p', CAST($s AS BIGINT))" }.mkString(", ")
    s"""WITH RECURSIVE
  words AS MATERIALIZED (
    SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0)
    GROUP BY w),
  sub AS MATERIALIZED (
    SELECT w, n, j, l,
           CASE WHEN j >= l THEN substr(w, j - l + 1, l) END AS piece
    FROM (SELECT w, n, unnest(range(1, len(w) + 1)) AS j FROM words),
         (VALUES (1), (2), (3)) AS ls(l)),
  demo AS (SELECT * FROM (VALUES $values) AS t(piece, logp_e4)),
  ${viterbiCtes("A", "sub", "demo")},
  wstats AS MATERIALIZED (
    SELECT w,
      CAST(len(list_filter(string_split(seg, '|'), x -> x <> '')) AS BIGINT) AS np,
      CAST(len(list_filter(string_split(seg, '|'), x -> len(x) > 1)) AS BIGINT) AS nm
    FROM segA),
  dw AS (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
    FROM documents WHERE text IS NOT NULL AND len(trim(text)) > 0)
  SELECT d.doc_id, CAST(sum(ws.np) AS BIGINT) AS n_pieces,
         CAST(sum(ws.nm) AS BIGINT) AS n_multi
  FROM dw d JOIN wstats ws ON ws.w = d.w
  GROUP BY d.doc_id ORDER BY d.doc_id"""
  }

  val oracle: Map[String, String] = Map(
    "q_vocab_bpe" -> bpeOracleSql(10),
    "q_vocab_unigram" -> unigramOracleSql,
    "q_text_viterbi_apply" -> viterbiApplySql,

    "q_text_bpe_apply" -> {
      val chain = demoMerges.foldLeft("s") { case (acc, (a, b)) =>
        s"replace($acc, '|$a||$b|', '|$a$b|')"
      }
      s"""WITH w AS (SELECT doc_id,
            unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS wd
          FROM documents),
        u AS (SELECT doc_id,
            array_to_string(list_transform(range(1, len(wd) + 1),
              j -> '|' || wd[j] || '|'), '') AS s
          FROM w),
        m AS (SELECT doc_id, $chain AS s FROM u),
        per AS (SELECT doc_id,
            CAST((len(string_split(s, '|')) - 1) // 2 AS BIGINT) AS nu,
            CAST(len(list_filter(string_split(s, '|'), x -> len(x) > 1)) AS BIGINT) AS nm
          FROM m)
        SELECT doc_id, CAST(sum(nu) AS BIGINT) AS n_units,
               CAST(sum(nm) AS BIGINT) AS n_merged
        FROM per GROUP BY doc_id ORDER BY doc_id"""
    })
}
