package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.util.SmallInput.distributed

/** BPE vocabulary induction: deterministic merges, greedy-left application,
  * compression monotonicity, early stop. */
class VocabSpec extends SparkSpec {

  test("learnMerges: most frequent pair first, deterministic ties, early stop") {
    import spark.implicits._
    // "ab" dominates: appears in every word; then "abc" from (ab, c)
    val docs = Seq(
      (1L, "abc abc abd"),
      (2L, "abc abd ab"),
      (3L, "abc abc")).toDF("doc_id", "text")
    val merges = Vocab.learnMerges(docs, k = 10, minCount = 2)
    assert(merges.nonEmpty)
    assert(merges.head === ("a", "b")) // df("ab")=8 beats every other pair
    assert(merges.contains(("ab", "c"))) // df("abc")=5 next
    // early stop: merge count is bounded by pairs meeting minCount, not k
    assert(merges.size < 10)
    // determinism
    assert(Vocab.learnMerges(docs, k = 10, minCount = 2) === merges)
  }

  test("mergeOnce: greedy leftmost under overlaps") {
    import spark.implicits._
    val got = Seq("aaa").toDF("w")
      .select(Vocab.mergeOnce(Vocab.charUnits(col("w")), "a", "a").as("u"))
      .collect().head.getSeq[String](0)
    assert(got === Seq("aa", "a"))
  }

  test("tokenize: learned vocab compresses units, round-trip concat preserves text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark table table"),
      (2L, "spark table scan scan"),
      (3L, "spark scan table spark")).toDF("doc_id", "text")
    val merges = Vocab.learnMerges(docs, k = 8, minCount = 2)
    val tok = Vocab.tokenize(docs, merges)
    val charCounts = docs.select(col("doc_id"),
      size(flatten(transform(
        filter(split(col("text"), " "), w => w =!= ""),
        w => Vocab.charUnits(w)))).as("nc"))
    val joined = tok.select(col("doc_id"), size(col("units")).as("nu"),
        concat_ws("", col("units")).as("flat"))
      .join(charCounts, "doc_id")
      .join(docs, "doc_id")
      .collect()
    joined.foreach { r =>
      // merges never add units; frequent words compress strictly
      assert(r.getAs[Int]("nu") <= r.getAs[Int]("nc"))
      // lossless: concatenated units == original text without spaces
      assert(r.getAs[String]("flat") === r.getAs[String]("text").replace(" ", ""))
    }
    // "spark" (df 5) must have become a single unit within 8 merges
    val sparkUnits = Seq((9L, "spark")).toDF("doc_id", "text")
    val one = Vocab.tokenize(sparkUnits, merges).collect().head.getSeq[String](1)
    assert(one === Seq("spark"))
  }

  test("viterbiSegments: hand-checked DP — score max, longest-piece ties, unknown-char runs") {
    import spark.implicits._
    def seg(w: String, scores: Seq[(String, Long)]): Seq[String] = {
      val out = Vocab.viterbiSegments(
          Seq((w, 1L)).toDF("w", "n"), scores.toDF("piece", "logp_e4"))
        .collect().head.getString(2)
      out.split("\\|").filter(_.nonEmpty).toSeq
    }
    val chars = "table".map(c => (c.toString, -60L))
    // ta|ble = -70 beats tab|le = -80 and chars = -300
    val sc = Seq(("ta", -40L), ("ble", -30L), ("tab", -35L), ("le", -45L)) ++ chars
    assert(seg("table", sc) === Seq("ta", "ble"))
    // EXACT tie at the last step: ble+best[2] = -40-40 = le+best[3] =
    // -45-35 → the longer piece (ble) wins → ta|ble
    val scTie = Seq(("ta", -40L), ("ble", -40L), ("tab", -35L), ("le", -45L)) ++ chars
    assert(seg("table", scTie) === Seq("ta", "ble"))
    // one past the tie: ble -41 → the L=2 path wins → tab|le
    val scOff = Seq(("ta", -40L), ("ble", -41L), ("tab", -35L), ("le", -45L)) ++ chars
    assert(seg("table", scOff) === Seq("tab", "le"))
    // unknown chars: no piece covers 'z' — every candidate is the
    // sentinel, ties cascade to the longest piece per step → z|zzz
    assert(seg("zzzz", Seq(("q", -1L))) === Seq("z", "zzz"))
    // single char word
    assert(seg("t", sc) === Seq("t"))
  }

  test("unigramFit: whole-word pieces dominate; usage is word-frequency-weighted; deterministic") {
    import spark.implicits._
    // each word's best segmentation is its own ≤3-char piece (a whole-
    // word piece always beats any split: ln(c/T) > ln(a/T)+ln(b/T) at
    // these counts), so the final usage IS the word-frequency table
    val words = Seq(("abe", 5L), ("abd", 3L), ("ab", 2L)).toDF("w", "n")
    val fit = Vocab.unigramFit(words, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fit === Map("abe" -> 5L, "abd" -> 3L, "ab" -> 2L), s"got $fit")
    // determinism
    val fit2 = Vocab.unigramFit(words, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fit2 === fit)
  }

  test("learnMerges: driver arm ≡ frame loop on real sf0.001 docs (driverCap = 0)") {
    import org.apache.spark.sql.functions.col
    val docs = graft.catalog.Tables.documents(spark, sf())
      .filter(col("doc_id") < 100)
    assert(Vocab.learnMerges(docs, k = 10) ===
      distributed(Vocab.learnMerges(docs, k = 10)))
  }

  test("unigramFit: driver arm ≡ frame loop on real sf0.001 docs (driverCap = 0)") {
    import org.apache.spark.sql.functions._
    val words = graft.catalog.Tables.documents(spark, sf())
      .filter(col("doc_id") < 100)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val arm = Vocab.unigramFit(words, rounds = 2)
    val dist = distributed(Vocab.unigramFit(words, rounds = 2))
    assert(arm.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)))
    assert(rows(arm) === rows(dist))
  }
}
