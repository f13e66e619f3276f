package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** End-to-end training-data curation — the composition the individual
  * operators exist for (north star: dedup + quality + similarity +
  * multimodal + reproducible splits at 100 TB):
  *
  *   quality gate → MinHash-LSH near-dedup (transitive clusters via
  *   connected components; keep lowest doc_id per cluster) → multimodal
  *   feature join → reproducible md5-bucket split.
  *
  * Every stage is a DataFrame transform; shuffles happen only at the LSH
  * bucket join, the component closure (edge-list-sized — driver union-find
  * when the verified pair list is broadcast-scale, distributed
  * pointer-jumping loop otherwise), the dedup anti-join, and the embedding
  * join. No per-row driver work.
  */
object TrainingData {

  import graft.queries.Text

  case class Config(
    minQuality: Double = 0.3, // uniq_ratio · (1 − stop_ratio) gate
    minTokens: Int = 3, // degenerate docs score 0, never 1.0
    dedupJaccard: Double = 0.8, // near-dup threshold (token-set Jaccard)
    trainBucket: Int = Text.trainBucket, // ~80% of 65536
    valBucket: Int = Text.valBucket) // next ~10%; rest = test

  /** Per-doc quality score — Text.guardedQualityExpr (the q_text_quality
    * algebra + degenerate-document guard, ONE definition shared with
    * q_sample_budget): empty or <minTokens docs would otherwise score a
    * perfect 1.0 (uniq 1/1, stop 0/1), waving exactly the lowest-value
    * inputs through the gate. They score 0. */
  def withQuality(docs: DataFrame, minTokens: Int = 3): DataFrame =
    docs.withColumn("quality", Text.guardedQualityExpr(col("text"), minTokens))

  /** Near-dup removal with TRANSITIVE cluster semantics: verified pairs
    * close into connected components (graft.operators.Components) and only
    * each cluster's smallest doc_id survives. Pair-local dropping (remove
    * every d2) looks similar but keeps multiple docs from one cluster
    * whenever two members never paired directly (a–b and b–c near-dup
    * with a–c below threshold keeps BOTH a and c); components give the
    * standard keep-one-canonical-per-group semantics. LSH banding bounds
    * the candidate set — no all-pairs — the pipeline inherits
    * minhashNearDups' default hot-bucket cap, and the component step runs
    * on the EDGE list only (driver union-find under 1M edges, distributed
    * pointer-jumping loop above). */
  def dropNearDups(docs: DataFrame, threshold: Double): DataFrame = {
    val pairs = Dedup.minhashNearDups(docs, threshold)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val losers = graft.operators.Components.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Reproducible split assignment — Text.hashBucketExpr (the
    * q_sample_hash algebra, one definition). */
  def withSplit(docs: DataFrame, cfg: Config): DataFrame =
    docs.withColumn("bucket", Text.hashBucketExpr(col("doc_id")))
      .withColumn("split",
        when(col("bucket") < cfg.trainBucket, "train")
          .when(col("bucket") < cfg.valBucket, "val")
          .otherwise("test"))

  /** Full curation: gate → dedup → [decontaminate] → feature join → split.
    * `benchmark` (when given) drops training docs sharing ≥ minSharedShingles
    * 3-gram shingles with any benchmark doc — eval-set hygiene as a
    * pipeline stage (Dedup.decontaminate). */
  def curate(docs: DataFrame, embeddings: DataFrame,
      cfg: Config = Config(),
      benchmark: Option[DataFrame] = None,
      minSharedShingles: Int = 5): DataFrame = {
    // The gated frame is consumed by TWO downstream subtrees — the LSH
    // dedup chain (tokenize → signatures → bucket join) and the final
    // anti-join/feature-join plan — so without a materialization the
    // quality-gate scan+score runs once per consumer action
    // (optimization round 19, verdict r18 #5). One in-query
    // localCheckpoint evaluates the gate exactly once; everything
    // downstream reads the gated survivors. At scale this is the
    // guide-§5 cache-when-reused rule: the gate is the pipeline's
    // selectivity cliff (most of the corpus dies here), so the
    // materialized frame is the small side of the pipeline.
    val gated = withQuality(docs, cfg.minTokens)
      .filter(col("quality") >= cfg.minQuality).localCheckpoint()
    val deduped = dropNearDups(gated, cfg.dedupJaccard)
    val cleaned = benchmark match {
      case Some(b) => Dedup.decontaminate(deduped, b, minSharedShingles)
      case None => deduped
    }
    val joined = cleaned.join(
      embeddings.select(col("vec_id").as("doc_id"), col("embedding"), col("label")),
      Seq("doc_id"), "left")
    withSplit(joined, cfg)
      .select("doc_id", "lang", "text", "quality", "embedding", "label",
        "bucket", "split")
  }

  /** The composed pipeline as an oracle-checked query: every stage's algebra
    * already has a proven DuckDB mirror (q_text_quality's score,
    * q_dedup_minhash's LSH pair chain, q_dedup_clusters' transitive
    * closure, q_sample_hash's md5 bucket) — the oracle below is those
    * mirrors composed in the same order, which checks the STAGE WIRING
    * (gate before dedup, transitive — not pair-local — dropping, split
    * assigned after the feature join), not just each stage alone. */
  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      DataFrame] = Map(
    "q_pipeline_curate" -> ((s, dir) => {
      // doc_id < 1000 bounds BOTH sides of this checked pair — it has to,
      // or the hashes couldn't match: sf0.001/sf0.01 have exactly 500 docs
      // (no-op), while sf0.1's 5000 small-vocab docs form a 2.26M-pair
      // near-clique at Jaccard 0.8 whose transitive closure no DuckDB
      // recursion finishes (>30 min even min-label pruned). The bound
      // exists for ORACLE tractability only; the unbounded-corpus path is
      // covered by the curate() operator itself (corpus-general,
      // pointer-jumping components, ~2 s on the full sf0.1 corpus; its
      // output is pinned by TrainingDataSpec "curate: full pipeline output
      // shape and invariants", the component loop's growth by the
      // ScaleProbe `components` entry — not by this checked query).
      val docs = graft.catalog.Tables.documents(s, dir)
        .filter(col("doc_id") < 1000)
      val embs = graft.catalog.Tables.embeddings(s, dir)
      // The raw embedding array stays internal: result rows carry an
      // integer digest (Σ floor(x·1e4), order-independent, float→double
      // exact) so the result is scalar-sortable downstream while the
      // feature join is still fully witnessed.
      curate(docs, embs)
        .withColumn("emb_digest", expr(
          "aggregate(embedding, 0L, (s, x) -> s + CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT))"))
        .drop("embedding")
        .orderBy(col("doc_id"))
    }))

  private def qualitySql(col: String): String = Text.guardedQualitySql(col)

  val oracle: Map[String, String] = Map(
    "q_pipeline_curate" ->
      s"""WITH RECURSIVE
          gated AS (
            SELECT doc_id, lang, text, quality FROM (
              SELECT doc_id, lang, text, ${qualitySql("text")} AS quality
              FROM documents WHERE doc_id < 1000)
            WHERE quality >= 0.3),
          ${graft.operators.Dedup.lshPairsCtes(
              graft.operators.Dedup.toksSql, threshold = 0.8,
              docsSql = "SELECT doc_id, text FROM gated")},
          edges AS (SELECT d1 AS a, d2 AS b FROM lsh_pairs
                    UNION SELECT d2 AS a, d1 AS b FROM lsh_pairs),
          reach(id, r) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM edges)
            UNION
            SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
          comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
          kept AS (
            SELECT g.* FROM gated g
            LEFT JOIN comp c ON c.id = g.doc_id
            WHERE c.cluster_id IS NULL OR c.cluster_id = g.doc_id)
          SELECT k.doc_id, k.lang, k.text, k.quality,
                 CAST(list_sum(list_transform(e.embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)))
                      AS BIGINT) AS emb_digest,
                 e.label,
                 bucket,
                 CASE WHEN bucket < ${Text.trainBucket} THEN 'train'
                      WHEN bucket < ${Text.valBucket} THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT kept.*,
                       CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) AS bucket
                FROM kept) k
          LEFT JOIN embeddings e ON e.vec_id = k.doc_id
          ORDER BY k.doc_id""")
}
