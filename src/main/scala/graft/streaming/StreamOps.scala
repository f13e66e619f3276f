package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.streaming.GroupStateTimeout
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming operator library (SURVEY.md §2B "Streaming" — the
  * streaming-only semantics with no batch oracle: watermarks, late-data
  * drops, append-mode emission, custom keyed state).
  *
  * Reference analogs: the WS tail subscription
  * (`/root/reference/src/blockchain/evm_adapter.rs:68-84`) is the unbounded
  * source; consumer ack ⇔ checkpointed offsets
  * (`/root/reference/src/streams/consumers/evm_consumer.rs:130-133`);
  * at-least-once Earliest replay (`pulsar.rs:31-32`) ⇔ idempotent
  * dedup-by-key with a watermark bounding the dedup state.
  *
  * Scale notes: every stateful op is keyed (window×type, event_id, user),
  * so state partitions across executors; watermarks bound state size —
  * without them streaming dedup/window state grows forever at 100 TB/day.
  *
  * Store layout of every arrival store (the `*OnArrival` sinks, their
  * `*Batch` bodies and [[toParquetExactlyOnce]]): a parquet directory
  * partitioned by `batch_id`, one partition per micro-batch. A batch
  * writes only its own partition and overwrites it whole, so a replay of
  * the same (batchId, data) after a crash rewrites that partition in
  * place instead of appending duplicates, and every other partition is
  * immutable. Streaming batch ids are non-negative; two negative ids are
  * reserved: [[RecoveryBatchId]] (the ANN heal's older-node edges) and
  * [[CompactBatchId]] (a compacted store). A compaction never rewrites a
  * store in place: it folds the source into the one [[CompactBatchId]]
  * partition of a FRESH store, leaving the source untouched (idempotent,
  * a crash costs only the partial output), and the caller swaps
  * directories afterwards. Ingest resumes on the swapped store: later
  * batches land beside the compacted partition.
  */
object StreamOps {

  /** Typed event record for streaming ops (mirrors the events table). */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

  /** Per-user session summary emitted by the custom-state operator. */
  case class UserCount(user_id: Long, n: Long, last_epoch_s: Long)

  /** 1h tumbling counts with a 10m watermark; append mode emits a window
    * only once it is below the watermark (late rows beyond it are dropped). */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))

  /** Exactly-once projection of an at-least-once feed: dedup by event_id.
    * dropDuplicatesWithinWatermark — NOT plain dropDuplicates("event_id"):
    * with the event-time column absent from the key subset, plain dedup
    * never evicts its state and grows one entry per distinct id forever;
    * the WithinWatermark variant expires keys once they age past the
    * watermark, making the watermark the actual replay horizon. */
  def streamingDedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** 30m-gap session windows per user (append mode — sessions emit when
    * closed by the watermark). */
  def sessionize(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("ws"), col("w.end").as("we"), col("n"))

  /** Custom keyed state via mapGroupsWithState: running event count per
    * user with processing-time timeout — the shape for state Spark's
    * built-in windows can't express. */
  def runningUserCounts(events: Dataset[Event]): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event], state: GroupState[UserCount]) =>
          val prev = state.getOption.getOrElse(UserCount(user, 0L, 0L))
          val batch = rows.toSeq
          val next = UserCount(
            user,
            prev.n + batch.size,
            math.max(prev.last_epoch_s, batch.map(_.ts.toInstant.getEpochSecond).max))
          state.update(next)
          next
      }
  }

  /** Per-user rate gate on Spark 4's transformWithState — the arbitrary-
    * state API that SUPERSEDES mapGroupsWithState: typed per-key
    * `ValueState` handles, DECLARATIVE TTL (the unbounded-keyspace
    * hygiene [[runningUserCounts]] would need manual timeout plumbing
    * for; TTL requires TimeMode.ProcessingTime, whose wall-clock trigger
    * treadmill is wrong for a data-driven test — production would run it
    * with a real trigger interval), schema evolution, and timers.
    * Emits one (user, running n, flagged) row per key per batch; `flagged`
    * trips when the running count exceeds `limit` — the abuse/velocity
    * gate in front of an ingestion pipeline. Requires the RocksDB state
    * store provider (TTL state is a RocksDB-backend feature), which is
    * how a 1000-executor cluster holds billions of keys anyway —
    * StreamOpsSpec sets it for the MemoryStream drive. */
  class RateProcessor(limit: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserCount] {
    import org.apache.spark.sql.streaming.{TTLConfig, ValueState}
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[Event],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserCount] = {
      val n = (if (cnt.exists()) cnt.get() else 0L) + rows.size
      cnt.update(n)
      // reuse UserCount: last_epoch_s carries the flag (1 = over limit)
      Iterator(UserCount(user, n, if (n > limit) 1L else 0L))
    }
  }

  def rateGate(events: Dataset[Event], limit: Long): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RateProcessor(limit),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * signups within [p.ts − window, p.ts]. Both sides carry watermarks so
    * the join state is bounded — the range condition inside the join is
    * what lets Spark expire buffered rows. */
  def purchaseSignupJoin(events: DataFrame, window: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val sg = events.filter(col("event_type") === "signup")
      .withWatermark("ts", watermark)
      .select(col("user_id").as("s_user"), col("ts").as("s_ts"))
    p.join(sg,
      col("user_id") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr(s"INTERVAL $window"))
      .select(col("purchase_id"), col("user_id"), col("p_ts"), col("s_ts"))
  }

  /** Stream-static enrichment: every micro-batch left-joins the static
    * dimension, broadcast per batch — NO streaming state (unlike
    * stream-stream joins there is nothing to watermark), and the dimension
    * is re-resolved each batch so slowly-changing dims pick up new data on
    * file sources. The standard shape for attaching user/chain metadata to
    * an event feed. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** Streaming as-of enrichment — the streaming analog of the block-tip
    * probe (A5): each micro-batch runs the custom merge as-of operator
    * (AsOfJoinExec) against a static build side inside foreachBatch, where
    * the batch is a plain DataFrame. Enrichment is EVENT-time — each event
    * joins the build row with the greatest build-ts ≤ its OWN ts for its
    * key — so out-of-order and late events still pick the dimension row
    * that was current when they happened, not when they arrived; the
    * per-batch broadcast `enrich` attaches only the dimension's current
    * state. Build side static (re-resolved per batch on file sources), no
    * streaming state, batches append to parquet under the checkpoint's
    * at-least-once contract (use toParquetExactlyOnce's partition pattern
    * when replays must be idempotent). */
  def enrichAsOf(stream: DataFrame, builds: DataFrame,
      probeKey: String, buildKey: String,
      probeTs: String, buildTs: String,
      outDir: String, checkpointDir: String) =
    onArrival(stream, checkpointDir) { (batch, _) =>
      graft.plans.AsOf.join(batch, builds, probeKey, buildKey, probeTs, buildTs)
        .write.mode("append").parquet(outDir)
    }

  /** Streaming dedup-on-arrival: each micro-batch of documents is
    * near-dup-checked against the PERSISTED corpus bucket index
    * (Dedup.incrementalNearDups — batch-sized work per batch, never
    * corpus×corpus), internally deduped (transitive clusters within the
    * batch), and only clean docs append to the corpus — with their bucket
    * keys appended to the index, so the next batch checks against them
    * too. First batch bootstraps both stores. Replays are IDEMPOTENT by
    * construction, not by collision: a crash between the two writes —
    * or after either and before the offset commit — is healed when the
    * replayed batch overwrites its own partitions. (A plain append would
    * duplicate corpus rows on exactly that crash: the replayed docs'
    * buckets would be missing from the index, so they would NOT collide
    * with themselves.) */
  def dedupOnArrival(docs: DataFrame, corpusDir: String, indexDir: String,
      checkpointDir: String, threshold: Double = 0.8) =
    onArrival(docs, checkpointDir)(dedupBatch(_, _, corpusDir, indexDir, threshold))

  /** The dedup-on-arrival foreachBatch body, public so the replay contract
    * is directly testable (StreamOpsSpec drives it with a deliberately
    * half-written store to simulate a mid-batch crash) and reusable from a
    * batch backfill. MUST stay idempotent under re-execution with the same
    * (batchId, data) against ANY intermediate store state the two
    * partition-overwrite writes can leave behind — that is the exactly-once
    * guarantee under at-least-once foreachBatch replays. */
  def dedupBatch(batch: DataFrame, batchId: Long, corpusDir: String,
      indexDir: String, threshold: Double): Unit = {
    import graft.operators.{Components, Dedup}
    val spark = batch.sparkSession
    // in-batch transitive dedup first (a batch can near-dup itself)
    val pairs = Dedup.minhashNearDups(batch, threshold)
      .select(col("d1").as("src"), col("d2").as("dst"))
    val losers = Components.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    val selfClean = batch.join(losers, Seq("doc_id"), "left_anti")
      .localCheckpoint() // read twice below (corpus check + writes)
    // Bootstrap probe: [[tryReadParquet]] (shared with the ANN ingest
    // sink). Rethrowing on anything but the two bootstrap conditions
    // matters doubly here: swallowing would silently skip cross-batch
    // dedup for this micro-batch and permanently admit near-dups.
    val clean = (tryReadParquet(spark, corpusDir),
        tryReadParquet(spark, indexDir)) match {
      case (Some(corpus), Some(index)) =>
        // a replayed batch's own prior partitions are part of the
        // index here; its docs collide with themselves and drop —
        // then the partition overwrite below replaces them in place.
        // In the OTHER crash window (corpus written, index not), the
        // replayed docs' buckets are absent from the index, so they do
        // NOT self-collide: the full batch re-keeps, and both
        // overwrites heal the half-written state in place.
        val dupIds = Dedup
          .incrementalNearDups(
            corpus.select(selfClean.columns.map(col): _*), // drop batch_id
            index.select("doc_id", "band", "bh"),
            selfClean, threshold)
          .select(col("d2").as("doc_id")).distinct()
        selfClean.join(dupIds, Seq("doc_id"), "left_anti")
      case _ => selfClean
    }
    val kept = clean.localCheckpoint()
    try {
      writeBatch(kept, batchId, corpusDir)
      writeBatch(Dedup.lshBuckets(Dedup.minhashSignatures(kept)), batchId, indexDir)
    } finally {
      // clean's plan holds selfClean and the fresh-batch buckets
      // incrementalNearDups pinned, losers' the components labels, and
      // pairs' minhashNearDups' buckets beside the caller's batch
      Seq(kept, clean, losers).foreach(graft.util.Frames.releaseCheckpoint)
      graft.util.Frames.releaseCheckpointBeyond(pairs, batch)
    }
  }

  /** Reserved batch_id partition values of the ANN stores. Streaming
    * batch ids are non-negative, so neither collides with a real batch.
    *   - [[RecoveryBatchId]]: a heal rebuild's OLDER-node edges land
    *     here instead of under the healing batch's own partition — a
    *     later replay of that batch (crash before the streaming
    *     checkpoint committed) takes the link-by-search path and
    *     dynamic-overwrites only its own partition, so the recovery
    *     partition survives; writing heal output under the batch id
    *     would let that replay permanently drop every older node's
    *     out-edges.
    *   - [[CompactBatchId]]: a compaction's folded store. Rows under it
    *     are ALREADY symmetrized, so the read path flips every
    *     partition except this one. */
  val RecoveryBatchId = -1L
  val CompactBatchId = -2L

  /** Run `body` on every micro-batch of `stream`, with its batch id, as a
    * checkpointed append-mode query: the one streaming sink of every
    * arrival store (and of BlockIngest.streamBronze). */
  private[graft] def onArrival(stream: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch(body)
      .start()

  /** Write `df` as batch `batchId` of the store at `dir`: the batch's own
    * `batch_id` partition is overwritten and every other one kept. The
    * dynamic mode is scoped to this writer — a session-level conf flip
    * would leak into every later partitioned overwrite, silently
    * breaking full-table compaction rewrites. */
  private def writeBatch(df: DataFrame, batchId: Long, dir: String): Unit =
    writeBatch(df, lit(batchId), dir)

  /** [[writeBatch]] with a per-row batch id. */
  private def writeBatch(df: DataFrame, batchId: Column, dir: String): Unit =
    df.withColumn("batch_id", batchId)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** The one partition a compaction of a store fills under `outDir`. */
  private def compactDir(outDir: String): String =
    s"$outDir/batch_id=$CompactBatchId"

  /** Row cap above which componentsBatch's relabel frames (candidate
    * nodes, merge map) shuffle-join instead of broadcasting — ~32 MB of
    * long keys, comfortably inside executor memory, far below Spark's
    * broadcast hard limit the unconditional broadcast used to hit on a
    * merge into a giant component. */
  val RelabelBroadcastRows: Long = 4L << 20

  /** Streaming ANN index maintenance — the arrival path of the graph-ANN
    * tier (the vector analog of [[dedupOnArrival]]): each micro-batch of
    * new vectors is LINKED INTO the existing proximity graph by searching
    * it (the standard incremental-insert of graph-ANN systems: a new
    * node's neighbors are what best-first search finds for it), with the
    * searched neighborhood α-occlusion-pruned (Ann.alphaPrune) before it
    * becomes the node's out-edges — search results clump inside the
    * probe's own tight neighborhood, exactly the degree-budget waste the
    * prune exists for — then both stores grow by one idempotent batch
    * partition. Per-batch cost is batch-sized — |batch|
    * parameter-bounded searches + |batch|·r new edges — NEVER
    * corpus-sized: the accumulated index is read, not rebuilt (the
    * ann_descent probe's flat-search row is exactly the recurring cost
    * here).
    *
    * Entry routing: the first batch k-means its own vectors into a
    * ROUTER (k centroids persisted under `edgeDir/_router` — the
    * underscore prefix hides it from the edge store's own parquet
    * reads), and every later search routes each probe to the medoids of
    * its nearest cells instead of walking from fixed spread ids — the
    * round-12 measured regression (recall 14/15 → 13/15 at 4× corpus)
    * was exactly fixed entries failing to cover a growing corpus. The
    * router refreshes on heal and on [[annCompactStore]] (corpus-sized
    * work belongs in maintenance, not in the per-batch path).
    *
    * Store layout: `vecDir` (cand_id, cv, batch_id) and `edgeDir`
    * (src, dst, batch_id) — each batch writes ONLY its own partition
    * (src = this batch's new nodes), so old partitions are immutable and
    * replays heal in place. Old nodes never gain out-edges; the read
    * path ([[annIncrementalSearch]]) symmetrizes edges instead, which
    * preserves navigability INTO new nodes without mutating history —
    * the append-only alternative to HNSW's in-place reverse-link
    * pruning, chosen because immutable partitions are what make the
    * exactly-once replay contract of this sink possible at all. */
  def annIngestOnArrival(vecs: DataFrame, vecDir: String, edgeDir: String,
      checkpointDir: String, r: Int = 12) =
    onArrival(vecs, checkpointDir)(annIngestBatch(_, _, vecDir, edgeDir, r))

  /** Quantile-summary maintenance on arrival — the streaming form of
    * q_agg_quantile_sketch (as dedupOnArrival is of q_dedup_incremental
    * and annIngestOnArrival of the graph-ANN tier): each micro-batch of
    * (day, v) rows is compacted to its ≤ (k+1)-rows-per-day
    * block-compaction summary (Freq.quantileSummary) and appended as one
    * idempotent batch partition; any quantile over EVERYTHING INGESTED
    * is then a summary-store read (Freq.quantileMergedRead over the
    * unioned partitions — summaries merge by concatenation, the whole
    * point of the domain-free sketch), never a fact re-scan. Per-batch
    * cost is batch-sized (one per-day rank over the batch); the store
    * grows by sketch rows, not fact rows.
    *
    * Rank-error bound across the store: each (batch, day) block
    * contributes < ⌈n_block/k⌉, so the merged read errs by
    * < n/k + (#batch-day blocks) — the same shape as the batch
    * operator's bound with D counted per (batch, day). A day split
    * across B batches costs B small terms instead of one; callers that
    * need the tighter bound fold the store through the batch operator
    * at maintenance time (read store days → re-sketch — still
    * sketch-sized work).
    *
    * Replay contract: the summary is a pure function of the batch, and
    * the write is a dynamic overwrite of the batch's own partition —
    * re-execution with the same (batchId, data) rewrites identical
    * rows (StreamOpsSpec pins it). */
  def quantileOnArrival(vals: DataFrame, storeDir: String,
      checkpointDir: String, k: Int = 64) =
    onArrival(vals, checkpointDir)(quantileSummaryBatch(_, _, storeDir, k))

  /** The quantile-ingest foreachBatch body (public like [[dedupBatch]]:
    * directly testable, doubles as a batch backfill). */
  def quantileSummaryBatch(batch: DataFrame, batchId: Long,
      storeDir: String, k: Int): Unit = {
    val summ = graft.operators.Freq.quantileSummary(
      batch.select(col("day"), col("v")), k)
    writeBatch(summ, batchId, storeDir)
    // quantileSummary pins its day-counts frame (and, on the heavy-day
    // route, the ordinal slices) as localCheckpoints inside summ's lazy
    // plan — the write above was their last reader, and a stream running
    // thousands of micro-batches must not leave one pinned frame per
    // batch to the driver's rare GC (the accretion discipline every
    // other arrival sink here follows). The release walks summ's plan and
    // frees every checkpoint leaf but the caller's batch's own.
    graft.util.Frames.releaseCheckpointBeyond(summ, batch)
  }

  /** Read quantiles off the arrival-built summary store: one
    * sketch-sized pass (Σw recovers the exact ingested row count; the
    * weighted rank read is [[graft.operators.Freq.quantileMergedRead]]).
    * @param qPcts target percentiles (e.g. Seq(50, 90, 99)).
    * @return (q_pct, n, r, est_v). */
  def quantileStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, qPcts: Seq[Int]): DataFrame = {
    // Mixed-schema guard (round-14's rnk INT→BIGINT change): a store
    // holding pre-change partitions mixes INT32/INT64 parquet under one
    // column. A plain read picks a random footer and fails mid-execution
    // with an opaque column-convert error; the mergeSchema probe fails
    // FAST at read setup, and we convert that into a guided migration
    // message. An all-old (uniform INT32) store reads fine — the cast
    // below lifts it to long.
    val raw =
      try spark.read.option("mergeSchema", "true").parquet(storeDir)
      catch {
        case e: org.apache.spark.SparkException
            if Option(e.getCondition).exists(_.startsWith("CANNOT_MERGE")) =>
          throw new IllegalStateException(
            s"quantile store $storeDir mixes INT32 and INT64 `rnk` partitions " +
              "(pre- and post-round-14 writers). Run " +
              "StreamOps.quantileStoreMigrate(spark, storeDir, freshDir) once " +
              "and swap directories.", e)
      }
    val summ = raw
      .select(col("day"), col("v"), col("rnk").cast("long").as("rnk"), col("w"))
    val ranks = summ.agg(sum(col("w")).as("n"))
      .select(explode(array(qPcts.map(lit): _*)).as("q_pct"), col("n"))
      .withColumn("r", expr("(n * q_pct + 99) div 100"))
    graft.operators.Freq.quantileMergedRead(summ,
        ranks.select(col("q_pct"), col("r")))
      .join(broadcast(ranks.select(col("q_pct"), col("n"))), Seq("q_pct"))
      .select(col("q_pct"), col("n"), col("r"), col("est_v"))
      .orderBy(col("q_pct"))
  }

  /** One-shot migration for a quantile store with pre-round-14 INT32
    * `rnk` partitions: every batch partition is read with ITS OWN
    * schema, rnk lifted to BIGINT, and rewritten under the same
    * partition name in a fresh store — swap directories afterwards like
    * [[quantileCompactStore]]. Idempotent; the source is untouched. */
  def quantileStoreMigrate(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, outDir: String): Unit = {
    val parts = new java.io.File(storeDir).listFiles()
    require(parts != null, s"quantile store $storeDir does not exist")
    parts.filter(p => p.isDirectory && p.getName.startsWith("batch_id="))
      .foreach { p =>
        spark.read.parquet(p.getAbsolutePath)
          .select(col("day"), col("v"),
            col("rnk").cast("long").as("rnk"), col("w"))
          .write.mode("overwrite").parquet(s"$outDir/${p.getName}")
      }
  }

  /** Compact the arrival-built quantile-summary store into a FRESH store
    * with ≤ k rows per day — the maintenance fold the ingest scaladoc
    * promises: per-batch partitions make the store grow as
    * (#batch-day blocks)·(k+1) rows and widen the merged-read bound to
    * n/k + #blocks, so a day split across B batches costs B terms.
    * Compaction is WEIGHTED re-compaction of the summary itself (never
    * a fact re-scan — the input is already sketch rows): per day, the
    * value at every weighted rank j·⌈n_d/k⌉ (and at n_d) becomes the
    * block representative, carrying the rank gap as weight — exactly
    * the MRL collapse applied to weighted rows, so Σw = n_d is
    * preserved, the output merges by concatenation like any summary,
    * and the read error grows by at most one fresh ⌈n_d/k⌉ per day
    * (total bound 2·n/k + D after any number of compactions, since
    * re-compaction always restarts from ≤ k-row-per-day state).
    *
    * All work is summary-sized: one weighted cumsum per day over store
    * rows, a k-per-day rank frame, one broadcast interval join. The
    * fresh store lands under one [[CompactBatchId]] partition; the
    * source store is untouched (idempotent, crash = partial output
    * only) — swap directories like [[annCompactStore]]. */
  def quantileCompactStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, outDir: String, k: Int = 64): Unit = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"k must be >= 1, got $k")
    val s = spark.read.parquet(storeDir)
      .select(col("day"), col("v"), col("rnk"), col("w"))
    // row-unique ROWS cumsum (the quantileMergedRead tie discipline),
    // checkpointed: the interval join and nothing else reads it, but the
    // day totals below must agree with the exact frame the join sees
    val wC = Window.partitionBy(col("day")).orderBy(col("v"), col("rnk"), col("w"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = s.withColumn("cw", sum(col("w")).over(wC)).localCheckpoint()
    val nd = s.groupBy(col("day")).agg(sum(col("w")).as("nd"))
    val targets = nd
      .select(col("day"), col("nd"),
        explode(sequence(lit(1), lit(k))).as("j"))
      .withColumn("step", expr(s"(nd + ${k - 1}) div $k"))
      .select(col("day"), least(col("j") * col("step"), col("nd")).as("tr"))
      .distinct()
    val wLag = Window.partitionBy(col("day")).orderBy(col("tr"))
    val out = cum.join(broadcast(targets),
        cum("day") === targets("day") &&
          col("cw") >= col("tr") && col("cw") - col("w") < col("tr"))
      .select(cum("day"), col("v"), col("tr"))
      .withColumn("w", col("tr") - coalesce(lag(col("tr"), 1).over(wLag), lit(0L)))
      .select(col("day"), col("v"), col("tr").as("rnk"), col("w"))
    out.write.mode("overwrite")
      .parquet(compactDir(outDir))
    graft.util.Frames.releaseCheckpoint(cum)
  }

  // ---- Heavy hitters (Misra–Gries) on arrival -----------------------------

  /** Heavy-hitter maintenance on arrival — the streaming form of
    * q_agg_heavy_hitters (quantileOnArrival's frequency-tier sibling):
    * each micro-batch of (item) rows is compacted to its ≤ k-row
    * Misra–Gries summary and appended as one idempotent batch partition;
    * any top-m over EVERYTHING INGESTED is then a summary-store read
    * ([[topkStoreRead]] — MG summaries merge by plain count addition,
    * the Agarwal et al. SIGMOD'12 mergeability result), never a fact
    * re-scan. Per-batch cost is batch-sized (one exact count aggregate
    * of the batch + a (k+1)-row TakeOrdered); the store grows by ≤ k
    * rows per batch.
    *
    * Error accounting is EXPLICIT, not implicit in the counters: each
    * batch records its decrement (the (k+1)-th largest in-batch count —
    * ≤ n_batch/(k+1) by the standard argument) as an AUDIT ROW INSIDE
    * the batch's own partition (flagged by the boolean `audit` column,
    * carrying n + dec — NOT an item-NULL sentinel: a NULL item is a
    * legitimate countable key), so every
    * read can report the guarantee true ∈ [lb, lb + Σ dec] without any
    * assumption about what other batches contained — and a batch whose
    * every item was decremented away still leaves its audit row.
    * In-partition (not a `_meta` sidecar) deliberately: survivors and
    * their decrement commit in ONE partition write, so no crash window
    * can leave a batch whose counts are in lb while its dec is missing
    * from max_err (which would understate the bound on a batch-backfill
    * path with no streaming replay to heal it). */
  def topkOnArrival(items: DataFrame, storeDir: String,
      checkpointDir: String, k: Int = 64) =
    onArrival(items, checkpointDir)(topkSummaryBatch(_, _, storeDir, k))

  /** The heavy-hitter-ingest foreachBatch body (public like
    * [[dedupBatch]]: directly testable, doubles as a batch backfill).
    * MG compaction of the batch's EXACT count vector: dec = the
    * (k+1)-th largest count (0 when ≤ k distinct — the exact regime),
    * survivors keep cnt − dec > 0, so ≤ k rows land and every stored
    * count is a LOWER bound short by at most dec. Replay-idempotent:
    * the summary is a pure function of the batch, and the ONE partition
    * write (survivors + audit row together — see [[topkOnArrival]]'s
    * crash-window note) overwrites the batch's own partition. */
  def topkSummaryBatch(batch: DataFrame, batchId: Long,
      storeDir: String, k: Int): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    // read 3× below (total, threshold, survivors) — materialize once
    val counts = batch.select(col("item").cast("string").as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // (k+1)-row TakeOrdered, never a full sort: the threshold is the
    // min of the bounded top slice
    val thr = counts.orderBy(col("cnt").desc, col("item")).limit(k + 1)
      .agg(when(count(lit(1)) <= k, lit(0L))
        .otherwise(min(col("cnt"))).as("dec"))
    val survivors = counts.crossJoin(broadcast(thr))
      .filter(col("cnt") > col("dec"))
      .select(col("item"), (col("cnt") - col("dec")).as("cnt"),
        lit(null).cast("long").as("n"), lit(null).cast("long").as("dec"),
        lit(false).as("audit"))
    // the audit row: exact ingested row count + this batch's decrement,
    // flagged by an EXPLICIT audit column (NOT an item-NULL sentinel —
    // a NULL item is a legitimate stream value and must survive as a
    // countable key, self-review r16) — same partition as the survivors
    // so both commit in one write (no sidecar crash window). Its null
    // item takes the SURVIVORS' item type (not a string literal), so
    // unionByName can never widen the stored type behind the caller
    val audit = counts.agg(coalesce(sum(col("cnt")), lit(0L)).as("n"))
      .crossJoin(broadcast(thr))
      .select(lit(null).cast(counts.schema("item").dataType).as("item"),
        lit(0L).as("cnt"), col("n"), col("dec"), lit(true).as("audit"))
    writeBatch(survivors.unionByName(audit), batchId, storeDir)
    graft.util.Frames.releaseCheckpoint(counts)
  }

  /** Top-m off the arrival-built MG store: one summary-sized pass —
    * per-item count addition (THE mergeable-summary property), top-m by
    * (lb desc, item), the in-partition audit totals attached. No fact
    * scan ever.
    * @return (item, lb, n, max_err): lb ≤ true count ≤ lb + max_err,
    *         n = exact total ingested rows (Σ batch counts — exact
    *         regardless of compression), max_err = Σ batch decrements
    *         ≤ n/(k+1). */
  def topkStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    // every batch leaves its audit row in its own partition, so even an
    // all-empty-batch store reads with a full schema — no
    // schema-inference bootstrap needed
    val store = spark.read.parquet(storeDir)
    requireAuditFormat(store, storeDir)
    val meta = store.filter(col("audit"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("dec")), lit(0L)).as("max_err"))
    store.filter(!col("audit"))
      .groupBy(col("item")).agg(sum(col("cnt")).as("lb"))
      .orderBy(col("lb").desc, col("item")).limit(m)
      .crossJoin(broadcast(meta))
      .select(col("item"), col("lb"), col("n"), col("max_err"))
  }

  /** Compact the arrival-built MG store into a FRESH ≤ k-row store: fold
    * the per-batch summaries by count addition, re-apply the MG
    * decrement once (dec₂ = the (k+1)-th largest folded count), and
    * carry the accumulated error forward — the read bound after any
    * number of compactions stays true ∈ [lb, lb + Σ dec], because each
    * compaction moves exactly its own decrement from the counts into
    * the audit total. All work is summary-sized. The fresh store
    * lands under one [[CompactBatchId]] partition; the source store is
    * untouched — swap directories like [[quantileCompactStore]]. */
  def topkCompactStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, outDir: String, k: Int = 64): Unit = {
    require(k >= 1, s"k must be >= 1, got $k")
    val store = spark.read.parquet(storeDir).localCheckpoint()
    requireAuditFormat(store, storeDir)
    val folded = store.filter(!col("audit"))
      .groupBy(col("item")).agg(sum(col("cnt")).as("cnt"))
      .localCheckpoint()
    val thr = folded.orderBy(col("cnt").desc, col("item")).limit(k + 1)
      .agg(when(count(lit(1)) <= k, lit(0L))
        .otherwise(min(col("cnt"))).as("dec2"))
    val survivors = folded.crossJoin(broadcast(thr))
      .filter(col("cnt") > col("dec2"))
      .select(col("item"), (col("cnt") - col("dec2")).as("cnt"),
        lit(null).cast("long").as("n"), lit(null).cast("long").as("dec"),
        lit(false).as("audit"))
    // carried totals + this compaction's own decrement fold into one
    // audit row, committed WITH the survivors (the single-write law);
    // null item in the survivors' type, same rationale as the ingest row
    val audit = store.filter(col("audit"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("dec")), lit(0L)).as("carried"))
      .crossJoin(broadcast(thr))
      .select(lit(null).cast(folded.schema("item").dataType).as("item"),
        lit(0L).as("cnt"), col("n"), (col("carried") + col("dec2")).as("dec"),
        lit(true).as("audit"))
    survivors.unionByName(audit)
      .write.mode("overwrite")
      .parquet(compactDir(outDir))
    graft.util.Frames.releaseCheckpoint(folded)
    graft.util.Frames.releaseCheckpoint(store)
  }

  /** Fail fast on a PRE-audit-column MG store (the `_meta`-sidecar
    * format): reading it through the audit-column paths would silently
    * drop every old batch (their rows read `audit` NULL, failing BOTH
    * filters) — a silent hole in the lb ≤ true ≤ lb + max_err
    * guarantee. Two shapes to catch: an all-old store (no `audit`
    * column anywhere — the schema check) and a MIXED store (old batches
    * resumed by the new writer — the inferred schema then HAS the
    * column, but pre-upgrade rows read it NULL, so the schema check
    * alone is not enough; scan for a null-audit row, a summary-sized
    * pass, ≤ k+1 rows per batch). Point at [[topkStoreMigrate]],
    * the quantileStoreMigrate discipline. */
  private def requireAuditFormat(store: DataFrame, storeDir: String): Unit = {
    val migrate =
      "— run StreamOps.topkStoreMigrate into a fresh dir and swap, or " +
        "reads would silently exclude pre-upgrade batches"
    require(store.columns.contains("audit"),
      s"MG store $storeDir predates the audit-column format (the _meta-" +
        s"sidecar layout) $migrate")
    // The null-audit scan is a Spark action; a store validated once
    // stays valid until its files change, so cache the verdict per
    // (dir, FixtureCache.storeStamp) — the GraftTvf store-memo key
    // (advice r17 #2: don't re-pay a full store listing + scan job on
    // every read of an already-validated store).
    val stamp = graft.util.FixtureCache.storeStamp(storeDir)
    if (!auditValidated.contains((storeDir, stamp))) {
      require(store.filter(col("audit").isNull).limit(1).isEmpty,
        s"MG store $storeDir MIXES audit-column batches with pre-upgrade " +
          s"batches (rows with audit NULL) $migrate")
      auditValidated.put((storeDir, stamp), ())
    }
  }

  private val auditValidated =
    scala.collection.concurrent.TrieMap.empty[(String, String), Unit]

  /** Migrate a `_meta`-sidecar MG store (pre-round-16 format) to the
    * audit-column layout: each batch partition is rewritten with its
    * sidecar row folded in as the in-partition audit row. Idempotent;
    * the source is untouched — swap directories afterwards like
    * [[quantileCompactStore]]. */
  def topkStoreMigrate(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, outDir: String): Unit = {
    val parts = new java.io.File(storeDir).listFiles()
    require(parts != null, s"MG store $storeDir does not exist")
    val metaDir = new java.io.File(storeDir, "_meta")
    require(metaDir.isDirectory,
      s"$storeDir has no _meta sidecar — already audit-column format?")
    // the migrated audit rows' null item takes the OLD store's native
    // item type (read once from any survivor partition), so migration
    // never widens the stored type; meta-only stores fall back to string
    val itemType = parts
      .find(p => p.isDirectory && p.getName.startsWith("batch_id="))
      .map(p => spark.read.parquet(p.getAbsolutePath).schema("item").dataType)
      .getOrElse(org.apache.spark.sql.types.StringType)
    parts.filter(p => p.isDirectory && p.getName.startsWith("batch_id="))
      .foreach { p =>
        val survivors = spark.read.parquet(p.getAbsolutePath)
          .select(col("item"), col("cnt"),
            lit(null).cast("long").as("n"), lit(null).cast("long").as("dec"),
            lit(false).as("audit"))
        val audit = spark.read
          .parquet(s"${metaDir.getAbsolutePath}/${p.getName}")
          .select(lit(null).cast(itemType).as("item"), lit(0L).as("cnt"),
            col("n"), col("dec"), lit(true).as("audit"))
        survivors.unionByName(audit)
          .write.mode("overwrite").parquet(s"$outDir/${p.getName}")
      }
    // meta-only batch partitions (every item decremented away) still
    // carry their audit row — they exist under _meta but may lack a
    // survivor partition
    val survivorNames = parts.map(_.getName).toSet
    Option(metaDir.listFiles()).getOrElse(Array.empty)
      .filter(m => m.isDirectory && m.getName.startsWith("batch_id=") &&
        !survivorNames.contains(m.getName))
      .foreach { m =>
        spark.read.parquet(m.getAbsolutePath)
          .select(lit(null).cast(itemType).as("item"), lit(0L).as("cnt"),
            col("n"), col("dec"), lit(true).as("audit"))
          .write.mode("overwrite").parquet(s"$outDir/${m.getName}")
      }
  }

  // ---- HLL distinct counts on arrival --------------------------------------

  /** Distinct-count maintenance on arrival — the streaming form of
    * q_agg_approx_distinct / q_agg_sketch_rollup (the HLL member of the
    * arrival-store family beside quantiles and heavy hitters): each
    * micro-batch of (day, id) rows is compacted to one HLL sketch per
    * day and appended as an idempotent batch partition; "distinct ids
    * per day over everything ingested" is then a sketch-sized union
    * read ([[distinctStoreRead]]) — HLL union is register-max, so
    * sketch(A) ∪ sketch(B) IS sketch(A ⊎ B) and the store read equals
    * the from-scratch estimate bit-for-bit (StreamOpsSpec pins it).
    * Per-batch cost is batch-sized (one per-day aggregate); the store
    * grows by ≤ |days-in-batch| KB-scale sketch rows per batch. */
  def distinctOnArrival(rows: DataFrame, storeDir: String,
      checkpointDir: String, lgK: Int = 14) =
    onArrival(rows, checkpointDir)(distinctSummaryBatch(_, _, storeDir, lgK))

  /** The distinct-ingest foreachBatch body (public like [[dedupBatch]]:
    * directly testable, doubles as a batch backfill). Replay-idempotent
    * at the READ level: sparse-mode HLL serialization preserves coupon
    * insertion order, so a replay under different partitioning may
    * rewrite different BYTES into the same partition — but the register
    * state is a pure function of the batch's id SET, so every read is
    * identical (StreamOpsSpec pins it). */
  def distinctSummaryBatch(batch: DataFrame, batchId: Long,
      storeDir: String, lgK: Int): Unit =
    writeBatch(batch.select(col("day"), col("id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("id"), lit(lgK)).as("sk")), batchId, storeDir)

  /** Per-day distinct estimates off the arrival-built HLL store: one
    * sketch-sized union pass, never a fact re-scan.
    * @return (day, est BIGINT) ordered by day. */
  def distinctStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy(col("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      .orderBy(col("day"))

  /** Compact the arrival-built HLL store to ONE sketch row per day —
    * union is lossless (register-max), so reads are IDENTICAL before
    * and after, the store just stops growing with batch count. Fresh
    * store under [[CompactBatchId]]; source untouched — swap dirs. */
  def distinctCompactStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, outDir: String): Unit =
    spark.read.parquet(storeDir)
      .groupBy(col("day"))
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
      .write.mode("overwrite").parquet(compactDir(outDir))

  // ---- BM25 inverted index on arrival ------------------------------------

  /** Streaming inverted-index maintenance: each micro-batch of
    * (doc_id, text) rows lands as a postings delta, and
    * [[bm25StoreSearch]] serves BM25 queries off the accumulated store
    * with scores IDENTICAL to a from-scratch batch build (the scoring
    * tail is literally shared — graft.queries.Search.bm25Score — and
    * StreamOpsSpec pins store-vs-batch equality). Per-batch work is
    * batch-sized only (tokenize → one (doc, term) aggregate of the
    * BATCH); the store grows by the batch's postings, never rewrites.
    * Upserts follow the store-wide latest-wins law: re-ingesting a
    * doc_id in a later batch supersedes every earlier version at read
    * time (the ANN-store delete→re-ingest discipline), and a NULL-text
    * version is the deletion marker — its win removes the doc from
    * postings and corpus stats alike (see [[bm25IngestBatch]]). */
  def bm25OnArrival(docs: DataFrame, indexDir: String,
      checkpointDir: String) =
    onArrival(docs, checkpointDir)(bm25IngestBatch(_, _, indexDir))

  /** The BM25-ingest foreachBatch body, public like [[dedupBatch]]:
    * directly testable, doubles as a batch backfill. Two dynamic
    * partition overwrites keyed on batch_id (idempotent under replay —
    * same (batchId, data) rewrites the same partitions byte-identically):
    * full postings (doc_id, term, tf, dl) into the store root, and the
    * narrow per-doc length table (doc_id, dl) into the `_docs` sidecar
    * (underscore-named ⇒ invisible to postings reads, travels with the
    * store it serves — the `_router` discipline).
    *
    * Version semantics at the batch boundary: micro-batches carry no
    * arrival order, so duplicate doc_ids WITHIN one batch resolve to one
    * deterministic winner (max content hash — deliver versions in
    * separate batches when arrival order matters; a union would store a
    * chimera doc no corpus ever contained). NULL text is a DELETION
    * marker: it competes for the win like any version, and a null winner
    * supersedes all older versions — the doc leaves the postings, the
    * corpus stats, and every future read (its `_docs` row carries a null
    * dl as the watermark). */
  def bm25IngestBatch(batch: DataFrame, batchId: Long,
      indexDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val wv = Window.partitionBy(col("doc_id"))
      .orderBy(md5(coalesce(col("text"), lit(""))).desc)
    // checkpointed so the two partition writes read ONE materialization
    // instead of re-tokenizing the source twice (the annIngestBatch
    // discipline); released once both writes are down.
    val b = batch.select(col("doc_id"), col("text"))
      .withColumn("rn", row_number().over(wv)).filter(col("rn") === 1)
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    try {
      writeBatch(graft.queries.Search.bm25Postings(b, onlyTerms = None),
        batchId, indexDir)
      writeBatch(b.select(col("doc_id"),
          when(col("text").isNotNull,
            size(split(col("text"), " ")).cast("long")).as("dl")),
        batchId, s"$indexDir/_docs")
    } finally graft.util.Frames.releaseCheckpoint(b)
  }

  /** BM25 top-k off the arrival-built index, scores bit-identical to a
    * batch build over the same (latest-version) corpus.
    *
    * Latest-wins and the 100 TB read shape: the narrow `_docs` sidecar
    * (3 columns, one row per ingested doc version) yields each doc's
    * surviving version (max_by) and the EXACT corpus scalars (n_docs,
    * avgdl) in one doc-keyed aggregate — the same corpus-narrow pass the
    * batch operator's stats scan already pays, so serving off the store
    * costs no more than scoring from text (an external serving layer
    * would snapshot this frame at compaction time). The postings side is
    * query-scoped throughout: term-restricted FIRST (postings-sized),
    * then version-filtered against the candidate docs' latest batches —
    * a broadcast of a query-postings-bounded frame, never a corpus-sized
    * shuffle (the merge-on-read discipline: prune against RAW deltas
    * before the latest-wins fold).
    *
    * `broadcastCandidates` is the loop-family fallback flag (the
    * broadcastRanks/broadcastFrontier contract): the candidate frame is
    * bounded by the QUERY's postings, which for selective terms is tiny —
    * but a stopword-class term matches the whole corpus, and then the
    * candidate set is corpus-sized and a forced broadcast would OOM the
    * driver. false routes both version joins through shuffle hash joins
    * instead; results are arm-identical (spec-pinned). */
  def bm25StoreSearch(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, terms: Seq[String], k: Int,
      broadcastCandidates: Boolean = true): DataFrame = {
    require(terms.nonEmpty, "bm25StoreSearch: empty query")
    val bc: DataFrame => DataFrame =
      if (broadcastCandidates) broadcast else identity
    // partition column reads back as INT — lift to long before compares
    val docsT = spark.read.parquet(s"$indexDir/_docs")
      .select(col("doc_id"), col("dl"), col("batch_id").cast("long").as("b"))
    // latest version per doc as ONE hash aggregate: max over
    // struct(b, dl) compares b first, and (doc_id, batch) rows are
    // unique (ingest's in-batch resolution + dynamic overwrite), so dl
    // never decides — the struct max IS the newest version's (b, dl)
    // pair, deletion markers (NULL dl) included (unlike max_by, which
    // would skip a null value; and unlike the round-18 row_number
    // window, this partial-aggregates map-side and needs no sort —
    // guide §2.3/§2.4, plan: Window + sort exchange → HashAggregate).
    val docLatest = docsT
      .groupBy(col("doc_id"))
      .agg(max(struct(col("b"), col("dl"))).as("m"))
      .select(col("doc_id"), col("m.dl").as("dl"), col("m.b").as("lb"))
    // count(dl) skips deletion markers: tombstoned docs leave the corpus
    // scalars exactly as a batch build over the surviving docs would.
    val stats = docLatest
      .agg(count(col("dl")).as("n_docs"),
        (sum(col("dl")) / count(col("dl"))).as("avgdl"))
    val pf = spark.read.parquet(indexDir)
      .filter(col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"),
        col("batch_id").cast("long").as("b"))
    val cand = pf.select(col("doc_id")).distinct()
    val latestC = docLatest.join(bc(cand), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lb"))
    val tf = pf.join(bc(latestC),
        pf("doc_id") === latestC("doc_id") && col("b") === col("lb"))
      .select(pf("doc_id"), col("term"), col("tf"), pf("dl"))
    graft.queries.Search.bm25Score(tf, stats, k)
  }

  /** Compact the arrival-built BM25 index into a FRESH store holding
    * only each doc's LATEST version — the maintenance fold the ingest
    * scaladoc's upsert law implies: superseded postings otherwise
    * accrete forever (every re-ingest leaves its older versions in
    * place), and every read pays the version filter. The fold is the
    * read path's own latest-wins (one doc-keyed max over the `_docs`
    * sidecar, one version-equality join on the postings — store-sized,
    * never a text re-scan); the fresh store lands under one
    * [[CompactBatchId]] partition (postings AND sidecar — post-compact
    * reads see one version per doc by construction, and ingest can
    * resume on top since any later batch_id wins against
    * CompactBatchId = -2). The source store is untouched (idempotent,
    * crash = partial output only) — swap directories like
    * [[annCompactStore]]. */
  def bm25CompactStore(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, outDir: String): Unit = {
    val docsT = spark.read.parquet(s"$indexDir/_docs")
      .select(col("doc_id"), col("dl"), col("batch_id").cast("long").as("b"))
    // renamed key breaks the self-join attribute lineage (docsT is both
    // the aggregate's input and the probe side)
    val latest = docsT.groupBy(col("doc_id")).agg(max(col("b")).as("lb"))
      .select(col("doc_id").as("l_doc"), col("lb"))
    val post = spark.read.parquet(indexDir)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"),
        col("batch_id").cast("long").as("b"))
    post.join(latest, col("doc_id") === col("l_doc") && col("b") === col("lb"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      .write.mode("overwrite")
      .parquet(compactDir(outDir))
    docsT.join(latest, col("doc_id") === col("l_doc") && col("b") === col("lb"))
      .select(col("doc_id"), col("dl"))
      .write.mode("overwrite")
      .parquet(compactDir(s"$outDir/_docs"))
  }

  /** The ANN-ingest foreachBatch body, public for the same reason as
    * [[dedupBatch]]: the replay contract is directly testable and the
    * same body serves a batch backfill. Idempotent under re-execution
    * with the same (batchId, data) against any intermediate store state
    * the two partition overwrites can leave behind: vectors are written
    * FIRST, and the corpus read for linking anti-joins the batch's own
    * ids out — a replayed batch never links to its own half-written
    * vectors, so the recomputed edges equal the originals. */
  def annIngestBatch(batch: DataFrame, batchId: Long, vecDir: String,
      edgeDir: String, r: Int): Unit = {
    import graft.operators.Ann
    val spark = batch.sparkSession
    val b = batch.select(col("cand_id"), col("cv")).localCheckpoint()
    // corpusCk = everything indexed BEFORE this batch (a replay's own
    // prior partition is excluded by the anti-join, restoring the
    // pre-batch view). The checkpoint handle is kept SEPARATE from the
    // emptiness-filtered Option: an empty frame (bootstrap replay after
    // a vec-only crash) still materialized blocks that must be released.
    // tombstones excluded too: a new batch must not spend degree budget
    // linking to nodes a delete has already condemned (their vectors
    // would drop out of every future search's corpus view anyway)
    val corpusCk = tryReadParquet(spark, vecDir).map(c =>
      dropTombstoned(spark, vecDir,
          c.select(col("cand_id"), col("cv"), col("batch_id")), "cand_id")
        .select(col("cand_id"), col("cv"))
        .join(b.select(col("cand_id")), Seq("cand_id"), "left_anti")
        .localCheckpoint())
    val corpus = corpusCk.filter(_.limit(1).count() > 0)
    val newEdges = (corpus, corpus.flatMap(_ => tryReadParquet(spark, edgeDir))) match {
      case (None, _) =>
        // bootstrap: the first batch indexes itself with the at-scale
        // builder + the α-occlusion post-pass (no graph exists to
        // search yet), and seeds the entry router from its own vectors
        // (batch-sized k-means; idempotent overwrite on replay)
        writeRouter(spark, edgeDir, b)
        diversifiedBuild(b, r).withColumn("batch_id", lit(batchId))
      case (Some(c), None) =>
        // Defensive path — reachable only through store damage or a
        // backfill against a vec-only store (normal streaming replays
        // of batch 1 hit the bootstrap case above: the anti-join empties
        // the corpus). The edge store is gone while vectors exist, so
        // REBUILD over corpus ∪ batch — but split the write: the
        // batch's OWN out-edges land under its partition (the normal
        // src discipline), every OLDER node's land under
        // [[RecoveryBatchId]]. A replay of this batch finds an intact
        // edge store, takes the link-by-search path, and overwrites
        // only its own partition — the recovery partition (and with it
        // every pre-heal node's out-edges) survives any replay. The
        // router is refreshed from the full corpus while we're paying
        // corpus-sized cost anyway.
        val full = c.unionAll(b)
        writeRouter(spark, edgeDir, full)
        diversifiedBuild(full, r)
          .join(b.select(col("cand_id").as("src"), lit(true).as("own")),
            Seq("src"), "left")
          .withColumn("batch_id",
            when(col("own"), lit(batchId)).otherwise(lit(RecoveryBatchId)))
          .drop("own")
      case (Some(c), Some(e0)) =>
        // link-by-search: new vectors probe the EXISTING symmetrized
        // graph with router-selected entries; their searched
        // neighborhood (k = 2r) is α-pruned down to their r out-edges.
        // A replay's own half-written edges (if any) are excluded with
        // its vectors.
        val edges = e0.select(col("src"), col("dst"), col("batch_id"))
          .join(b.select(col("cand_id").as("src")), Seq("src"), "left_anti")
        val probes = b.select(col("cand_id").as("probe_id"), col("cv").as("pv"))
        val searched = Ann.graphAnnSearch(probes, c, symmetrized(edges),
          entriesFor(spark, edgeDir, probes, c), beam = 32, hops = 6, k = 2 * r)
        val pruned = Ann.alphaPrune(
          searched.select(col("probe_id").as("src"), col("cand_id").as("dst"),
            col("cos")),
          c, r, alphaPct = 120, window = 2 * r)
        // pruned is materialized (alphaPrune checkpoints its output);
        // the per-hop search deltas behind `searched` are now dead
        graft.util.Frames.releaseCheckpoint(searched)
        pruned.withColumn("batch_id", lit(batchId))
    }
    val ne = newEdges.localCheckpoint() // pin before the vec write lands
    writeBatch(b, batchId, vecDir)
    // ne carries its own per-row batch_id (the heal path splits between
    // the batch's partition and the recovery partition)
    writeBatch(ne, col("batch_id"), edgeDir)
    // Release every checkpoint this batch pinned: the batch frame, the
    // pre-batch corpus view, the per-hop search deltas backing newEdges'
    // lazy plan (or the bootstrap build's final frame), and ne itself —
    // its parquet partition is the durable copy. A driver running
    // thousands of micro-batches rarely GCs its 100+ GiB heap, so left
    // to the ContextCleaner these frames accrete in the block manager —
    // the same disease the bench harness's between-queries release
    // prevents on the batch side.
    graft.util.Frames.releaseCheckpoint(newEdges)
    corpusCk.foreach(graft.util.Frames.releaseCheckpoint)
    graft.util.Frames.releaseCheckpoint(b)
    graft.util.Frames.releaseCheckpoint(ne)
  }

  private def tombstonePath(vecDir: String) = s"$vecDir/_tombstones"

  /** Delete vectors from the incremental ANN store: a TOMBSTONE write,
    * the forget path the append-only store was missing (the reference's
    * own reorg semantics REMOVE rows — replace-on-reorg — and any
    * right-to-forget curation workflow needs the same; an index that can
    * only grow cannot serve either). Tombstones live under
    * `vecDir/_tombstones` — the router's underscore trick: invisible to
    * the vec store's own parquet reads and partition discovery, so the
    * delete state travels inside the store it governs — partitioned by
    * delete-batch id with dynamic overwrite, so a replayed delete batch
    * rewrites identical rows (the exactly-once contract of every sink
    * here, StreamOpsSpec-pinned).
    *
    * Division of labor (the RECOVERY-partition discipline applied to
    * forgetting): the delete itself is O(|ids|) — no store rewrite, no
    * graph surgery. Read paths anti-join the tombstone set (batch-sized
    * small side, broadcast): deleted vectors can never be scored, so
    * they vanish from results IMMEDIATELY; their graph nodes degrade to
    * dead ends (edges into them expand to candidates the corpus join
    * drops — wasted frontier slots, bounded by beam). PHYSICAL removal
    * + navigability repair happen where corpus-sized work belongs:
    * [[annCompactStore]] drops tombstoned vectors and their edges,
    * re-links the nodes that lost neighbors (dangling-edge heal), and
    * PURGES the tombstones — the fresh store starts clean.
    *
    * Delete→re-ingest law (the upsert contract, round-15): each
    * tombstone carries an INGEST-BATCH WATERMARK `wm` = the greatest
    * ingest batch id present in the vec store when the delete COMMITTED.
    * A vector row is dead iff some tombstone for its id has wm ≥ the
    * row's ingest batch — so re-ingesting a deleted id in a LATER batch
    * makes it searchable again (StreamOpsSpec-pinned), and the store
    * upserts like a real vector store instead of forbidding id reuse.
    * Compaction keeps the NEWEST surviving row per id and purges only
    * tombstones whose id has no post-watermark re-ingest.
    *
    * Replay contract: wm is a function of STORE STATE, not of the batch,
    * so a naive re-execution after a crash could recompute a LARGER wm
    * and swallow a re-ingest that landed in the crash window. The commit
    * marker (`_committed_<batchId>` beside the tombstone partitions —
    * underscore-invisible to parquet like the sidecar itself) makes
    * replay a no-op once the delete committed: coverage never extends
    * past first commit. A crash BETWEEN the partition write and the
    * marker re-executes the whole delete — the one window where wm may
    * legitimately move, because the delete never committed. */
  def annDeleteBatch(ids: DataFrame, delBatchId: Long, vecDir: String): Unit = {
    val spark = ids.sparkSession
    val marker = java.nio.file.Paths.get(
      tombstonePath(vecDir), s"_committed_$delBatchId")
    if (java.nio.file.Files.exists(marker)) return
    // batch_id is a discovered partition column — inferred INT; cast
    // before the driver-side read
    val wm = tryReadParquet(spark, vecDir)
      .map(_.agg(max(col("batch_id").cast("long"))).first())
      .filter(!_.isNullAt(0)).map(_.getLong(0))
      .getOrElse(CompactBatchId.toLong)
    writeBatch(ids.select(col("cand_id")).distinct().withColumn("wm", lit(wm)),
      delBatchId, tombstonePath(vecDir))
    java.nio.file.Files.createDirectories(marker.getParent)
    java.nio.file.Files.write(marker,
      wm.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Streaming wrapper of [[annDeleteBatch]] — a deletion feed (ids to
    * forget) maintained with the same checkpoint/replay contract as the
    * ingest sink. */
  def annDeleteOnArrival(ids: DataFrame, vecDir: String, checkpointDir: String) =
    onArrival(ids, checkpointDir)(annDeleteBatch(_, _, vecDir))

  /** The store's tombstones as (cand_id, wm) with the greatest watermark
    * per id; absent when none exist. Pre-round-15 tombstone partitions
    * carry no wm column — mergeSchema surfaces them as null, coalesced to
    * Long.MaxValue (the old hide-everything semantics, so mixed stores
    * keep their original behavior for old deletes). */
  private def tombstonesOf(spark: org.apache.spark.sql.SparkSession,
      vecDir: String): Option[DataFrame] =
    tryReadParquet(spark, tombstonePath(vecDir)).map { _ => // presence probe
      val raw = spark.read.option("mergeSchema", "true")
        .parquet(tombstonePath(vecDir))
      val withWm =
        if (raw.columns.contains("wm"))
          raw.select(col("cand_id"),
            coalesce(col("wm"), lit(Long.MaxValue)).as("wm"))
        else raw.select(col("cand_id"), lit(Long.MaxValue).as("wm"))
      withWm.groupBy(col("cand_id")).agg(max(col("wm")).as("wm"))
    }

  /** Drop `df` rows hidden by a tombstone: row dead iff some tombstone
    * for its id has wm ≥ the row's ingest `batch_id` (so re-ingests
    * after the delete's watermark survive). `df` MUST carry the store's
    * batch_id column; the tombstone side is delete-sized (broadcast). */
  private def dropTombstoned(spark: org.apache.spark.sql.SparkSession,
      vecDir: String, df: DataFrame, key: String): DataFrame =
    dropTombstonedWith(tombstonesOf(spark, vecDir), df, key)

  /** [[dropTombstoned]] over an ALREADY-READ tombstone frame — callers
    * that need the frame themselves (compaction's dead-id computation)
    * pass it through instead of paying the sidecar read + max-wm
    * aggregate twice. */
  private def dropTombstonedWith(tomb: Option[DataFrame], df: DataFrame,
      key: String): DataFrame =
    tomb match {
      case Some(t) =>
        val tb = broadcast(t.select(col("cand_id").as("_t_id"), col("wm")))
        df.join(tb, df(key) === col("_t_id") && col("wm") >= df("batch_id"),
          "left_anti")
      case None => df
    }

  /** FS-portable bootstrap probe shared by the arrival sinks: a missing
    * store reads as absent (first batch), and so does a dir holding no
    * data files yet (an empty first micro-batch writes only _SUCCESS —
    * UNABLE_TO_INFER_SCHEMA; rethrowing would crash-loop every replay).
    * Any other AnalysisException (corruption, permissions, schema)
    * rethrows — swallowing it would silently skip the store check. */
  private def tryReadParquet(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val bootstrapConditions = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    try Some(spark.read.parquet(path))
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if Option(e.getCondition)
            .exists(c => bootstrapConditions.exists(c.startsWith)) =>
        None
    }
  }

  /** At-scale diversified build: NN-descent (rounds=3) then the
    * α-occlusion post-pass — the bootstrap/heal builder of the
    * incremental store (q_ann_descent checks the raw descent fixpoint;
    * the shipped store diversifies it, the measured +2/15-recall-at-4×
    * difference). */
  private def diversifiedBuild(vecs: DataFrame, r: Int): DataFrame = {
    import graft.operators.Ann
    val knn = Ann.graphAnnIndexDescent(vecs, r, rounds = 3)
    val pruned = Ann.alphaPrune(Ann.rescoreEdges(knn, vecs), vecs, r,
      alphaPct = 120, window = 2 * r)
    graft.util.Frames.releaseCheckpoint(knn)
    pruned
  }

  private def routerPath(edgeDir: String) = s"$edgeDir/_router"

  /** Persist the entry router: a k-means codebook over `vecs` PLUS each
    * cell's medoid id, written under `edgeDir/_router` — the underscore
    * prefix makes it invisible to the edge store's own parquet reads
    * (Spark/Hadoop hide _-prefixed paths from listing and partition
    * discovery), so the router can live INSIDE the store it serves and
    * travel with it. Medoids are computed HERE — the one corpus pass —
    * precisely so the per-batch path never pays it: [[entriesFor]] reads
    * them back and routes probes with k narrow centroid scores + a
    * k-row join. Tiny by definition (k·(dim floats + one id));
    * overwrite-idempotent for replays. */
  private def writeRouter(spark: org.apache.spark.sql.SparkSession,
      edgeDir: String, vecs: DataFrame, k: Int = 8, iters: Int = 2): Unit = {
    import spark.implicits._
    import graft.operators.Ann
    val corpus = vecs.select(col("cand_id"), col("cv"))
    val cb = Ann.kmeans(
      corpus.select(col("cand_id").as("vec_id"), col("cv").as("embedding")),
      k, iters)
    val med = Ann.medoidsOf(corpus, cb).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    cb.map { case (c, cent) => (c, cent, med(c)) }
      .toDF("cluster", "centroid", "medoid").coalesce(1)
      .write.mode("overwrite").parquet(routerPath(edgeDir))
  }

  /** Read the persisted router back driver-side: k rows of
    * (cluster, centroid, medoid id). */
  private def readRouter(spark: org.apache.spark.sql.SparkSession,
      edgeDir: String): Option[Seq[(Int, Seq[Float], Long)]] =
    tryReadParquet(spark, routerPath(edgeDir)).map(
      _.collect().map(r => (r.getInt(0), r.getSeq[Float](1), r.getLong(2)))
        .toSeq.sortBy(_._1))

  /** Per-probe routed entries from the persisted router — BATCH-SIZED by
    * construction (probes score k centroids narrowly; the cluster→medoid
    * map is the router's own k stored rows — no corpus pass, keeping the
    * arrival path's "never corpus-sized" contract). A store predating
    * the router (or whose router was lost) falls back to the corpus's
    * smallest 4 ids for every probe, the original fixed-spread
    * contract. A stored medoid absent from the current corpus view (a
    * replay whose own batch contains it) merely contributes no scored
    * entry row — the search proceeds from the remaining entries. */
  private def entriesFor(spark: org.apache.spark.sql.SparkSession,
      edgeDir: String, probes: DataFrame, corpus: DataFrame): DataFrame =
    readRouter(spark, edgeDir) match {
      case Some(router) =>
        graft.operators.Ann.storedMedoidEntries(probes,
          router.map { case (c, cent, _) => (c, cent) },
          router.map { case (c, _, m) => (c, m) },
          math.min(8, router.size))
      case None =>
        corpus.select(col("cand_id")).orderBy(col("cand_id")).limit(4)
          .crossJoin(probes.select(col("probe_id")))
          .select(col("probe_id"), col("cand_id"))
    }

  /** The incremental graph's read-side edge view, shared by the ingest
    * link-by-search branch, [[annIncrementalSearch]] and
    * [[annCompactStore]] so they can never drift: flip every edge whose
    * partition is NOT the compacted one (old nodes have no on-disk
    * out-edges toward newer ones — the flip restores navigability into
    * them; compacted partitions are stored already-symmetrized, so
    * flipping them again would only duplicate rows). */
  private def symmetrized(edges: DataFrame): DataFrame = {
    val base = edges.select(col("src"), col("dst"),
      col("batch_id").cast("long").as("bid"))
    base.select(col("src"), col("dst")).unionAll(
      base.filter(col("bid") =!= CompactBatchId)
        .select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Search the incrementally-built store: reads both partitions-of-
    * batches stores, symmetrizes the append-only edge list, routes each
    * probe through the persisted router (fixed-spread fallback), and
    * runs the standard parameter-bounded beam search. */
  /** The store's LIVE vectors — the vec read every consumer must use:
    * tombstoned vectors are OUT of the view, so they can never be scored,
    * returned, linked to, or used as a probe ("deleted" means deleted on
    * every read path, not just result rows); their graph nodes become
    * dead ends until the next compaction physically removes and heals
    * around them. */
  def annStoreVectors(spark: org.apache.spark.sql.SparkSession,
      vecDir: String): DataFrame =
    dropTombstoned(spark, vecDir,
        spark.read.parquet(vecDir)
          .select(col("cand_id"), col("cv"), col("batch_id")), "cand_id")
      .select(col("cand_id"), col("cv"))

  def annIncrementalSearch(probes: DataFrame, vecDir: String, edgeDir: String,
      beam: Int = 32, hops: Int = 6, k: Int = 3): DataFrame = {
    import graft.operators.Ann
    val spark = probes.sparkSession
    val corpus = annStoreVectors(spark, vecDir)
    val e = spark.read.parquet(edgeDir)
    Ann.graphAnnSearch(probes, corpus, symmetrized(e),
      entriesFor(spark, edgeDir, probes, corpus), beam, hops, k)
  }

  /** Compact the incremental ANN store pair into a FRESH store at
    * (outVecDir, outEdgeDir) — the maintenance op a long-running stream
    * needs: per-batch partitions accrete a file per (batch, task) and
    * the read-time symmetrization re-flips the whole history on every
    * search. Compaction folds both stores into one
    * [[CompactBatchId]] partition — vectors deduplicated by cand_id
    * (defense against an unclean stop), edges materialized as the
    * SYMMETRIZED DISTINCT closure laid out by src (the search's probe
    * key) — and carries the router across (refreshed from the full
    * corpus when `refreshRouter` OR whenever tombstones were purged —
    * see the in-body note; copied verbatim only in the no-delete case,
    * where a compaction can be proven read-identical). File sizing reuses
    * [[graft.operators.Layout.compact]], writing INTO the partition
    * directory path.
    *
    * Run it like any snapshot maintenance op: against a cleanly-stopped
    * stream, then swap directories before restart. The source store is
    * never touched, so the op is idempotent and a crash mid-compact
    * costs only the partial output. Post-compact ingest keeps working
    * unchanged: new batches land as fresh partitions beside the
    * compacted one, and [[symmetrized]] flips only them. */
  def annCompactStore(spark: org.apache.spark.sql.SparkSession,
      vecDir: String, edgeDir: String, outVecDir: String, outEdgeDir: String,
      refreshRouter: Boolean = true, targetFileRows: Long = 1L << 20,
      healR: Int = 12): Unit = {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Ann, Layout}
    val tomb = tombstonesOf(spark, vecDir)
    // physical removal: tombstone-hidden vector rows do not cross into
    // the fresh store, and neither does the tombstone sidecar —
    // compaction is the purge point (the fresh store starts with nothing
    // to anti-join). Among SURVIVING rows the NEWEST ingest batch wins
    // per id — the delete→re-ingest upsert's latest-wins read, and the
    // defense against an unclean stop's duplicate rows.
    val wNewest = Window.partitionBy(col("cand_id")).orderBy(col("batch_id").desc)
    val vecs = dropTombstonedWith(tomb,
        spark.read.parquet(vecDir)
          .select(col("cand_id"), col("cv"), col("batch_id")), "cand_id")
      .withColumn("_rn", row_number().over(wNewest))
      .filter(col("_rn") === 1)
      .select(col("cand_id"), col("cv"))
      .localCheckpoint()
    Layout.compact(vecs, compactDir(outVecDir),
      targetFileRows, sortCols = Seq("cand_id"))
    val allEdges = symmetrized(spark.read.parquet(edgeDir)).distinct()
    // DEAD ids: tombstoned with no surviving re-ingest — only these lose
    // their graph nodes (a re-ingested id keeps its node; its stale
    // pre-delete edges re-rank against the NEW vector at search time and
    // re-link through the heal below only if it lost neighbors)
    val tDeadCk = tomb.map(t =>
        t.select(col("cand_id"))
          .join(vecs.select(col("cand_id")), Seq("cand_id"), "left_anti")
          .localCheckpoint())
    val tDead = tDeadCk.filter(_.limit(1).count() > 0)
    tDead match {
      case None =>
        Layout.compact(allEdges, compactDir(outEdgeDir),
          targetFileRows, sortCols = Seq("src"))
      case Some(t) =>
        // Dangling-edge heal: dropping a node's edges leaves its former
        // neighbors with a hole in their out-sets — paths that routed
        // THROUGH dead nodes break, and a survivor whose neighborhood
        // was mostly deleted can fall off the graph entirely. Re-link
        // every survivor that lost an edge (affected = survivors
        // adjacent to a dead node — delete-degree-sized, never
        // corpus-sized) by searching the FILTERED graph with their own
        // vectors and α-pruning the searched neighborhood to healR
        // out-edges — exactly how a new node links in on arrival.
        val tb = broadcast(t)
        val kept = allEdges
          .join(tb.select(col("cand_id").as("src")), Seq("src"), "left_anti")
          .join(tb.select(col("cand_id").as("dst")), Seq("dst"), "left_anti")
          .select(col("src"), col("dst"))
          .localCheckpoint()
        val affected = allEdges
          .join(tb.select(col("cand_id").as("dst")), Seq("dst"))
          .select(col("src").as("cand_id")).distinct()
          .join(tb, Seq("cand_id"), "left_anti")
        val probes = vecs.join(affected, Seq("cand_id"))
          .select(col("cand_id").as("probe_id"), col("cv").as("pv"))
          .localCheckpoint()
        val healed = if (probes.limit(1).count() == 0) kept else {
          val searched = Ann.graphAnnSearch(probes, vecs, kept,
            entriesFor(spark, edgeDir, probes, vecs),
            beam = 32, hops = 6, k = 2 * healR)
          val pruned = Ann.alphaPrune(
            searched.filter(col("probe_id") =!= col("cand_id"))
              .select(col("probe_id").as("src"), col("cand_id").as("dst"),
                col("cos")),
            vecs, healR, alphaPct = 120, window = 2 * healR)
          graft.util.Frames.releaseCheckpoint(searched)
          // the compacted partition is stored ALREADY symmetrized (the
          // read path never flips it), so heal edges enter both ways
          kept.unionAll(pruned.select(col("src"), col("dst")))
            .unionAll(pruned.select(col("dst").as("src"), col("src").as("dst")))
            .distinct()
        }
        Layout.compact(healed, compactDir(outEdgeDir),
          targetFileRows, sortCols = Seq("src"))
        graft.util.Frames.releaseCheckpoint(kept)
        graft.util.Frames.releaseCheckpoint(probes)
    }
    // Router: copy-verbatim is only sound when compaction changed
    // nothing the router points at — with tombstones purged, copied
    // medoid entries can reference dead (or re-ingested-and-moved)
    // nodes, silently losing entry diversity (the total-entry-loss
    // fallback fires only when ALL of a probe's entries drop). Force a
    // refresh whenever tombstones existed; `refreshRouter = false` keeps
    // its read-identical meaning in the no-delete case it was made for.
    if (refreshRouter || tomb.nonEmpty) writeRouter(spark, outEdgeDir, vecs)
    else readRouter(spark, edgeDir).foreach { router =>
      import spark.implicits._
      router.toDF("cluster", "centroid", "medoid").coalesce(1)
        .write.mode("overwrite").parquet(routerPath(outEdgeDir))
    }
    tDeadCk.foreach(graft.util.Frames.releaseCheckpoint)
    graft.util.Frames.releaseCheckpoint(vecs)
  }

  /** Incremental connected-components maintenance — the components
    * sibling of [[annIngestOnArrival]] (verdict-13 #7): each micro-batch
    * of edges updates a PERSISTED node→component map with batch-sized
    * compute, never a full-graph recompute. The trick is label
    * CONTRACTION: the stored labels are component minima (the
    * [[graft.operators.Components]] invariant), so a batch's effect on
    * global connectivity factors entirely through the label graph —
    * contract each batch endpoint to its current label, run exact
    * connected components over THAT graph (≤ 2·|batch| nodes, in-batch
    * transitivity included), and the result is a label merge map.
    * Everything downstream of the merge map is affected-sized: new
    * nodes get their resolved label, and stored rows whose label merged
    * get relabeled — nodes in untouched components are never read back,
    * never rewritten.
    *
    * Store layout (the merge-on-read discipline): `mapDir` holds
    * (node, component) rows partitioned by batch_id, one delta
    * partition per batch — a node's CURRENT label is its row with the
    * greatest batch_id ([[componentsStoreRead]]); `edgeDir` keeps the
    * raw batch edges (rebuild path + audit). Per-batch cost: one
    * broadcast-semi-joined map read (batch-sized output), one
    * batch-sized components run, one affected-sized map scan-filter,
    * two idempotent partition writes.
    *
    * Replay contract (StreamOpsSpec-pinned): a replayed batch reads the
    * map INCLUDING its own prior delta — every endpoint already carries
    * its merged label, so the label graph is discrete, the merge map is
    * empty, the delta is empty, and an empty dynamic overwrite touches
    * nothing. In the crash window (edges written, delta not) the map
    * lacks the delta, so the recompute reproduces it exactly — the
    * delta is a pure function of (batch, pre-batch map). */
  def componentsOnArrival(edges: DataFrame, mapDir: String, edgeDir: String,
      checkpointDir: String) =
    onArrival(edges, checkpointDir)(componentsBatch(_, _, mapDir, edgeDir))

  /** The components foreachBatch body (public like [[dedupBatch]]:
    * directly testable, doubles as a batch backfill). */
  def componentsBatch(batch: DataFrame, batchId: Long, mapDir: String,
      edgeDir: String,
      relabelBroadcastRows: Long = RelabelBroadcastRows): Unit = {
    import graft.operators.Components
    val spark = batch.sparkSession
    val e = batch.select(col("src"), col("dst")).localCheckpoint()
    // edges first (the ANN sink's vec-first discipline): a crash after
    // this write replays into the same delta computation either way
    writeBatch(e, batchId, edgeDir)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // current labels of the batch's endpoints only: ONE map scan with the
    // batch-sized node set broadcast into the RAW delta rows BEFORE the
    // latest-wins aggregate — the merge-on-read agg then runs on
    // batch-sized rows. (Joining after a whole-store componentsMergeRead
    // would shuffle the entire map every batch — the map-sized-shuffle
    // anti-pattern this operator exists to avoid.)
    val store = tryReadParquet(spark, mapDir)
    val hit = (store match {
      case Some(st) => componentsMergeRead(st.join(broadcast(nodes), Seq("node")))
      case None => nodes.select(col("node"), lit(null).cast("long").as("component")).limit(0)
    }).localCheckpoint()
    val labeled = nodes.join(broadcast(hit), Seq("node"), "left")
      .select(col("node"), coalesce(col("component"), col("node")).as("lbl"))
      .localCheckpoint()
    // the label graph: batch edges contracted to labels; exact components
    // over it (batch-sized — the distributed path is never needed, but
    // correctness must not depend on that, so the cap stays default)
    val lblEdges = e
      .join(labeled.select(col("node").as("src"), col("lbl").as("la")), "src")
      .join(labeled.select(col("node").as("dst"), col("lbl").as("lb")), "dst")
      .filter(col("la") =!= col("lb"))
      .select(col("la").as("src"), col("lb").as("dst"))
    val merges =
      if (lblEdges.limit(1).count() == 0)
        spark.emptyDataFrame
          .select(lit(0L).as("lbl"), lit(0L).as("newc")).limit(0)
      else Components.connectedComponents(lblEdges)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("lbl"), col("component").as("newc"))
    val mergeMap = merges.localCheckpoint()
    // the components labels behind merges are dead once copied
    graft.util.Frames.releaseCheckpoint(merges)
    // merge cardinality decides both the relabel guard and the join
    // strategy below; mergeMap is checkpointed so the count is label-sized
    val nMerge = mergeMap.count()
    val mergeJ =
      if (nMerge > relabelBroadcastRows) mergeMap else broadcast(mergeMap)
    val resolvedNew = labeled
      .join(broadcast(hit.select(col("node"))), Seq("node"), "left_anti")
      .join(mergeJ, Seq("lbl"), "left")
      .select(col("node"), coalesce(col("newc"), col("lbl")).as("component"))
    // Affected-sized relabel: stored rows whose CURRENT label merged —
    // paid only when a merge actually happened. Two map SCANS, zero
    // unconditional map shuffles: (1) rows carrying a merged label give
    // the candidate node superset (a node's STALE row can match —
    // resolved next); (2) those nodes' full row sets re-read,
    // latest-wins aggregated at candidate size, then filtered to the
    // truly affected by the merge join. The candidate set is
    // relabel-sized — but a merge INTO a giant component makes it
    // component-sized, where a forced broadcast would hard-fail at
    // Spark's broadcast limit instead of degrading: the size gate
    // (RelabelBroadcastRows, counted on the checkpointed frame) drops
    // oversized candidate/merge frames to shuffle joins — the
    // loop-family broadcast-fallback contract applied to the arrival
    // path (StreamOpsSpec pins arm equality over the gate).
    var candCk: Option[DataFrame] = None
    val relabeled = store match {
      case Some(st) if nMerge > 0 =>
        val candNodes = st
          .join(mergeJ.select(col("lbl").as("component")), Seq("component"))
          .select(col("node")).distinct()
          .localCheckpoint()
        candCk = Some(candNodes)
        val candJ =
          if (candNodes.count() > relabelBroadcastRows) candNodes
          else broadcast(candNodes)
        componentsMergeRead(st.join(candJ, Seq("node")))
          .join(mergeJ.select(col("lbl").as("component"), col("newc")),
            Seq("component"))
          .select(col("node"), col("newc").as("component"))
      case _ => resolvedNew.limit(0)
    }
    val delta = resolvedNew.unionAll(relabeled).localCheckpoint()
    candCk.foreach(graft.util.Frames.releaseCheckpoint)
    writeBatch(delta, batchId, mapDir)
    graft.util.Frames.releaseCheckpoint(delta)
    graft.util.Frames.releaseCheckpoint(mergeMap)
    graft.util.Frames.releaseCheckpoint(labeled)
    graft.util.Frames.releaseCheckpoint(hit)
    graft.util.Frames.releaseCheckpoint(nodes)
    graft.util.Frames.releaseCheckpoint(e)
  }

  /** Latest-wins merge-on-read over the delta partitions: a node's
    * current component is its row with the greatest batch_id. */
  private def componentsMergeRead(store: DataFrame): DataFrame =
    store.select(col("node"), col("component"),
        col("batch_id").cast("long").as("bid"))
      .groupBy(col("node"))
      .agg(max_by(col("component"), col("bid")).as("component"))

  /** Read the current node→component map off the arrival-built store. */
  def componentsStoreRead(spark: org.apache.spark.sql.SparkSession,
      mapDir: String): DataFrame =
    componentsMergeRead(spark.read.parquet(mapDir))

  // ---- edge store on arrival (graph-rank reads) --------------------------

  /** Streaming EDGE-STORE maintenance — the graph-rank member of the
    * arrival-store family (quantiles/topk/distinct/bm25/components/ANN
    * all have one; rank reads were the one asymmetry). Each micro-batch
    * of (src, dst) rows lands as an append-only batch partition
    * (replays rewrite identical content); the current edge set is the
    * read-time distinct union, so duplicate edges — within a batch,
    * across batches, or from a replay — never double-count. Rank reads
    * ([[pagerankStoreRead]]) run the EXACT batch loop over that edge
    * set: read ≡ from-scratch recompute by construction, StreamOpsSpec
    * pins it (plus replay idempotence and
    * compaction invariance). Per-batch ingest cost is batch-sized (one
    * partition write, no store read at all — unlike components, rank
    * state is not incrementally maintainable without approximation, so
    * the store keeps raw edges and pays the loop at READ time; re-runs
    * are cheap relative to ingest and the loop's own 100 TB posture is
    * Graph.pagerank's). Surfaced in SQL as graft_pagerank_store. */
  def edgesOnArrival(edges: DataFrame, edgeDir: String,
      checkpointDir: String) =
    onArrival(edges, checkpointDir)(edgesIngestBatch(_, _, edgeDir))

  /** The edge-ingest foreachBatch body (public like [[dedupBatch]]:
    * directly testable, doubles as a batch backfill). */
  def edgesIngestBatch(batch: DataFrame, batchId: Long,
      edgeDir: String): Unit =
    writeBatch(batch.select(col("src"), col("dst")), batchId, edgeDir)

  /** Current edge set of the arrival-built store: the distinct
    * (src, dst) union of every batch partition — one shuffle on the
    * edge key, store-sized, never node × node. */
  def edgesStoreRead(spark: org.apache.spark.sql.SparkSession,
      edgeDir: String): DataFrame =
    spark.read.parquet(edgeDir).select(col("src"), col("dst")).distinct()

  /** PageRank over the arrival-built edge store: [[edgesStoreRead]] fed
    * to the shared Graph.pagerank loop — the read IS the batch
    * recompute (same loop, same edge set), so no separate equivalence
    * law is even needed; the spec pins it against a hand-unioned batch
    * frame anyway. Edge contract is pagerank's own (every node appears
    * as a src — symmetrize upstream if the graph is undirected). */
  def pagerankStoreRead(spark: org.apache.spark.sql.SparkSession,
      edgeDir: String, iters: Int = 5): DataFrame =
    graft.operators.Graph.pagerank(edgesStoreRead(spark, edgeDir), iters)

  /** Compact the edge store to ONE deduped partition under
    * [[CompactBatchId]] — reads are identical before and after (the
    * read is already a distinct union), the store just stops growing
    * with batch count. Fresh store in `outDir`; source untouched —
    * swap dirs. */
  def edgesCompactStore(spark: org.apache.spark.sql.SparkSession,
      edgeDir: String, outDir: String): Unit =
    edgesStoreRead(spark, edgeDir)
      .write.mode("overwrite").parquet(compactDir(outDir))

  // ---- entity store on arrival (MDM reads) -------------------------------

  /** Streaming ENTITY-STORE maintenance — the entity-resolution member
    * of the arrival-store family (the production MDM ingest shape: new
    * records arrive continuously; "current canonical entities" must be
    * servable at any time without re-scanning facts). Each micro-batch
    * of part-shaped records (p_partkey, p_name, p_brand, p_type,
    * p_size) is compacted to ONE per-name summary row — nid = min
    * partkey, n_parts = count, plus the min-partkey row's
    * brand/type/size — and appended as an idempotent batch partition.
    * Entity reads ([[entitiesStoreRead]]) fold the summaries — min/sum are
    * associative, the representative follows the global min nid — and
    * run the SHARED [[graft.operators.Dedup.erEntitiesFrom]] blocking →
    * scoring → closure → survivorship: read ≡ from-scratch
    * q_er_entities over everything ingested, BY CONSTRUCTION
    * (StreamOpsSpec pins it, plus replay idempotence and compaction
    * invariance).
    *
    * WHY the read recomputes the closure instead of folding each batch's
    * matches into stored entities (the edges-store argument): entity
    * state is not exactly incrementally maintainable — a late record can
    * (a) take over a name's representative (smaller partkey) and
    * re-score EXISTING pairs, and (b) bridge two stored entities,
    * forcing a merge; match decisions frozen against yesterday's
    * canonicals drift from the batch recompute on exactly those events.
    * The store therefore keeps the mergeable NAME SUMMARIES (dim-sized,
    * never facts) and pays blocking + closure at read time: per-batch
    * ingest is batch-sized (one agg + one partition write, no store
    * read), the read is name-dim-bounded regardless of facts ingested
    * (the ScaleProbe `entities_store` entries measure both). Surfaced in SQL as
    * graft_entities.
    *
    * Contract: batches PARTITION the record stream (the quantile-store
    * law — the same part row in two DIFFERENT batches double-counts
    * n_parts exactly as it would double-count weight; a replay of the
    * SAME batch is idempotent). */
  def entitiesOnArrival(records: DataFrame, storeDir: String,
      checkpointDir: String) =
    onArrival(records, checkpointDir)(entitiesIngestBatch(_, _, storeDir))

  /** The entity-ingest foreachBatch body (public like [[dedupBatch]]:
    * directly testable, doubles as a batch backfill). */
  def entitiesIngestBatch(batch: DataFrame, batchId: Long,
      storeDir: String): Unit = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_name")).orderBy(col("p_partkey"))
    val agg = batch.groupBy(col("p_name"))
      .agg(min(col("p_partkey")).cast("long").as("nid"),
        count(lit(1)).as("n_parts"))
    val rep = batch
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
    writeBatch(agg.join(rep, Seq("p_name"))
      .select(col("p_name").as("name"), col("nid"), col("n_parts"),
        col("p_brand"), col("p_type"), col("p_size")), batchId, storeDir)
  }

  /** The folded name dim of the arrival-built entity store: ids =
    * (name, nid, n_parts) and rep = (name, p_brand, p_type, p_size) —
    * one summary-sized pass each; rep follows the global min nid
    * (batch_id breaks exact-nid ties deterministically). */
  private def entitiesStoreFold(store: DataFrame): (DataFrame, DataFrame) = {
    val ids = store.groupBy(col("name"))
      .agg(min(col("nid")).as("nid"), sum(col("n_parts")).as("n_parts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name")).orderBy(col("nid"), col("batch_id"))
    val rep = store
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("name"), col("p_brand"), col("p_type"), col("p_size"))
    (ids, rep)
  }

  /** Current canonical entities off the arrival-built store: fold the
    * per-batch name summaries, then the shared ER closure +
    * survivorship — the read IS the batch recompute (same stages, same
    * folded dim as q_er_entities derives from the part table). */
  def entitiesStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame = {
    val (ids, rep) = entitiesStoreFold(spark.read.parquet(storeDir))
    graft.operators.Dedup.erEntitiesFrom(ids, rep)
  }

  /** Compact the entity store to ONE folded summary partition under
    * [[CompactBatchId]] — reads are invariant because the fold is
    * associative (min of mins, sum of sums, the representative already
    * follows the global min nid). Fresh store in `outDir`; source
    * untouched — swap dirs. */
  def entitiesCompactStore(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, outDir: String): Unit = {
    val (ids, rep) = entitiesStoreFold(spark.read.parquet(storeDir))
    ids.join(rep, Seq("name"))
      .select(col("name"), col("nid"), col("n_parts"),
        col("p_brand"), col("p_type"), col("p_size"))
      .write.mode("overwrite").parquet(compactDir(outDir))
  }

  /** Sink an event stream as parquet with checkpointing (ack analog). */
  def toParquet(df: DataFrame, outDir: String, checkpointDir: String) =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", outDir)
      .start()

  /** Idempotent parquet sink for batch REPLAYS: each micro-batch
    * overwrites its own `batch_id=N` partition. Re-executing a batch
    * after a crash between write and offset-commit replaces its partition
    * instead of appending duplicates — the guarantee Spark's docs call
    * exactly-once via idempotent foreachBatch sinks. Scope: it holds
    * when the SAME batch (same id, same data) re-runs, i.e. with the
    * checkpoint intact;
    * losing the checkpoint re-batches the source arbitrarily, and no
    * batch-keyed sink can dedup across different batchings (that needs
    * row-keyed dedup, `streamingDedup`). The reference's per-row DB
    * transactions (`evm_consumer.rs:37-59`) were its attempt at the same
    * guarantee. */
  def toParquetExactlyOnce(df: DataFrame, outDir: String,
      checkpointDir: String) =
    onArrival(df, checkpointDir)(writeBatch(_, _, outDir))

  /** Drift-on-arrival: per micro-batch, the arriving rows' bucket
    * histogram is compared against a STATIC reference histogram with
    * [[graft.queries.Drift.psi]] and one (batch_id, n_ref, n_batch,
    * psi_micro, psi) row is appended per batch — the monitoring gate a
    * continuously ingested training corpus runs to catch a shifted
    * upstream BEFORE the data lands in a retraining cut (the streaming
    * form of q_drift_psi, as dedupOnArrival is of q_dedup_incremental).
    *
    * `stream` must carry an int `bucket` column (bucketing is the
    * caller's narrow projection); `reference` is a static bucketed frame.
    * The per-batch cost is batch-sized + the (tiny) reference aggregate;
    * the row is a pure function of the batch and the static reference,
    * so replays are idempotent. */
  def driftOnArrival(stream: DataFrame, reference: DataFrame, outDir: String,
      checkpointDir: String, smoothBuckets: Int) = {
    val ref = reference.select(col("bucket"), lit(true).as("is_old"))
    onArrival(stream, checkpointDir) { (batch, batchId) =>
      writeBatch(graft.queries.Drift.psi(
          ref.unionByName(batch.select(col("bucket"), lit(false).as("is_old"))),
          smoothBuckets)
        .filter(col("bucket") === -1)
        .select(col("n_old").as("n_ref"), col("n_new").as("n_batch"),
          col("psi_micro"), col("psi")), batchId, outDir)
    }
  }
}
