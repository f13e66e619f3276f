package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Blockchain ingest layer — the reference's actual dataflow (SURVEY.md §2A),
  * re-expressed Spark-first and with its ledger of bugs fixed as features:
  *
  *   A7/A10 serialize/deserialize  → to_json / from_json (PERMISSIVE skip-and-
  *     log, NOT break-the-stream — fixes `evm_consumer.rs:118-121`)
  *   A11 flatten                   → explode(transactions)
  *   A12/A13 project+cast          → select with casts, coalesce defaults
  *     mirroring unwrap_or_default (`evm_consumer.rs:46-50,66-74`)
  *   A14/A15 sink + uniqueness     → parent-before-child parquet writes
  *     (fixes the FK-ordering bug `evm_consumer.rs:124-128` vs
  *     `0001_initial.sql:39`) with dedup-on-write within one write
  *     (duplicate ingestion, SURVEY §0.2.5 — see "Idempotence" below)
  *   A6 historical backfill        → spark.range + mapPartitions fan-out
  *     (the reference fetches serially, `evm_producer.rs:58-69`)
  *
  * U256 policy (SURVEY §1.2): canonical lossless decimal strings; values the
  * reference itself narrows (gas, size, timestamps, block numbers,
  * `evm_consumer.rs:66-70`) cast to LONG; arithmetic projections go through
  * `u256ToDec38` which yields null + an overflow flag past DECIMAL(38).
  *
  * Scale notes: ingest is embarrassingly parallel (per-message narrow ops).
  * A bronze write shuffles twice: the blocks once, by (chain, height), for
  * the keep-latest window, which also collapses exact duplicates; the
  * exploded transactions once, for their dedup. The logs sink adds one
  * join against the landed transaction keys. Bronze tables partition by
  * chain_name so per-chain queries prune.
  *
  * Idempotence holds within one write only. Dedup and keep-latest see the
  * batch in hand: inside one `writeBronze` call a redelivered block
  * collapses and a reorged height keeps its latest block and only that
  * block's transactions. A block that a LATER write redelivers or reorgs
  * is appended again; `compactBronzeBlocks` resolves it afterwards, and
  * only for the blocks table — transactions and logs of the replaced or
  * repeated block stay in bronze. A replayed stream micro-batch appends
  * again too.
  */
object BlockIngest {

  /** Transaction message schema — `evm.rs:33-47` (FIXTURES.md §B.1). */
  val txMsgSchema: StructType = StructType(Seq(
    StructField("hash", StringType),
    StructField("chain_name", StringType),
    StructField("nonce", StringType),
    StructField("block_hash", StringType),
    StructField("block_number", StringType),
    StructField("transaction_index", StringType),
    StructField("from", StringType),
    StructField("to", StringType),
    StructField("value", StringType),
    StructField("gas_price", StringType),
    StructField("gas", StringType),
    StructField("input", StringType)))

  /** Block message schema — `evm.rs:8-30` (FIXTURES.md §B.1). */
  val blockMsgSchema: StructType = StructType(Seq(
    StructField("number", StringType),
    StructField("chain_name", StringType),
    StructField("hash", StringType),
    StructField("parent_hash", StringType),
    StructField("nonce", StringType),
    StructField("sha3_uncles", StringType),
    StructField("logs_bloom", StringType),
    StructField("transactions_root", StringType),
    StructField("state_root", StringType),
    StructField("receipts_root", StringType),
    StructField("miner", StringType),
    StructField("difficulty", StringType),
    StructField("total_difficulty", StringType),
    StructField("extra_data", StringType),
    StructField("size", StringType),
    StructField("gas_limit", StringType),
    StructField("gas_used", StringType),
    StructField("timestamp", LongType),
    StructField("transactions", ArrayType(txMsgSchema)),
    StructField("uncles", ArrayType(StringType))))

  /** Bronze logs schema — the reference's documented logs data model
    * (`README.md:187-196`: log_index, address, topics, data, decoded_event,
    * transaction_hash, block_number), plus chain_name as everywhere else. */
  val logSchema: StructType = StructType(Seq(
    StructField("log_index", LongType),
    StructField("address", StringType),
    StructField("topics", ArrayType(StringType)),
    StructField("data", StringType),
    StructField("decoded_event", StringType),
    StructField("transaction_hash", StringType),
    StructField("block_number", LongType)))

  /** Log message schema: the RPC wire shape of the logs model — numerics as
    * decimal strings (like blocks/txs), chain_name injected per topology. */
  val logMsgSchema: StructType = StructType(Seq(
    StructField("log_index", StringType),
    StructField("chain_name", StringType),
    StructField("address", StringType),
    StructField("topics", ArrayType(StringType)),
    StructField("data", StringType),
    StructField("decoded_event", StringType),
    StructField("transaction_hash", StringType),
    StructField("block_number", StringType)))

  /** A10: JSON lines → typed rows. PERMISSIVE: corrupt messages become null
    * structs and are dropped (skip-and-log), never aborting the stream. */
  def parse(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw
      .withColumn("msg", from_json(col(jsonCol), blockMsgSchema,
        Map("mode" -> "PERMISSIVE")))
      .filter(col("msg").isNotNull && col("msg.number").isNotNull)
      .select("msg.*")

  /** U256 decimal-string → DECIMAL(38,0) with explicit overflow policy:
    * values past 38 digits yield (null, flag=true) (SURVEY §7.2.2). */
  def u256ToDec38(c: Column): (Column, Column) = {
    // try_cast, not cast: ANSI mode (Spark 4 default) throws on overflow.
    val dec = c.try_cast(DecimalType(38, 0))
    (dec, c.isNotNull && dec.isNull)
  }

  /** A13: parsed block messages → bronze `blocks` rows
    * (`0001_initial.sql:6-24`). Long narrowing exactly where the reference
    * narrows (`evm_consumer.rs:66-73`); unix seconds → TIMESTAMP
    * (`evm_consumer.rs:71`); tx_count = size(transactions). */
  def normalizeBlocks(parsed: DataFrame): DataFrame =
    parsed.select(
      // try_cast everywhere a string narrows: ANSI mode (Spark 4 default)
      // would otherwise THROW on a malformed numeric (e.g. hex "0x64") and
      // abort the batch — the break-the-stream failure this layer exists to
      // fix. A block whose number can't narrow is dropped like any other
      // corrupt message (skip-and-log, not abort).
      col("number").try_cast(LongType).as("block_number"),
      col("chain_name"),
      col("hash"),
      col("parent_hash"),
      timestamp_seconds(col("timestamp")).as("timestamp"),
      col("miner"),
      col("difficulty"),
      col("total_difficulty"),
      col("gas_used").try_cast(LongType).as("gas_used"),
      col("gas_limit").try_cast(LongType).as("gas_limit"),
      col("size").try_cast(LongType).as("size"),
      col("receipts_root"),
      col("transactions"),
      coalesce(size(col("transactions")), lit(0)).cast(LongType).as("tx_count"))
      .filter(col("block_number").isNotNull)

  /** A11+A12: explode transactions → bronze `transactions` rows
    * (`0001_initial.sql:27-40`). Defaults mirror unwrap_or_default
    * (`evm_consumer.rs:46-50`): value/gas_price/gas → "0", nonce → 0;
    * to_address stays nullable (contract creation). */
  def normalizeTxs(parsed: DataFrame): DataFrame =
    txsOf(parsed.select(col("chain_name"),
      col("number").try_cast(LongType).as("block_number"), col("transactions")))

  /** The transactions projection over (chain_name, block_number,
    * transactions) rows — parsed messages or normalized blocks. */
  private def txsOf(blocks: DataFrame): DataFrame =
    blocks
      .select(col("chain_name"), col("block_number"),
        explode(col("transactions")).as("tx"))
      .select(
        col("chain_name"),
        col("block_number"),
        col("tx.hash").as("tx_hash"),
        col("tx.from").as("from_address"),
        col("tx.to").as("to_address"),
        coalesce(col("tx.value"), lit("0")).as("value"),
        coalesce(col("tx.gas_price"), lit("0")).as("gas_price"),
        coalesce(col("tx.gas"), lit("0")).as("gas"),
        coalesce(col("tx.input"), lit("0x")).as("input"),
        coalesce(col("tx.nonce").try_cast(LongType), lit(0L)).as("nonce"))

  /** A15: exact dedup on the natural key — UNIQUE(block_number, hash). */
  def dedupBlocks(blocks: DataFrame): DataFrame =
    blocks.dropDuplicates("chain_name", "block_number", "hash")

  /** Reorg semantics — UNIQUE(block_number) keep-latest intent
    * (`0001_initial.sql:23`): per (chain, height) retain the row with the
    * newest timestamp, hash tie-break for determinism under replay. */
  def keepCanonical(blocks: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("chain_name"), col("block_number"))
      .orderBy(col("timestamp").desc, col("hash").desc)
    blocks
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  def dedupTxs(txs: DataFrame): DataFrame =
    txs.dropDuplicates("chain_name", "block_number", "tx_hash")

  /** Parsed block messages → one canonical block row per (chain, height).
    * `keepCanonical` keeps exactly one row per height, so exact duplicate
    * deliveries collapse in its window and a `dedupBlocks` shuffle before
    * it would change nothing: the plan has one exchange. */
  def canonicalBlocks(parsed: DataFrame): DataFrame =
    keepCanonical(normalizeBlocks(parsed))

  /** A14 sink: parent-before-child (fixes §0.2.4), dedup-on-write (fixes
    * §0.2.5), partitioned by chain for pruning. Blocks are the
    * `canonicalBlocks` of the batch. Child rows are restricted to
    * CANONICAL parents — a reorg that replaces a block must not leave its
    * orphaned transactions behind (the FK intent of
    * `0001_initial.sql:39`): they are exploded from the canonical blocks
    * themselves, so no join against the messages is needed. The blocks
    * are persisted for the two writes: recomputed, the transactions write
    * would read the queue again and shuffle every block's transactions
    * array through the canonical window a second time. The persisted plan
    * keeps AQE's coalesced partitioning (`GraftSession.configs`), so a
    * small batch runs a few tasks, not one per shuffle partition.
    * Dedup and keep-latest hold within this call only: the writes are
    * Parquet appends, so a block that a later call redelivers or reorgs
    * lands again, and only `compactBronzeBlocks` resolves it — for the
    * blocks table alone, never its transactions. */
  def writeBronze(parsed: DataFrame, outDir: String): Unit = {
    val blocks = canonicalBlocks(parsed).persist()
    try {
      blocks.write.mode("append").partitionBy("chain_name")
        .parquet(s"$outDir/blocks")
      dedupTxs(txsOf(blocks)).write.mode("append").partitionBy("chain_name")
        .parquet(s"$outDir/transactions")
    } finally blocks.unpersist(blocking = false)
  }

  // ------------------------------------------------------------------ logs

  /** Logs A10 analog: JSON log messages → typed rows, PERMISSIVE
    * skip-and-log like `parse`. A log without its identifying keys
    * (tx hash + index) is corrupt and dropped. */
  def parseLogs(raw: DataFrame, jsonCol: String = "value"): DataFrame =
    raw
      .withColumn("msg", from_json(col(jsonCol), logMsgSchema,
        Map("mode" -> "PERMISSIVE")))
      .filter(col("msg").isNotNull && col("msg.transaction_hash").isNotNull &&
        col("msg.log_index").isNotNull)
      .select("msg.*")

  /** Logs A12/A13 analog: narrow string numerics, default empty topics /
    * "0x" data (the unwrap_or_default policy of `evm_consumer.rs:46-50`
    * applied to the logs model); decoded_event stays nullable (decoding is
    * a downstream concern). */
  def normalizeLogs(parsed: DataFrame): DataFrame =
    parsed.select(
      col("chain_name"),
      col("block_number").try_cast(LongType).as("block_number"),
      col("transaction_hash"),
      col("log_index").try_cast(LongType).as("log_index"),
      col("address"),
      coalesce(col("topics"), array().cast(ArrayType(StringType))).as("topics"),
      coalesce(col("data"), lit("0x")).as("data"),
      col("decoded_event"))
      .filter(col("block_number").isNotNull && col("log_index").isNotNull)

  /** A15 analog for logs: UNIQUE(chain, block, tx_hash, log_index). */
  def dedupLogs(logs: DataFrame): DataFrame =
    logs.dropDuplicates("chain_name", "block_number", "transaction_hash", "log_index")

  /** Topics array → one row per (log, topic position) — the A11 explode
    * applied to the logs model's nested collection. */
  def explodeTopics(logs: DataFrame): DataFrame =
    logs.select(
      col("chain_name"), col("block_number"), col("transaction_hash"),
      col("log_index"),
      posexplode(col("topics")).as(Seq("topic_pos", "topic")))

  /** Logs sink: dedup-on-write and FK-restricted to transactions that
    * actually landed (the logs→transactions FK intent mirroring
    * `0001_initial.sql:39`) — a reorg that drops a transaction must not
    * leave its logs behind. Parent (txs) writes before child (logs).
    *
    * FK-failing logs are NOT dropped: logs and transactions can arrive on
    * separate topics/batches, so "parent missing" may mean "parent not
    * landed YET", not "reorged out". They land in `logs_quarantine`
    * instead — replay the quarantine through this sink once later batches
    * have delivered the parents (the append-only analog of a deferred FK
    * check; same skip-and-log posture as corrupt messages).
    *
    * The parents are read once: one left join against their distinct keys
    * flags each log `landed`, and both writes are filters of that one
    * materialized result. */
  def writeBronzeLogs(parsedLogs: DataFrame, txs: DataFrame, outDir: String): Unit = {
    val parents = txs.select(
      col("chain_name"), col("block_number"), col("tx_hash").as("transaction_hash"))
      .distinct().withColumn("landed", lit(true))
    val flagged = dedupLogs(normalizeLogs(parsedLogs))
      .join(parents, Seq("chain_name", "block_number", "transaction_hash"), "left")
      .localCheckpoint()
    // released after both writes, so repeated calls in one session do
    // not accumulate the flagged logs' blocks
    try {
      flagged.filter(col("landed").isNotNull).drop("landed")
        .write.mode("append").partitionBy("chain_name")
        .parquet(s"$outDir/logs")
      val orphans = flagged.filter(col("landed").isNull).drop("landed")
      if (!orphans.isEmpty) {
        orphans.write.mode("append").partitionBy("chain_name")
          .parquet(s"$outDir/logs_quarantine")
      }
    } finally graft.util.Frames.releaseCheckpoint(flagged)
  }

  /** Compaction: rewrite a bronze blocks table keeping only canonical rows
    * (the upsert-compact half of append+dedup — Parquet has no in-place
    * update, SURVEY §7.2.6). Reads, resolves, writes to a new location. */
  def compactBronzeBlocks(spark: SparkSession, bronzeDir: String, outDir: String): Unit =
    keepCanonical(spark.read.parquet(s"$bronzeDir/blocks"))
      .write.mode("overwrite").partitionBy("chain_name")
      .parquet(s"$outDir/blocks")

  /** A7 serialize: bronze block rows → one JSON message per block, the
    * shape the reference publishes to its queue (`evm_producer.rs:46,64`).
    * Inverse of parse∘normalize up to field ordering: unix seconds are
    * restored from the timestamp and number goes back to its decimal
    * string. */
  def toMessages(blocks: DataFrame): DataFrame =
    blocks.select(to_json(struct(
      col("block_number").cast(StringType).as("number"),
      col("chain_name"), col("hash"), col("parent_hash"), col("miner"),
      col("difficulty"), col("total_difficulty"),
      col("gas_used").cast(StringType).as("gas_used"),
      col("gas_limit").cast(StringType).as("gas_limit"),
      col("size").cast(StringType).as("size"),
      col("receipts_root"),
      unix_timestamp(col("timestamp")).as("timestamp"),
      col("transactions"), col("tx_count"))).as("value"))

  /** A6 historical backfill shape: the block-number range is a distributed
    * dataset and the RPC fetch runs per partition in parallel — vs the
    * reference's serial one-block-at-a-time loop (`evm_producer.rs:58-69`).
    * `fetch` is injected (tests use a deterministic fake; a live module
    * would wrap an HTTP client). Returns raw JSON messages. */
  def backfillRange(
      spark: SparkSession,
      start: Long,
      end: Long,
      parallelism: Int)(fetch: Long => Option[String]): DataFrame = {
    import spark.implicits._
    spark.range(start, end + 1, 1, parallelism)
      .mapPartitions(_.flatMap(n => fetch(n)))
      .toDF("value")
  }

  /** A4/A9 live path: file-source stream of JSON block messages with
    * checkpointed offsets (the ack analog); each micro-batch is one
    * `writeBronze` call, so dedup and keep-latest hold within the batch
    * only. The batch id is not used: a micro-batch replayed after a crash
    * between its write and the offset commit appends again.
    * startingOffsets=earliest ⇔ the reference's InitialPosition::Earliest
    * (`pulsar.rs:31-32`). */
  def streamBronze(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .text(inDir)
    streamBronze(raw, outDir, checkpointDir)
  }

  /** Same sink over an already-constructed message stream — the form a
    * pluggable transport feeds (`MessageQueue.stream(topic)`). */
  def streamBronze(
      raw: DataFrame,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamOps.onArrival(parse(raw), checkpointDir)(
      (batch, _) => writeBronze(batch, outDir))
}
