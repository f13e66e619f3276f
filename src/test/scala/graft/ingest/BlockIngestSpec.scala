package graft.ingest

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Ingest-layer unit tests over the FIXTURES.md §B.3 JSON block fixtures:
  * parse (PERMISSIVE skip of corrupt lines), normalize (defaults, narrowing,
  * timestamps, tx_count), explode, dedup (duplicate delivery §0.2.5), reorg
  * keep-canonical, U256 overflow policy, parallel backfill shape, and the
  * checkpointed file-stream path. */
class BlockIngestSpec extends SparkSpec {

  private def fixturePath: String =
    getClass.getResource("/blocks/blocks.jsonl").getPath

  private lazy val parsed = {
    val raw = spark.read.text(fixturePath).withColumnRenamed("value", "value")
    BlockIngest.parse(raw).cache()
  }

  test("parse: corrupt line skipped, stream not aborted (fixes evm_consumer.rs:118-121)") {
    // 7 lines, 1 corrupt → 6 parsed messages
    assert(parsed.count() === 6)
    assert(parsed.filter(col("number") === "103").count() === 0)
  }

  test("normalizeBlocks: narrowing, unix→timestamp, tx_count (evm_consumer.rs:64-105)") {
    val blocks = BlockIngest.normalizeBlocks(parsed)
    val b100 = blocks.filter(col("block_number") === 100L && col("hash") === "0xaa01")
      .collect().head
    assert(b100.getAs[Long]("gas_used") === 21000L)
    assert(b100.getAs[Long]("tx_count") === 2L)
    assert(b100.getAs[java.sql.Timestamp]("timestamp").toInstant.getEpochSecond === 1704067200L)
    // empty block keeps its parent row with tx_count 0
    val b102 = blocks.filter(col("block_number") === 102L).collect().head
    assert(b102.getAs[Long]("tx_count") === 0L)
  }

  test("normalizeTxs: explode + defaults (evm_consumer.rs:36-62)") {
    val txs = BlockIngest.normalizeTxs(parsed)
    // empty block produces no child rows but is not dropped from blocks
    assert(txs.filter(col("block_number") === 102L).count() === 0)
    // null-default path: value/gas_price→"0", nonce→0
    val t3 = txs.filter(col("tx_hash") === "0xt3").collect().head
    assert(t3.getAs[String]("value") === "0")
    assert(t3.getAs[String]("gas_price") === "0")
    assert(t3.getAs[Long]("nonce") === 0L)
    // contract creation: to_address stays null
    val t2 = txs.filter(col("tx_hash") === "0xt2").collect().head
    assert(t2.getAs[String]("to_address") === null)
  }

  test("dedupBlocks: duplicate delivery collapses (§0.2.5 regression)") {
    val blocks = BlockIngest.normalizeBlocks(parsed)
    // raw has block 100/0xaa01 twice
    assert(blocks.filter(col("hash") === "0xaa01").count() === 2)
    val deduped = BlockIngest.dedupBlocks(blocks)
    assert(deduped.filter(col("hash") === "0xaa01").count() === 1)
    // idempotence: dedup(dedup(x)) == dedup(x)
    assert(BlockIngest.dedupBlocks(deduped).count() === deduped.count())
  }

  test("keepCanonical: reorg retains the later block per height (0001_initial.sql:23)") {
    val canon = BlockIngest.keepCanonical(
      BlockIngest.dedupBlocks(BlockIngest.normalizeBlocks(parsed)))
    val at100 = canon.filter(col("block_number") === 100L).collect()
    assert(at100.length === 1)
    assert(at100.head.getAs[String]("hash") === "0xbb01")
  }

  test("u256ToDec38: overflow → null + flag (SURVEY §7.2.2)") {
    val (dec, flag) = BlockIngest.u256ToDec38(col("difficulty"))
    val rows = BlockIngest.normalizeBlocks(parsed)
      .select(col("block_number"), dec.as("d"), flag.as("of"))
      .filter(col("block_number").isin(100L, 104L))
      .collect()
    val b104 = rows.find(_.getAs[Long]("block_number") == 104L).get
    assert(b104.isNullAt(1) && b104.getAs[Boolean]("of"))
    val b100 = rows.find(r => r.getAs[Long]("block_number") == 100L).get
    assert(!b100.isNullAt(1) && !b100.getAs[Boolean]("of"))
  }

  test("writeBronze: parent-before-child, idempotent under replay (§0.2.4/§0.2.5)") {
    val out = java.nio.file.Files.createTempDirectory("bronze").toString
    BlockIngest.writeBronze(parsed, out)
    val blocks = spark.read.parquet(s"$out/blocks")
    val txs = spark.read.parquet(s"$out/transactions")
    // FK integrity: no orphan transactions (left-anti join is empty)
    val orphans = txs.join(blocks,
      txs("block_number") === blocks("block_number") &&
        txs("chain_name") === blocks("chain_name"), "left_anti")
    assert(orphans.count() === 0)
    // canonical: one row per height
    assert(blocks.groupBy("block_number").count().filter(col("count") > 1).count() === 0)
  }

  test("writeBronze: a block without chain_name keeps its transactions") {
    val out = java.nio.file.Files.createTempDirectory("bronzeNoChain").toString
    import spark.implicits._
    val raw = Seq(
      """{"number":"7","hash":"0xn7","parent_hash":"0xn6","timestamp":1700000007,"transactions":[{"hash":"0xtn1","block_number":"7","from":"0xa"},{"hash":"0xtn2","block_number":"7","from":"0xb"}],"uncles":[]}"""
    ).toDF("value")
    BlockIngest.writeBronze(BlockIngest.parse(raw), out)
    val blocks = spark.read.parquet(s"$out/blocks")
    val txs = spark.read.parquet(s"$out/transactions")
    assert(blocks.count() === 1)
    assert(txs.select(col("tx_hash")).as[String].collect().sorted.toSeq ===
      Seq("0xtn1", "0xtn2"))
    assert(txs.filter(col("chain_name").isNull).count() === 2)
  }

  /** Tasks that ran while `body` ran, counted by a listener. */
  private def tasksRun(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("writeBronze: a 3-block write runs a few tasks at 200 shuffle partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("bronzeTasks")
    val in = tmp.resolve("blocks.jsonl")
    java.nio.file.Files.writeString(in, (1 to 3).map { n =>
      s"""{"number":"$n","chain_name":"C$n","hash":"0xc$n","parent_hash":"0xc${n - 1}","timestamp":${1700000000 + n},"transactions":[{"hash":"0xct$n","block_number":"$n","from":"0xa"}],"uncles":[]}"""
    }.mkString("\n"))
    // Spark's default, which a library caller gets; the persisted blocks
    // must be coalesced, not kept at one partition per shuffle partition
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    val tasks = try tasksRun {
      BlockIngest.writeBronze(BlockIngest.parse(spark.read.text(in.toString)),
        tmp.resolve("out").toString)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    assert(tasks <= 10, s"$tasks tasks for 3 blocks")
    assert(spark.read.parquet(tmp.resolve("out/blocks").toString).count() === 3)
    assert(spark.read.parquet(tmp.resolve("out/transactions").toString).count() === 3)
  }

  test("keepCanonical collapses exact duplicates: no dedupBlocks needed before it") {
    import spark.implicits._
    def block(n: Long, hash: String, ts: Long, txs: String*): String = {
      val txJson = txs.map(t => s"""{"hash":"$t","block_number":"$n"}""").mkString(",")
      s"""{"number":"$n","chain_name":"K","hash":"$hash","parent_hash":"0xp","timestamp":$ts,"transactions":[$txJson],"uncles":[]}"""
    }
    val raw = Seq(
      block(1, "0xa1", 10, "0xt1"), block(1, "0xa1", 10, "0xt1"), // exact duplicate
      block(2, "0xa2", 20, "0xt2"), block(2, "0xb2", 20, "0xt3"), // timestamp tie
      block(2, "0xb2", 20, "0xt3"),                               // tie, duplicated
      block(3, "0xa3", 30), block(3, "0xb3", 29, "0xt4"),          // reorg, later wins
      block(3, "0xa3", 30)).toDF("value")
    val blocks = BlockIngest.normalizeBlocks(BlockIngest.parse(raw))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val canon = BlockIngest.keepCanonical(blocks)
    assert(rows(canon) === rows(BlockIngest.keepCanonical(BlockIngest.dedupBlocks(blocks))))
    assert(canon.select("hash").as[String].collect().sorted.toSeq === Seq("0xa1", "0xa3", "0xb2"))
  }

  test("backfillRange: parallel fan-out over the block range (A6 upgrade)") {
    val df = BlockIngest.backfillRange(spark, 10L, 29L, parallelism = 4) { n =>
      if (n % 10 == 3) None // missing block → skipped, like Option::None
      else Some(s"""{"number":"$n","chain_name":"T","hash":"0x$n","parent_hash":"0x${n - 1}","timestamp":${1700000000 + n},"transactions":[],"uncles":[]}""")
    }
    assert(df.rdd.getNumPartitions === 4)
    val parsedBf = BlockIngest.parse(df)
    assert(parsedBf.count() === 18) // 20 minus two missing (13, 23)
    assert(BlockIngest.normalizeBlocks(parsedBf)
      .agg(max(col("block_number"))).collect().head.getLong(0) === 29L)
  }

  test("streamBronze: checkpointed file stream lands deduped bronze (A4/A9)") {
    val tmp = java.nio.file.Files.createTempDirectory("stream").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    new java.io.File(in).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(fixturePath),
      java.nio.file.Paths.get(s"$in/blocks.jsonl"))
    val q = BlockIngest.streamBronze(spark, in, out, ckpt)
    q.processAllAvailable()
    q.stop()
    val blocks = spark.read.parquet(s"$out/blocks")
    // 6 parsed - 1 duplicate - 1 reorg loser = 4 canonical blocks
    assert(blocks.count() === 4)
    val txs = spark.read.parquet(s"$out/transactions")
    // the reorg winner's tx landed; the orphaned block's txs did not
    assert(txs.filter(col("tx_hash") === "0xt9").count() === 1)
    assert(txs.filter(col("tx_hash") === "0xt1").count() === 0)
  }

  test("logs: parse→normalize→bronze with FK restriction to landed txs (README.md:187-196)") {
    import spark.implicits._
    val logLines = Seq(
      // two logs of tx 0xt9 (canonical block 100/0xbb01), one with 2 topics
      """{"log_index":"0","chain_name":"ARB","address":"0xc1","topics":["0xtop1","0xtop2"],"data":"0xd1","decoded_event":"Transfer","transaction_hash":"0xt9","block_number":"100"}""",
      """{"log_index":"1","chain_name":"ARB","address":"0xc1","topics":null,"data":null,"decoded_event":null,"transaction_hash":"0xt9","block_number":"100"}""",
      // duplicate delivery of log 0 (§0.2.5 analog)
      """{"log_index":"0","chain_name":"ARB","address":"0xc1","topics":["0xtop1","0xtop2"],"data":"0xd1","decoded_event":"Transfer","transaction_hash":"0xt9","block_number":"100"}""",
      // orphan: tx never landed (reorg loser 0xt1) → FK-restricted out
      """{"log_index":"0","chain_name":"ARB","address":"0xc2","topics":["0xdead"],"data":"0x","decoded_event":null,"transaction_hash":"0xt1","block_number":"100"}""",
      // corrupt line → skipped, not aborted
      """{"log_index":"2","chain_name":"ARB",CORRUPT""")
    val rawLogs = logLines.toDF("value")
    val parsedLogs = BlockIngest.parseLogs(rawLogs)
    assert(parsedLogs.count() === 4) // corrupt line dropped
    // normalize: narrowing + defaults
    val norm = BlockIngest.normalizeLogs(parsedLogs)
    val l1 = norm.filter(col("log_index") === 1L).collect().head
    assert(l1.getAs[Seq[String]]("topics") === Seq.empty)
    assert(l1.getAs[String]("data") === "0x")
    // bronze write: parent txs first (writeBronze), then FK-restricted logs
    val out = java.nio.file.Files.createTempDirectory("bronzelogs").toString
    BlockIngest.writeBronze(parsed, out)
    val txs = spark.read.parquet(s"$out/transactions")
    BlockIngest.writeBronzeLogs(parsedLogs, txs, out)
    val logs = spark.read.parquet(s"$out/logs")
    assert(logs.count() === 2) // dup collapsed, orphan diverted
    // the orphan is quarantined for replay, not silently dropped (its
    // parent may simply not have landed yet)
    val quarantined = spark.read.parquet(s"$out/logs_quarantine")
    assert(quarantined.count() === 1)
    assert(quarantined.collect().head.getAs[String]("transaction_hash") === "0xt1")
    // FK green: no log references a missing transaction
    val orphans = graft.operators.Quality.checkFk(
      logs, txs.withColumnRenamed("tx_hash", "transaction_hash"),
      Seq("chain_name", "block_number", "transaction_hash"),
      Seq("chain_name", "block_number", "transaction_hash"))
    assert(orphans.count() === 0)
    // topics explode: (log, position) rows
    val topics = BlockIngest.explodeTopics(logs)
    assert(topics.count() === 2)
    assert(topics.orderBy(col("topic_pos")).collect().map(_.getAs[String]("topic")).toSeq
      === Seq("0xtop1", "0xtop2"))
    // the q_logs_topics aggregation shape runs over bronze logs as-is:
    // explode + count per (address, topic)
    val perTopic = logs
      .select(col("address"), explode(col("topics")).as("topic"))
      .groupBy(col("address"), col("topic")).count()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(perTopic === Set(("0xc1", "0xtop1", 1L), ("0xc1", "0xtop2", 1L)))
    // decoded_event is nullable in bronze (decoding is downstream): the
    // q_logs_decoded extraction shape must not throw on null payloads
    val decoded = logs.select(
      get_json_object(col("decoded_event"), "$.event").as("event_name"))
    assert(decoded.count() === 2)
  }

  test("writeBronzeLogs: a call leaves no persisted RDD behind") {
    import spark.implicits._
    // one landed log (tx 0xt9) and one orphan, so both writes run
    val rawLogs = Seq(
      """{"log_index":"0","chain_name":"ARB","address":"0xc1","topics":["0xtop1"],"data":"0xd1","decoded_event":null,"transaction_hash":"0xt9","block_number":"100"}""",
      """{"log_index":"0","chain_name":"ARB","address":"0xc2","topics":["0xdead"],"data":"0x","decoded_event":null,"transaction_hash":"0xt1","block_number":"100"}"""
    ).toDF("value")
    val out = java.nio.file.Files.createTempDirectory("logsrelease").toString
    BlockIngest.writeBronze(parsed, out)
    val txs = spark.read.parquet(s"$out/transactions")
    val before = spark.sparkContext.getPersistentRDDs.size
    BlockIngest.writeBronzeLogs(BlockIngest.parseLogs(rawLogs), txs, out)
    assert(spark.sparkContext.getPersistentRDDs.size === before)
    assert(spark.read.parquet(s"$out/logs").count() === 1)
    assert(spark.read.parquet(s"$out/logs_quarantine").count() === 1)
  }

  test("bronze partitioning: per-chain queries prune partitions at the scan") {
    val out = java.nio.file.Files.createTempDirectory("prune").toString
    BlockIngest.writeBronze(parsed, out)
    val plan = spark.read.parquet(s"$out/blocks")
      .filter(col("chain_name") === "ARB")
      .queryExecution.executedPlan.toString
    // the chain predicate must be a PartitionFilter (pruned directories),
    // never a post-scan row filter over all chains
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("chain_name"),
      s"chain_name not pruned as a partition filter:\n$plan")
  }

  test("typed layer: Dataset[BlockRec]/Dataset[TxRec] round the normalize path") {
    val blocks = Typed.blocks(BlockIngest.normalizeBlocks(parsed))
    val txs = Typed.txs(BlockIngest.normalizeTxs(parsed))
    val b100 = blocks.filter(_.hash == "0xaa01").head()
    assert(b100.block_number === 100L && b100.tx_count === 2L)
    assert(b100.size === Some(1200L))
    val creation = txs.filter(_.tx_hash == "0xt2").head()
    assert(creation.to_address === None) // contract creation stays typed-None
    assert(txs.filter(_.nonce == 0L).count() >= 1)
  }

  test("compactBronzeBlocks: replays collapse to one canonical row per height") {
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    // two appends of the same batch = an at-least-once replay
    BlockIngest.writeBronze(parsed, s"$tmp/bronze")
    BlockIngest.writeBronze(parsed, s"$tmp/bronze")
    val raw = spark.read.parquet(s"$tmp/bronze/blocks")
    assert(raw.groupBy("block_number").count().filter(col("count") > 1).count() > 0)
    BlockIngest.compactBronzeBlocks(spark, s"$tmp/bronze", s"$tmp/compacted")
    val compacted = spark.read.parquet(s"$tmp/compacted/blocks")
    assert(compacted.groupBy("block_number").count().filter(col("count") > 1).count() === 0)
    assert(compacted.count() === 4)
  }

  test("streamBronze: restart resumes from checkpoint, no reprocessing (ack analog)") {
    val tmp = java.nio.file.Files.createTempDirectory("restart").toString
    val in = s"$tmp/in"; val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    new java.io.File(in).mkdirs()
    def block(n: Long): String =
      s"""{"number":"$n","chain_name":"R","hash":"0xr$n","parent_hash":"0xr${n - 1}","timestamp":${1704067200 + n},"transactions":[],"uncles":[]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/a.jsonl"), block(1))
    val q1 = BlockIngest.streamBronze(spark, in, out, ckpt)
    q1.processAllAvailable(); q1.stop()
    assert(spark.read.parquet(s"$out/blocks").count() === 1)
    // restart with the same checkpoint; only the NEW file is processed
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b.jsonl"), block(2))
    val q2 = BlockIngest.streamBronze(spark, in, out, ckpt)
    q2.processAllAvailable(); q2.stop()
    val blocks = spark.read.parquet(s"$out/blocks")
    // block 1 appears exactly once: the committed offset was honored
    assert(blocks.filter(col("block_number") === 1L).count() === 1)
    assert(blocks.count() === 2)
  }
}
