package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import StreamOps.Event

/** MemoryStream micro-batch tests for the semantics with no batch oracle
  * (SURVEY.md §5.2.4): watermark late-row drops, append-mode window
  * emission, streaming dedup across batches, custom keyed state. */
class StreamOpsSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, user: Long = 1L, typ: String = "click"): Event =
    Event(id, ts(minute), user, typ, 1.0)

  test("drift-on-arrival: matching batch scores ~0, shifted batch scores high") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("drift").toString
    val in = MemoryStream[Int]
    val reference = (0 until 4).flatMap(b => Seq.fill(25)(b)).toDF("bucket")
    val q = StreamOps.driftOnArrival(in.toDF().select($"value".as("bucket")),
      reference, s"$tmp/out", s"$tmp/ck", smoothBuckets = 4)
    try {
      in.addData((0 until 4).flatMap(b => Seq.fill(10)(b)): _*) // uniform
      q.processAllAvailable()
      in.addData(Seq.fill(40)(0): _*)                           // collapsed
      q.processAllAvailable()
      val out = spark.read.parquet(s"$tmp/out").collect()
        .map(r => r.getAs[Int]("batch_id") ->
          ((r.getAs[Long]("n_batch"), r.getAs[Long]("psi_micro")))).toMap
      assert(out(0)._1 === 40L && out(1)._1 === 40L)
      assert(out(0)._2 === 0L, s"uniform batch must score zero drift: ${out(0)}")
      // all mass in one of four buckets vs a uniform reference: PSI well
      // above the conventional 0.25 action threshold
      assert(out(1)._2 > 25000000L, s"collapsed batch must alarm: ${out(1)}")
    } finally q.stop()
  }

  test("rate gate (transformWithState): running counts persist across batches, flag trips") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // the checksum checkpoint manager's async writer deadlocks under the
    // test-fork's thread budget (observed: stream hangs in
    // RocksDBFileManager.zipToDfsFile → ChecksumCheckpointFileManager
    // .awaitResult); integrity checksums add nothing on a local tmpdir
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // each state partition is a full RocksDB instance whose checkpoint
    // runs shell-exec'd local-FS ops — 32 of them per micro-batch is
    // minutes of pure fork/exec in this sandbox; 2 keeps the semantics
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val in = MemoryStream[Event]
    val q = StreamOps.rateGate(in.toDS(), limit = 4)
      .writeStream.format("memory").queryName("rategate")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((1 to 3).map(i => ev(i, i, user = 1L)) :+ ev(10, 4, user = 2L): _*)
      q.processAllAvailable()
      in.addData((4 to 6).map(i => ev(i, 10 + i, user = 1L)): _*)
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM rategate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // batch 1: user 1 at 3 (not flagged), user 2 at 1
      assert(rows.contains((1L, 3L, 0L)) && rows.contains((2L, 1L, 0L)))
      // batch 2: user 1's state persisted → 6, over the limit of 4
      assert(rows.contains((1L, 6L, 1L)),
        s"state must persist across batches and trip the flag: ${rows.mkString(",")}")
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("watermark drops late rows; append emits only closed windows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.tumblingCounts(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Append()).start()
    try {
      // hour-0 rows, then advance event time into hour 2 → watermark
      // (max 130m − 10m = 120m) closes the hour-0 and hour-1 windows.
      in.addData(ev(1, 5), ev(2, 25), ev(3, 59))
      q.processAllAvailable()
      in.addData(ev(4, 130))
      q.processAllAvailable()
      // a row for hour 0 arrives beyond the watermark → dropped
      in.addData(ev(5, 30))
      q.processAllAvailable()
      // one more hour-2 row keeps the query moving but its window stays open
      in.addData(ev(6, 135))
      q.processAllAvailable()
      val emitted = spark.table("tumbling").collect()
        .map(r => (r.getAs[Timestamp]("ws"), r.getAs[Long]("n"))).toSet
      // hour-0 window emitted exactly once with the 3 on-time rows; the
      // late 4th row did NOT re-emit or bump the count; hour-2 not emitted.
      assert(emitted === Set((ts(0), 3L)))
    } finally q.stop()
  }

  test("stream-static enrichment: per-batch broadcast join, no streaming state") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[Event]
    val q = StreamOps.enrich(in.toDF(), dim, Seq("user_id"))
      .select($"event_id", $"tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(ev(1, 5, user = 1L), ev(2, 6, user = 2L), ev(3, 7, user = 9L))
      q.processAllAvailable()
      val got = spark.table("enriched").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got === Map(1L -> Some("gold"), 2L -> Some("basic"), 3L -> None))
      // stateless: no stateful operator in the progress metrics
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("as-of enrichment: out-of-order events join the latest-PRIOR dim row across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // tier history: user 1 was bronze from minute 0, gold from minute 60
    val builds = Seq(
      (1L, ts(0), "bronze"),
      (1L, ts(60), "gold"),
      (2L, ts(10), "basic"))
      .toDF("b_user", "b_ts", "tier")
    val out = java.nio.file.Files.createTempDirectory("asofout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("asofckpt").toString
    val in = MemoryStream[Event]
    val q = StreamOps.enrichAsOf(in.toDF(), builds,
      "user_id", "b_user", "ts", "b_ts", out, ckpt)
    try {
      // batch 1: an event AFTER the gold upgrade
      in.addData(ev(1, 70, user = 1L))
      q.processAllAvailable()
      // batch 2 arrives LATER but carries EARLIER event time (out-of-order
      // across batches) + a user with no dim row at all
      in.addData(ev(2, 30, user = 1L), ev(3, 5, user = 2L), ev(4, 40, user = 9L))
      q.processAllAvailable()
      val got = spark.read.parquet(out)
        .select($"event_id", $"tier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got === Map(
        1L -> Some("gold"), // minute 70 ≥ gold@60
        2L -> Some("bronze"), // minute 30: latest PRIOR is bronze@0, not gold
        3L -> None, // minute 5 < basic@10 → no prior row
        4L -> None)) // unknown user → left outer null
      // event-time semantics, no streaming state
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("exactly-once sink: replaying a batch overwrites its partition, no duplicates") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("eo").toString
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val in = MemoryStream[Event]
    val q1 = StreamOps.toParquetExactlyOnce(in.toDF(), out, ckpt)
    try {
      in.addData(ev(1, 5), ev(2, 6))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(spark.read.parquet(out).count() === 2)
    // re-run of the SAME batch (same id, same rows — the
    // crash-between-write-and-commit replay this sink defends against;
    // checkpoint-loss RE-BATCHING is out of scope, see scaladoc)
    val in2 = MemoryStream[Event]
    val q2 = StreamOps.toParquetExactlyOnce(in2.toDF(), out, s"$tmp/ckpt2")
    try {
      in2.addData(ev(1, 5), ev(2, 6))
      q2.processAllAvailable()
    } finally q2.stop()
    // batch 0 was overwritten, not appended: still 2 rows, 1 batch dir
    val rows = spark.read.parquet(out)
    assert(rows.count() === 2)
    assert(rows.select("batch_id").distinct().count() === 1)
    // and the dynamic-overwrite setting did NOT leak into the session
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }

  test("streaming dedup: duplicate event_ids across batches collapse") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.streamingDedup(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(ev(1, 0), ev(2, 1))
      q.processAllAvailable()
      in.addData(ev(1, 0), ev(3, 2)) // replay of id 1 + a new id
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("session windows: 30m gap splits sessions, append emits closed ones") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.sessionize(in.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: events at 0,10 (one session), then 60 (a new session);
      // advancing to 200m closes everything.
      in.addData(ev(1, 0), ev(2, 10), ev(3, 60))
      q.processAllAvailable()
      in.addData(ev(9, 200))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getAs[Timestamp]("ws"), r.getAs[Long]("n")))
      assert(rows.count(_ == (ts(0), 2L)) === 1)
      assert(rows.count(_ == (ts(60), 1L)) === 1)
    } finally q.stop()
  }

  test("mapGroupsWithState: running per-user counts across batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.runningUserCounts(in.toDS())
      .writeStream.format("memory").queryName("usercounts")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(ev(1, 0, user = 7), ev(2, 5, user = 7), ev(3, 1, user = 8))
      q.processAllAvailable()
      in.addData(ev(4, 10, user = 7))
      q.processAllAvailable()
      val last = spark.table("usercounts").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n")))
        .groupBy(_._1).map { case (u, xs) => u -> xs.map(_._2).max }
      assert(last === Map(7L -> 3L, 8L -> 1L))
    } finally q.stop()
  }

  test("dedup-on-arrival: later batches drop near-dups of already-kept docs") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dedup_arrival").toString
    val (corpusDir, indexDir) = (s"$tmp/corpus", s"$tmp/index")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dedupOnArrival(
      in.toDF().toDF("doc_id", "text"), corpusDir, indexDir,
      s"$tmp/ckpt", threshold = 0.6)
    try {
      // batch 1: two distinct docs + an in-batch near-dup of doc 1
      in.addData((1L, base + " one"), (2L, "totally different words entirely here now"),
        (3L, base + " two"))
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(corpusDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(afterB1 === Set(1L, 2L), s"in-batch near-dup must drop: $afterB1")
      // batch 2: near-dup of kept doc 1 (must drop against the INDEX) +
      // one genuinely new doc (must survive)
      in.addData((10L, base + " three"), (11L, "unrelated fresh content with novel tokens"))
      q.processAllAvailable()
      val afterB2 = spark.read.parquet(corpusDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(afterB2 === Set(1L, 2L, 11L),
        s"cross-batch near-dup must drop against the stored index: $afterB2")
      // the index covers exactly the kept docs
      val indexed = spark.read.parquet(indexDir)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed === afterB2)
    } finally q.stop()
  }

  test("dedup-on-arrival: an interrupted batch replay against a half-written store heals in place") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dedup_replay").toString
    val (corpusDir, indexDir) = (s"$tmp/corpus", s"$tmp/index")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    def state(dir: String): (Set[Long], Long) = {
      val df = spark.read.parquet(dir)
      (df.select("doc_id").distinct().collect().map(_.getLong(0)).toSet, df.count())
    }
    // batch 0 bootstraps; batch 1 has a near-dup of a kept doc (drops)
    // plus two genuinely new docs (kept)
    val b0 = Seq((1L, base + " one"), (2L, "totally different words entirely here now"))
      .toDF("doc_id", "text")
    val b1 = Seq((10L, base + " two"),
      (11L, "unrelated fresh content with novel tokens"),
      (12L, "yet another completely distinct document body")).toDF("doc_id", "text")
    StreamOps.dedupBatch(b0, 0L, corpusDir, indexDir, threshold = 0.6)
    StreamOps.dedupBatch(b1, 1L, corpusDir, indexDir, threshold = 0.6)
    val (corpusAfter, corpusRows) = state(corpusDir)
    val (indexAfter, _) = state(indexDir)
    val indexRows = spark.read.parquet(indexDir).count()
    assert(corpusAfter === Set(1L, 2L, 11L, 12L), s"batch-1 dedup: $corpusAfter")
    assert(indexAfter === corpusAfter)
    // CRASH WINDOW: batch 1 wrote its corpus partition but died before the
    // index write — wipe index/batch_id=1 to reproduce that exact state.
    // The replayed docs' buckets are now MISSING from the index, so they
    // must not self-collide; the partition overwrites must heal both
    // stores to the identical pre-crash state, not append duplicates.
    val p = java.nio.file.Paths.get(indexDir, "batch_id=1")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    StreamOps.dedupBatch(b1, 1L, corpusDir, indexDir, threshold = 0.6)
    assert(state(corpusDir) === ((corpusAfter, corpusRows)),
      "half-written replay must reproduce the identical corpus")
    assert(state(indexDir)._1 === indexAfter)
    assert(spark.read.parquet(indexDir).count() === indexRows,
      "index partition must be rebuilt exactly, not appended")
    // CRASH WINDOW 2: both writes landed but the offset commit didn't —
    // a full re-execution must be a no-op on the final state.
    StreamOps.dedupBatch(b1, 1L, corpusDir, indexDir, threshold = 0.6)
    assert(state(corpusDir) === ((corpusAfter, corpusRows)),
      "fully-written replay must be idempotent")
    assert(spark.read.parquet(indexDir).count() === indexRows)
  }

  test("dedup-on-arrival: pre-existing EMPTY store dirs read as bootstrap, not a crash-loop") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dedup_arrival_empty").toString
    val (corpusDir, indexDir) = (s"$tmp/corpus", s"$tmp/index")
    // A dir that exists but holds no data files (e.g. an empty first
    // micro-batch wrote only _SUCCESS) throws UNABLE_TO_INFER_SCHEMA on
    // read — which must map to bootstrap: a rethrow would fail the batch,
    // and every checkpoint replay hits the same state forever.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(corpusDir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(indexDir))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(corpusDir, "_SUCCESS"))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dedupOnArrival(
      in.toDF().toDF("doc_id", "text"), corpusDir, indexDir,
      s"$tmp/ckpt", threshold = 0.6)
    try {
      in.addData((1L, "alpha beta gamma delta epsilon"),
        (2L, "totally different words entirely here now"))
      q.processAllAvailable()
      val kept = spark.read.parquet(corpusDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L))
    } finally q.stop()
  }

  test("dedup-on-arrival: a CORRUPT store rethrows instead of silently skipping dedup") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dedup_arrival_corrupt").toString
    val (corpusDir, indexDir) = (s"$tmp/corpus", s"$tmp/index")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(corpusDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(corpusDir, "part-00000.snappy.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dedupOnArrival(
      in.toDF().toDF("doc_id", "text"), corpusDir, indexDir,
      s"$tmp/ckpt", threshold = 0.6)
    try {
      in.addData((1L, "alpha beta gamma delta epsilon"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  // ---------- ANN ingest on arrival ----------

  private def embSlices(): (Seq[(Long, Seq[Float])], Seq[(Long, Seq[Float])],
      Seq[(Long, Seq[Float])], org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val e = graft.catalog.Tables.embeddings(spark, sf())
    val rows = e.filter(col("vec_id") >= 5).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val probes = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    (rows.slice(0, 165).toSeq, rows.slice(165, 330).toSeq,
      rows.slice(330, 495).toSeq, probes)
  }

  test("ann-ingest-on-arrival: batches link into the growing graph; search spans all batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("ann_arrival").toString
    val (vecDir, edgeDir) = (s"$tmp/vecs", s"$tmp/edges")
    val (b1, b2, b3, probes) = embSlices()
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamOps.annIngestOnArrival(
      in.toDF().toDF("cand_id", "cv"), vecDir, edgeDir, s"$tmp/ckpt", r = 12)
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
    } finally q.stop()
    // store invariants: every vector landed once; per-batch edge
    // partitions bounded by |batch|·r; later batches' edges point only
    // at PRIOR corpus (append-only src discipline)
    val vecs = spark.read.parquet(vecDir)
    assert(vecs.count() === 495)
    val edges = spark.read.parquet(edgeDir)
    // partition-column values read back as INT — cast for stable reads
    val perBatch = edges.groupBy(col("batch_id").cast("long").as("b"))
      .count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perBatch.keySet === Set(0L, 1L, 2L))
    assert(perBatch(1L) <= 165L * 12 && perBatch(2L) <= 165L * 12)
    val b2ids = b2.map(_._1).toSet
    val srcs2 = edges.filter(col("batch_id") === 1L)
      .select("src").distinct().collect().map(_.getLong(0)).toSet
    assert(srcs2.subsetOf(b2ids), "batch 2 edges must originate in batch 2")
    // search quality across the incremental store: recall vs exact over
    // the FULL accumulated corpus (a search reaching only early batches
    // would miss late-arriving true neighbors)
    val e = graft.catalog.Tables.embeddings(spark, sf())
    val exact = graft.operators.Ann.bruteForceTopK(
      e.filter(col("vec_id") < 5), e.filter(col("vec_id") >= 5), 3)
      .select(col("probe_id"), col("cand_id"))
    val got = StreamOps.annIncrementalSearch(probes, vecDir, edgeDir, k = 3)
      .select(col("probe_id"), col("cand_id"))
    val nEx = exact.count()
    val hit = exact.join(got, Seq("probe_id", "cand_id")).count()
    // measured 15/15 with routing+prune (round-12 fixed-entry: 14/15)
    assert(hit.toDouble / nEx >= 0.8,
      s"incremental-store search recall $hit/$nEx below floor")
    // ---- compaction: fold the per-batch store, search must be IDENTICAL
    // (router copied verbatim so entries cannot move), file count bounded
    StreamOps.annCompactStore(spark, vecDir, edgeDir,
      s"$tmp/vecs_c", s"$tmp/edges_c", refreshRouter = false)
    val gotC = StreamOps.annIncrementalSearch(probes, s"$tmp/vecs_c", s"$tmp/edges_c", k = 3)
      .select(col("probe_id"), col("cand_id"), col("cos")).collect().toSet
    val gotFull = StreamOps.annIncrementalSearch(probes, vecDir, edgeDir, k = 3)
      .select(col("probe_id"), col("cand_id"), col("cos")).collect().toSet
    assert(gotC === gotFull, "compaction changed search results")
    import scala.jdk.CollectionConverters._
    def nParquet(d: String) = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(nParquet(s"$tmp/vecs_c") <= 2 && nParquet(s"$tmp/edges_c") <= 3,
      s"compacted store not bounded: ${nParquet(s"$tmp/vecs_c")} vec / ${nParquet(s"$tmp/edges_c")} edge files")
    assert(nParquet(vecDir) > nParquet(s"$tmp/vecs_c"),
      "compaction should shrink the vec store's file count")
    // a router REFRESH (kmeans over the full corpus) may move entries —
    // recall stays at/above the floor
    StreamOps.annCompactStore(spark, vecDir, edgeDir,
      s"$tmp/vecs_r", s"$tmp/edges_r", refreshRouter = true)
    val gotR = StreamOps.annIncrementalSearch(probes, s"$tmp/vecs_r", s"$tmp/edges_r", k = 3)
      .select(col("probe_id"), col("cand_id"))
    val hitR = exact.join(gotR, Seq("probe_id", "cand_id")).count()
    assert(hitR.toDouble / nEx >= 0.8,
      s"post-refresh-compaction recall $hitR/$nEx below floor")
    // post-compact ingest keeps working: a fresh batch lands beside the
    // compacted partition and is immediately searchable
    val extra = (900L to 905L).map { i =>
      (i, Seq.tabulate(64)(d => (((i * 31 + d * 7) % 13) - 6).toFloat / 6f))
    }
    StreamOps.annIngestBatch(extra.toDF("cand_id", "cv"), 7L,
      s"$tmp/vecs_c", s"$tmp/edges_c", 12)
    val vecsC = spark.read.parquet(s"$tmp/vecs_c")
    assert(vecsC.count() === 495 + 6)
    val probeNew = extra.take(1).map { case (i, v) => (i + 5000, v) }
      .toDF("probe_id", "pv")
    val gotNew = StreamOps.annIncrementalSearch(probeNew, s"$tmp/vecs_c", s"$tmp/edges_c", k = 3)
      .select(col("cand_id")).collect().map(_.getLong(0)).toSet
    assert(gotNew.exists(extra.map(_._1).toSet),
      "a probe equal to a post-compact vector must find its own batch")
  }

  test("ann-ingest: replaying a batch (intact and after a vec-only crash window) heals in place") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("ann_replay").toString
    val (vecDir, edgeDir) = (s"$tmp/vecs", s"$tmp/edges")
    val (b1, b2, _, _) = embSlices()
    def edgeSet(): Set[(Long, Long)] = spark.read.parquet(edgeDir)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    StreamOps.annIngestBatch(b1.toDF("cand_id", "cv"), 0L, vecDir, edgeDir, 12)
    StreamOps.annIngestBatch(b2.toDF("cand_id", "cv"), 1L, vecDir, edgeDir, 12)
    val afterB2 = edgeSet()
    val vecsAfterB2 = spark.read.parquet(vecDir).count()
    // full replay of batch 2 (same id, same data): stores unchanged
    StreamOps.annIngestBatch(b2.toDF("cand_id", "cv"), 1L, vecDir, edgeDir, 12)
    assert(edgeSet() === afterB2, "intact replay must be a no-op on edges")
    assert(spark.read.parquet(vecDir).count() === vecsAfterB2)
    // crash window: batch 2's vectors landed but its edges did not —
    // delete the edge partition and replay; the batch must not link to
    // its own half-written vectors, reproducing the original edges
    val p = java.nio.file.Paths.get(edgeDir, "batch_id=1")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    assert(edgeSet() !== afterB2) // the window is real
    StreamOps.annIngestBatch(b2.toDF("cand_id", "cv"), 1L, vecDir, edgeDir, 12)
    assert(edgeSet() === afterB2, "crash-window replay must reproduce the edges")
    // store-damage healing: the WHOLE edge store lost while vectors
    // remain — the defensive path rebuilds a full graph over corpus ∪
    // batch and writes it in one idempotent partition, so successors
    // return to batch-sized cost and every stored node has out-edges
    java.nio.file.Files.walk(java.nio.file.Paths.get(edgeDir))
      .iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
    StreamOps.annIngestBatch(b2.toDF("cand_id", "cv"), 1L, vecDir, edgeDir, 12)
    val healedSrcs = spark.read.parquet(edgeDir)
      .select("src").distinct().count()
    assert(healedSrcs === 330,
      s"healed graph must cover all stored nodes, got $healedSrcs")
    // the heal's split-write discipline: older nodes' edges live in the
    // RECOVERY partition, the batch's own in its partition
    val healed = spark.read.parquet(edgeDir)
    assert(healed.filter(col("batch_id").cast("long") === StreamOps.RecoveryBatchId)
      .select("src").distinct().count() === 165)
    // advice-12 regression: REPLAYING the heal batch (crash before the
    // streaming checkpoint committed) takes the link-by-search path and
    // dynamic-overwrites ONLY its own partition — the recovery
    // partition, and with it every older node's out-edges, must survive
    StreamOps.annIngestBatch(b2.toDF("cand_id", "cv"), 1L, vecDir, edgeDir, 12)
    val afterHealReplay = spark.read.parquet(edgeDir)
    assert(afterHealReplay.select("src").distinct().count() === 330,
      "a heal-batch replay clobbered the older nodes' out-edges")
    assert(afterHealReplay.filter(
        col("batch_id").cast("long") === StreamOps.RecoveryBatchId).count() > 0,
      "the recovery partition did not survive the replay")
  }

  test("ann-delete: tombstoned ids vanish from search, replay idempotent, compaction purges and heals") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("ann_delete").toString
    val (vecDir, edgeDir) = (s"$tmp/vecs", s"$tmp/edges")
    val (b1, b2, b3, probes) = embSlices()
    StreamOps.annIngestBatch(b1.toDF("cand_id", "cv"), 0L, vecDir, edgeDir, 12)
    StreamOps.annIngestBatch(b2.toDF("cand_id", "cv"), 1L, vecDir, edgeDir, 12)
    StreamOps.annIngestBatch(b3.toDF("cand_id", "cv"), 2L, vecDir, edgeDir, 12)
    // delete every probe's CURRENT top-1 — the adversarial set: ids the
    // search provably returns, sitting in well-connected neighborhoods
    val before = StreamOps.annIncrementalSearch(probes, vecDir, edgeDir, k = 3)
    val delIds = before.filter(col("rn") === 1)
      .select(col("cand_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(delIds.nonEmpty)
    // a copy of the pre-delete store, for the stream form below
    val (vecDirS, edgeDirS) = (s"$tmp/vecs_s", s"$tmp/edges_s")
    Seq(vecDir -> vecDirS, edgeDir -> edgeDirS).foreach { case (from, to) =>
      val src = java.nio.file.Paths.get(from)
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach(p => java.nio.file.Files.copy(p,
        java.nio.file.Paths.get(to).resolve(src.relativize(p))))
      finally walk.close()
    }
    StreamOps.annDeleteBatch(delIds.toSeq.toDF("cand_id"), 0L, vecDir)
    // 1) deleted ids never surface again; every probe still gets k rows
    val after = StreamOps.annIncrementalSearch(probes, vecDir, edgeDir, k = 3)
      .select(col("probe_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.forall { case (_, c) => !delIds.contains(c) },
      "a tombstoned id surfaced in search results")
    assert(after.groupBy(_._1).forall(_._2.length === 3),
      "every probe must still return k survivors")
    // 2) replaying the delete batch (same id, same data) is a no-op
    val tombBefore = spark.read.parquet(s"$vecDir/_tombstones").count()
    StreamOps.annDeleteBatch(delIds.toSeq.toDF("cand_id"), 0L, vecDir)
    assert(spark.read.parquet(s"$vecDir/_tombstones").count() === tombBefore)
    assert(StreamOps.annIncrementalSearch(probes, vecDir, edgeDir, k = 3)
      .select(col("probe_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === after.toSet,
      "delete replay must not change search results")
    // 2b) the stream form: the same deletes fed through annDeleteOnArrival
    // leave the same tombstones and the same search result
    implicit val sq = spark.sqlContext
    val in = MemoryStream[Long]
    val q = StreamOps.annDeleteOnArrival(in.toDF().toDF("cand_id"), vecDirS,
      s"$tmp/ckpt_del")
    try { in.addData(delIds.toSeq); q.processAllAvailable() } finally q.stop()
    def tombs(dir: String) = spark.read.parquet(s"$dir/_tombstones")
      .select(col("cand_id"), col("wm"), col("batch_id").cast("long"))
      .collect().map(_.toSeq).toSet
    assert(tombs(vecDirS) === tombs(vecDir))
    assert(StreamOps.annIncrementalSearch(probes, vecDirS, edgeDirS, k = 3)
      .select(col("probe_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === after.toSet,
      "stream deletes must search like the direct annDeleteBatch calls")
    // 3) compaction physically purges: vectors gone, tombstone sidecar
    // gone, no edge touches a deleted id, affected survivors re-linked
    StreamOps.annCompactStore(spark, vecDir, edgeDir,
      s"$tmp/vecs_c", s"$tmp/edges_c", refreshRouter = true)
    val vecsC = spark.read.parquet(s"$tmp/vecs_c")
    assert(vecsC.count() === 495 - delIds.size)
    assert(vecsC.filter(col("cand_id").isin(delIds.toSeq: _*)).count() === 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/vecs_c/_tombstones")),
      "compaction must purge the tombstone sidecar")
    val edgesC = spark.read.parquet(s"$tmp/edges_c")
    assert(edgesC.filter(col("src").isin(delIds.toSeq: _*) ||
      col("dst").isin(delIds.toSeq: _*)).count() === 0,
      "compacted store still carries edges of deleted nodes")
    // every survivor keeps out-edges (the heal re-links nodes that lost
    // neighbors; nothing falls off the graph)
    assert(edgesC.select("src").distinct().count() === 495L - delIds.size,
      "a survivor lost all its out-edges through the purge")
    // 4) search on the compacted store: still k survivors per probe, no
    // deleted ids, and recall vs exact-over-survivors holds the floor
    val gotC = StreamOps.annIncrementalSearch(probes, s"$tmp/vecs_c", s"$tmp/edges_c", k = 3)
      .select(col("probe_id"), col("cand_id"))
    assert(gotC.filter(col("cand_id").isin(delIds.toSeq: _*)).count() === 0)
    val e = graft.catalog.Tables.embeddings(spark, sf())
    val exactSurv = graft.operators.Ann.bruteForceTopK(
      e.filter(col("vec_id") < 5),
      e.filter(col("vec_id") >= 5 && !col("vec_id").isin(delIds.toSeq: _*)), 3)
      .select(col("probe_id"), col("cand_id"))
    val nEx = exactSurv.count()
    val hit = exactSurv.join(gotC, Seq("probe_id", "cand_id")).count()
    assert(hit.toDouble / nEx >= 0.8,
      s"post-delete-compaction recall $hit/$nEx below floor")
  }

  test("ann-delete: re-ingesting a deleted id after the watermark restores it (upsert law)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("ann_upsert").toString
    val (vecDir, edgeDir) = (s"$tmp/vecs", s"$tmp/edges")
    val (b1, _, _, probes) = embSlices()
    StreamOps.annIngestBatch(b1.toDF("cand_id", "cv"), 0L, vecDir, edgeDir, 12)
    val x = StreamOps.annIncrementalSearch(probes, vecDir, edgeDir, k = 1)
      .select(col("cand_id")).first().getLong(0)
    StreamOps.annDeleteBatch(Seq(x).toDF("cand_id"), 0L, vecDir)
    assert(StreamOps.annStoreVectors(spark, vecDir)
      .filter(col("cand_id") === x).count() === 0, "deleted id still live")
    // re-ingest the SAME id (same geometry) in a newer batch — the
    // tombstone's watermark (wm = 0) must not hide batch 1's row
    StreamOps.annIngestBatch(b1.filter(_._1 == x).toDF("cand_id", "cv"),
      1L, vecDir, edgeDir, 12)
    val live = StreamOps.annStoreVectors(spark, vecDir)
    assert(live.filter(col("cand_id") === x).count() === 1,
      "re-ingested id must be live exactly once")
    val again = StreamOps.annIncrementalSearch(probes, vecDir, edgeDir, k = 3)
      .select(col("cand_id")).collect().map(_.getLong(0)).toSet
    assert(again.contains(x), "re-ingested id must be searchable again")
    // replaying the COMMITTED delete must not re-hide the re-ingest
    // (coverage never extends past first commit — the marker contract)
    StreamOps.annDeleteBatch(Seq(x).toDF("cand_id"), 0L, vecDir)
    assert(StreamOps.annStoreVectors(spark, vecDir)
      .filter(col("cand_id") === x).count() === 1,
      "replayed delete re-hid a post-watermark re-ingest")
    // compaction: the re-ingested id survives (newest row), a dead id
    // does not, the sidecar purges either way
    val z = again.find(_ != x).get
    StreamOps.annDeleteBatch(Seq(z).toDF("cand_id"), 1L, vecDir)
    StreamOps.annCompactStore(spark, vecDir, edgeDir,
      s"$tmp/vecs_c", s"$tmp/edges_c", refreshRouter = false)
    val vecsC = spark.read.parquet(s"$tmp/vecs_c")
    assert(vecsC.filter(col("cand_id") === x).count() === 1,
      "re-ingested id must survive compaction once")
    assert(vecsC.filter(col("cand_id") === z).count() === 0,
      "dead id must not survive compaction")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$tmp/vecs_c/_tombstones")))
    val edgesC = spark.read.parquet(s"$tmp/edges_c")
    assert(edgesC.filter(col("src") === z || col("dst") === z).count() === 0,
      "compacted store still carries edges of a dead node")
    val gotC = StreamOps.annIncrementalSearch(
        probes, s"$tmp/vecs_c", s"$tmp/edges_c", k = 3)
      .select(col("cand_id")).collect().map(_.getLong(0)).toSet
    assert(gotC.contains(x) && !gotC.contains(z),
      "compacted search must keep the re-ingested id and drop the dead one")
  }

  test("ann-delete: re-ingest with CHANGED geometry serves the new vector (upsert moves, not just restores)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("ann_move").toString
    val (vecDir, edgeDir) = (s"$tmp/vecs", s"$tmp/edges")
    val (b1, _, _, probes) = embSlices()
    StreamOps.annIngestBatch(b1.toDF("cand_id", "cv"), 0L, vecDir, edgeDir, 12)
    val probe0 = probes.filter(col("probe_id") === 0L)
    val x = StreamOps.annIncrementalSearch(probe0, vecDir, edgeDir, k = 1)
      .select(col("cand_id")).first().getLong(0)
    StreamOps.annDeleteBatch(Seq(x).toDF("cand_id"), 0L, vecDir)
    // re-ingest x with probe 0's OWN vector — cosine(probe0, x) becomes
    // exactly 1.0, so the upsert must not only restore x but serve the
    // NEW geometry: x returns at rank 1 with cos 1.0
    val pv = probe0.select(col("pv")).first().getSeq[Float](0)
    StreamOps.annIngestBatch(Seq((x, pv)).toDF("cand_id", "cv"),
      1L, vecDir, edgeDir, 12)
    val top = StreamOps.annIncrementalSearch(probe0, vecDir, edgeDir, k = 1)
      .select(col("cand_id"), col("cos")).first()
    assert(top.getLong(0) === x && top.getDouble(1) === 1.0,
      s"re-ingested id must serve its NEW vector (got $top)")
    // the OLD geometry is gone from every read path: the live view holds
    // exactly the new row, and its cosine against probe 0 is 1.0
    val live = StreamOps.annStoreVectors(spark, vecDir)
      .filter(col("cand_id") === x)
      .select(graft.queries.Sim.cosine(col("cv"), typedlit(pv)).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(live === Seq(1.0), s"live view must hold only the new vector, got $live")
  }

  test("quantile store: mixed INT32/INT64 rnk fails fast with guidance; migrate restores reads") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("qstore_mixed").toString
    val vals = (1L to 500L).map(i => ("d1", i)).toDF("day", "v")
    // new-format partition through the real writer (rnk BIGINT)
    StreamOps.quantileSummaryBatch(vals, 0L, store, k = 16)
    // pre-round-14 partition: same summary shape, rnk as INT32
    graft.operators.Freq.quantileSummary(
        (501L to 900L).map(i => ("d1", i)).toDF("day", "v"), 16)
      .select(col("day"), col("v"), col("rnk").cast("int").as("rnk"), col("w"))
      .write.mode("overwrite").parquet(s"$store/batch_id=1")
    val err = intercept[IllegalStateException] {
      StreamOps.quantileStoreRead(spark, store, Seq(50)).collect()
    }
    assert(err.getMessage.contains("quantileStoreMigrate"),
      s"error must point at the migration helper, got: ${err.getMessage}")
    // migrate into a fresh store; reads work and Σw is preserved
    val fresh = java.nio.file.Files.createTempDirectory("qstore_migr").toString
    StreamOps.quantileStoreMigrate(spark, store, fresh)
    val got = StreamOps.quantileStoreRead(spark, fresh, Seq(50, 99))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    assert(got.map(_._2).toSet === Set(900L), "migrated store must preserve Σw = n")
    assert(got.length === 2 && got.forall(t => t._3 >= 1L && t._3 <= 900L))
  }

  test("bm25-on-arrival: store search ≡ batch build; upsert latest-wins; replay idempotent") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("bm25_arrival").toString
    val idx = s"$tmp/index"
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select($"doc_id", $"text")
    // --- equivalence: 3-batch ingest of the fixture corpus must score
    // IDENTICALLY to a from-scratch batch build (shared scoring tail +
    // exact integer stats — no tolerance, exact row equality)
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.bm25OnArrival(
      in.toDF().toDF("doc_id", "text"), idx, s"$tmp/ckpt")
    val rows = docs.as[(Long, String)].collect()
    try {
      rows.grouped((rows.length + 2) / 3).foreach { g =>
        in.addData(g.toSeq); q.processAllAvailable()
      }
    } finally q.stop()
    val terms = graft.queries.Search.queryTerms
    val fromStore = StreamOps.bm25StoreSearch(spark, idx, terms, 10)
      .collect().map(_.toSeq)
    val fromBatch = graft.queries.Search.bm25(docs, terms, 10)
      .collect().map(_.toSeq)
    assert(fromStore.toSeq === fromBatch.toSeq,
      "arrival-index search must equal the batch build exactly")
    // loop-family fallback arm: the shuffle-join route (for stopword-class
    // queries whose candidate set is corpus-sized) is result-identical
    val fromStoreShuffle = StreamOps.bm25StoreSearch(spark, idx, terms, 10,
      broadcastCandidates = false).collect().map(_.toSeq)
    assert(fromStoreShuffle.toSeq === fromBatch.toSeq,
      "shuffle-candidate arm must equal the broadcast arm")
    // --- upsert: re-ingesting the top doc with REPLACED text in a later
    // batch supersedes its old postings — store search equals a batch
    // build over the updated corpus (latest-wins, not union)
    val topDoc = fromBatch.head.head.asInstanceOf[Long]
    val newText = "spark spark stream vector"
    StreamOps.bm25IngestBatch(
      Seq((topDoc, newText)).toDF("doc_id", "text"), 100L, idx)
    val updated = docs.withColumn("text",
      when($"doc_id" === topDoc, lit(newText)).otherwise($"text"))
    val storeUp = StreamOps.bm25StoreSearch(spark, idx, terms, 10)
      .collect().map(_.toSeq)
    val batchUp = graft.queries.Search.bm25(updated, terms, 10)
      .collect().map(_.toSeq)
    assert(storeUp.toSeq === batchUp.toSeq,
      "upserted doc must be scored on its NEW text only")
    // --- replay idempotence: re-running the upsert batch body is a
    // no-op on BOTH the postings root and the _docs sidecar
    def storeState() =
      (spark.read.parquet(idx).collect().map(_.toSeq).toSet,
        spark.read.parquet(s"$idx/_docs").collect().map(_.toSeq).toSet)
    val before = storeState()
    StreamOps.bm25IngestBatch(
      Seq((topDoc, newText)).toDF("doc_id", "text"), 100L, idx)
    assert(before === storeState(), "batch replay must be a no-op on the store")
    // --- same-batch duplicate doc_ids resolve to ONE deterministic
    // winner (max content hash), never a postings union of both versions
    val vA = "vector vector stream"; val vB = "join join agg"
    val winner = if (java.security.MessageDigest.getInstance("MD5")
        .digest(vA.getBytes).map("%02x".format(_)).mkString >
      java.security.MessageDigest.getInstance("MD5")
        .digest(vB.getBytes).map("%02x".format(_)).mkString) vA else vB
    StreamOps.bm25IngestBatch(
      Seq((topDoc, vA), (topDoc, vB)).toDF("doc_id", "text"), 101L, idx)
    val dupStore = StreamOps.bm25StoreSearch(spark, idx, terms, 10)
      .collect().map(_.toSeq)
    val dupCorpus = docs.withColumn("text",
      when($"doc_id" === topDoc, lit(winner)).otherwise($"text"))
    val dupBatch = graft.queries.Search.bm25(dupCorpus, terms, 10)
      .collect().map(_.toSeq)
    assert(dupStore.toSeq === dupBatch.toSeq,
      "in-batch duplicates must resolve to the deterministic winner")
    // --- NULL text is the deletion marker: the doc leaves postings AND
    // corpus stats (store ≡ batch build over the corpus WITHOUT the doc)
    StreamOps.bm25IngestBatch(
      Seq((topDoc, null.asInstanceOf[String])).toDF("doc_id", "text"),
      102L, idx)
    val delStore = StreamOps.bm25StoreSearch(spark, idx, terms, 10)
      .collect().map(_.toSeq)
    val delBatch = graft.queries.Search.bm25(
      docs.filter($"doc_id" =!= topDoc), terms, 10)
      .collect().map(_.toSeq)
    assert(delStore.toSeq === delBatch.toSeq,
      "a null-text win must delete the doc from postings and stats")
    // --- compaction: fresh store holds ONE version per doc, serves the
    // same scores (including the deletion above), and post-compact
    // ingest still wins (-2 < any batch)
    val cidx = s"$tmp/compacted"
    StreamOps.bm25CompactStore(spark, idx, cidx)
    val storeC = StreamOps.bm25StoreSearch(spark, cidx, terms, 10)
      .collect().map(_.toSeq)
    assert(storeC.toSeq === delStore.toSeq,
      "compacted store must serve the pre-compaction scores")
    val versions = spark.read.parquet(s"$cidx/_docs")
      .groupBy($"doc_id").count().filter($"count" > 1).count()
    assert(versions === 0L, "compaction must keep one version per doc")
    assert(spark.read.parquet(cidx)
      .select($"batch_id".cast("long")).distinct().count() === 1L)
    // re-ingest of the DELETED doc after compaction resurrects it
    StreamOps.bm25IngestBatch(
      Seq((topDoc, "agg agg agg")).toDF("doc_id", "text"), 0L, cidx)
    val reUp = StreamOps.bm25StoreSearch(spark, cidx, terms, 10)
      .collect().map(_.toSeq)
    val reBatch = graft.queries.Search.bm25(
      docs.withColumn("text",
        when($"doc_id" === topDoc, lit("agg agg agg")).otherwise($"text")),
      terms, 10).collect().map(_.toSeq)
    assert(reUp.toSeq === reBatch.toSeq,
      "post-compaction ingest must supersede the compacted version")
  }

  test("quantile-on-arrival: batch summaries accrete; store read within bound; replay idempotent") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("q_arrival").toString
    val store = s"$tmp/summaries"
    // three batches over two days with very different shapes (skewed
    // power-law + uniform), day d1 split ACROSS batches
    val b1 = (1 to 900).map(i => ("d1", (i.toLong * i * i) / 7))
    val b2 = (1 to 700).map(i => ("d1", i.toLong * 13 % 1000))
    val b3 = (1 to 800).map(i => ("d2", 500000L + i.toLong * 17 % 5000))
    val in = MemoryStream[(String, Long)]
    val q = StreamOps.quantileOnArrival(
      in.toDF().toDF("day", "v"), store, s"$tmp/ckpt", k = 64)
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
    } finally q.stop()
    // store invariants: one partition per batch, sketch-sized, Σw = n
    val raw = spark.read.parquet(store)
    assert(raw.select(col("batch_id").cast("long")).distinct().count() === 3)
    val n = (b1 ++ b2 ++ b3).length
    assert(raw.agg(sum("w")).collect()(0).getLong(0) === n.toLong)
    assert(raw.count() <= 4 * 65, "store must hold sketch rows, not facts")
    // merged read within the documented bound: tol = n/k + #(batch, day) blocks
    val sorted = (b1 ++ b2 ++ b3).map(_._2).sorted
    val tol = n / 64 + 3
    val got = StreamOps.quantileStoreRead(spark, store, Seq(50, 95))
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    for ((qp, (r, est)) <- got) {
      val lo = sorted((math.max(1L, r - tol) - 1).toInt)
      val hi = sorted((math.min(n.toLong, r + tol) - 1).toInt)
      assert(est >= lo && est <= hi, s"q$qp: est $est outside [$lo, $hi]")
    }
    // replay idempotence: re-running batch 1's body rewrites identical rows
    val before = raw.collect().map(_.toSeq).toSet
    StreamOps.quantileSummaryBatch(b1.toDF("day", "v"), 0L, store, 64)
    val after = spark.read.parquet(store).collect().map(_.toSeq).toSet
    assert(before === after, "batch replay must be a no-op on the store")
    // ---- compaction: fold per-(batch, day) blocks into ≤ k rows per day;
    // Σw preserved, reads still in bound (2·n/k + D after the fold), and
    // a re-compaction of the compacted store is a fixpoint
    StreamOps.quantileCompactStore(spark, store, s"$tmp/sum_c", k = 64)
    val c = spark.read.parquet(s"$tmp/sum_c")
    assert(c.agg(sum("w")).collect()(0).getLong(0) === n.toLong,
      "compaction must preserve total weight")
    val perDay = c.groupBy("day").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perDay.values.forall(_ <= 64), s"compacted day over k rows: $perDay")
    // the split day d1 held 2 batch blocks (~130 rows) — compaction folds it
    assert(perDay("d1") <= 64)
    val tolC = 2 * (n / 64) + 2
    val gotC = StreamOps.quantileStoreRead(spark, s"$tmp/sum_c", Seq(50, 95))
      .collect().map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    for ((qp, (r, est)) <- gotC) {
      val lo = sorted((math.max(1L, r - tolC) - 1).toInt)
      val hi = sorted((math.min(n.toLong, r + tolC) - 1).toInt)
      assert(est >= lo && est <= hi, s"q$qp post-compact: est $est outside [$lo, $hi]")
    }
    StreamOps.quantileCompactStore(spark, s"$tmp/sum_c", s"$tmp/sum_c2", k = 64)
    val again = spark.read.parquet(s"$tmp/sum_c2")
      .select("day", "v", "rnk", "w").collect().map(_.toSeq).toSet
    assert(again === c.select("day", "v", "rnk", "w").collect().map(_.toSeq).toSet,
      "re-compacting a compacted store must be a fixpoint")
    // post-compact ingest keeps working: a fresh batch lands beside the
    // compacted partition and the merged read sees both
    StreamOps.quantileSummaryBatch(b3.toDF("day", "v"), 9L, s"$tmp/sum_c", 64)
    assert(spark.read.parquet(s"$tmp/sum_c").agg(sum("w"))
      .collect()(0).getLong(0) === n.toLong + b3.length)
  }

  test("topk-on-arrival: MG guarantee holds per item; replay idempotent; compaction keeps the bound") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("topk_arrival").toString
    val store = s"$tmp/mg"
    // two LOSSY batches (distinct ≫ k = 16: a planted heavy hitter over
    // a wide uniform tail) + one EXACT batch (≤ k distinct)
    val b1 = Seq.fill(500)("hot") ++ (1 to 900).map(i => s"t${i % 300}")
    val b2 = Seq.fill(400)("hot") ++ Seq.fill(250)("warm") ++
      (1 to 800).map(i => s"u${i % 200}")
    val b3 = Seq.fill(120)("hot") ++ Seq.fill(80)("warm") ++ Seq.fill(40)("cool")
    val all = b1 ++ b2 ++ b3
    val truth = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val in = MemoryStream[String]
    val q = StreamOps.topkOnArrival(
      in.toDF().toDF("item"), store, s"$tmp/ckpt", k = 16)
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
    } finally q.stop()
    // store invariants: ≤ k survivor rows per batch, plus EXACTLY ONE
    // in-partition audit row (item NULL) carrying the exact total and a
    // decrement within the n_b/(k+1) bound — survivors and their dec
    // commit in one write (the crash-window law)
    val raw = spark.read.parquet(store)
    val perBatch = raw.filter(!col("audit"))
      .groupBy("batch_id").count().collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    assert(perBatch.values.forall(_ <= 16), s"over-k batch summary: $perBatch")
    val auditPerBatch = raw.filter(col("audit"))
      .groupBy("batch_id").count().collect().map(_.getLong(1))
    assert(auditPerBatch.length === 3 && auditPerBatch.forall(_ === 1L),
      "each batch partition must hold exactly one audit row")
    val meta = raw.filter(col("audit"))
      .select(col("n"), col("dec"), col("batch_id").cast("long"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getLong(1))).toMap
    assert(meta(0L)._1 === b1.size.toLong && meta(1L)._1 === b2.size.toLong &&
      meta(2L)._1 === b3.size.toLong)
    assert(meta.forall { case (_, (n, dec)) => dec <= n / 17 },
      s"per-batch decrement above n/(k+1): $meta")
    assert(meta(2L)._2 === 0L, "the ≤ k-distinct batch must be exact")
    // the read: n exact, max_err = Σ dec, and for EVERY item
    // lb ≤ true ≤ lb + max_err (lb = 0 when the item was compressed away)
    val top = StreamOps.topkStoreRead(spark, store, 5).collect()
    assert(top.head.getString(0) === "hot")
    val (n, maxErr) = (top.head.getLong(2), top.head.getLong(3))
    assert(n === all.size.toLong)
    assert(maxErr === meta.values.map(_._2).sum && maxErr > 0)
    val lbs = spark.read.parquet(store).filter(!col("audit"))
      .groupBy("item").agg(sum("cnt").as("lb")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (item, t) =>
      val lb = lbs.getOrElse(item, 0L)
      assert(lb <= t && t <= lb + maxErr, s"$item: true $t outside [$lb, ${lb + maxErr}]")
    }
    // replay idempotence: re-running a lossy batch body is a store no-op
    val before = raw.collect().map(_.toSeq).toSet
    StreamOps.topkSummaryBatch(b1.toDF("item"), 0L, store, 16)
    assert(spark.read.parquet(store).collect().map(_.toSeq).toSet === before)
    // compaction: ≤ k rows total, error budget moves INTO _meta (bound
    // law intact for every item), fixpoint on re-compaction
    StreamOps.topkCompactStore(spark, store, s"$tmp/mg_c", k = 16)
    val c = spark.read.parquet(s"$tmp/mg_c").filter(!col("audit"))
    assert(c.count() <= 16)
    val topC = StreamOps.topkStoreRead(spark, s"$tmp/mg_c", 5).collect()
    assert(topC.head.getString(0) === "hot")
    val (nC, errC) = (topC.head.getLong(2), topC.head.getLong(3))
    assert(nC === all.size.toLong && errC >= maxErr && errC <= nC / 17 + maxErr)
    val lbsC = c.groupBy("item").agg(sum("cnt").as("lb")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (item, t) =>
      val lb = lbsC.getOrElse(item, 0L)
      assert(lb <= t && t <= lb + errC, s"$item post-compact: $t outside [$lb, ${lb + errC}]")
    }
    StreamOps.topkCompactStore(spark, s"$tmp/mg_c", s"$tmp/mg_c2", k = 16)
    assert(spark.read.parquet(s"$tmp/mg_c2").filter(!col("audit"))
      .select("item", "cnt")
      .collect().map(_.toSeq).toSet ===
      c.select("item", "cnt").collect().map(_.toSeq).toSet,
      "re-compacting a compacted store must be a fixpoint")
    // post-compact ingest lands beside the folded partition; totals add
    StreamOps.topkSummaryBatch(b3.toDF("item"), 9L, s"$tmp/mg_c", 16)
    val top2 = StreamOps.topkStoreRead(spark, s"$tmp/mg_c", 1).collect()
    assert(top2.head.getLong(2) === all.size.toLong + b3.size)
    // exact regime end to end: k ≥ distinct ⇒ whole counts, zero budget
    val exact = s"$tmp/mg_exact"
    StreamOps.topkSummaryBatch(b3.toDF("item"), 0L, exact, 16)
    val ex = StreamOps.topkStoreRead(spark, exact, 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(ex === Map("hot" -> (120L, 0L), "warm" -> (80L, 0L), "cool" -> (40L, 0L)))
    // an all-empty-batch store holds only in-partition audit rows —
    // they carry the schema, so the read is the empty summary
    val emptyStore = s"$tmp/mg_empty"
    StreamOps.topkSummaryBatch(
      Seq.empty[String].toDF("item"), 0L, emptyStore, 16)
    assert(StreamOps.topkStoreRead(spark, emptyStore, 3).count() === 0)
    // a NULL item is a legitimate stream value, NOT the audit sentinel:
    // it survives as a countable key and the guarantee covers it
    val nullStore = s"$tmp/mg_null"
    StreamOps.topkSummaryBatch(
      (Seq.fill(100)(None: Option[String]) ++ Seq.fill(7)(Some("a")))
        .toDF("item"), 0L, nullStore, 16)
    val nRows = StreamOps.topkStoreRead(spark, nullStore, 3).collect()
    assert(nRows.head.isNullAt(0) && nRows.head.getLong(1) === 100L,
      s"null item must top the read: ${nRows.mkString(",")}")
    assert(nRows.head.getLong(2) === 107L && nRows.head.getLong(3) === 0L,
      "exact regime: n counts nulls, zero error budget")
  }

  test("topk store: pre-audit-column (_meta sidecar) format fails fast; migrate restores reads") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("topk_migrate").toString
    val old = s"$tmp/mg_old"
    // hand-write the ROUND-15 layout: survivor partitions + _meta sidecar
    Seq(("hot", 90L), ("warm", 40L)).toDF("item", "cnt")
      .write.parquet(s"$old/batch_id=0")
    Seq((200L, 10L)).toDF("n", "dec")
      .write.parquet(s"$old/_meta/batch_id=0")
    Seq(("hot", 25L)).toDF("item", "cnt")
      .write.parquet(s"$old/batch_id=1")
    Seq((25L, 0L)).toDF("n", "dec")
      .write.parquet(s"$old/_meta/batch_id=1")
    // a meta-only batch (every item decremented away)
    Seq((17L, 17L)).toDF("n", "dec")
      .write.parquet(s"$old/_meta/batch_id=2")
    // the audit-column read must fail FAST with migration guidance, not
    // silently drop the pre-upgrade batches
    val err = intercept[IllegalArgumentException] {
      StreamOps.topkStoreRead(spark, old, 3).collect()
    }
    assert(err.getMessage.contains("topkStoreMigrate"), err.getMessage)
    // migrate → reads carry every batch's counts and the full budget
    StreamOps.topkStoreMigrate(spark, old, s"$tmp/mg_new")
    val top = StreamOps.topkStoreRead(spark, s"$tmp/mg_new", 3).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(top("hot") === ((115L, 242L, 27L)), s"got $top")
    assert(top("warm")._1 === 40L)
    // post-migration ingest lands beside the migrated partitions
    StreamOps.topkSummaryBatch(Seq.fill(5)("hot").toDF("item"),
      9L, s"$tmp/mg_new", 16)
    val top2 = StreamOps.topkStoreRead(spark, s"$tmp/mg_new", 1).collect()
    assert(top2.head.getLong(1) === 120L && top2.head.getLong(2) === 247L)
  }

  test("topk store: MIXED old/new-format store fails fast (advice r16), never a silent drop") {
    import spark.implicits._
    // batch 0 in the round-15 layout (no audit column) …
    val tmp = java.nio.file.Files.createTempDirectory("topk_mixed").toString
    val store = s"$tmp/mg_mixed"
    Seq(("hot", 90L)).toDF("item", "cnt").write.parquet(s"$store/batch_id=0")
    Seq((100L, 10L)).toDF("n", "dec").write.parquet(s"$store/_meta/batch_id=0")
    // … resumed by the NEW writer: the inferred schema may now carry the
    // audit column, so the schema check alone can pass while batch 0's
    // rows read audit NULL and would fail BOTH read filters — the exact
    // silent understatement of lb/n/max_err the guard exists for
    StreamOps.topkSummaryBatch(Seq.fill(7)("hot").toDF("item"), 1L, store, 16)
    val err = intercept[IllegalArgumentException] {
      StreamOps.topkStoreRead(spark, store, 3).collect()
    }
    assert(err.getMessage.contains("topkStoreMigrate"), err.getMessage)
    val err2 = intercept[IllegalArgumentException] {
      StreamOps.topkCompactStore(spark, store, s"$tmp/mg_mixed_c", 16)
    }
    assert(err2.getMessage.contains("topkStoreMigrate"), err2.getMessage)
  }

  test("distinct-on-arrival: store read ≡ from-scratch sketch; replay idempotent; compaction lossless") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("hll_arrival").toString
    val store = s"$tmp/hll"
    // three batches over two days, ids overlapping across batches (the
    // union read must not double-count recurring ids)
    val b1 = (1 to 600).map(i => ("d1", (i % 400).toLong))
    val b2 = (1 to 500).map(i => ("d1", (i % 450 + 100).toLong))
    val b3 = (1 to 400).map(i => ("d2", (i % 300).toLong))
    val in = MemoryStream[(String, Long)]
    val q = StreamOps.distinctOnArrival(
      in.toDF().toDF("day", "id"), store, s"$tmp/ckpt", lgK = 14)
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
    } finally q.stop()
    // store invariants: one sketch row per (batch, day) — KB-scale
    val raw = spark.read.parquet(store)
    assert(raw.count() === 3, "one sketch row per batch-day block")
    // merge law: the union read equals the from-scratch sketch estimate
    // (register-max union — not just within tolerance, IDENTICAL)
    val got = StreamOps.distinctStoreRead(spark, store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = (b1 ++ b2 ++ b3).toDF("day", "id")
      .groupBy($"day")
      .agg(hll_sketch_estimate(hll_sketch_agg($"id", lit(14))).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === direct, s"store $got vs direct $direct")
    // ...and both sit within the lgK-14 tolerance of exact
    val exact = Map("d1" -> (b1 ++ b2).filter(_._1 == "d1").map(_._2).distinct.size.toLong,
      "d2" -> b3.map(_._2).distinct.size.toLong)
    exact.foreach { case (d, ex) =>
      assert(math.abs(got(d) - ex) <= math.max(2L, ex / 20), s"$d: ${got(d)} vs $ex") }
    // replay idempotence at READ level: sparse-mode HLL serialization
    // preserves coupon insertion order, so replaying the same data
    // under a different partitioning can rewrite different BYTES — but
    // the register state (and so every read) is identical; that is the
    // law a register-max sketch store can and does promise
    def snap() = spark.read.parquet(store).collect()
      .map(r => (r.getString(0), r.get(2).toString)).toSet
    val before = snap()
    StreamOps.distinctSummaryBatch(b2.toDF("day", "id"), 1L, store, 14)
    assert(snap() === before, "replay must keep the same (day, batch) rows")
    val gotReplay = StreamOps.distinctStoreRead(spark, store).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotReplay === got, "replay must not change any read")
    // compaction: one row per day, reads identical, fixpoint
    StreamOps.distinctCompactStore(spark, store, s"$tmp/hll_c")
    val c = spark.read.parquet(s"$tmp/hll_c")
    assert(c.count() === 2)
    val gotC = StreamOps.distinctStoreRead(spark, s"$tmp/hll_c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotC === got, "compaction must be read-lossless")
    StreamOps.distinctCompactStore(spark, s"$tmp/hll_c", s"$tmp/hll_c2")
    val gotC2 = StreamOps.distinctStoreRead(spark, s"$tmp/hll_c2").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotC2 === got, "re-compaction must be a read fixpoint")
    // post-compact ingest lands beside the folded partition
    StreamOps.distinctSummaryBatch(
      Seq(("d2", 999999L)).toDF("day", "id"), 9L, s"$tmp/hll_c", 14)
    val got2 = StreamOps.distinctStoreRead(spark, s"$tmp/hll_c").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got2("d2") === got("d2") + 1, s"fresh id must count: $got2 vs $got")
  }

  test("ann-ingest: incremental store at the 4× sf0.1 corpus holds the fixture recall floor") {
    // The round-12 verdict's ONLY measured quality regression: the
    // incremental store's recall fell 14/15 → 13/15 at 4× corpus under
    // fixed entries. With router-medoid entries + α-pruned linking the
    // same construction measures 15/15 — pinned here at ≥ 14/15. Corpus
    // = re-signed sf0.1 replicas (the ann_descent probe construction),
    // ingested as 3 batches so two of them take the link-by-search path.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb1 = graft.catalog.Tables.embeddings(spark, sf("sf0.1"))
    val corpus = (0 until 4).map { i =>
      emb1.filter(col("vec_id") >= 5)
        .select((col("vec_id") + lit(i.toLong * 10000000L)).as("cand_id"),
          transform(col("embedding"), (x, d) =>
            (x * when(pmod(hash(lit(i), d), lit(2)) === 0, 1.0f)
              .otherwise(-1.0f)).cast("float")).as("cv"))
    }.reduce(_ unionAll _).localCheckpoint()
    val probes = emb1.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
    val all = corpus.orderBy(col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val tmp = java.nio.file.Files.createTempDirectory("ann_4x").toString
    val (vecDir, edgeDir) = (s"$tmp/vecs", s"$tmp/edges")
    all.grouped((all.length + 2) / 3).zipWithIndex.foreach { case (sl, i) =>
      StreamOps.annIngestBatch(sl.toSeq.toDF("cand_id", "cv"), i.toLong,
        vecDir, edgeDir, 24)
    }
    val got = StreamOps.annIncrementalSearch(probes, vecDir, edgeDir, k = 3)
      .select(col("probe_id"), col("cand_id"))
    val exact = graft.operators.Ann.bruteForceTopK(
      probes.select(col("probe_id").as("vec_id"), col("pv").as("embedding")),
      corpus.select(col("cand_id").as("vec_id"), col("cv").as("embedding")), 3)
      .select(col("probe_id"), col("cand_id"))
    val nEx = exact.count()
    val hit = exact.join(got, Seq("probe_id", "cand_id")).count()
    graft.util.Frames.releaseCheckpoint(corpus)
    assert(hit.toDouble / nEx >= 14.0 / 15.0,
      s"4× incremental recall $hit/$nEx below the fixture floor (measured 15/15)")
  }

  test("edges-on-arrival: rank read ≡ batch recompute; replay idempotent; compaction invariant") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("edges_arrival").toString
    val store = s"$tmp/edges"
    // a small symmetric graph arriving in three batches, with duplicate
    // edges across batches (the distinct union read must not double-count)
    def sym(p: Seq[(Long, Long)]) = p ++ p.map(e => (e._2, e._1))
    val b1 = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    val b2 = sym(Seq((4L, 5L), (5L, 6L), (1L, 2L)))
    val b3 = sym(Seq((6L, 7L), (7L, 8L), (2L, 3L)))
    val in = MemoryStream[(Long, Long)]
    val q = StreamOps.edgesOnArrival(
      in.toDF().toDF("src", "dst"), store, s"$tmp/ckpt")
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
    } finally q.stop()
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // the rank read IS the shared loop over the hand-unioned distinct edges
    val got = ranks(StreamOps.pagerankStoreRead(spark, store, iters = 3))
    val direct = ranks(graft.operators.Graph.pagerank(
      (b1 ++ b2 ++ b3).distinct.toDF("src", "dst"), iters = 3))
    assert(got === direct && got.size === 8, s"store $got vs direct $direct")
    // replay: rewriting batch 0's partition changes no read
    StreamOps.edgesIngestBatch(b1.toDF("src", "dst"), 0L, store)
    assert(ranks(StreamOps.pagerankStoreRead(spark, store, 3)) === got,
      "replay must not change the rank read")
    // compaction: one folded partition, reads identical, and a
    // post-compact batch lands beside the folded one
    StreamOps.edgesCompactStore(spark, store, s"$tmp/edges_c")
    assert(spark.read.parquet(s"$tmp/edges_c")
      .select($"batch_id").distinct().count() === 1)
    assert(ranks(StreamOps.pagerankStoreRead(spark, s"$tmp/edges_c", 3)) === got,
      "compaction must be read-lossless")
    StreamOps.edgesIngestBatch(
      sym(Seq((8L, 9L))).toDF("src", "dst"), 9L, s"$tmp/edges_c")
    val got2 = ranks(StreamOps.pagerankStoreRead(spark, s"$tmp/edges_c", 3))
    val direct2 = ranks(graft.operators.Graph.pagerank(
      (b1 ++ b2 ++ b3 ++ sym(Seq((8L, 9L)))).distinct.toDF("src", "dst"), 3))
    assert(got2 === direct2 && got2.size === 9,
      "post-compact ingest must extend the graph")
  }

  test("entities-on-arrival: read ≡ the certified q_er_entities recompute; replay idempotent; compaction invariant") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("er_arrival").toString
    val store = s"$tmp/entities"
    // the REAL part dim split into three arrival batches by partkey —
    // representatives and counts must fold across batches exactly
    val part = graft.catalog.Tables.part(spark, sf())
      .select($"p_partkey".cast("long").as("p_partkey"), $"p_name",
        $"p_brand", $"p_type", $"p_size".cast("int").as("p_size"))
      .localCheckpoint()
    val batches = (0 to 2).map(i => part.filter($"p_partkey" % 3 === i))
    val in = MemoryStream[(Long, String, String, String, Int)]
    val q = StreamOps.entitiesOnArrival(
      in.toDF().toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size"),
      store, s"$tmp/ckpt")
    try {
      batches.foreach { b =>
        in.addData(b.collect().map(r => (r.getLong(0), r.getString(1),
          r.getString(2), r.getString(3), r.getInt(4))))
        q.processAllAvailable()
      }
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // the store read IS the certified batch query on the same dim
    val want = rows(graft.operators.Dedup.queries("q_er_entities")(spark, sf()))
    val got = rows(StreamOps.entitiesStoreRead(spark, store))
    assert(got === want, s"store read diverged:\n$got\nvs\n$want")
    // replay: rewriting batch 0's partition changes no read
    StreamOps.entitiesIngestBatch(batches(0), 0L, store)
    assert(rows(StreamOps.entitiesStoreRead(spark, store)) === want,
      "replay must not change the entity read")
    // compaction: one folded partition, reads identical, post-compact
    // ingest folds in (a new record that takes over a representative)
    StreamOps.entitiesCompactStore(spark, store, s"$tmp/entities_c")
    assert(spark.read.parquet(s"$tmp/entities_c")
      .select($"batch_id").distinct().count() === 1)
    assert(rows(StreamOps.entitiesStoreRead(spark, s"$tmp/entities_c")) === want,
      "compaction must be read-lossless")
    // post-compact ingest: a new record of an ALREADY-MATCHED name
    // (an entity's canonical), same rep fields but partkey 0 — it must
    // take over the name's node id (min nid) and fold into the count
    val canonName = want.head(2).asInstanceOf[String]
    val usurper = part.filter($"p_name" === canonName)
      .orderBy($"p_partkey").limit(1)
      .select(lit(0L).as("p_partkey"), $"p_name", $"p_brand",
        $"p_type", $"p_size")
    StreamOps.entitiesIngestBatch(usurper, 9L, s"$tmp/entities_c")
    val sum2 = StreamOps.entitiesStoreRead(spark, s"$tmp/entities_c")
      .agg(sum($"n_parts_total")).collect()(0).getLong(0)
    val sum1 = want.map(_.last.asInstanceOf[Long]).sum
    assert(sum2 === sum1 + 1, "post-compact ingest must fold in")
  }

  test("components-on-arrival: incremental map ≡ full recompute across batches; replay idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("cc_arrival").toString
    val (mapDir, edgeDir) = (s"$tmp/map", s"$tmp/edges")
    // Batches chosen to exercise every merge shape:
    //   b1: two chains 1-2-3 and 10-11 (bootstrap, in-batch transitivity)
    //   b2: 20-21 (new component) + 3-10 (MERGES the two stored components
    //       — relabels every node of the 10-component, incl. ones this
    //       batch never touches: the affected-sized relabel path)
    //   b3: 2-11 (edge INSIDE an already-merged component — no-op merge)
    //       + 30 self-contained pair 30-31
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq((20L, 21L), (3L, 10L)),
      Seq((2L, 11L), (30L, 31L)))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamOps.componentsBatch(b.toDF("src", "dst"), i.toLong, mapDir, edgeDir)
    }
    def mapNow(): Map[Long, Long] =
      StreamOps.componentsStoreRead(spark, mapDir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = mapNow()
    // oracle: full recompute over the union of all batch edges
    val full = graft.operators.Components.connectedComponents(
        batches.flatten.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === full, s"incremental $got != full recompute $full")
    assert(got(11L) === 1L, "the cross-batch merge must relabel untouched nodes")
    // replay every batch (same id, same data): store state unchanged
    val deltaRows = spark.read.parquet(mapDir).count()
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamOps.componentsBatch(b.toDF("src", "dst"), i.toLong, mapDir, edgeDir)
    }
    assert(mapNow() === full, "replays must not change the merged map")
    assert(spark.read.parquet(mapDir).count() === deltaRows,
      "a replayed batch must write an empty delta")
    // crash window: edges landed, delta did not — drop batch 1's delta
    // partition and replay; the recompute must restore the same map
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(mapDir, "batch_id=1")
    java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
    assert(mapNow() !== full) // the window is real
    StreamOps.componentsBatch(batches(1).toDF("src", "dst"), 1L, mapDir, edgeDir)
    assert(mapNow() === full, "crash-window replay must reproduce the delta")
    // the per-batch write is a DELTA, not a map snapshot: batch 3's
    // partition may carry only its own new nodes (2-11 merged nothing)
    val b3rows = spark.read.parquet(mapDir)
      .filter(col("batch_id").cast("long") === 2L).count()
    assert(b3rows === 2L, s"batch 3 should write only nodes 30,31, got $b3rows")
  }

  test("components-on-arrival: relabel shuffle-fallback arm (gate = 0) ≡ broadcast arm") {
    import spark.implicits._
    // the same merge-heavy batch sequence through both relabel arms —
    // gate 0 forces EVERY candNodes/mergeMap join onto the shuffle path
    // (the giant-component defense); the maps must be identical
    val batches = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)),
      Seq((20L, 21L), (3L, 10L)),
      Seq((2L, 11L), (30L, 31L), (21L, 1L)))
    def run(gate: Long): Map[Long, Long] = {
      val tmp = java.nio.file.Files.createTempDirectory(s"cc_arm$gate").toString
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamOps.componentsBatch(b.toDF("src", "dst"), i.toLong,
          s"$tmp/map", s"$tmp/edges", relabelBroadcastRows = gate)
      }
      StreamOps.componentsStoreRead(spark, s"$tmp/map").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val viaShuffle = try run(0L)
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(viaShuffle === run(StreamOps.RelabelBroadcastRows),
      "shuffle-relabel arm must produce the identical component map")
  }

  test("components-on-arrival: streaming equivalence on a seeded random edge stream") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("cc_stream").toString
    val rnd = new scala.util.Random(23)
    val all = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val in = MemoryStream[(Long, Long)]
    val q = StreamOps.componentsOnArrival(
      in.toDF().toDF("src", "dst"), s"$tmp/map", s"$tmp/edges", s"$tmp/ck")
    try {
      all.grouped(30).foreach { g => in.addData(g: _*); q.processAllAvailable() }
    } finally q.stop()
    val got = StreamOps.componentsStoreRead(spark, s"$tmp/map").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.operators.Components.connectedComponents(
        all.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === full)
    // the stored edges reproduce the stream (rebuild/audit path)
    assert(spark.read.parquet(s"$tmp/edges").select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === all.toSet)
  }

  test("arrival bodies: no call leaves a persisted RDD behind, at bootstrap or on a populated store") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("arrival_release").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      Seq((1L, base + " one"), (2L, "totally different words entirely here now"),
        (3L, base + " two")),
      Seq((10L, base + " three"), (11L, "unrelated fresh content with novel tokens")))
    val (v0, v1, _, _) = embSlices()
    val vecs = Seq(v0, v1)
    val vals = Seq((1 to 300).map(i => ("d1", i.toLong * 7 % 101)),
      (1 to 200).map(i => ("d2", i.toLong)))
    val items = Seq(Seq.fill(50)("hot") ++ (1 to 90).map(i => s"t${i % 30}"),
      Seq.fill(20)("warm") ++ (1 to 40).map(i => s"u${i % 8}"))
    val ids = Seq((1 to 60).map(i => ("d1", (i % 40).toLong)),
      (1 to 50).map(i => ("d2", i.toLong)))
    val edges = Seq(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq((20L, 21L), (3L, 10L)))
    val parts = Seq(
      Seq((1L, "red box", "B1", "T1", 3), (2L, "red box", "B2", "T1", 4),
        (3L, "blue can", "B1", "T2", 5)),
      Seq((4L, "red boxes", "B3", "T1", 3), (5L, "green jar", "B2", "T3", 1)))
    // each body, as (store root, batch) => one call
    val bodies: Seq[(String, (String, Int) => Unit)] = Seq(
      "dedupBatch" -> ((d, i) => StreamOps.dedupBatch(
        docs(i).toDF("doc_id", "text"), i, s"$d/dd/corpus", s"$d/dd/index", 0.6)),
      "quantileSummaryBatch" -> ((d, i) => StreamOps.quantileSummaryBatch(
        vals(i).toDF("day", "v"), i, s"$d/q", 16)),
      "topkSummaryBatch" -> ((d, i) => StreamOps.topkSummaryBatch(
        items(i).toDF("item"), i, s"$d/mg", 8)),
      "distinctSummaryBatch" -> ((d, i) => StreamOps.distinctSummaryBatch(
        ids(i).toDF("day", "id"), i, s"$d/hll", 12)),
      "bm25IngestBatch" -> ((d, i) => StreamOps.bm25IngestBatch(
        docs(i).toDF("doc_id", "text"), i, s"$d/bm25")),
      "annIngestBatch" -> ((d, i) => StreamOps.annIngestBatch(
        vecs(i).toDF("cand_id", "cv"), i, s"$d/ann/vecs", s"$d/ann/edges", 12)),
      "annDeleteBatch" -> ((d, i) => StreamOps.annDeleteBatch(
        Seq(vecs(i).head._1).toDF("cand_id"), i, s"$d/ann/vecs")),
      "componentsBatch" -> ((d, i) => StreamOps.componentsBatch(
        edges(i).toDF("src", "dst"), i, s"$d/cc/map", s"$d/cc/edges")),
      "edgesIngestBatch" -> ((d, i) => StreamOps.edgesIngestBatch(
        edges(i).toDF("src", "dst"), i, s"$d/edges")),
      "entitiesIngestBatch" -> ((d, i) => StreamOps.entitiesIngestBatch(
        parts(i).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size"),
        i, s"$d/er")))
    val sc = spark.sparkContext
    // batch 0 bootstraps each store, batch 1 runs against the populated
    // one; the driver arms and the distributed chains each fill their own
    // stores
    val leaks = for (arm <- Seq("arms", "distributed"); (name, body) <- bodies;
        i <- 0 to 1) yield {
      val before = sc.getPersistentRDDs.keySet
      if (arm == "arms") body(s"$tmp/$arm", i)
      else graft.util.SmallInput.distributed(body(s"$tmp/$arm", i))
      s"$name ($arm, batch $i)" -> sc.getPersistentRDDs.keys.count(!before(_))
    }
    assert(leaks.filter(_._2 > 0).isEmpty)
  }

  test("stream-stream interval join: signups within the hour match, older do not") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Event]
    val q = StreamOps.purchaseSignupJoin(in.toDF(), "1 hour", "10 minutes")
      .writeStream.format("memory").queryName("psjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData(
        ev(1, 0, user = 1, typ = "signup"),    // within the hour of p@30
        ev(2, 30, user = 1, typ = "purchase"),
        ev(3, 10, user = 2, typ = "signup"),   // 100m before p@110 → outside
        ev(4, 110, user = 2, typ = "purchase"))
      q.processAllAvailable()
      // advance both watermarks so joined rows emit
      in.addData(ev(8, 300, user = 9, typ = "click"))
      q.processAllAvailable()
      val rows = spark.table("psjoin").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("user_id")))
      assert(rows.toSet === Set((2L, 1L)))
    } finally q.stop()
  }
}
