package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Timeout-survivability (the round-6 lesson: `CORRECTNESS_r06.json` came
  * back `{}` because a degraded allocation ran past the driver's kill and
  * oracle_sql.json — written LAST — never hit disk):
  *   - oracle_sql.json is written FIRST, before any query runs, so a kill
  *     at ANY point leaves the driver's compare with the full SQL map and
  *     whatever parquet results finished — partial-but-real rows instead
  *     of an empty artifact.
  *   - queries run cheapest-first by bench/medians.json, so a kill costs
  *     the expensive tail, not a uniform random prefix.
  *   - SPARK_GRAFT_BUDGET_S (optional) stops submitting new queries once
  *     the wall-clock budget is spent and exits 0 with what completed.
  *   - results are written through a small fixed thread pool (independent
  *     output paths; Spark's scheduler interleaves the jobs), cutting the
  *     full-surface wall-clock ~3-4x vs the old sequential loop.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Verify <sfDir> <outDir> [query ...]")
    val sfDir = args(0)
    val outDir = args(1)
    // optional query-name filter for fast single-query iteration; the
    // driver passes no filter and gets the full surface
    val only = args.drop(2).toSet
    // Default budget 1800s: the round-6 driver kill (~36min) produced an
    // EMPTY correctness artifact. Self-truncating at 30min guarantees a
    // clean exit with oracle_sql.json + every finished query's parquet on
    // disk before any plausible external timeout; a healthy full-surface
    // run takes minutes and never hits it.
    // Empty/zero/negative disables the budget; garbage falls back to the
    // default (with a warning) rather than aborting before any query runs.
    val budgetS: Option[Double] = sys.env.get("SPARK_GRAFT_BUDGET_S") match {
      case None => Some(1800.0)
      case Some(raw) if raw.trim.isEmpty => None
      case Some(raw) => scala.util.Try(raw.trim.toDouble).toOption match {
        case Some(v) if v > 0 => Some(v)
        case Some(_) => None
        case None =>
          System.err.println(s"[verify] malformed SPARK_GRAFT_BUDGET_S='$raw' — using default 1800s")
          Some(1800.0)
      }
    }
    val t0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - t0) / 1e9

    // Force the DISTRIBUTED chains under the oracle (optimization round
    // 19 — verdict r18 #1): switching every driver arm off makes the
    // DuckDB compare certify the Spark implementations that run at
    // 100 TB, not their in-memory twins (those stay pinned arm ≡
    // distributed by the unit suites, and by armed-mode selfchecks).
    // SPARK_GRAFT_VERIFY_ARMS=1 keeps the arms on — the bench's
    // execution mode — for A/B self-verification.
    graft.util.SmallInput.setDistributedOnly(
      !sys.env.get("SPARK_GRAFT_VERIFY_ARMS").contains("1"))

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // FAIR so one long-running query can't starve the pool's short ones
      .config("spark.scheduler.mode", "FAIR")
    GraftSession.configs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    // Cheapest-first: a kill truncates the expensive tail. Medians file is
    // a flat {"name": seconds} map — a 2-group regex parses it without a
    // JSON dependency. Unknown queries (new this round) sort by name after
    // all known ones at their recorded cost position's end; missing file →
    // original declaration order.
    val medians: Map[String, Double] = {
      val candidates = Seq("bench/medians.json", "/root/repo/bench/medians.json")
      candidates.find(p => Files.exists(Paths.get(p))).map { p =>
        val text = Files.readString(Paths.get(p))
        """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(text)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }.getOrElse(Map.empty)
    }
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    val ordered =
      if (medians.isEmpty) selected
      else selected.sortBy { case (name, _) => (medians.getOrElse(name, Double.MaxValue), name) }

    val done = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(4)
    ordered.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          if (budgetS.exists(elapsedS > _)) {
            System.err.println(s"[verify] $name skipped: budget exceeded at ${elapsedS.round}s")
            return
          }
          try {
            // Distinct pool per in-flight query: under FAIR mode, pools are
            // weighted equally against each other while the DEFAULT pool's
            // internal order is FIFO — without this, pool-submitted jobs
            // all land in the default pool and a long query still starves
            // short ones. A worker thread runs one query at a time, so its
            // name is such a pool, and Spark creates at most 4 of them.
            spark.sparkContext.setLocalProperty("spark.scheduler.pool",
              Thread.currentThread.getName)
            // write under a dot-prefixed temp name, then atomic-rename:
            // a kill mid-write can then never leave a half-visible result
            // dir — everything the driver's compare can see is complete
            val tmp = Paths.get(s"$outDir/.tmp_$name")
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(tmp.toString)
            val dst = Paths.get(s"$outDir/$name")
            if (Files.exists(dst)) { // overwrite semantics for re-runs
              Files.walk(dst).sorted(java.util.Comparator.reverseOrder())
                .forEach(p => Files.delete(p))
            }
            Files.move(tmp, dst,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            System.err.println(s"[verify] ${done.incrementAndGet()}/${ordered.size} $name ok (${elapsedS.round}s)")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      })
    }
    pool.shutdown()
    // The per-task budget check only gates task STARTS — a degraded or hung
    // query already in flight would otherwise run to an unbounded ceiling
    // and hand the artifact to an external kill (the round-6 failure). Wait
    // until budget + 300s slack, then abandon the stragglers: everything
    // finished is already atomically on disk, so exiting beats being killed.
    val ceilingS = budgetS.map(_ + 300.0).getOrElse(6 * 3600.0)
    val clean = pool.awaitTermination(ceilingS.toLong, TimeUnit.SECONDS)
    if (!clean) {
      System.err.println(s"[verify] hard ceiling ${ceilingS.round}s hit — abandoning in-flight queries")
      pool.shutdownNow()
      spark.sparkContext.cancelAllJobs()
    }
    System.err.println(s"[verify] ${done.get()}/${ordered.size} queries written in ${elapsedS.round}s")
    spark.stop()
    if (!clean) sys.exit(0) // hung query threads must not block JVM exit
  }
}
