package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.ingest.{BlockIngest, FileQueue}

/** The benchmark's JVM side: one Spark session with the program's defaults,
  * one client running ops in a closed loop. `run.py` generates the inputs,
  * starts this process once per run and checks the outputs it leaves.
  *
  * Usage: `Harness oracle-sql out=<file>` or
  * `Harness <queries|ingest> key=value...` with keys `in`, `run`,
  * `warm`, `timed_passes`, `trace`, `cores`, and `data` for queries or
  * `pass_files` for ingest. Writes `<run>/result.json`; with `trace=1` also
  * `<run>/spans.json`. */
object Harness {

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    args(0) match {
      case "oracle-sql" => writeJson(Paths.get(kv("out")), SparkEntry.oracleSql)
      case workload => new Harness(workload, kv).run()
    }
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: Path, v: Any): Unit = json.writeValue(path.toFile, v)

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** VmHWM of this process, MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def lines(p: String): Seq[String] =
    Files.readAllLines(Paths.get(p)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  /** Regular files under `dir` that a reader sees (no `.crc`, no `_SUCCESS`). */
  def dataFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.toLong
      finally s.close()
    }
  }
}

final class Harness(workload: String, kv: Map[String, String]) {
  import Harness._

  private val in = kv("in")
  private val runDir = kv("run")
  private val warmPasses = kv("warm").toInt
  private val traced = kv("trace") == "1"
  private val cores = kv("cores").toInt
  private val timedPasses = kv("timed_passes").toInt

  private val t0 = System.nanoTime()
  private def now(): Double = (System.nanoTime() - t0) / 1e9

  private val spark: SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    GraftSession.configs.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  private val sc = spark.sparkContext

  private val probe: Option[Probe] = if (traced) {
    val p = new Probe
    sc.addSparkListener(p)
    spark.listenerManager.register(p)
    spark.streams.addListener(p.streamListener)
    Some(p)
  } else None

  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var firstTimedMs = -1L

  /** One op's context: the layer calls it makes become spans and phases. */
  final class Op(val id: Int) {
    val layerS = mutable.LinkedHashMap.empty[String, Double]
    def layer[T](name: String)(body: => T): T = {
      sc.setLocalProperty("perfbench.phase", name)
      val a = now()
      try body
      finally {
        val b = now()
        sc.setLocalProperty("perfbench.phase", null)
        layerS(name) = layerS.getOrElse(name, 0.0) + (b - a)
        if (traced) spans += Map("name" -> name, "op" -> id, "parent" -> "op",
          "start" -> a, "end" -> b)
      }
    }
  }

  /** Runs one op and records it. When traced, `settle` runs after the op
    * and before its counters are read (e.g. waiting for a stream progress
    * event); `extra` adds untimed facts measured after that, whose own
    * Spark jobs are not counted (e.g. how many messages the parser dropped). */
  private def op(pass: Int, timed: Boolean, name: String, info: Map[String, Any] = Map.empty,
      settle: () => Unit = () => ())
      (body: Op => Unit)(extra: => Map[String, Any] = Map.empty): Boolean = {
    val o = new Op(ops.length)
    graft.util.Memo.newInvocation()
    probe.foreach { p => PerfbenchBus.drain(sc); p.reset() }
    val gc0 = gcSeconds()
    val cg0 = codegenCompiles()
    if (timed && firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()
    val ms0 = System.currentTimeMillis()
    val a = now()
    val err = try { body(o); "" } catch {
      case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500)
    }
    val b = now()
    val ms1 = System.currentTimeMillis()
    val rec = mutable.LinkedHashMap[String, Any](
      "id" -> o.id, "pass" -> pass, "timed" -> timed, "name" -> name,
      "wall_s" -> (b - a), "error" -> err, "layers" -> o.layerS.toMap) ++ info
    if (traced) {
      spans += Map("name" -> "op", "op" -> o.id, "parent" -> "", "start" -> a, "end" -> b)
      settle()
      PerfbenchBus.drain(sc)
      rec ++= probe.get.snapshot(ms0, ms1) ++ Map(
        "gc_s" -> (gcSeconds() - gc0),
        "codegen_compiles" -> (codegenCompiles() - cg0),
        "held_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      rec ++= extra
    }
    ops += rec.toMap
    err.isEmpty
  }

  /** Untimed warm passes, then `timed_passes` timed ones. */
  private def passLoop(onePass: (Int, Boolean) => Unit): Unit = {
    (0 until warmPasses).foreach(runPass(_, timed = false, onePass))
    (warmPasses until warmPasses + timedPasses).foreach(runPass(_, timed = true, onePass))
  }

  private def runPass(p: Int, timed: Boolean, onePass: (Int, Boolean) => Unit): Unit = {
    val opsBefore = ops.map(_("wall_s").asInstanceOf[Double]).sum
    val a = now()
    onePass(p, timed)
    passes += Map("pass" -> p, "timed" -> timed, "wall_s" -> (now() - a),
      "op_s" -> (ops.map(_("wall_s").asInstanceOf[Double]).sum - opsBefore))
  }

  // ---------------------------------------------------------------- queries

  private def queries(): Unit = {
    val dir = kv("data")
    val names = lines(s"$in/queries.txt")
    val fns = SparkEntry.queries
    // correctness pass: untimed, every drawn query's result kept for run.py
    names.foreach { n =>
      op(-1, timed = false, n) { _ =>
        fns(n)(spark, dir).write.mode("overwrite").parquet(s"$runDir/results/$n")
      }()
    }
    passLoop { (p, timed) =>
      names.foreach { n =>
        op(p, timed, n) { o =>
          val df = o.layer("queries.build")(fns(n)(spark, dir))
          o.layer("plans.plan")(df.queryExecution.executedPlan)
          o.layer("exec.run")(df.write.format("noop").mode("overwrite").save())
        }()
      }
    }
  }

  // ----------------------------------------------------------------- ingest

  /** Block message lines that yield no block row: corrupt JSON, or a
    * `number` that does not narrow to a long. */
  private def skipped(raw: => DataFrame): Map[String, Any] = {
    val r = raw
    Map("skipped_msgs" -> (r.count() - BlockIngest.normalizeBlocks(BlockIngest.parse(r)).count()))
  }

  /** The batch path: each pass backfills the batches into a fresh bronze
    * root, then compacts its blocks. */
  private def backfillPass(p: Int, timed: Boolean): Unit = {
    val root = s"$runDir/passes/p$p"
    val queue = new FileQueue(s"$root/queue")
    val bronze = s"$root/bronze"
    lines(s"$in/batches.txt").foreach { b =>
      val blocks = s"$in/$b/blocks.jsonl"
      val logs = s"$in/$b/logs.jsonl"
      val files0 = dataFiles(bronze)
      op(p, timed, b, Map("msgs" -> lines(blocks).length)) { o =>
        o.layer("ingest.append") {
          queue.append(s"$b-blocks", spark.read.text(blocks))
          queue.append(s"$b-logs", spark.read.text(logs))
        }
        o.layer("ingest.write_bronze") {
          BlockIngest.writeBronze(BlockIngest.parse(queue.replay(spark, s"$b-blocks")), bronze)
        }
        o.layer("ingest.write_logs") {
          BlockIngest.writeBronzeLogs(
            BlockIngest.parseLogs(queue.replay(spark, s"$b-logs")),
            spark.read.parquet(s"$bronze/transactions"), bronze)
        }
      } {
        skipped(queue.replay(spark, s"$b-blocks")) ++
          Map("files_out" -> (dataFiles(bronze) - files0))
      }
    }
    op(p, timed, "compact") { o =>
      o.layer("ingest.compact")(BlockIngest.compactBronzeBlocks(spark, bronze, s"$root/compacted"))
    } { Map("files_out" -> dataFiles(s"$root/compacted")) }
  }

  /** The stream path: one streaming query over the whole run; each pass
    * renames the next `pass_files` files of the tail into the topic, one
    * at a time. Runs `passes` while the query is up, then compacts. */
  private def streamTail(passes: ((Int, Boolean) => Unit) => Unit): Unit = {
    val files = lines(s"$in/files.txt")
    val perPass = kv("pass_files").toInt
    val queue = new FileQueue(s"$runDir/queue")
    val bronze = s"$runDir/bronze"
    val stage = Files.createDirectories(Paths.get(runDir, "stage"))
    sc.setLocalProperty("perfbench.phase", "ingest.stream")
    val q = BlockIngest.streamBronze(queue.stream(spark, "stream-blocks"), bronze,
      s"$runDir/checkpoint")
    sc.setLocalProperty("perfbench.phase", null)
    val topicDir = Paths.get(runDir, "queue", "stream-blocks")
    var next = 0
    try {
      q.processAllAvailable()
      passes { (p, timed) =>
        require(next + perPass <= files.length, "stream input exhausted")
        val pass = files.slice(next, next + perPass)
        next += perPass
        pass.foreach(f => Files.copy(Paths.get(in, f), stage.resolve(f)))
        pass.foreach { f =>
          val msgs = lines(stage.resolve(f).toString).length
          val files0 = dataFiles(bronze)
          // progress is posted after the commit processAllAvailable waits for
          def progressPosted(): Unit = {
            val deadline = System.nanoTime() + 5000000000L
            while (probe.get.streamInputRows < msgs && System.nanoTime() < deadline)
              Thread.sleep(5)
          }
          op(p, timed, f, Map("msgs" -> msgs), () => progressPosted()) { o =>
            o.layer("ingest.stream") {
              Files.move(stage.resolve(f), topicDir.resolve(f), StandardCopyOption.ATOMIC_MOVE)
              q.processAllAvailable()
            }
          } {
            skipped(spark.read.text(topicDir.resolve(f).toString)) ++
              Map("files_out" -> (dataFiles(bronze) - files0))
          }
        }
      }
    } finally q.stop()
    BlockIngest.compactBronzeBlocks(spark, bronze, s"$runDir/compacted")
  }

  def run(): Unit = {
    try {
      workload match {
        case "queries" => queries()
        case "ingest" => streamTail { streamPass =>
          passLoop { (p, timed) => backfillPass(p, timed); streamPass(p, timed) }
        }
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val result = Map(
        "setup_s" -> (firstTimedMs - jvmStartMs) / 1e3,
        "peak_rss_mb" -> peakRssMb(),
        "cores" -> cores,
        "passes" -> passes.toSeq,
        "ops" -> ops.toSeq)
      if (traced) writeJson(Paths.get(runDir, "spans.json"), spans.toSeq)
      writeJson(Paths.get(runDir, "result.json"), result)
    } finally spark.stop()
  }
}
