package graft.util

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** The one pool: a query's own output is never served across
  * invocations, and the pool switch and memo maps have one owner. */
class MemoSpec extends SparkSpec {

  private def withPool(body: => Unit): Unit = {
    val prop = "graft.cacheTables"
    val before = sys.props.get(prop)
    System.setProperty(prop, "true")
    try body
    finally before match {
      case Some(v) => System.setProperty(prop, v)
      case None => System.clearProperty(prop)
    }
  }

  private def jobsRun(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; TestListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("pool on: q_cluster_kmeans runs its Lloyd fit again after Memo.newInvocation") {
    // k = 8, iters = 3: the checked constants of q_cluster_kmeans
    val corpus = graft.catalog.Tables.embeddings(spark, sf())
      .select(col("vec_id"), col("embedding"))
    val fit = jobsRun(graft.operators.Ann.kmeansPortable(corpus, 8, 3))
    // the seed sample plus one collect per Lloyd round
    assert(fit >= 4)
    withPool {
      Memo.newInvocation()
      val first = graft.operators.Ann.kmeansFrame(spark, sf(), 8, 3).collect()
      Memo.newInvocation()
      var second: Array[org.apache.spark.sql.Row] = null
      val jobs = jobsRun {
        second = graft.operators.Ann.kmeansFrame(spark, sf(), 8, 3).collect()
      }
      assert(jobs >= fit, s"the second rep ran $jobs jobs; the fit alone runs $fit")
      assert(second.toSeq === first.toSeq)
    }
  }

  test("one owner: graft.cacheTables is read only by Memo; TrieMaps only in the named caches") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> java.nio.file.Files.readString(p))
      .toSeq
    assert(files.size > 50, s"scanned ${files.size} files under $root")
    // Bench turns the pool on; every other mention is a read
    val readers = files.collect {
      case (f, src) if src.linesIterator.exists(l =>
        l.contains("\"graft.cacheTables\"") && !l.contains("System.setProperty(")) => f
    }
    assert(readers.toSet === Set("util/Memo.scala"))
    // every TrieMap is one of the named caches: the pool, the
    // per-invocation collect memo, and the store audit-verdict cache
    val decl = """val (\w+)\s*=\s*scala\.collection\.concurrent\.TrieMap""".r
    val caches = files.flatMap { case (f, src) =>
      val named = decl.findAllMatchIn(src).map(m => s"$f:${m.group(1)}").toSeq
      assert(named.size === "TrieMap".r.findAllMatchIn(src).size,
        s"$f has a TrieMap outside a named `val x = scala.collection.concurrent.TrieMap` cache")
      named
    }
    assert(caches.toSet === Set("util/Memo.scala:cache",
      "util/SmallInput.scala:collected", "streaming/StreamOps.scala:auditValidated"))
  }
}
