package graft.util

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The one small-input decision: the probe's cap contract, the
  * distributed-only switch (no job at all), and the per-invocation
  * collect memo. */
class SmallInputSpec extends SparkSpec {

  test("take: rows at or under the cap, None over it") {
    val df = spark.range(0L, 10L).toDF("id")
    assert(SmallInput.take(df, 10).map(_.length) === Some(10))
    assert(SmallInput.take(df, 9) === None)
    assert(SmallInput.takePairs(df.select(col("id"), col("id") * 2), 10)
      .map(_.toSeq.sorted.take(2)) === Some(Seq((0L, 0L), (1L, 2L))))
  }

  test("distributed only: the probe runs no Spark job and returns None") {
    // any job over this frame fails: the UDF throws on every row
    val boom = udf((x: Long) => { if (x >= 0) sys.error("probe ran a job"); x })
    val df = spark.range(0L, 5L, 1L, 1).select(boom(col("id")).as("a"), col("id").as("b"))
    intercept[Exception](df.collect())
    SmallInput.distributed {
      assert(SmallInput.distributedOnly)
      assert(SmallInput.take(df) === None)
      assert(SmallInput.takePairs(df) === None)
      assert(SmallInput.takeTriples(df.select(col("a"), col("b"), col("b"))) === None)
    }
    assert(!SmallInput.distributedOnly)
    SmallInput.setDistributedOnly(true)
    try assert(SmallInput.take(df) === None)
    finally SmallInput.setDistributedOnly(false)
  }

  test("collect memo: served within an invocation, never after Memo.newInvocation") {
    val rowsRead = spark.sparkContext.longAccumulator("rowsRead")
    val counted = udf((x: Long) => { rowsRead.add(1L); x }).asNondeterministic()
    val df = spark.range(0L, 20L).select(counted(col("id")).as("a"), col("id").as("b"))
    val prop = "graft.cacheTables"
    val before = sys.props.get(prop)
    System.setProperty(prop, "true")
    try {
      Memo.newInvocation()
      val first = SmallInput.takePairs(df)
      val readFirst = rowsRead.sum
      assert(first.map(_.length) === Some(20))
      assert(readFirst > 0L)
      // same invocation: the memo serves the same collect, no job
      assert(SmallInput.takePairs(df) eq first)
      assert(rowsRead.sum === readFirst)
      // new invocation: the earlier collect is not served
      Memo.newInvocation()
      val second = SmallInput.takePairs(df)
      assert(!(second eq first))
      assert(rowsRead.sum > readFirst)
      assert(second.map(_.toSeq.sorted) === first.map(_.toSeq.sorted))
    } finally before match {
      case Some(v) => System.setProperty(prop, v)
      case None => System.clearProperty(prop)
    }
  }
}
