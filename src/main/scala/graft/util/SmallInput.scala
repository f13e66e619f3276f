package graft.util

import org.apache.spark.sql.{DataFrame, Row}

/** The one small-input decision behind every in-memory "driver arm".
  *
  * An arm is the path an operator takes when its input fits a cap: the
  * input collects to the driver once and the whole computation runs as
  * plain loops, replacing the per-round scheduling of the distributed
  * chain (the measured cost at small scale is job/stage overhead, not
  * data). Each operator enters its arm through [[take]] and falls
  * through to its unchanged distributed chain on `None`; the arm and
  * the chain are pinned equal by the unit suites.
  *
  * The probe is a bounded `limit(cap + 1).collect()`: it both sizes
  * and fetches the input in one job, and an over-cap input costs only
  * the bounded collect. Caps are Ints, so the limit always fits.
  *
  * [[distributedOnly]] is the one switch that skips every probe — no
  * job runs and every operator takes its distributed chain. `graft.Verify`
  * sets it so the DuckDB oracle certifies the chains that run at scale;
  * [[distributed]] sets it for one block on the calling thread (the
  * arm ≡ distributed pins, ScaleProbe's distributed measurements). */
object SmallInput {

  /** Rows: the default cap of the driver arms. */
  val RowCap: Int = 1000000
  /** Edges: the rank/BFS family's cap. Its graphs are bare 2-3 BIGINT
    * columns (2M rows ≈ 48 MB of values), and the sf0.1 part↔supplier
    * graph symmetrizes to 1.18M rows. */
  val EdgeCap: Int = 2000000
  /** Vectors: the cap of the n² pair arms (every pair is scored in
    * memory). */
  val PairCap: Int = 8192

  @volatile private var always = false
  private val scoped = new scala.util.DynamicVariable[Boolean](false)

  /** True when every operator must take its distributed chain. */
  def distributedOnly: Boolean = always || scoped.value

  /** Process-wide switch (all threads). */
  def setDistributedOnly(on: Boolean): Unit = always = on

  /** Run `body` on this thread with every arm off. Arms decide when an
    * operator is called, so the DataFrames `body` returns keep the
    * distributed plan after the block ends. */
  def distributed[T](body: => T): T = scoped.withValue(true)(body)

  /** The input's rows when it has at most `cap` of them; None over the
    * cap or when [[distributedOnly]] is on (then no job runs). */
  def take(df: DataFrame, cap: Int = RowCap): Option[Array[Row]] =
    if (distributedOnly) None
    else {
      val rows = df.limit(cap + 1).collect()
      if (rows.length > cap) None else Some(rows)
    }

  /** [[take]] of a 2-column BIGINT frame (edge lists), memoized. */
  def takePairs(df: DataFrame, cap: Int = RowCap): Option[Array[(Long, Long)]] =
    memo(df, cap)(take(df, cap).map(_.map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))))

  /** [[takePairs]] for 3-column BIGINT frames (weighted edges, dist
    * states). */
  def takeTriples(df: DataFrame, cap: Int = RowCap): Option[Array[(Long, Long, Long)]] =
    memo(df, cap)(take(df, cap).map(_.map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))))

  /** Collect memo, PER QUERY INVOCATION: within one invocation several
    * arms may collect the same frame (e.g. a σ pass and its backward
    * consumer) and the memo serves that plain common-subexpression
    * reuse. Keys carry [[Memo.invocation]], so a collect is never served
    * across [[Memo.newInvocation]] — each bench rep re-executes its own
    * collect — and entries of earlier invocations are dropped. Keyed on
    * (invocation, session, canonicalized plan, cap); inactive (pure
    * collect) without -Dgraft.cacheTables — Verify, tests and ScaleProbe
    * stay cold. */
  private val collected =
    scala.collection.concurrent.TrieMap.empty[(Long, String, String), AnyRef]

  private def memo[T <: AnyRef](df: DataFrame, cap: Int)(compute: => T): T =
    if (distributedOnly || !Memo.pooled)
      compute
    else {
      val inv = Memo.invocation
      collected.keys.foreach(k => if (k._1 != inv) collected.remove(k))
      val canon = df.queryExecution.analyzed.canonicalized
      collected.getOrElseUpdate(
        (inv, graft.catalog.Tables.sessionKey(df.sparkSession),
          s"${canon.semanticHash()}|$cap|$canon"),
        compute).asInstanceOf[T]
    }
}
